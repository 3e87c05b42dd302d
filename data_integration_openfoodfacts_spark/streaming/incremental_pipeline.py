"""Incremental medallion pipeline: the reference's documented-but-never-
built CDC mode (docs/architecture_notes.md:263-331) applied to its own
ETL — new product-CSV drops stream in, Silver is upserted keep-latest by
``code``, Gold is rebuilt from the merged Silver.

Batch/streaming share ONE transform: ``build_silver`` runs unchanged
inside ``foreachBatch``, so the cleansing logic cannot drift between
the full-load and incremental paths (the lesson of every dual-path ETL).

Scale notes:
- each micro-batch processes only NEW files (file-source checkpointing);
- the Silver merge is keep-latest over (existing ∪ batch) — on
  Delta/Iceberg this becomes MERGE INTO and stops being O(existing);
- Gold dims/fact are recomputed from merged Silver per batch here; at
  100 TB you'd switch dims to SCD upserts and fact to append-only
  partitions, both of which the same operators support.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ..plans.pipeline import build_gold, build_silver


# Canonical column layout of an incremental drop file. CSV streaming
# requires a static schema, and Spark maps a user schema to CSV columns
# BY POSITION (the header row is skipped, not matched) — so this order
# must mirror the physical file layout exactly.
DROP_FILE_COLUMNS = [
    "code",
    "product_name",
    "brands",
    "main_category",
    "categories_en",
    "categories",
    "countries_en",
    "last_modified_t",
    "nutriscore_grade",
    "energy-kcal_100g",
    "fat_100g",
    "saturated-fat_100g",
    "sugars_100g",
    "salt_100g",
    "proteins_100g",
    "fiber_100g",
    "sodium_100g",
    "completeness",
]


def bronze_stream_schema(
    columns: list[str] | None = None,
) -> StructType:
    """All-string schema-on-read, like the batch Bronze (S1)."""
    return StructType(
        [StructField(c, StringType()) for c in (columns or DROP_FILE_COLUMNS)]
    )


def read_bronze_stream(
    spark: SparkSession, csv_dir: str, columns: list[str] | None = None
) -> DataFrame:
    # multiLine matches the batch Bronze read (csv_source.py) so quoted
    # embedded newlines parse identically on both ingest paths. The one
    # drift streaming can't remove: a static schema maps positionally,
    # so a drop whose header REORDERS columns must be rejected upstream
    # (batch maps by header name and would silently tolerate it).
    return (
        spark.readStream.schema(bronze_stream_schema(columns))
        .options(
            header=True,
            sep="\t",
            quote='"',
            escape='"',
            multiLine=True,
            mode="PERMISSIVE",
        )
        .csv(csv_dir)
    )


def merge_silver_batch(
    batch: DataFrame, silver_path: str
) -> DataFrame:
    """Keep-latest merge of a cleansed micro-batch into the Silver store
    (delegates to the engine's single parquet-merge implementation,
    ``upsert_keep_latest_batch``). The final ``xxhash64`` tiebreaker
    makes same-(code, ts, name) re-exports with different payloads pick
    a content-deterministic survivor instead of a partition-dependent
    one. Returns a FRESH read of the post-swap store — the merged plan's
    lineage points at files the swap deleted and must not escape."""
    from .events_stream import upsert_keep_latest_batch

    upsert_keep_latest_batch(
        batch,
        silver_path,
        keys=["code"],
        order_by=[
            F.col("last_modified_t").desc_nulls_last(),
            F.col("product_name"),
            F.xxhash64(*[c for c in batch.columns if c != "code"]),
        ],
        allow_missing_columns=True,
    )
    return batch.sparkSession.read.parquet(silver_path)


# Product attributes whose changes open a new SCD2 version — the
# reference's own history design names brand/category as the "what was
# this product's brand last year" questions
# (vincent_valentin/docs/architecture_notes.md:263-331).
SCD2_TRACKED_PRODUCT_COLS = [
    "product_name",
    "brands",
    "main_category",
    "nutriscore_grade",
]


def run_incremental_pipeline(
    spark: SparkSession,
    csv_dir: str,
    work_dir: str,
    maintain_product_history: bool = True,
    versioned_gold: bool = False,
) -> None:
    """Process all pending CSV drops (availableNow), maintaining
    ``{work_dir}/silver`` and ``{work_dir}/gold/<table>`` parquet stores.
    Re-invoke on a schedule for continuous incremental loads; the
    checkpoint guarantees each file is processed exactly once.

    With ``maintain_product_history`` (default), each batch also feeds
    the cleansed product changes into an SCD Type 2 history at
    ``{work_dir}/gold/dim_product_history`` (operators/scd.py): one row
    per (code, attribute-version) with effective_from/effective_to/
    is_current over ``last_modified_t`` — the Type-2 answer to "what was
    this product's brand last year" that the Type-1 keep-latest Silver
    cannot give (the reference's designed-but-unbuilt history mode,
    architecture_notes.md:263-331).

    With ``versioned_gold``, each batch COMMITS the gold tables as a
    new snapshot version (`sources/versioned.py`) instead of
    overwriting in place — per-drop time travel, metadata-only
    rollback, and `snapshot_diff` between loads, the audit trail a
    lakehouse table format would provide. Commits are idempotent per
    micro-batch (a foreachBatch retry that already committed its
    ``batch <id>`` snapshot skips, so at-least-once redelivery can't
    double-version), and the SCD2 history store gets a per-batch
    snapshot too (``gold/dim_product_history_snapshots`` — the
    maintenance store itself stays read-merge-overwrite). The two
    layouts refuse to mix: running either mode against a gold root
    written by the other raises instead of silently destroying
    history."""
    silver_path = f"{work_dir}/silver"

    def _commit_versioned(df: DataFrame, root: str, batch_id: int) -> None:
        """Idempotent per-batch snapshot commit: a foreachBatch retry
        whose snapshot already landed (same batch note) skips."""
        from ..sources.versioned import latest_note, write_snapshot

        note = f"batch {batch_id}"
        if latest_note(df.sparkSession, root) != note:
            write_snapshot(df, root, note=note)

    def _guard_layout(root: str) -> None:
        from ..sources.versioned import is_versioned_root

        import os

        if versioned_gold:
            plain = os.path.isdir(root) and not is_versioned_root(
                spark, root
            )
            if plain and any(
                not f.startswith(("v=", "_", "."))
                for f in os.listdir(root)
            ):
                raise ValueError(
                    f"{root} holds a plain-overwrite gold table; refusing "
                    "versioned_gold=True on top of it (move it aside first)"
                )
        elif is_versioned_root(spark, root):
            raise ValueError(
                f"{root} is a versioned snapshot store; running with "
                "versioned_gold=False would destroy its history — pass "
                "versioned_gold=True (or move the store aside)"
            )

    def process(batch: DataFrame, _batch_id: int) -> None:
        from ..operators.scd import scd2_merge_batch
        from ..storage import overwrite_parquet_atomically

        if not batch.head(1):
            return
        cleansed = build_silver(batch)
        merge_silver_batch(cleansed, silver_path)
        history_path = f"{work_dir}/gold/dim_product_history"
        if maintain_product_history:
            scd2_merge_batch(
                cleansed,
                history_path,
                keys=["code"],
                order_col="last_modified_t",
                tracked_cols=SCD2_TRACKED_PRODUCT_COLS,
            )
        gold = build_gold(batch.sparkSession.read.parquet(silver_path))
        spark_b = batch.sparkSession
        for name, df in gold.items():
            root = f"{work_dir}/gold/{name}"
            _guard_layout(root)
            if versioned_gold:
                _commit_versioned(df, root, _batch_id)
            else:
                overwrite_parquet_atomically(df, root)
        if versioned_gold and maintain_product_history:
            # the history's own maintenance store is read-merge-
            # overwrite by design; snapshot its post-merge state so the
            # history table is time-travelable like every other gold
            _commit_versioned(
                spark_b.read.parquet(history_path),
                f"{work_dir}/gold/dim_product_history_snapshots",
                _batch_id,
            )

    (
        read_bronze_stream(spark, csv_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", f"{work_dir}/checkpoint")
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
