"""Slowly-changing-dimension Type 2 history — the reference's designed
future work (vincent_valentin/docs/architecture_notes.md:263-331,
docs/data_dictionary.md:456-464): keep every attribute version with
``effective_from`` / ``effective_to`` / ``is_current`` instead of the
Type-1 keep-latest the batch pipeline performs.

Spark-first shape: pure window functions (lag for change detection,
lead for interval close), no Python, one hash shuffle on the business
key. The streaming variant reuses the batch builder inside
``foreachBatch`` so batch and incremental results are definitionally
identical — the same "merge is read-union-overwrite on Parquet, a real
MERGE INTO on Delta/Iceberg" stance as streaming/events_stream.py.

Scale posture: rebuilding history per micro-batch is O(target) — right
for dimension-sized targets (the SCD use case); fact-scale change logs
should land in an append log and compact instead. Change detection and
interval assignment shuffle once on the key; at 100 TB, partition the
target by a stable key hash so the per-batch rewrite is bounded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def scd2_history(
    changes: DataFrame,
    keys: list[str],
    order_col: str,
    tracked_cols: list[str],
) -> DataFrame:
    """Build full Type-2 history from a change log with exactly one row
    per (keys, order_col).

    A new version starts at the first row per key and whenever any
    tracked column differs (null-safely) from the previous row; runs of
    identical attribute values collapse into one version. Output adds:

    - ``effective_from``: the change's ``order_col`` value;
    - ``effective_to``: the next version's start (NULL = open);
    - ``is_current``: ``effective_to IS NULL``;
    - ``version``: 1-based per-key ordinal.
    """
    w = Window.partitionBy(*keys).orderBy(order_col)
    changed = F.lit(False)
    for c in tracked_cols:
        changed = changed | ~F.col(c).eqNullSafe(F.lag(c).over(w))
    first = F.row_number().over(w) == 1
    versions = (
        changes.withColumn("__new_version", first | changed)
        .filter(F.col("__new_version"))
        .drop("__new_version")
    )
    wv = Window.partitionBy(*keys).orderBy(order_col)
    return (
        versions.withColumn("effective_from", F.col(order_col))
        .withColumn("effective_to", F.lead("effective_from").over(wv))
        .withColumn("is_current", F.col("effective_to").isNull())
        .withColumn("version", F.row_number().over(wv).cast("bigint"))
    )


def scd2_merge_batch(
    batch: DataFrame,
    target_path: str,
    keys: list[str],
    order_col: str,
    tracked_cols: list[str],
    tiebreak_cols: list[str] | None = None,
) -> None:
    """foreachBatch SCD2 merge on plain Parquet: fold the micro-batch's
    change rows into the versioned target.

    The accumulated DEDUPED CHANGE LOG is kept as a Parquet sidecar at
    ``<target_path>__changelog`` (one row per (keys, order_col), so
    re-delivered micro-batches are idempotent), and the history table is
    rebuilt from it each batch. Replaying collapsed *versions* instead
    would silently mis-order around late data: a run A@t1..A@t2
    collapsed to one version forgets t2, so a late B@t1.5 would fail to
    re-split it — the changelog keeps every distinct change, making the
    result identical to a batch rebuild over the full log regardless of
    arrival order. Same-(key, order) conflicts resolve by
    ``tiebreak_cols`` descending when given (e.g. a change-event id —
    pass the same rule the batch rebuild uses, or stream and batch
    histories diverge on same-timestamp conflicts); the fallback is the
    tracked columns' descending sort — deterministic, but NOT arrival
    order, which the changelog cannot see.

    On Delta/Iceberg the rebuild collapses to a MERGE INTO that closes
    the open version and inserts new ones; the callback signature stays.
    """
    from ..operators.dedup import dedup_keep_latest
    from ..storage import overwrite_parquet_atomically, read_parquet_if_exists

    spark = batch.sparkSession
    log_path = f"{target_path.rstrip('/')}__changelog"
    cols = [*keys, order_col, *tracked_cols, *(tiebreak_cols or [])]
    incoming = batch.select(*cols)
    existing_log = read_parquet_if_exists(spark, log_path)
    if existing_log is not None:
        incoming = existing_log.select(*cols).unionByName(incoming)
    changes = dedup_keep_latest(
        incoming,
        keys=[*keys, order_col],
        order_by=[F.col(c).desc() for c in (tiebreak_cols or tracked_cols)],
    )
    overwrite_parquet_atomically(changes, log_path)
    out = scd2_history(
        spark.read.parquet(log_path), keys, order_col, tracked_cols
    )
    overwrite_parquet_atomically(out, target_path)


def run_scd2_dim_stream(
    spark,
    source_dir: str,
    target_path: str,
    checkpoint_dir: str,
    keys: list[str],
    order_col: str,
    tracked_cols: list[str],
    tiebreak_cols: list[str] | None = None,
    schema=None,
    max_files_per_trigger: int | None = None,
) -> None:
    """Incremental SCD2 maintenance over a growing directory of change
    files (availableNow: process the backlog, then stop).

    ``schema`` is the change-file schema; it defaults to the events
    table shape (``EVENTS_STREAM_SCHEMA``) — pass your own for any
    other dimension feed (file-source streams require an explicit
    schema)."""
    from ..streaming.events_stream import EVENTS_STREAM_SCHEMA

    reader = spark.readStream.schema(schema or EVENTS_STREAM_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)
    (
        stream.writeStream.foreachBatch(
            lambda b, _id: scd2_merge_batch(
                b,
                target_path,
                keys,
                order_col,
                tracked_cols,
                tiebreak_cols=tiebreak_cols,
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
