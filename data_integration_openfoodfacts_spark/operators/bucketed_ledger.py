"""The ONE bucketed-ledger layout (round-9 VERDICT #4): every
append-only store in this engine that persists hive-partitioned by an
md5-derived bucket column — the novelty ledger (``kb``), the MinHash
band ledger (``sb``), the embedding band ledger (``eb``), the
component ledger — shares the same load-bearing recipe:

- rows land under ``bucket_col = hash(key) % n_buckets`` so a
  tranche/batch membership probe PRUNES the store read to the buckets
  the tranche actually touches (``PartitionFilters`` at file-listing
  level; sizing math in operators/novelty_ledger.py's module doc);
- appends ``repartition`` by the bucket column first — one file per
  touched bucket per append instead of one per (task x bucket);
- probes broadcast the TRANCHE/BATCH side and scan the store in
  place — never the reverse (the O(corpus) broadcast round 8 removed);
- compaction rewrites to one file per bucket via the staged
  write-then-swap.

The bucket count ``B`` is a LAYOUT property: all writers and readers
of one store must use the same value, and a mismatch is
silently-wrong, not loudly-failing — a probe pruning with the wrong
modulus drops matching buckets and re-admits duplicates (round-8
ADVICE). This module makes B self-describing and validated:

- every append stamps a ``_bucket_meta.json`` sidecar (underscore
  prefix: Spark's file index ignores it) recording
  ``{bucket_col, n_buckets}``;
- every append/probe/compact validates the caller's ``n_buckets``
  against the sidecar and raises ``BucketLayoutError`` on mismatch;
- a legacy store WITHOUT the sidecar is validated by RECOMPUTATION: a
  bounded sample of rows must satisfy ``stored_bucket ==
  bucket_of(key) % B`` under the caller's B (a wrong modulus fails a
  16-row sample with probability ~1 - (1/B)^16);
- validation is memoized per (application, path, B) — the layout of a
  store never changes within an app except through ``compact``, which
  re-stamps the sidecar.

At real scale the sidecar is the table-format metadata pointer
(Delta/Iceberg table properties); on parquet it is one tiny JSON read
per application per store.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..storage import (
    overwrite_parquet_atomically,
    read_json_sidecar,
    read_parquet_if_exists,
    write_json_sidecar,
)

META_FILE = "_bucket_meta.json"

#: (applicationId, path, bucket_col, n_buckets) -> True once validated
_VALIDATED: dict[tuple[str, str, str, int], bool] = {}


class BucketLayoutError(ValueError):
    """A reader/writer's bucket count disagrees with the store's
    layout — proceeding would silently mis-prune probes (keys scored
    as novel that aren't) and corrupt the store with duplicates."""


def read_meta(spark: SparkSession, path: str) -> dict | None:
    """The store's layout sidecar, or None (legacy store / first
    write / corrupt sidecar — the latter degrades to the legacy
    sample-validation path)."""
    return read_json_sidecar(spark, path, META_FILE)


def write_meta(
    spark: SparkSession, path: str, bucket_col: str, n_buckets: int
) -> None:
    """Stamp (overwrite) the layout sidecar. Called after every append
    and after compaction's swap (the swap parks the old directory —
    and the sidecar inside it — in trash)."""
    write_json_sidecar(
        spark, path, META_FILE,
        {"bucket_col": bucket_col, "n_buckets": int(n_buckets)},
    )


def store_n_buckets(
    spark: SparkSession, path: str, bucket_col: str, fallback: int
) -> int:
    """The store's OWN bucket count — sidecar if present, else the
    caller's fallback (legacy store written before the sidecar
    existed; the subsequent validate() still sample-checks the
    fallback against the data). This is what probes should use instead
    of trusting a module-level default (round-8 ADVICE: a corpus
    written with a non-default count was probed with the wrong
    modulus)."""
    meta = read_meta(spark, path)
    if meta is not None and meta.get("bucket_col") == bucket_col:
        return int(meta["n_buckets"])
    return fallback


def validate_layout(
    spark: SparkSession,
    path: str,
    store: DataFrame | None,
    bucket_col: str,
    bucket_of: Callable[[int], Column],
    n_buckets: int,
    sample_rows: int = 16,
) -> None:
    """Raise ``BucketLayoutError`` unless the store at ``path`` was
    laid out with ``n_buckets``. Sidecar comparison when present;
    bounded sample recomputation for legacy stores (``store`` may be
    None when the caller already read a sidecar — the data frame is
    only touched on the legacy path). Memoized per
    (application, path, bucket_col, n_buckets) — one JSON read or one
    16-row scan per app per store, then free."""
    key = (spark.sparkContext.applicationId, path, bucket_col, n_buckets)
    if _VALIDATED.get(key):
        return
    meta = read_meta(spark, path)
    if meta is not None:
        if meta.get("bucket_col") != bucket_col:
            raise BucketLayoutError(
                f"{path}: store is bucketed by {meta.get('bucket_col')!r},"
                f" caller expected {bucket_col!r}"
            )
        if int(meta["n_buckets"]) != n_buckets:
            raise BucketLayoutError(
                f"{path}: store layout has n_buckets="
                f"{meta['n_buckets']}, caller passed {n_buckets} — all "
                "writers and readers of one store must share its bucket "
                "count (a mismatched probe silently drops matching "
                "buckets; a mismatched append corrupts the layout)"
            )
    else:
        # legacy store: recompute the bucket for a bounded sample under
        # the caller's modulus and compare with what the writer stamped
        sample = (
            store.select(
                F.col(bucket_col).cast("int").alias("_stored"),
                bucket_of(n_buckets).alias("_recomputed"),
            )
            .limit(sample_rows)
            .collect()
        )
        bad = [r for r in sample if r["_stored"] != r["_recomputed"]]
        if bad:
            raise BucketLayoutError(
                f"{path}: sampled row has {bucket_col}="
                f"{bad[0]['_stored']} but recomputes to "
                f"{bad[0]['_recomputed']} under n_buckets={n_buckets} — "
                "the store was written with a different bucket count"
            )
    _VALIDATED[key] = True


def append_bucketed(
    rows: DataFrame,
    path: str,
    bucket_col: str,
    bucket_of: Callable[[int], Column],
    n_buckets: int,
    columns: Sequence[str] | None = None,
) -> None:
    """Append delta rows under their buckets: validate the layout,
    repartition BY BUCKET (one file per touched bucket per append —
    without it a 32-partition delta writes up to 32 files into every
    bucket it touches and the store's file count explodes append by
    append), write, stamp the sidecar.

    Validation is sidecar-FIRST (round 14): when the store carries the
    layout sidecar every append wrote since round 9, comparing it is
    one JSON read — opening the parquet data just to list columns cost
    a schema-inference job on EVERY append (ledger stores see one
    append per stream trigger / merge, so the suite paid it dozens of
    times). Only sidecar-less legacy stores still read the data (for
    the bucket-column check + the 16-row sample recomputation)."""
    spark = rows.sparkSession
    meta = read_meta(spark, path)
    if meta is not None:
        # memoizes on success, so repeat appends skip even the JSON read
        validate_layout(
            spark, path, None, bucket_col, bucket_of, n_buckets
        )
    else:
        existing = read_parquet_if_exists(spark, path)
        if existing is not None and bucket_col in existing.columns:
            validate_layout(
                spark, path, existing, bucket_col, bucket_of, n_buckets
            )
    out = rows.select(*columns) if columns else rows
    (
        out.select("*", bucket_of(n_buckets).alias(bucket_col))
        .repartition(bucket_col)
        .write.partitionBy(bucket_col)
        .mode("append")
        .parquet(path)
    )
    write_meta(spark, path, bucket_col, n_buckets)
    _VALIDATED[
        (spark.sparkContext.applicationId, path, bucket_col, n_buckets)
    ] = True


def touched_buckets(
    delta: DataFrame, bucket_of: Callable[[int], Column], n_buckets: int
) -> list[int]:
    """The delta's distinct bucket ids — the bounded driver envelope
    (<= n_buckets ints, the k x d convention) that becomes the
    partition filter for a pruned probe."""
    return [
        r[0]
        for r in delta.select(bucket_of(n_buckets).alias("_b"))
        .distinct()
        .collect()
    ]


def prune_to_buckets(
    store: DataFrame, bucket_col: str, buckets: list[int]
) -> DataFrame:
    """Filter the store to the touched buckets. ``isin`` over the
    PARTITION column is what turns into PartitionFilters —
    file-listing-level pruning, the whole point of the layout."""
    return store.filter(F.col(bucket_col).isin(buckets))


def compact_bucketed(
    spark: SparkSession,
    path: str,
    bucket_col: str,
    bucket_of: Callable[[int], Column],
    n_buckets: int,
    columns: Sequence[str] | None = None,
    sort_within: str | None = None,
    transform: Callable[[DataFrame], DataFrame] | None = None,
) -> None:
    """Rewrite the store with one file per bucket (append-ledger
    small-file hygiene) and/or MIGRATE a legacy flat store into the
    bucketed layout. Atomic via the staged write-then-swap; re-stamps
    the sidecar after the swap (the swap parks the old sidecar in
    trash with the old directory). ``transform`` (e.g. a band-ledger
    re-band) runs on the de-bucketed rows before re-bucketing —
    callers must checkpoint inside it if it is expensive."""
    df = read_parquet_if_exists(spark, path)
    if df is None:
        return
    cols = list(columns) if columns else [
        c for c in df.columns if c != bucket_col
    ]
    out = df.select(*cols)
    if transform is not None:
        out = transform(out)
    out = out.select("*", bucket_of(n_buckets).alias(bucket_col)).repartition(
        bucket_col
    )
    if sort_within:
        out = out.sortWithinPartitions(sort_within)
    overwrite_parquet_atomically(out, path, partition_by=[bucket_col])
    write_meta(spark, path, bucket_col, n_buckets)
    # the rewrite may have CHANGED the layout (migration / re-bucket):
    # drop every memoized validation for this path, then re-admit ours
    app = spark.sparkContext.applicationId
    for k in list(_VALIDATED):
        if k[0] == app and k[1] == path:
            del _VALIDATED[k]
    _VALIDATED[(app, path, bucket_col, n_buckets)] = True
