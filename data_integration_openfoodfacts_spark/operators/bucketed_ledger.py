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
- compaction rewrites to one file per bucket in a new directory,
  which the log then names.

The bucket count ``B`` is a LAYOUT property: all writers and readers
of one store must use the same value, and a mismatch is
silently-wrong, not loudly-failing — a probe pruning with the wrong
modulus drops matching buckets and re-admits duplicates (round-8
ADVICE). The store's log (`storage`) makes B self-describing: its
header records ``{bucket_col, n_buckets, data}``, where ``data`` names
the directory under ``path`` that holds the rows (``v0`` at creation,
``v<N>`` after a compaction committed entry ``N``). Probes take B from
the log, appends check the caller's B against it (`LayoutError` on
mismatch), and appends add files without touching the log.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..storage import open_store, read_parquet_if_exists, read_state, rewrite


def layout(spark: SparkSession, path: str) -> tuple[str, int] | None:
    """``(data directory, n_buckets)`` of the store at ``path``, or None
    before it is created."""
    found = read_state(spark, path)
    if found is None:
        return None
    state = found[1]
    return f"{path.rstrip('/')}/{state['data']}", int(state["n_buckets"])


def read_bucketed(
    spark: SparkSession, path: str
) -> tuple[DataFrame | None, int]:
    """The store's rows (with the bucket column) and its bucket count;
    ``(None, 0)`` until rows land."""
    found = layout(spark, path)
    if found is None:
        return None, 0
    return read_parquet_if_exists(spark, found[0]), found[1]


def append_bucketed(
    rows: DataFrame,
    path: str,
    bucket_col: str,
    bucket_of: Callable[[int], Column],
    n_buckets: int,
    columns: Sequence[str] | None = None,
) -> None:
    """Append delta rows under their buckets: open the store (its
    header is committed on first use; a caller ``n_buckets`` that
    disagrees with it raises), repartition BY BUCKET (one file per
    touched bucket per append — without it a 32-partition delta writes
    up to 32 files into every bucket it touches and the store's file
    count explodes append by append), write. The append adds files to
    the live data directory and commits nothing: a replayed append is
    deduplicated by its caller's anti-join against the store."""
    _, state = open_store(
        rows.sparkSession, path,
        {"bucket_col": bucket_col, "n_buckets": int(n_buckets)},
        {"data": "v0"},
    )
    out = rows.select(*columns) if columns else rows
    (
        out.select("*", bucket_of(n_buckets).alias(bucket_col))
        .repartition(bucket_col)
        .write.partitionBy(bucket_col)
        .mode("append")
        .parquet(f"{path.rstrip('/')}/{state['data']}")
    )


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
    transform: Callable[[DataFrame], DataFrame] | None = None,
) -> None:
    """Rewrite the store with one file per bucket (append-ledger
    small-file hygiene), under ``n_buckets`` — the one operation that
    may change the bucket count. The rows land in a new directory
    ``v<N>``, log entry ``N`` names it (with the new count), then the
    old directory is deleted. ``transform`` (e.g. a band-ledger
    re-band) runs on the de-bucketed rows before re-bucketing —
    callers must checkpoint inside it if it is expensive."""
    found = read_state(spark, path)
    if found is None:
        return
    n, state = found
    df = read_parquet_if_exists(spark, f"{path.rstrip('/')}/{state['data']}")
    if df is None:
        return
    cols = list(columns) if columns else [
        c for c in df.columns if c != bucket_col
    ]
    out = df.select(*cols)
    if transform is not None:
        out = transform(out)
    out = out.select("*", bucket_of(n_buckets).alias(bucket_col))
    data = f"v{n + 1}"
    rewrite(
        spark, path, n,
        {"bucket_col": bucket_col, "n_buckets": int(n_buckets), "data": data},
        data,
        lambda d: out.repartition(bucket_col).write.partitionBy(bucket_col)
        .mode("overwrite").parquet(d),
    )
