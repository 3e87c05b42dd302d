"""Key retraction from bucketed stores — the takedown path: remove
every row carrying a revoked key (licence withdrawal, right-to-be-
forgotten, contaminated-source recall) from a persisted hive-bucketed
store by rewriting ONLY the buckets the keys live in.

This is the write-side payoff of the shared bucketed layout
(`operators/bucketed_ledger`): the same ``hash(key) % B`` partitioning
that prunes membership PROBES to touched buckets prunes the DELETE's
rewrite to touched buckets — a takedown of k keys over a 100 TB store
rewrites O(k/B-th) of it, not the store. Buckets the keys don't touch
are left byte-identical on disk (pinned by test on file listing +
mtimes), which also preserves their row-group statistics and any
downstream cache validity.

Mechanics per touched bucket: stage the bucket's surviving rows
(store scan PRUNED to touched buckets, broadcast-anti-joined against
the key set) into a temp directory, then swap each bucket directory
in with `storage.swap_partitions`, which parks the old bucket in a
trash directory NEXT TO the store (inside it, the parked ``kb=N``
directory would break every read of the store with a conflicting
partition column) — a failed swap loses no data (old bucket restored
from trash, or left there and named in the error) and a replayed
retraction is idempotent (anti-join of already-deleted keys is a
no-op rewrite). The log is untouched: retraction never changes the
layout.

Retraction vs the Bloom screen: the bit_or word table is monotone and
CANNOT retract (SURVEY round-11 candidate #6); after retracting from
the exact stores, any dependent Bloom screen must be re-seeded —
callers own that ordering.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..storage import read_parquet_if_exists, swap_partitions
from .bucketed_ledger import layout, prune_to_buckets, touched_buckets


def retract_keys_bucketed(
    spark: SparkSession,
    path: str,
    bucket_col: str,
    bucket_of: Callable[[int], Column],
    keys: DataFrame,
    key_col: str,
) -> int:
    """Delete every row of the store at ``path`` whose ``key_col``
    appears in ``keys``. Returns the number of rows removed. The store
    must carry the shared bucketed layout; its OWN bucket count (the
    log's) decides which buckets the keys touch.

    Cost class: one bounded driver collect of the keys' bucket ids,
    a store scan PRUNED to those buckets with the KEY SET broadcast
    into the anti-join (never the store side — the keys are the small
    side by the takedown premise), and a rewrite of only the touched
    bucket directories."""
    found = layout(spark, path)
    existing = found and read_parquet_if_exists(spark, found[0])
    if existing is None:
        return 0
    data, n_buckets = found
    key_rows = keys.select(F.col(key_col)).distinct().localCheckpoint(
        eager=True
    )
    # bucket_of closures key on the store's key column name — feed
    # them rows shaped like store rows
    buckets = touched_buckets(key_rows, bucket_of, n_buckets)
    if not buckets:
        return 0
    touched = prune_to_buckets(existing, bucket_col, buckets)
    # one pass over the pruned buckets for the removal count (a left
    # join against the broadcast DISTINCT key set hits each row at
    # most once), instead of the two full counts the subtraction form
    # cost — the streaming takedown runner pays this per micro-batch
    removed = int(
        touched.join(
            F.broadcast(key_rows.withColumn("__hit", F.lit(1))),
            key_col, "left",
        )
        .agg(F.coalesce(F.sum("__hit"), F.lit(0)).alias("removed"))
        .collect()[0]["removed"]
    )
    if removed == 0:
        return 0
    survivors = touched.join(
        F.broadcast(key_rows), key_col, "left_anti"
    )
    cols = [c for c in existing.columns if c != bucket_col]
    staged = f"{path.rstrip('/')}__retract_stage"
    (
        survivors.select(*cols, F.col(bucket_col))
        .repartition(bucket_col)
        .write.mode("overwrite")
        .partitionBy(bucket_col)
        .parquet(staged)
    )
    # a bucket whose every row was deleted has no staged dir — the
    # swap's delete IS the rewrite
    swap_partitions(
        spark, data, staged, [f"{bucket_col}={b}" for b in buckets]
    )
    return removed


def retract_from_novelty_ledger(
    spark: SparkSession, ledger_path: str, shingle_md5s: DataFrame
) -> int:
    """Takedown for the shingle-novelty ledger: retracting a revoked
    document's shingle keys makes them score NOVEL again on the next
    tranche — the ledger forgets the document ever contributed. Pass
    the doc's ``shingle_md5`` rows (one column of md5 strings)."""
    from .novelty_ledger import KB_COL, _kb_of_buckets

    return retract_keys_bucketed(
        spark, ledger_path, KB_COL, _kb_of_buckets, shingle_md5s,
        "shingle_md5",
    )
