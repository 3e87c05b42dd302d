"""Streaming Bloom novelty screen — the FIXED-SIZE front-end of the
engine's incremental dedup family: each micro-batch of crawl documents
probes a PERSISTED Bloom word table (`operators/bloom.py`) with its
distinct exact-text keys, definitely-new keys set their bits, and a
(batch_id, n_keys, n_definitely_new, n_maybe) totals row lands in a
results store.

Where this sits next to the exact ledgers (the novelty and band
ledgers): those stores grow O(corpus keys) and answer EXACTLY;
the Bloom table answers "definitely new" with ZERO false negatives
from O(m) bits REGARDLESS of corpus size — at 100 TB the word table is
the thing that still broadcasts when the key set itself long since
stopped fitting anywhere. The ``n_maybe`` rows are the downstream
exact-verify workload (a bucketed-ledger probe, q46's join, ...):
true duplicates plus an FPR-bounded sliver of false positives. A
pipeline that DROPS maybes without verifying loses ~FPR of novel data
— this module never drops rows, it routes and counts them.

Crash-replay semantics (foreachBatch is at-least-once):

- Totals are computed BEFORE the merge, always against the pre-batch
  word table, and written per-batch with ``mode("ignore")``
  (first-writer-wins) — a replay after a completed merge recomputes a
  DIFFERENT totals row (everything now probes maybe), which
  first-writer-wins discards.
- The merge is idempotent: a replayed batch's keys are already set, so
  its definitely-new set is empty and the union is an identity
  rewrite.
- The word-table swap is `storage.overwrite_parquet_atomically` (temp
  write materializes fully before the target moves), and the filter
  geometry ``{n_words, k}`` rides a `_bloom_meta.json` sidecar
  (`storage.write_json_sidecar`; self-describing store, loud refusal on
  mismatch — a probe under the wrong geometry reads garbage bits and
  silently mis-routes every key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.localframe import local_rows_df
from ..operators.bloom import bloom_build, bloom_probe_keys, bloom_union
from ..storage import (
    overwrite_parquet_atomically,
    read_json_sidecar,
    read_parquet_if_exists,
    write_json_sidecar,
)

__all__ = [
    "BloomLayoutError",
    "seed_bloom",
    "store_params",
    "screen_keys_batch",
]

BLOOM_META = "_bloom_meta.json"
DEFAULT_WORDS = 1 << 16  # 64Ki words = ~4.1M bits (~0.5 MB broadcast)
DEFAULT_K = 5


class BloomLayoutError(ValueError):
    """A reader/writer's (n_words, k) disagrees with the persisted
    word table's geometry — probing with the wrong modulus reads
    garbage bits and silently mis-routes every key."""


def store_params(
    spark: SparkSession, path: str, n_words: int, k: int
) -> tuple[int, int]:
    """The store's OWN geometry — sidecar when present (raising on a
    caller mismatch), the caller's values for a brand-new store. An
    existing store WITHOUT a sidecar is refused outright: unlike the
    bucket ledgers, a word table carries no per-row redundancy to
    sample-validate against, so a geometry guess can never be checked."""
    meta = read_json_sidecar(spark, path, BLOOM_META)
    if meta is not None:
        if int(meta["n_words"]) != n_words or int(meta["k"]) != k:
            raise BloomLayoutError(
                f"{path}: word table was built with n_words="
                f"{meta['n_words']}, k={meta['k']}; caller passed "
                f"({n_words}, {k}) — all writers and readers of one "
                "filter must share its geometry"
            )
        return int(meta["n_words"]), int(meta["k"])
    if read_parquet_if_exists(spark, path) is not None:
        raise BloomLayoutError(
            f"{path}: existing word table has no {BLOOM_META} sidecar — "
            "its geometry is unrecoverable from the data; rebuild the "
            "filter (or restore the sidecar) before ingesting"
        )
    return n_words, k


def seed_bloom(
    keys: DataFrame,
    key: str,
    bloom_path: str,
    n_words: int = DEFAULT_WORDS,
    k: int = DEFAULT_K,
) -> None:
    """Bootstrap a word table from an existing key corpus (the batch
    backfill before a stream attaches — q128/q167's seeded-corpus
    shape). Refuses to clobber an existing store: seeding is a
    create-once operation; incremental keys go through
    `screen_keys_batch`."""
    spark = keys.sparkSession
    if read_parquet_if_exists(spark, bloom_path) is not None:
        raise BloomLayoutError(
            f"{bloom_path}: refusing to seed over an existing word "
            "table — ingest incrementally via screen_keys_batch"
        )
    bloom_build(keys, key, n_words, k).coalesce(1).write.mode(
        "overwrite"
    ).parquet(bloom_path)
    write_json_sidecar(
        spark, bloom_path, BLOOM_META,
        {"n_words": int(n_words), "k": int(k)},
    )


def screen_keys_batch(
    keys: DataFrame,
    key: str,
    bloom_path: str,
    results_path: str,
    batch_id: int,
    n_words: int = DEFAULT_WORDS,
    k: int = DEFAULT_K,
) -> None:
    """Screen one micro-batch's key frame against the persisted word
    table, set the definitely-new keys' bits, record the totals row.

    Cost class per batch: O(batch) hashing, the word table BROADCAST
    into the probe join (O(n_words) rows — never the batch's inverse),
    one groupBy over k rows per distinct batch key, and an O(n_words)
    union rewrite. Nothing scales with corpus size."""
    spark = keys.sparkSession
    n_words, k = store_params(spark, bloom_path, n_words, k)
    existing = read_parquet_if_exists(spark, bloom_path)
    bloom = (
        existing
        if existing is not None
        else local_rows_df(spark, [], "w long, bits long")
    )
    # no checkpoint: the probe is pure md5 arithmetic (recomputations
    # are bit-identical), and both consumers — the totals row and the
    # new-words build inside the merge's TEMP write — run while the
    # pre-batch table is still at its path (the atomic swap renames
    # only after the temp write fully materializes)
    flags = bloom_probe_keys(keys, key, bloom, n_words, k)
    totals = flags.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.coalesce(
            F.sum((~F.col("maybe_member")).cast("long")), F.lit(0)
        ).cast("long").alias("n_definitely_new"),
        F.coalesce(
            F.sum(F.col("maybe_member").cast("long")), F.lit(0)
        ).cast("long").alias("n_maybe"),
    ).select(F.lit(batch_id).cast("long").alias("batch_id"), "*")
    # totals FIRST (vs the pre-batch table), then the merge — see the
    # module docstring's crash-window argument
    totals.coalesce(1).write.mode("ignore").parquet(
        f"{results_path}/batch_id={batch_id}"
    )
    new_words = bloom_build(
        flags.filter(~F.col("maybe_member")).select(key), key, n_words, k
    )
    merged = (
        bloom_union(existing, new_words) if existing is not None else new_words
    )
    overwrite_parquet_atomically(merged.coalesce(1), bloom_path)
    write_json_sidecar(
        spark, bloom_path, BLOOM_META,
        {"n_words": int(n_words), "k": int(k)},
    )
