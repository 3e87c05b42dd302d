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
- Each merge writes the new word table to a new directory ``v<N>``,
  which log entry ``N`` of the store log (`storage`) then names before
  the previous table is deleted; every entry also records the filter
  geometry ``{n_words, k}`` (self-describing store, loud refusal on
  mismatch — a probe under the wrong geometry reads garbage bits and
  silently mis-routes every key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.localframe import local_rows_df
from ..operators.bloom import (
    bloom_build,
    bloom_probe_keys,
    bloom_union,
    screen_totals,
)
from ..storage import (
    LayoutError,
    open_store,
    read_parquet_if_exists,
    read_state,
    rewrite,
)

__all__ = [
    "seed_bloom",
    "screen_keys_batch",
]

DEFAULT_WORDS = 1 << 16  # 64Ki words = ~4.1M bits (~0.5 MB broadcast)
DEFAULT_K = 5


def _open(
    spark: SparkSession, bloom_path: str, n_words: int, k: int
) -> tuple[int, dict]:
    return open_store(
        spark, bloom_path, {"n_words": int(n_words), "k": int(k)},
        {"data": None},
    )


def _write_words(
    spark: SparkSession, bloom_path: str, n: int, state: dict,
    words: DataFrame,
) -> None:
    """Make ``words`` the word table of entry ``n + 1``."""
    data = f"v{n + 1}"
    rewrite(
        spark, bloom_path, n, {**state, "data": data}, data,
        lambda d: words.coalesce(1).write.mode("overwrite").parquet(d),
    )


def seed_bloom(
    keys: DataFrame,
    key: str,
    bloom_path: str,
    n_words: int = DEFAULT_WORDS,
    k: int = DEFAULT_K,
) -> None:
    """Bootstrap a word table from an existing key corpus (the batch
    backfill before a stream attaches — q128/q167's seeded-corpus
    shape). Refuses to clobber an existing table: seeding is a
    create-once operation; incremental keys go through
    `screen_keys_batch`."""
    spark = keys.sparkSession
    found = read_state(spark, bloom_path)
    if found is not None and found[1]["data"] is not None:
        raise LayoutError(
            f"{bloom_path}: refusing to seed over an existing word "
            "table — ingest incrementally via screen_keys_batch"
        )
    n, state = _open(spark, bloom_path, n_words, k)
    _write_words(
        spark, bloom_path, n, state, bloom_build(keys, key, n_words, k)
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
    n, state = _open(spark, bloom_path, n_words, k)
    existing = state["data"] and read_parquet_if_exists(
        spark, f"{bloom_path.rstrip('/')}/{state['data']}"
    )
    bloom = (
        existing
        if existing is not None
        else local_rows_df(spark, [], "w long, bits long")
    )
    # no checkpoint: the probe is pure md5 arithmetic (recomputations
    # are bit-identical), and both consumers — the totals row and the
    # new-words build inside the merge's write — read the pre-batch
    # table, which stays in place until the new one is committed
    flags = bloom_probe_keys(keys, key, bloom, n_words, k)
    # totals FIRST (vs the pre-batch table), then the merge — see the
    # module docstring's crash-window argument
    screen_totals(flags, batch_id).coalesce(1).write.mode("ignore").parquet(
        f"{results_path}/batch_id={batch_id}"
    )
    new_words = bloom_build(
        flags.filter(~F.col("maybe_member")).select(key), key, n_words, k
    )
    merged = (
        bloom_union(existing, new_words) if existing is not None else new_words
    )
    _write_words(spark, bloom_path, n, state, merged)
