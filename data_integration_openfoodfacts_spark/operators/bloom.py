"""Distributed Bloom filter — the compact membership structure a
100 TB decontamination / seen-key pass actually ships to executors.

The exact benchmark-contamination join (q46,
`similarity_dedup.benchmark_contamination`) broadcasts the benchmark
SHINGLE SET itself; that is the right call while the set is thousands
of rows, but a production "have we seen this n-gram / URL / doc hash"
screen over billions of keys cannot broadcast the keys. The Bloom
filter fixes the broadcast payload at ``m`` BITS regardless of key
count: k md5-derived bit positions per key, a key is "definitely new"
when any position is unset and only "maybe seen" rows continue to an
exact verify (the same candidate-then-verify shape as the LSH
operators — the sketch bounds the expensive stage, FPR tunes the
candidate volume).

Representation: one ``(w, bits)`` row per 63-bit word of the bit
array — a DataFrame, so the build is one ``groupBy(w)`` with map-side
``bit_or`` combine (mergeable, distributed, no driver collect), unions
of filters are the same one-line aggregate, and probes broadcast the
O(m/63)-row word table into a hash join. 63-bit words (positions
``p % 63``, shifts 0..62) keep every stored long non-negative, so the
identical arithmetic runs on any engine without signed-overflow
semantics entering the picture (DuckDB raises on BIGINT overflow where
the JVM wraps; bit 63 would trip exactly that divergence).

Hashing: double hashing ``p_i = (h1 + i*h2) mod m`` (Kirsch &
Mitzenmacher, "Less Hashing, Same Performance") with h1/h2 the
engine's portable md5-derived 60-bit longs under two salts, h2 forced
odd so its cycle covers the whole table. Both operands are reduced
mod m BEFORE the multiply-add, keeping every intermediate far from
long overflow on any engine.

Cross-engine determinism (CLAUDE.md): md5-derived hashes only, integer
arithmetic only — a DuckDB oracle replays the build and probe
bit-for-bit (probed in round 10: identical word tables on both
engines), so even the filter's FALSE POSITIVES hash-match.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .similarity_dedup import md5_long

WORD_BITS = 63


def _h(key: Column, salt: str) -> Column:
    return md5_long(F.concat(key.cast("string"), F.lit(f":{salt}")))


def bloom_positions(key: Column, n_words: int, k: int) -> Column:
    """array<long> of the key's k bit positions in [0, n_words*63).

    ``h2 | 1`` keeps the stride odd pre-reduction (the classic guard
    against degenerate even strides; after the mod the residue can be
    anything, and a zero stride — probability ~1/m — merely collapses
    a key's k positions to one, weakening that key, never breaking the
    no-false-negative contract). Both hashes are reduced mod m before
    the multiply-add so the largest intermediate is ``(k-1)*(m-1) +
    (m-1)`` — nowhere near long range for any sane (k, m)."""
    m = n_words * WORD_BITS
    h1m = _h(key, "b1") % m
    h2m = (_h(key, "b2").bitwiseOR(F.lit(1))) % m
    return F.array(*[(h1m + F.lit(i) * h2m) % m for i in range(k)])


def bloom_build(
    df: DataFrame, key: str, n_words: int, k: int
) -> DataFrame:
    """Build the (w, bits) word table over ``df[key]``. Idempotent in
    the input rows (bit_or absorbs duplicates), mergeable across
    partitions and across separate builds (`bloom_union`). One shuffle:
    the groupBy(w) of k positions per input row, partially combined
    map-side; output is <= n_words rows no matter the input size."""
    pos = df.select(F.explode(bloom_positions(F.col(key), n_words, k)).alias("p"))
    return (
        pos.select(
            F.expr(f"p DIV {WORD_BITS}").alias("w"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(p % {WORD_BITS} AS INT))"
            ).alias("b"),
        )
        .groupBy("w")
        .agg(F.bit_or("b").alias("bits"))
    )


def bloom_union(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two word tables built with the SAME (n_words, k) — the
    union filter answers membership for the union of key sets. The
    caller owns the layout agreement (at persistence scale the
    parameters ride the store log exactly like `bucketed_ledger`'s)."""
    return (
        a.select("w", "bits")
        .unionByName(b.select("w", "bits"))
        .groupBy("w")
        .agg(F.bit_or("bits").alias("bits"))
    )


def counting_build(
    df: DataFrame, key: str, n_words: int, k: int
) -> DataFrame:
    """Counting-Bloom position table ``(p, cnt)`` over the key
    OCCURRENCES in ``df[key]`` — the deletable master behind a bit
    screen. ``cnt`` is how many inserted occurrences hash to position
    ``p`` (a key inserted c times contributes c to each of its k
    positions), so retraction is exact integer subtraction and the
    structure answers membership for the surviving MULTISET: a key
    shared by several owners stays set until the last owner retracts.

    Representation deliberately stays unpacked — one BIGINT count per
    OCCUPIED position, <= min(m, k * distinct keys) rows. A production
    packing (4-bit saturating nibbles, 15 per word) trades exactness of
    retraction for 16x space; this engine keeps the exact form because
    the table is already tiny (m rows bounds it) and saturated counters
    can never be decremented safely. One shuffle: the groupBy(p) with
    map-side combine; output size is capped by m no matter the corpus."""
    pos = df.select(F.explode(bloom_positions(F.col(key), n_words, k)).alias("p"))
    return pos.groupBy("p").agg(F.count(F.lit(1)).alias("cnt"))


def counting_to_words(counts: DataFrame) -> DataFrame:
    """Collapse a position-count table to the ``(w, bits)`` word table
    (`bloom_build`'s shape): bit set iff cnt > 0. Probes then run
    through the ONE probe implementation (`bloom_probe_keys`) — the
    counting master is the mutable store, the derived word table is
    the compact broadcast artifact, and deriving it is an O(table)
    narrow pass + the same groupBy(w) the direct build pays."""
    return (
        counts.filter(F.col("cnt") > 0)
        .select(
            F.expr(f"p DIV {WORD_BITS}").alias("w"),
            F.expr(
                f"shiftleft(CAST(1 AS BIGINT), CAST(p % {WORD_BITS} AS INT))"
            ).alias("b"),
        )
        .groupBy("w")
        .agg(F.bit_or("b").alias("bits"))
    )


def bloom_probe_keys(
    keys_df: DataFrame,
    key: str,
    bloom: DataFrame,
    n_words: int,
    k: int,
    out_col: str = "maybe_member",
) -> DataFrame:
    """(key, maybe_member) for each DISTINCT key in ``keys_df`` —
    ``maybe_member`` false means DEFINITELY absent (zero false
    negatives, the Bloom contract); true means "verify exactly".

    Plan shape: k exploded positions per probe key, hash-joined
    against the BROADCAST word table (O(n_words) rows — the whole
    point), then ONE groupBy(key) over k rows per key — which is also
    what dedups repeated input keys (an explicit pre-distinct would
    pay a second shuffle to remove rows the min-agg absorbs anyway).
    The probe side is the only thing shuffled; the filter never is. A
    missing word row (left join null) is an unset bit."""
    pos = keys_df.select(
        F.col(key),
        F.explode(bloom_positions(F.col(key), n_words, k)).alias("p"),
    )
    joined = pos.select(
        key,
        F.expr(f"p DIV {WORD_BITS}").alias("w"),
        F.expr(f"CAST(p % {WORD_BITS} AS INT)").alias("bit"),
    ).join(F.broadcast(bloom), "w", "left")
    bit_set = F.when(
        F.expr("(shiftright(bits, bit) & CAST(1 AS BIGINT))") == 1, 1
    ).otherwise(0)
    return (
        joined.select(key, bit_set.alias("s"))
        .groupBy(key)
        .agg((F.min("s") == 1).alias(out_col))
    )


def screen_totals(flags: DataFrame, batch_id: int) -> DataFrame:
    """One ``(batch_id, n_keys, n_definitely_new, n_maybe)`` row over
    `bloom_probe_keys` output — the per-batch totals both streaming
    screens record."""
    return flags.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.coalesce(
            F.sum((~F.col("maybe_member")).cast("long")), F.lit(0)
        ).cast("long").alias("n_definitely_new"),
        F.coalesce(
            F.sum(F.col("maybe_member").cast("long")), F.lit(0)
        ).cast("long").alias("n_maybe"),
    ).select(F.lit(batch_id).cast("long").alias("batch_id"), "*")
