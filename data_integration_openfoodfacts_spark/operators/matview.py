"""Incrementally-maintainable summary tables (continuous aggregates).

The TimescaleDB/materialized-view pattern in batch Spark: a summary
table stores only MERGEABLE aggregate state per group (an HLL sketch
per distinct-count column, or exact per-bin histogram counts), so a
new fact batch refreshes it by aggregating JUST the batch and merging
— never re-scanning history. Derived metrics (distinct-count
estimates, quantile bounds) are finalized at read time from the
stored state.

Scale: refresh cost is O(|batch|) + O(|summary|) regardless of how
much history the summary represents; the merge is one hash agg over
summary-sized input. The contract is append-only (re-delivering a
batch double-counts a histogram; dedup upstream with
`dedup_keep_latest` / `incremental_minhash_dedup`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def build_distinct_summary(
    df: DataFrame, keys: list[str], distinct_cols: list[str]
) -> DataFrame:
    """Mergeable DISTINCT-COUNT state: an HLL sketch per group per
    column (Spark 3.5+ ``hll_sketch_agg``, Apache DataSketches).

    COUNT(DISTINCT) is not algebraic — merging per-batch exact
    distincts overcounts overlap.
    Sketches make it mergeable: REGISTER state unions by per-item
    maxima, losslessly and idempotently (overlapping batches never
    double-count). One honesty note: DataSketches estimates a
    never-merged sketch with the HIP estimator but a merged one with
    the composite estimator, so a merged sketch's ESTIMATE tracks the
    single-pass estimate within the error bound (~0.5% measured at
    sf0.1), not bit-exactly. That bounded drift is what lets a summary
    table answer "distinct users per group, all history" at O(kB)
    state per group with O(|batch|) refresh. Both the 5%-of-exact
    bound and the merged-vs-single drift bound are oracle-pinned in
    q136 the same way q100 pins ``approx_count_distinct``."""
    aggs: list[F.Column] = [F.count(F.lit(1)).alias("__n")]
    for c in distinct_cols:
        aggs.append(F.hll_sketch_agg(c).alias(f"__hll_{c}"))
    return df.groupBy(*keys).agg(*aggs)


def merge_distinct_summaries(
    existing: DataFrame,
    delta: DataFrame,
    keys: list[str],
    distinct_cols: list[str],
) -> DataFrame:
    """Merge two distinct-summary tables (register-wise max union —
    associative, commutative, idempotent per item)."""
    aggs: list[F.Column] = [F.sum("__n").cast("long").alias("__n")]
    for c in distinct_cols:
        aggs.append(F.hll_union_agg(f"__hll_{c}").alias(f"__hll_{c}"))
    return existing.unionByName(delta).groupBy(*keys).agg(*aggs)


def finalize_distinct_summary(
    summary: DataFrame, distinct_cols: list[str]
) -> DataFrame:
    """Reader view: row count + the distinct-count estimate per col."""
    cols = [F.col(c) for c in summary.columns if not c.startswith("__")]
    cols.append(F.col("__n").alias("n_rows"))
    for c in distinct_cols:
        cols.append(
            F.hll_sketch_estimate(f"__hll_{c}").alias(f"approx_distinct_{c}")
        )
    return summary.select(*cols)


def build_histogram_summary(
    df: DataFrame,
    keys: list[str],
    col: str,
    bin_width: float,
    n_bins: int,
) -> DataFrame:
    """Mergeable FIXED-BIN HISTOGRAM state: per-group counts in
    ``n_bins`` equal-width bins of ``col`` (bin = floor(value/width),
    clamped to [0, n_bins-1] so out-of-domain values land in the edge
    bins instead of minting unbounded state).

    This is the LOSSLESS counterpart to ``build_distinct_summary``'s
    HLL sketch: histogram registers are plain counts, so the merge
    (per-bin sum) is exact — a merged-from-batches state is
    bit-identical to a single-pass state, which q141 pins as a
    zero-tolerance oracle column (vs q136's bounded estimator drift).
    The price is bounded resolution: quantile READS come back as
    [bin_lo, bin_hi) bounds, not exact values. State is O(n_bins) per
    group regardless of history size — the summary-table contract.
    """
    b = (
        F.least(
            F.greatest(
                F.floor(F.col(col) / F.lit(float(bin_width))), F.lit(0)
            ),
            F.lit(n_bins - 1),
        )
        .cast("long")
        .alias("__bin")
    )
    # NULL measures are excluded (a NULL has no bin; mirroring the
    # oracle's WHERE col IS NOT NULL).
    return (
        df.filter(F.col(col).isNotNull())
        .groupBy(*keys, b)
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )


def merge_histogram_summaries(
    existing: DataFrame, delta: DataFrame, keys: list[str]
) -> DataFrame:
    """Merge histogram states (per-bin count sum — associative,
    commutative, and EXACT; any refresh order yields identical
    registers)."""
    return (
        existing.unionByName(delta)
        .groupBy(*keys, "__bin")
        .agg(F.sum("__cnt").cast("long").alias("__cnt"))
    )


def histogram_quantile_bounds(
    state: DataFrame,
    keys: list[str],
    quantiles: list[tuple[str, int, int]],
    bin_width: float,
) -> DataFrame:
    """Read quantile BOUNDS from histogram state: for each group and
    each quantile q = num/den, the percentile_disc rank is
    ceil(num*n/den) computed in EXACT integer arithmetic
    ((num*n + den - 1) DIV den — no float q*n), and the answer is the
    first bin whose cumulative count reaches that rank, reported as
    [lo, hi) decimal bounds.

    One shuffle on ``keys`` (the running-sum window and the per-group
    argmin share its partitioning); the quantile list is a literal
    explode, not a join. Output columns:
    ``*keys, q_label, n_total, rank_idx, bin_idx, lo, hi``.
    """
    qlit = F.array(
        *[
            F.struct(
                F.lit(label).alias("q_label"),
                F.lit(num).cast("long").alias("__num"),
                F.lit(den).cast("long").alias("__den"),
            )
            for (label, num, den) in quantiles
        ]
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy(*keys)
        .orderBy("__bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = state.withColumn("__cum", F.sum("__cnt").over(w)).withColumn(
        "__total", F.sum("__cnt").over(Window.partitionBy(*keys))
    )
    # ceil(num*n/den) via SQL DIV — exact BIGINT arithmetic, never a
    # double q*n (0.99*n is already inexact in IEEE).
    per_q = cum.withColumn("__q", F.explode(qlit)).withColumn(
        "__rank",
        F.expr(
            "CAST((__q.__num * __total + __q.__den - 1) DIV __q.__den"
            " AS BIGINT)"
        ),
    )
    hit = per_q.filter(F.col("__cum") >= F.col("__rank"))
    out = hit.groupBy(*keys, F.col("__q.q_label").alias("q_label")).agg(
        F.min("__total").cast("long").alias("n_total"),
        F.min("__rank").cast("long").alias("rank_idx"),
        F.min("__bin").cast("long").alias("bin_idx"),
    )
    return out.select(
        *keys,
        "q_label",
        "n_total",
        "rank_idx",
        "bin_idx",
        # bin edges are exact small-integer multiples of the width —
        # bit-identical doubles in both engines (output-boundary
        # doubles per the repo's determinism rules).
        (F.col("bin_idx") * F.lit(float(bin_width)))
        .cast("double")
        .alias("lo"),
        ((F.col("bin_idx") + 1) * F.lit(float(bin_width)))
        .cast("double")
        .alias("hi"),
    )
