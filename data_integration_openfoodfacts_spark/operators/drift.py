"""Distribution-drift profile — the ingest monitor that tells you a
new crawl snapshot stopped looking like the corpus before you train
on it. Standard industry form: band a per-document metric (classifier
score, length, language share), compare the banded distribution of
the CURRENT window against a REFERENCE window, score with PSI
(population stability index, sum over bands of
``(p_b - q_b) * ln(p_b / q_b)``).

Engine split, and why (measured, round 11): ``ln`` is NOT bit-stable
across engines — probing JVM ``F.log`` vs DuckDB ``ln`` on 31 doubles
found 3 one-ulp mismatches — so a hash-gated query must not evaluate
it. The operator therefore emits the per-band PROFILE in exact or
IEEE-deterministic terms only: integer counts, Laplace-smoothed
probabilities (single int/int divisions) and their gap. The PSI's
log factor is left to the reader — one log per band over a 10-row
profile costs nothing and keeps the gate deterministic. (The engine's
one gated transcendental, q134's sigmoid, has hash-matched across all
rounds; ln measurably does not — the rule is probe, don't assume.)

Plan shape: each side is one banded groupBy count (map-side combined,
<= n_bands rows out) plus a 1-row total; missing bands are restored by
a left join against the constant band frame so both sides always emit
ALL bands (a silent missing band would skew the reader's PSI). Nothing
scales with corpus size except the two linear banding passes.

Laplace smoothing ``(n_b + 1) / (N + B)`` keeps empty bands finite —
the standard PSI practice, and exact-integer here so both engines
divide the same longs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["drift_profile"]


def drift_profile(
    ref: DataFrame,
    cur: DataFrame,
    band: Column,
    n_bands: int,
) -> DataFrame:
    """(band, n_ref, n_cur, p_ref, p_cur, gap) for every band in
    ``[0, n_bands)`` — ``band`` is a Column expression over the input
    rows (already clamped by the caller); ``p_*`` are the
    Laplace-smoothed shares, ``gap = p_ref - p_cur``."""
    if n_bands < 2:
        raise ValueError("n_bands must be >= 2")
    spark = ref.sparkSession
    bands = spark.range(n_bands).select(F.col("id").alias("band"))

    def side(df: DataFrame, n_col: str) -> DataFrame:
        counts = (
            df.select(band.alias("band"))
            .groupBy("band")
            .agg(F.count(F.lit(1)).alias(n_col))
        )
        return bands.join(counts, "band", "left").fillna(
            0, subset=[n_col]
        )

    out = side(ref, "n_ref").join(side(cur, "n_cur"), "band")
    totals = out.agg(
        F.sum("n_ref").alias("__tr"), F.sum("n_cur").alias("__tc")
    )
    smoothed = out.crossJoin(F.broadcast(totals)).select(
        "band", "n_ref", "n_cur",
        (
            (F.col("n_ref") + 1)
            / (F.col("__tr") + F.lit(n_bands))
        ).alias("p_ref"),
        (
            (F.col("n_cur") + 1)
            / (F.col("__tc") + F.lit(n_bands))
        ).alias("p_cur"),
    )
    return smoothed.select(
        "*", (F.col("p_ref") - F.col("p_cur")).alias("gap")
    )
