"""Domain balancing for training-corpus assembly: per-domain
contribution caps + per-domain mixture rates (the RefinedWeb "no
domain dominates" rule and the Pile/DoReMi-style static mixture,
composed into one auditable pass).

Spark-first shape: ONE shuffle — the rank window partitioned by
domain; the per-domain rate table is domains-sized and broadcasts;
everything after is narrow. Ranking uses the engine's md5-derived
draw (layout-independent, engine-portable) with the id as tiebreak,
so "which documents a capped domain keeps" is a deterministic uniform
sample of that domain, not an artifact of scan order.

Skew note: one giant domain makes one hot window partition. The
operator keeps every row (audit trail, repo convention), so the
rank-limit pushdown (WindowGroupLimit) cannot truncate map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .similarity_dedup import md5_long


def domain_cap_and_mix(
    docs: DataFrame,
    rates: DataFrame,
    cap: int,
    domain_col: str = "source",
    id_col: str = "doc_id",
    default_rate: int = 500,
    salt: str = "dommix",
) -> DataFrame:
    """Rank documents within each domain by a deterministic md5 draw,
    cap each domain's contribution at ``cap``, then keep each
    cap-surviving document with its domain's per-mille rate from
    ``rates`` (columns: ``domain_col, rate_permille``; domains absent
    from the table fall back to ``default_rate``).

    Returns every input row (nothing silently disappears):
    (id_col, domain_col, domain_rank, kept_cap, rate_permille,
    selected) where ``selected = kept_cap AND mix-draw < rate``.
    """
    if cap < 1:
        raise ValueError("cap must be >= 1")
    draw = md5_long(
        F.concat(
            F.lit(salt), F.lit(":"), F.col(domain_col),
            F.lit(":"), F.col(id_col).cast("string"),
        )
    )
    rank = F.row_number().over(
        Window.partitionBy(domain_col).orderBy(draw, F.col(id_col))
    )
    mix_draw = F.pmod(
        md5_long(
            F.concat(
                F.lit(salt), F.lit("/mix:"), F.col(id_col).cast("string")
            )
        ),
        F.lit(1000),
    )
    return (
        docs.select(id_col, domain_col)
        .withColumn("domain_rank", rank.cast("long"))
        .join(F.broadcast(rates), domain_col, "left")
        .select(
            id_col,
            domain_col,
            "domain_rank",
            (F.col("domain_rank") <= cap).alias("kept_cap"),
            F.coalesce("rate_permille", F.lit(default_rate))
            .cast("long")
            .alias("rate_permille"),
        )
        .withColumn(
            "selected",
            F.col("kept_cap") & (mix_draw < F.col("rate_permille")),
        )
    )


def temperature_rates(
    docs: DataFrame,
    domain_col: str = "source",
    target_permille_of_max: int = 1000,
) -> DataFrame:
    """Temperature-scaled (alpha = 0.5) domain sampling rates — the
    mT5/XLM-R language-balancing rule: sampling probability per domain
    proportional to count^alpha, i.e. a per-document keep rate
    proportional to count^(alpha-1) = 1/sqrt(count), so small domains
    up-weight and no domain is starved. Rates normalize so the
    SMALLEST domain keeps ``target_permille_of_max``; every rate is
    ``floor``-quantized per mille.

    alpha is fixed at 0.5 BECAUSE of the determinism contract: sqrt is
    IEEE-correctly-rounded in both Spark and DuckDB, while pow(x, a)
    for general a is libm-dependent (the ln rule, see lm_scoring.py).
    Other temperatures need a quantized-rate table shipped as data.

    Returns (domain_col, n_docs, rate_permille) — one aggregation over
    the corpus; the result is domains-sized and broadcasts.
    """
    counts = docs.groupBy(domain_col).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    min_n = counts.agg(F.min("n_docs").alias("__min_n"))
    # rate(d) = floor(target * sqrt(min_n) / sqrt(n_d)) — equals
    # `target` for the smallest domain, shrinks as 1/sqrt for larger
    # ones. Fixed op order, mirrored in the SQL twin.
    return (
        counts.crossJoin(F.broadcast(min_n))
        .select(
            domain_col,
            "n_docs",
            F.floor(
                F.lit(float(target_permille_of_max))
                * F.sqrt(F.col("__min_n").cast("double"))
                / F.sqrt(F.col("n_docs").cast("double"))
            ).alias("rate_permille"),
        )
    )
