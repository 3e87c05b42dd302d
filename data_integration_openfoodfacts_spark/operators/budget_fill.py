"""Token-budget corpus fill — the data-recipe step that turns
per-source TOKEN budgets into a concrete document selection ("fill
1B tokens: 30% web, 30% code, ..."), complementing the per-document
rate machinery in operators/mixture.py (q145/q149/q153 pick documents
by probability; real training-run recipes are specified in tokens).

Selection rule: within each source, documents are ordered by a
deterministic md5 draw (a uniform shuffle both engines reproduce —
layout- and engine-independent, id tiebreak), and the prefix whose
RUNNING token total stays within the source's budget is selected.
Greedy prefix-fill is the standard practical rule: the overshoot of
the last admitted document is bounded by one document's tokens.

Spark-first shape: ONE shuffle — the running-sum window partitioned
by source (budgets are a broadcast source-sized table; the token
count is a narrow expression riding the scan). Skew posture: a
monster source is one hot window partition, and a running sum has no
partial operator (SKEW.md case 2's aggregate-over-window rule) — for
the 100 TB survivors-only path, pre-filter with a two-phase
bucketed cap (the skew note in ``operators/mixture.py``) to bound
any source's row count before the exact cumsum, or shard the source
by an md5 bucket and give each bucket budget/B tokens (the overshoot
bound becomes B documents).

Determinism contract: token counts and budgets are BIGINT; the
running sum is an integer sum over a total order (draw, id) both
engines agree on — no float accumulation anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text_analysis import whitespace_token_count
from .similarity_dedup import md5_long


def token_budget_fill(
    docs: DataFrame,
    budgets: DataFrame,
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "fill",
) -> DataFrame:
    """Select a per-source document prefix whose running token total
    fits the source's budget.

    ``budgets``: (source_col, token_budget BIGINT) — source-sized,
    broadcast. Sources absent from the table get budget 0 (nothing
    selected). NULL sources group together under the empty-string key.

    Returns every input row (audit convention): (id_col, source_col,
    n_tokens, cum_tokens, token_budget, selected).
    """
    src = F.coalesce(F.col(source_col), F.lit(""))
    draw = md5_long(
        F.concat(F.lit(salt), F.lit(":"), F.col(id_col).cast("string"))
    )
    w = (
        Window.partitionBy(src)
        .orderBy(draw, F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # aggregate per coalesced key: a budgets table carrying BOTH a
    # NULL-source row and an ''-source row coalesces them onto the same
    # __src — without this the broadcast left join would fan every
    # empty-source document out into one row per colliding budget
    # (round-7 ADVICE). max() picks the more permissive budget; real
    # recipes should not carry the collision at all.
    b = budgets.groupBy(
        F.coalesce(F.col(source_col), F.lit("")).alias("__src")
    ).agg(F.max(F.col("token_budget").cast("long")).alias("token_budget"))
    return (
        docs.select(
            F.col(id_col),
            F.col(source_col),
            src.alias("__src"),
            # NULL text counts as the empty document (1 empty token —
            # the ws_tokens convention), never a NULL that would
            # poison the running sum
            whitespace_token_count(
                F.coalesce(F.col(text_col), F.lit(""))
            ).alias("n_tokens"),
        )
        .withColumn("cum_tokens", F.sum("n_tokens").over(w).cast("long"))
        .join(F.broadcast(b), "__src", "left")
        .select(
            id_col,
            source_col,
            "n_tokens",
            "cum_tokens",
            F.coalesce("token_budget", F.lit(0)).cast("long").alias(
                "token_budget"
            ),
            (
                F.col("cum_tokens")
                <= F.coalesce("token_budget", F.lit(0))
            ).alias("selected"),
        )
    )
