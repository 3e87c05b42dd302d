"""Classifier-vs-rules calibration (round 11): does the quality
CLASSIFIER agree with the rule battery? The ops diagnostic behind
"can I trust this model's threshold" — per score band, how many
documents pass the static Gopher/C4 rules. A well-calibrated quality
model shows a rising pass-rate curve; a flat one means the model
ranks something other than the heuristics measure (which may be fine
— but you want to SEE it before filtering 100 TB with it).

Banding is a narrow per-row expression over the score (the
quality_bucket_sample fixed-band shape), NOT a global NTILE — an
exact global decile needs a single-partition sort window, which is
precisely the plan you don't ship at corpus scale. Both engines band
the bit-identical sigmoid double with the same floor arithmetic, so
the cross-tab replays exactly.

It composes two already-gated machineries (the q134 scorer, the q158
battery); q190 (calibration_queries.py) profiles the DEDUP threshold —
this profiles the QUALITY threshold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.quality_rules import rule_pass_ctes
from ..sources.parquet_source import load_table

_NB = 4096
_BANDS = 10
#: the corpus rule thresholds the curation pipeline uses at this data
#: shape (q148/q158 convention: the synthetic docs are ~50 words)
_RULES = {"min_words": 20, "max_words": 10_000}


def q196_classifier_rule_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(score_band, n_docs, n_pass_rules, min_score, max_score,
    rule_pass_rate) — the hashed-linear classifier's score banded into
    10 fixed [0,1) bands, cross-tabbed against the rule battery's
    keep/drop verdict. Cost: the scorer's token explode + broadcast
    weight join + one doc shuffle, the battery as narrow per-row
    expressions riding the same scan, one final band aggregate."""
    from ..operators.quality_classifier import (
        hashed_linear_score,
        synthetic_weights,
    )
    from ..operators.quality_rules import rule_pass_filter

    docs = load_table(spark, sf_dir, "documents")
    scored = hashed_linear_score(
        docs, synthetic_weights(spark, _NB), num_buckets=_NB
    )
    flags = docs.select(
        "doc_id", rule_pass_filter("text", **_RULES).alias("pass_rules")
    )
    band = F.least(
        F.lit(_BANDS - 1),
        F.floor(F.col("score") * _BANDS).cast("long"),
    )
    return (
        scored.join(flags, "doc_id")
        .groupBy(band.alias("score_band"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("pass_rules").cast("long")).alias("n_pass_rules"),
            F.min("score").alias("min_score"),
            F.max("score").alias("max_score"),
        )
        .select(
            "*",
            (F.col("n_pass_rules") / F.col("n_docs")).alias(
                "rule_pass_rate"
            ),
        )
    )


_rules_sql_kwargs = dict(_RULES)

Q196_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
feats AS (
  SELECT doc_id,
         CAST(concat('0x', substring(md5(tok), 1, 15)) AS BIGINT)
           % {_NB} AS bucket
  FROM toks
),
w AS (
  SELECT i AS bucket,
         CAST(concat('0x', substring(md5('qw' || i), 1, 15)) AS BIGINT)
           % 2001 - 1000 AS w_milli
  FROM range({_NB}) t(i)
),
agg AS (
  SELECT f.doc_id,
         CAST(SUM(w.w_milli) AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS n_tokens
  FROM feats f JOIN w USING (bucket)
  GROUP BY 1
),
scored AS (
  SELECT doc_id,
         1.0 / (1.0 + exp(-(CAST(s AS DOUBLE)
             / (CAST(n_tokens AS DOUBLE) * 1000.0)))) AS score
  FROM agg
),
{rule_pass_ctes("documents", "rulepass", "text", **_rules_sql_kwargs)},
flags AS (
  SELECT d.doc_id,
         CASE WHEN r.doc_id IS NULL THEN 0 ELSE 1 END AS pass_rules
  FROM documents d LEFT JOIN rulepass r USING (doc_id)
)
SELECT LEAST({_BANDS - 1},
             CAST(floor(score * {_BANDS}) AS BIGINT)) AS score_band,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(pass_rules) AS BIGINT) AS n_pass_rules,
       MIN(score) AS min_score,
       MAX(score) AS max_score,
       CAST(SUM(pass_rules) AS BIGINT) / CAST(COUNT(*) AS BIGINT)
         AS rule_pass_rate
FROM scored JOIN flags USING (doc_id)
GROUP BY 1
"""


QUALITY_CALIBRATION_QUERIES = {
    "q196_classifier_rule_calibration": q196_classifier_rule_calibration,
}

QUALITY_CALIBRATION_ORACLES = {
    "q196_classifier_rule_calibration": Q196_ORACLE,
}
