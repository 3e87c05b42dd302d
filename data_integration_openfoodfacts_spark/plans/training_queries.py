"""Classifier-training queries (round 9, VERDICT #6): the
distributed quality-classifier FIT (`operators/training.py`) as
first-class gated queries — q164 pins the unrolled-GD weight table
bit-for-bit against DuckDB replaying the same integer iterations;
q165 closes the DCLM loop by feeding the trained weights into q134's
inference join and gating the per-label keep counts.

Reference-parity note: the reference (Sevlac/data-integration-
openfoodfacts) has no ML machinery — this extends the engine along
the LLM-training-data axis the build brief calls for (fastText-style
quality filtering, DCLM/FineWeb-Edu).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.parquet_source import load_table

_BUCKETS = 64
_ITERS = 3
_LR_INV = 64


def _labeled_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with the deterministic 0/1 training label: is the
    document English? (lang is a column, so the label is exact; the
    classifier has to discover which hashed token buckets correlate
    with it)."""
    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        (F.col("lang") == "en").cast("long").alias("y"),
    )


def q164_classifier_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-logistic TRAINING (`operators/training.py::
    train_hashed_logistic`): 3 unrolled full-batch GD iterations over
    64 hashed token buckets, labels y = (lang = 'en'), integer
    micro-weights end to end. Passing the gate IS the cross-engine
    replay of the whole training trajectory — margins, hard-sigmoid
    errors, gradients, clamped updates — not just the final table's
    shape. Scale shape: one O(tokens) feature shuffle, then per
    iteration one broadcast of the 64-row weight table, one
    groupBy(doc), one join on doc_id, one groupBy(bucket) whose
    64-row gradient is the bounded driver envelope (k x d
    convention)."""
    from ..operators.training import train_hashed_logistic

    return train_hashed_logistic(
        _labeled_docs(spark, sf_dir),
        num_buckets=_BUCKETS,
        n_iters=_ITERS,
        lr_inv=_LR_INV,
    )


def q165_trained_quality_filter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The closed DCLM loop: train (q164's fit) -> quantize micro ->
    milli (`trained_weights_for_inference`) -> score every document
    through the UNCHANGED q134 inference operator
    (`quality_classifier.hashed_linear_score`) -> per-label keep
    counts. The trained filter keeping more y=1 docs than y=0 docs is
    visible in the gated numbers themselves."""
    from ..operators.quality_classifier import hashed_linear_score
    from ..operators.training import (
        train_hashed_logistic,
        trained_weights_for_inference,
    )

    docs = _labeled_docs(spark, sf_dir)
    w = trained_weights_for_inference(
        train_hashed_logistic(
            docs, num_buckets=_BUCKETS, n_iters=_ITERS, lr_inv=_LR_INV
        )
    )
    scored = hashed_linear_score(
        docs, w, num_buckets=_BUCKETS, threshold=0.5
    )
    return (
        docs.select("doc_id", "y")
        .join(scored.select("doc_id", "keep"), "doc_id")
        .groupBy("y")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
        )
    )


def _train_ctes(n_iters: int = _ITERS) -> str:
    """The shared DuckDB training replay: feats/ntok/nd/w0 plus one
    (m, e, g, w) CTE quartet per unrolled iteration — identical
    integer arithmetic to the Spark operator (FLOOR over double
    division with sub-2^53 numerators, hard-sigmoid clamp, driver
    update replayed as FLOOR(g / (n_docs * lr_inv)))."""
    parts = [
        f"""toks AS (
  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         unnest(string_split(text, ' ')) AS tok
  FROM documents
),
feats AS (
  SELECT doc_id, y,
         CAST(concat('0x', substring(md5(tok), 1, 15)) AS BIGINT)
           % {_BUCKETS} AS bucket,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM toks GROUP BY 1, 2, 3
),
ntok AS (
  SELECT doc_id, CAST(SUM(x) AS BIGINT) AS n_tokens FROM feats GROUP BY 1
),
nd AS (SELECT COUNT(*) AS n_docs FROM ntok),
w0 AS (
  SELECT i AS bucket,
         CAST(concat('0x', substring(md5('qtrain' || i), 1, 15)) AS BIGINT)
           % 2001 - 1000 AS w_micro
  FROM range({_BUCKETS}) t(i)
)"""
    ]
    for i in range(1, n_iters + 1):
        parts.append(
            f"""m{i} AS (
  SELECT f.doc_id, MAX(f.y) AS y,
         CAST(FLOOR(SUM(w.w_micro * f.x) / MAX(t.n_tokens)) AS BIGINT) AS m
  FROM feats f
  JOIN w{i - 1} w USING (bucket)
  JOIN ntok t ON t.doc_id = f.doc_id
  GROUP BY f.doc_id
),
e{i} AS (
  SELECT doc_id,
         y * 1000000
           - LEAST(1000000,
                   GREATEST(0, 500000 + CAST(FLOOR(m / 4) AS BIGINT))) AS e
  FROM m{i}
),
g{i} AS (
  SELECT f.bucket, SUM(e.e * f.x) AS g
  FROM feats f JOIN e{i} e USING (doc_id) GROUP BY 1
),
w{i} AS (
  SELECT w.bucket,
         GREATEST(-1000000, LEAST(1000000,
           w.w_micro + CAST(FLOOR(COALESCE(g.g, 0)
                                  / (nd.n_docs * {_LR_INV})) AS BIGINT)))
           AS w_micro
  FROM w{i - 1} w LEFT JOIN g{i} g USING (bucket) CROSS JOIN nd
)"""
        )
    return ",\n".join(parts)


Q164_ORACLE = f"""
WITH {_train_ctes()}
SELECT bucket, w_micro FROM w{_ITERS}
"""

# inference replay: q134's scoring SQL over the TRAINED milli weights
Q165_ORACLE = f"""
WITH {_train_ctes()},
wm AS (
  SELECT bucket, CAST(FLOOR(w_micro / 1000) AS BIGINT) AS w_milli
  FROM w{_ITERS}
),
agg AS (
  SELECT f.doc_id, MAX(f.y) AS y,
         CAST(SUM(w.w_milli * f.x) AS BIGINT) AS s,
         CAST(SUM(f.x) AS BIGINT) AS n_tokens
  FROM feats f JOIN wm w USING (bucket)
  GROUP BY f.doc_id
)
SELECT y,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN 1.0 / (1.0 + exp(-(CAST(s AS DOUBLE)
                       / (CAST(n_tokens AS DOUBLE) * 1000.0)))) >= 0.5
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM agg
GROUP BY y
"""

TRAINING_QUERIES = {
    "q164_classifier_training": q164_classifier_training,
    "q165_trained_quality_filter": q165_trained_quality_filter,
}

TRAINING_ORACLES = {
    "q164_classifier_training": Q164_ORACLE,
    "q165_trained_quality_filter": Q165_ORACLE,
}
