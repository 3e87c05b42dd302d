"""End-to-end pretraining-corpus curation pipeline: the round-trip
story that composes the engine's LLM-data operators into one auditable
pass — language filter -> rule-based quality battery (Gopher/C4) ->
model-based quality filter -> exact dedup -> benchmark decontamination
-> domain cap + mixture — with a per-stage row-accounting ledger as
the output (the dataset-card numbers every pipeline publishes: how
many documents each stage removed).

This is deliberately a COMPOSITION module: every stage delegates to
its dedicated operator (`quality_rules`, `quality_classifier`,
`similarity_dedup`, `mixture`), so the pipeline inherits each
operator's tested scale shape — narrow rule expressions, broadcast
weight/benchmark/rate tables, map-side-combined aggs, one rank window
— and adds nothing but joins on the document id. Near-dup (MinHash
q19/q42) and substring (q139/q140) stages slot in the same way; the
ledger uses exact-hash dedup so the DuckDB twin stays one WITH-chain.

Ledger cost (round-6 VERDICT #2): the stage counts ride the final
selection's OWN execution via ``observe`` + ``Observation`` — ONE
action total (a noop-format write that materializes the chain), zero
per-stage re-executions. The previous design unioned six count
aggregates, each re-running its chain prefix (~6 corpus scans per
dataset card at 100 TB). Side inputs derived FROM a stage (the
classifier keep-set, the dedup keep-set, the contamination set, the
rate table) are built from un-observed twins of the stage frames so
each CollectMetrics node appears exactly once in the executed plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions.localframe import local_rows_df

from ..operators.mixture import domain_cap_and_mix
from ..operators.quality_classifier import (
    hashed_linear_score,
    synthetic_weights,
)
from ..operators.quality_rules import rule_pass_filter
from ..operators.similarity_dedup import benchmark_contamination, md5_long
from ..sources.parquet_source import load_table

STAGES = (
    "loaded",
    "lang_en",
    "rule_quality",
    "quality_keep",
    "exact_dedup",
    "decontaminated",
    "domain_mixture",
)


def corpus_stage_parts(
    spark: SparkSession, sf_dir: str, checkpoint_stages: bool = False
) -> dict:
    """The pipeline's stage predicates, side inputs, and survivor
    frames — the single source of truth shared by the observed ledger
    (:func:`run_corpus_pipeline`) and the per-document drop
    attribution (plans/hygiene_queries.q161).

    Keys: ``docs``; predicates ``lang_en``/``rules_ok``/``not_bench``
    (Columns); side inputs ``keep_q``/``keep_d``/``contaminated``/
    ``rates`` (id / rate frames); survivor frames ``s1``..``s6``
    (s6 = final mixture-selected docs).

    ``checkpoint_stages``: eagerly localCheckpoint the expensive
    survivor frames (s3..s6) so a consumer that joins SEVERAL of them
    (q161 joins five) executes the chain once instead of once per
    join. The ledger path leaves this off — its observed chain is the
    single execution. A production pipeline persists each stage's
    output to storage anyway; the checkpoint is the in-session stand-in
    for exactly that."""

    def _cp(df: DataFrame) -> DataFrame:
        return df.localCheckpoint(eager=True) if checkpoint_stages else df

    docs = load_table(spark, sf_dir, "documents")

    # 1. language filter (metadata column; functions/text_analysis.py's
    # n-gram lang-id is the no-metadata path, oracle-gated as q22)
    lang_en = F.col("lang") == "en"
    s1 = docs.filter(lang_en)

    # 2. rule-based quality battery (Gopher/C4 heuristics,
    # operators/quality_rules.py, oracle-gated as q158) — the cheap
    # narrow filter that fronts the learned classifier
    rules_ok = rule_pass_filter("text")
    s2 = s1.filter(rules_ok)

    # 3. model-based quality filter (q134's classifier, keep >= 0.5)
    keep_q = (
        hashed_linear_score(
            s2, synthetic_weights(spark, 4096), num_buckets=4096,
            threshold=0.5,
        )
        .filter(F.col("keep"))
        .select("doc_id")
    )
    s3 = _cp(s2.join(keep_q, "doc_id"))

    # 4. exact dedup: keep the lowest doc_id per exact text
    keep_d = (
        s3.groupBy(F.md5("text").alias("__h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    s4 = _cp(s3.join(keep_d, "doc_id"))

    # 5. benchmark decontamination (q46's operator): the held-out
    # benchmark slice leaves the corpus entirely, and any training doc
    # sharing >= 5 distinct 3-gram shingles with it is cut
    benchmark = docs.filter(F.col("doc_id") % 50 == 0)
    not_bench = F.col("doc_id") % 50 != 0
    s4b = s4.filter(not_bench)
    contaminated = benchmark_contamination(
        s4b, benchmark, "doc_id", "text", n=3, min_shared=5
    ).select("doc_id")
    s5 = _cp(s4b.join(contaminated, "doc_id", "left_anti"))

    # 6. domain cap + mixture (q145's operator, rates from md5(source))
    rates = (
        s5.select("source")
        .distinct()
        .select(
            "source",
            (
                F.lit(100)
                + F.pmod(
                    md5_long(F.concat(F.lit("mix"), F.col("source"))),
                    F.lit(9),
                )
                * 100
            ).cast("long").alias("rate_permille"),
        )
    )
    s6 = _cp(domain_cap_and_mix(s5, rates, cap=15).filter(F.col("selected")))
    return {
        "docs": docs,
        "lang_en": lang_en,
        "rules_ok": rules_ok,
        "not_bench": not_bench,
        "keep_q": keep_q,
        "keep_d": keep_d,
        "contaminated": contaminated,
        "rates": rates,
        "s1": s1, "s2": s2, "s3": s3, "s4": s4, "s5": s5, "s6": s6,
    }


def run_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returns the curation ledger: (stage_no, stage, n_docs), one row
    per pipeline stage, ordered by stage_no — collected from a SINGLE
    execution of the final selection with per-stage ``observe``
    counters."""
    p = corpus_stage_parts(spark, sf_dir)
    obs = {name: Observation() for name in STAGES}

    def counted(df: DataFrame, stage: str) -> DataFrame:
        return df.observe(obs[stage], F.count(F.lit(1)).alias("n"))

    # `chain` is the observed main flow; corpus_stage_parts' frames are
    # its un-observed twins, used ONLY to derive side inputs (each
    # Observation may appear once in the executed plan).
    chain = counted(p["docs"], "loaded")
    chain = counted(chain.filter(p["lang_en"]), "lang_en")
    chain = counted(chain.filter(p["rules_ok"]), "rule_quality")
    chain = counted(chain.join(p["keep_q"], "doc_id"), "quality_keep")
    chain = counted(chain.join(p["keep_d"], "doc_id"), "exact_dedup")
    chain = counted(
        chain.filter(p["not_bench"]).join(
            p["contaminated"], "doc_id", "left_anti"
        ),
        "decontaminated",
    )
    chain = counted(
        domain_cap_and_mix(chain, p["rates"], cap=15).filter(
            F.col("selected")
        ),
        "domain_mixture",
    )

    # ONE action fills every Observation: a noop-format write executes
    # the full plan without collecting anything to the driver.
    chain.write.format("noop").mode("overwrite").save()

    rows = [
        (no, name, int(obs[name].get["n"]))
        for no, name in enumerate(STAGES)
    ]
    return local_rows_df(
        spark, rows, "stage_no int, stage string, n_docs long"
    ).orderBy("stage_no")


def corpus_chain_sql() -> str:
    """DuckDB CTE body replaying :func:`corpus_stage_parts` — the
    single SQL source of truth for the q148 ledger oracle and the q161
    drop-attribution oracle. Emits CTEs ``s1`` (lang), ``s1r`` (rule
    battery), ``s2`` (classifier keep), ``s3`` (exact dedup), ``s3b``
    (benchmark slice removed), ``s4`` (decontaminated), ``s5``
    (mixture-selected doc_ids)."""
    from ..operators.quality_rules import rule_pass_ctes

    return f"""s1 AS (SELECT * FROM documents WHERE lang = 'en'),
{rule_pass_ctes('s1', 's1r')},
toksq AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM s1r
),
featsq AS (
  SELECT doc_id,
         CAST(concat('0x', substring(md5(tok), 1, 15)) AS BIGINT) % 4096
           AS bucket
  FROM toksq
),
wq AS (
  SELECT i AS bucket,
         CAST(concat('0x', substring(md5('qw' || i), 1, 15)) AS BIGINT)
           % 2001 - 1000 AS w_milli
  FROM range(4096) t(i)
),
aggq AS (
  SELECT f.doc_id,
         CAST(SUM(COALESCE(w.w_milli, 0)) AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS n_tokens
  FROM featsq f LEFT JOIN wq w USING (bucket)
  GROUP BY 1
),
s2 AS (
  SELECT s1r.* FROM s1r JOIN aggq a USING (doc_id)
  WHERE 1.0 / (1.0 + exp(-(CAST(a.s AS DOUBLE)
                           / (CAST(a.n_tokens AS DOUBLE) * 1000.0))))
        >= 0.5
),
keep_d AS (SELECT MIN(doc_id) AS doc_id FROM s2 GROUP BY md5(text)),
s3 AS (SELECT s2.* FROM s2 JOIN keep_d USING (doc_id)),
s3b AS (SELECT * FROM s3 WHERE doc_id % 50 <> 0),
btoks AS (SELECT doc_id, string_split(text, ' ') AS t
          FROM documents WHERE doc_id % 50 = 0),
bsh AS (
  SELECT DISTINCT doc_id,
         t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM btoks, LATERAL (SELECT UNNEST(range(1, len(t) - 1)) AS i) u
  WHERE len(t) >= 3
),
ctoks AS (SELECT doc_id, string_split(text, ' ') AS t FROM s3b),
csh AS (
  SELECT DISTINCT doc_id,
         t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM ctoks, LATERAL (SELECT UNNEST(range(1, len(t) - 1)) AS i) u
  WHERE len(t) >= 3
),
cont AS (
  SELECT c.doc_id FROM csh c JOIN bsh b USING (shingle)
  GROUP BY c.doc_id
  HAVING COUNT(DISTINCT c.shingle) >= 5
),
s4 AS (SELECT * FROM s3b WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
rates AS (
  SELECT source,
         100 + (CAST(concat('0x', substring(md5('mix' || source), 1, 15))
                     AS BIGINT) % 9) * 100 AS rate_permille
  FROM (SELECT DISTINCT source FROM s4)
),
ranked AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (
           PARTITION BY source
           ORDER BY CAST(concat('0x', substring(
                      md5('dommix:' || source || ':' || doc_id), 1, 15))
                    AS BIGINT), doc_id
         ) AS rk
  FROM s4
),
s5 AS (
  SELECT r.doc_id FROM ranked r LEFT JOIN rates rt USING (source)
  WHERE r.rk <= 15
    AND CAST(concat('0x', substring(md5('dommix/mix:' || r.doc_id),
                                    1, 15)) AS BIGINT) % 1000
        < COALESCE(rt.rate_permille, 500)
)"""
