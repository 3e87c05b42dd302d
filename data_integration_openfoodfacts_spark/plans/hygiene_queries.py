"""Corpus-hygiene queries (round 7): the cheap rule-based quality
battery and the incremental shingle-novelty ledger — the two
front-of-pipeline operators a production curation stack runs on every
new crawl tranche before any model or heavy dedup cost.

Reference-parity note: the reference (Sevlac/data-integration-
openfoodfacts) has no text-quality or novelty machinery — these extend
the engine along the LLM-training-data axis the build brief calls for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.quality_rules import (
    rule_flags_sql,
    rule_quality_signals,
    rule_signals_sql,
)
from ..sources.parquet_source import load_table


def q158_rule_quality_battery(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-document Gopher/C4 rule battery
    (`operators/quality_rules.py`): word-count bounds, mean-word-length
    bounds, symbol/bullet/ellipsis ratios, alphabetic-word ratio, and
    stopword presence — every signal a narrow whole-stage-codegen
    expression riding the scan (zero shuffles; `.explain` shows one
    Project over the parquet scan). Emits the eight BIGINT signals,
    the seven boolean flags, and the combined ``pass_rules`` so the
    oracle value-checks the arithmetic, not just the verdict."""
    docs = load_table(spark, sf_dir, "documents")
    return rule_quality_signals(docs.select("doc_id", "text")).drop("text")


def _q158_oracle() -> str:
    sig = rule_signals_sql("text")
    flags = rule_flags_sql()
    sig_cols = ",\n         ".join(
        f"{expr} AS {name}" for name, expr in sig.items()
    )
    flag_cols = ",\n       ".join(
        f"{expr} AS {name}" for name, expr in flags.items()
    )
    pass_expr = " AND ".join(flags.values())
    return f"""
WITH sig AS (
  SELECT doc_id,
         {sig_cols}
  FROM documents
)
SELECT doc_id,
       n_words, sum_word_len, n_alpha_words, n_symbols, n_lines,
       n_bullet_lines, n_ellipsis_lines, n_stopwords,
       {flag_cols},
       ({pass_expr}) AS pass_rules
FROM sig
"""


Q158_ORACLE = _q158_oracle()


def q159_incremental_novelty_ledger(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q157's marginal-novelty curve computed the way production runs
    it — TRANCHE BY TRANCHE against a persisted (shingle_md5,
    first_doc) ledger (`operators/novelty.py`, round-6 VERDICT #1)
    instead of one full-corpus shingle reshuffle. Each of the 10
    doc_id-decile tranches pays O(tranche) shingle work + one
    anti-join against the accumulated ledger; first-occurrences append
    to the ledger (here an in-session localCheckpoint chain; the
    parquet-persisted form is `operators/novelty_ledger.py`,
    equivalence pinned by test).

    The oracle is the SAME batch SQL as q157 — passing the gate IS the
    incremental-equals-batch reconciliation: tranches ascend by
    doc_id, so a shingle's global first doc is its tranche-local min
    in the first tranche containing it.

    Bounded driver work: one 1-row max(doc_id) lookup to fix tranche
    bounds (the k x d envelope convention); everything else stays on
    executors. Job-count shape (the static-corpus batching the query
    form allows; the streaming twin pays per live batch): the corpus
    shingles ONCE, the per-(tranche, shingle) firsts pre-aggregate in
    the same pass, and all 10 ledger rounds then ride ONE job
    (round-7 VERDICT #4 — the old form ran 10 sequential
    checkpoint jobs). The batching identity: the ledger's key set
    before round t is exactly the distinct shingles of tranches < t
    (every earlier round appended its tranche's first-occurrences, and
    a shingle seen in any tranche < t has one), so round t's
    membership probe can read ``firsts_pre.filter(tranche < t)``
    directly — the rounds decouple and submit together. Each round
    keeps the REAL incremental plan shape (`operators/novelty.py`):
    tranche keys broadcast, ledger side scanned left-semi, never
    shuffled or broadcast. The live accumulate-and-append form is the
    streaming twin + `operators/novelty_ledger.py`'s bucket-pruned
    persisted ledger."""
    from ..operators.novelty import doc_shingle_keys, seen_keys

    docs = load_table(spark, sf_dir, "documents")
    hi = docs.agg(F.max("doc_id")).first()[0]
    sh_all = (
        doc_shingle_keys(docs, "doc_id", "text", n=8)
        .withColumn(
            "tranche",
            F.floor(F.col("doc_id") * 10 / (hi + 1)).cast("long"),
        )
        .localCheckpoint(eager=True)
    )
    # per-tranche shingle firsts, one shuffle for all 10 rounds
    firsts_pre = (
        sh_all.groupBy("tranche", "shingle_md5")
        .agg(F.min("doc_id").alias("first_doc"))
        .localCheckpoint(eager=True)
    )
    novel_parts = []
    for t in range(10):
        firsts_t = firsts_pre.filter(F.col("tranche") == t).select(
            "shingle_md5", "first_doc"
        )
        ledger_keys = firsts_pre.filter(F.col("tranche") < t).select(
            "shingle_md5"
        )
        new_firsts = firsts_t.join(
            F.broadcast(seen_keys(firsts_t, ledger_keys)),
            "shingle_md5",
            "left_anti",
        )
        # a doc's n_novel = new_firsts rows attributed to it
        # (operators/novelty.py's per_doc_novelty identity)
        novel_parts.append(
            new_firsts.groupBy(
                F.col("first_doc").alias("doc_id")
            ).agg(F.count(F.lit(1)).alias("__novel"))
        )
    novel = novel_parts[0]
    for p in novel_parts[1:]:
        novel = novel.unionByName(p)
    per_doc = (
        sh_all.groupBy("tranche", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_shingles"))
        .join(novel, "doc_id", "left")
        .select(
            "tranche",
            "n_shingles",
            F.coalesce("__novel", F.lit(0)).cast("long").alias("n_novel"),
        )
    )
    return (
        per_doc.groupBy("tranche")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_shingles").alias("n_shingles"),
            F.sum("n_novel").alias("n_novel"),
        )
        .select(
            "tranche",
            "n_docs",
            "n_shingles",
            "n_novel",
            (
                F.col("n_novel").cast("double")
                / F.col("n_shingles").cast("double")
            ).alias("novelty_rate"),
        )
    )


# the reconciliation contract: the incremental ledger query must equal
# the BATCH novelty curve — its oracle is q157's SQL, verbatim
from .curation_queries import _SHINGLE8_CTE  # noqa: E402
from .curation_queries import Q157_ORACLE as Q159_ORACLE


def q160_token_budget_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source TOKEN-budget corpus fill (`operators/budget_fill.py`):
    the data-recipe step that converts token budgets ("30% web, 30%
    code" in tokens, not documents) into a concrete selection — each
    source's documents order by a deterministic md5 draw and the
    prefix whose running token total fits the source's budget is
    selected. One window shuffle; budgets broadcast. Budgets derive
    from md5(source) for the test surface (2000 + md5%9 * 1000
    tokens); a real recipe ships the same broadcast table. The DuckDB
    twin replays draw order, integer running sum, and the budget
    comparison exactly."""
    from ..operators.budget_fill import token_budget_fill
    from ..operators.similarity_dedup import md5_long

    docs = load_table(spark, sf_dir, "documents")
    src = F.coalesce(F.col("source"), F.lit(""))
    budgets = (
        docs.select(src.alias("source"))
        .distinct()
        .select(
            "source",
            (
                F.lit(2000)
                + F.pmod(
                    md5_long(F.concat(F.lit("tb"), F.col("source"))),
                    F.lit(9),
                )
                * 1000
            ).cast("long").alias("token_budget"),
        )
    )
    return token_budget_fill(docs, budgets)


Q160_ORACLE = r"""
WITH tok AS (
  SELECT doc_id, source, COALESCE(source, '') AS src,
         CAST(len(string_split_regex(trim(COALESCE(text, '')), '\s+'))
           AS BIGINT) AS n_tokens,
         CAST(concat('0x', substring(
             md5('fill:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
           AS draw
  FROM documents
),
b AS (
  SELECT src,
         CAST(2000 + (CAST(concat('0x', substring(md5('tb' || src), 1, 15))
                      AS BIGINT) % 9) * 1000 AS BIGINT) AS token_budget
  FROM (SELECT DISTINCT COALESCE(source, '') AS src FROM documents)
),
c AS (
  SELECT t.doc_id, t.source, t.n_tokens,
         CAST(SUM(t.n_tokens) OVER (
           PARTITION BY t.src
           ORDER BY t.draw, t.doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS cum_tokens,
         b.token_budget
  FROM tok t JOIN b USING (src)
)
SELECT doc_id, source, n_tokens, cum_tokens, token_budget,
       cum_tokens <= token_budget AS selected
FROM c
"""


def q161_drop_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document DROP ATTRIBUTION for the curation pipeline: which
    stage removed each document (or 'selected') — the "why was my
    document dropped" debugging table behind q148's aggregate ledger,
    and the per-doc lineage a dataset card's composition appendix
    publishes. Both queries share ONE stage definition
    (`plans/corpus_pipeline.corpus_stage_parts` / `corpus_chain_sql`),
    so the attribution and the ledger cannot drift apart; their
    reconciliation (attribution counts == ledger stage deltas) is
    pinned by test.

    Shape: the stage survivor id-sets LEFT-join onto the corpus once
    each (doc_id equi-joins, broadcastable survivor sets at gate
    scale, AQE-handled at 100 TB) and a CASE picks the first exit.
    ``checkpoint_stages=True`` materializes s3..s6 once, so the chain
    executes a single time instead of once per membership join (a
    production pipeline reads each stage's persisted output here)."""
    from .corpus_pipeline import corpus_stage_parts

    p = corpus_stage_parts(spark, sf_dir, checkpoint_stages=True)
    docs = p["docs"].select("doc_id", "lang")

    def flag(df: DataFrame, name: str) -> DataFrame:
        return df.select("doc_id", F.lit(True).alias(name))

    out = (
        docs.join(flag(p["s2"], "__rules"), "doc_id", "left")
        .join(flag(p["s3"], "__quality"), "doc_id", "left")
        .join(flag(p["s4"], "__exact"), "doc_id", "left")
        .join(flag(p["s5"], "__decont"), "doc_id", "left")
        .join(flag(p["s6"], "__mix"), "doc_id", "left")
    )
    return out.select(
        "doc_id",
        F.when(~F.col("lang").eqNullSafe("en"), F.lit("lang_en"))
        .when(F.col("__rules").isNull(), F.lit("rule_quality"))
        .when(F.col("__quality").isNull(), F.lit("quality_keep"))
        .when(F.col("__exact").isNull(), F.lit("exact_dedup"))
        .when(F.col("doc_id") % 50 == 0, F.lit("benchmark_heldout"))
        .when(F.col("__decont").isNull(), F.lit("decontaminated"))
        .when(F.col("__mix").isNull(), F.lit("domain_mixture"))
        .otherwise(F.lit("selected"))
        .alias("dropped_at"),
    )


def _q161_oracle() -> str:
    from .corpus_pipeline import corpus_chain_sql

    return f"""
WITH {corpus_chain_sql()}
SELECT d.doc_id,
       CASE
         WHEN d.lang IS DISTINCT FROM 'en' THEN 'lang_en'
         WHEN d.doc_id NOT IN (SELECT doc_id FROM s1r)
           THEN 'rule_quality'
         WHEN d.doc_id NOT IN (SELECT doc_id FROM s2)
           THEN 'quality_keep'
         WHEN d.doc_id NOT IN (SELECT doc_id FROM s3)
           THEN 'exact_dedup'
         WHEN d.doc_id % 50 = 0 THEN 'benchmark_heldout'
         WHEN d.doc_id NOT IN (SELECT doc_id FROM s4)
           THEN 'decontaminated'
         WHEN d.doc_id NOT IN (SELECT doc_id FROM s5)
           THEN 'domain_mixture'
         ELSE 'selected'
       END AS dropped_at
FROM documents d
"""


Q161_ORACLE = _q161_oracle()


def q162_kmv_snapshot_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot overlap via KMV bottom-k sketches
    (`operators/kmv.py`): split the corpus into two snapshot halves
    (doc_id parity), sketch each side's 8-gram shingle SET with k=256
    minimum hashes, and estimate per-side distinct counts, the union's
    distinct count, and the Jaccard overlap — the sketch-only answer
    to "how much does the next snapshot overlap the corpus", costing
    two TakeOrdered scans instead of the exact shingle join. The
    sketch is deterministic (md5 minima), so the DuckDB twin replays
    it value-exactly; estimator ACCURACY vs exact counts is pinned in
    pytest (tests/test_kmv.py), not here."""
    from ..operators.kmv import kmv_estimate, kmv_jaccard, kmv_sketch
    from ..operators.similarity_dedup import word_shingles

    k = 256
    docs = load_table(spark, sf_dir, "documents")
    sh = word_shingles(docs, "doc_id", "text", n=8)
    a = kmv_sketch(
        sh.filter(F.col("doc_id") % 2 == 0), "shingle", k
    ).localCheckpoint(eager=True)
    b = kmv_sketch(
        sh.filter(F.col("doc_id") % 2 == 1), "shingle", k
    ).localCheckpoint(eager=True)

    def est(s: DataFrame, tag: str) -> DataFrame:
        return kmv_estimate(s, k).select(
            F.col("n_mins").alias(f"n_mins_{tag}"),
            F.col("kth_hash").alias(f"kth_{tag}"),
            F.col("est_distinct").alias(f"est_distinct_{tag}"),
        )

    from ..operators.kmv import kmv_union

    return (
        est(a, "a")
        .crossJoin(est(b, "b"))
        .crossJoin(est(kmv_union(a, b, k), "union"))
        .crossJoin(kmv_jaccard(a, b, k))
    )


def _q162_oracle() -> str:
    from ..operators.kmv import KMV_M

    h = (
        "CAST(concat('0x', substring(md5(shingle), 1, 15)) AS BIGINT)"
    )
    k = 256
    est = (
        "CASE WHEN {n} < %d THEN CAST({n} AS DOUBLE) "
        "ELSE CAST(%d AS DOUBLE) * %.1f / CAST({kth} AS DOUBLE) END"
        % (k, k - 1, KMV_M)
    )
    return f"""
WITH {_SHINGLE8_CTE},
ha AS (SELECT DISTINCT {h} AS h FROM sh8 WHERE doc_id % 2 = 0),
hb AS (SELECT DISTINCT {h} AS h FROM sh8 WHERE doc_id % 2 = 1),
mins_a AS (SELECT h FROM ha ORDER BY h LIMIT {k}),
mins_b AS (SELECT h FROM hb ORDER BY h LIMIT {k}),
mins_u AS (
  SELECT h FROM (SELECT DISTINCT h FROM
    (SELECT h FROM mins_a UNION ALL SELECT h FROM mins_b))
  ORDER BY h LIMIT {k}
),
ea AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_mins_a,
              MAX(h) AS kth_a FROM mins_a),
eb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_mins_b,
              MAX(h) AS kth_b FROM mins_b),
eu AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_mins_union,
              MAX(h) AS kth_union FROM mins_u),
ovl AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_both
  FROM mins_u u
  WHERE u.h IN (SELECT h FROM mins_a)
    AND u.h IN (SELECT h FROM mins_b)
),
uk AS (SELECT CAST(COUNT(*) AS BIGINT) AS union_k FROM mins_u)
SELECT ea.n_mins_a, ea.kth_a,
       {est.format(n='ea.n_mins_a', kth='ea.kth_a')} AS est_distinct_a,
       eb.n_mins_b, eb.kth_b,
       {est.format(n='eb.n_mins_b', kth='eb.kth_b')} AS est_distinct_b,
       eu.n_mins_union, eu.kth_union,
       {est.format(n='eu.n_mins_union', kth='eu.kth_union')}
         AS est_distinct_union,
       uk.union_k, ovl.n_both,
       CAST(ovl.n_both AS DOUBLE) / CAST(uk.union_k AS DOUBLE)
         AS jaccard_est
FROM ea, eb, eu, ovl, uk
"""


Q162_ORACLE = _q162_oracle()


HYGIENE_QUERIES = {
    "q158_rule_quality_battery": q158_rule_quality_battery,
    "q159_incremental_novelty_ledger": q159_incremental_novelty_ledger,
    "q160_token_budget_fill": q160_token_budget_fill,
    "q161_drop_attribution": q161_drop_attribution,
    "q162_kmv_snapshot_overlap": q162_kmv_snapshot_overlap,
}

HYGIENE_ORACLES = {
    "q158_rule_quality_battery": Q158_ORACLE,
    "q159_incremental_novelty_ledger": Q159_ORACLE,
    "q160_token_budget_fill": Q160_ORACLE,
    "q161_drop_attribution": Q161_ORACLE,
    "q162_kmv_snapshot_overlap": Q162_ORACLE,
}
