"""Bloom-filter membership queries (round 10): the fixed-size
broadcast alternative to q46's exact benchmark-contamination join —
the structure a 100 TB "seen n-gram / seen URL" screen actually ships
to executors when the key set itself is too large to broadcast.

Both queries are EXACTLY replayable in SQL — the filter is md5-derived
integer arithmetic end-to-end, so even its false positives hash-match
the DuckDB oracle (the cross-engine word-table parity was probed
bit-for-bit in round 10 before this module landed).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.parquet_source import load_table

#: filter geometry: m = 1024 words x 63 bits = 64,512 bits (~8 KB
#: broadcast), k = 5 — at sf0.1's ~3k benchmark shingles the
#: theoretical FPR is ~4e-4, and q169 MEASURES the realized rate
#: instead of asserting the formula.
_NW = 1024
_K = 5
_BENCH_MOD = 50  # q46's stand-in benchmark split, kept for comparability

# Local copy of the 3-gram shingle CTE (llm_queries._SHINGLE_CTE's
# recipe; a cross-module import would couple the two fingerprints).
_SH_CTE = """
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM toks, LATERAL (SELECT UNNEST(range(1, len(t) - 1)) AS i) u
  WHERE len(t) >= 3
)
"""

_M = _NW * 63


def _hash_cte(src: str) -> str:
    """(shingle, h1m, h2m) — the operator's double-hash operands,
    reduced mod m, in DuckDB spelling."""
    return f"""
SELECT shingle,
       CAST(concat('0x', substring(md5(shingle || ':b1'), 1, 15)) AS BIGINT)
         % {_M} AS h1m,
       (CAST(concat('0x', substring(md5(shingle || ':b2'), 1, 15)) AS BIGINT)
         | 1) % {_M} AS h2m
FROM {src}
"""


_WORDS_CTE = f"""
bh AS ({_hash_cte("bench")}),
pos AS (
  SELECT (h1m + ks.i * h2m) % {_M} AS p
  FROM bh CROSS JOIN (SELECT UNNEST(range({_K})) AS i) ks
),
words AS (
  SELECT p // 63 AS w,
         CAST(bit_or(CAST(1 AS BIGINT) << CAST(p % 63 AS INT)) AS BIGINT)
           AS bits
  FROM pos GROUP BY 1
)
"""

_PROBE_CTE = f"""
ph AS ({_hash_cte("probe_keys")}),
ppos AS (
  SELECT shingle, (h1m + ks.i * h2m) % {_M} AS p
  FROM ph CROSS JOIN (SELECT UNNEST(range({_K})) AS i) ks
),
flags AS (
  SELECT shingle,
         MIN(CASE WHEN (bits >> CAST(p % 63 AS INT)) & 1 = 1
                  THEN 1 ELSE 0 END) AS allset
  FROM ppos LEFT JOIN words ON words.w = ppos.p // 63
  GROUP BY shingle
)
"""


def q168_bloom_decontamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q46's decontamination screen re-shaped for a benchmark set too
    large to broadcast as keys: the benchmark's 3-gram shingles build
    an 8 KB Bloom word table (one groupBy(w), <= 1024 rows out), the
    corpus's DISTINCT shingles probe it against the BROADCAST table,
    and the per-shingle verdicts join back for per-doc flag counts.
    ``n_flagged`` counts maybe-contaminated shingles per corpus doc —
    the rows a production pipeline routes to the exact verify (q46's
    join) instead of running it on everything. Zero false negatives by
    construction; false positives are deterministic md5 arithmetic, so
    the oracle reproduces them exactly."""
    from ..operators.bloom import bloom_build, bloom_probe_keys
    from ..operators.similarity_dedup import word_shingles

    docs = load_table(spark, sf_dir, "documents")
    bench_sh = word_shingles(
        docs.filter(F.col("doc_id") % _BENCH_MOD == 0), "doc_id", "text", n=3
    ).select("shingle")
    corp_sh = word_shingles(
        docs.filter(F.col("doc_id") % _BENCH_MOD != 0), "doc_id", "text", n=3
    )
    bloom = bloom_build(bench_sh, "shingle", _NW, _K)
    flags = bloom_probe_keys(corp_sh, "shingle", bloom, _NW, _K)
    return (
        corp_sh.join(flags, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.col("maybe_member").cast("long")).alias("n_flagged"),
        )
    )


Q168_ORACLE = f"""
WITH {_SH_CTE},
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {_BENCH_MOD} = 0),
corp AS (SELECT doc_id, shingle FROM sh WHERE doc_id % {_BENCH_MOD} <> 0),
{_WORDS_CTE.lstrip()},
probe_keys AS (SELECT DISTINCT shingle FROM corp),
{_PROBE_CTE.lstrip()}
SELECT c.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(f.allset) AS BIGINT) AS n_flagged
FROM corp c JOIN flags f ON f.shingle = c.shingle
GROUP BY 1
"""


def q169_bloom_fpr_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The filter's realized false-positive rate, measured: probe only
    the corpus shingles that are EXACTLY absent from the benchmark set
    (anti-join ground truth) and count how many the filter still flags.
    One row: benchmark key count, true-negative probe count, false
    positives. The counts are the operating numbers a pipeline tunes
    (n_words, k) against — the verify stage's workload is exactly
    ``n_false_positives`` rows."""
    from ..operators.bloom import bloom_build, bloom_probe_keys
    from ..operators.similarity_dedup import word_shingles

    docs = load_table(spark, sf_dir, "documents")
    bench_sh = (
        word_shingles(
            docs.filter(F.col("doc_id") % _BENCH_MOD == 0),
            "doc_id", "text", n=3,
        )
        .select("shingle")
        .distinct()
    )
    corp_keys = (
        word_shingles(
            docs.filter(F.col("doc_id") % _BENCH_MOD != 0),
            "doc_id", "text", n=3,
        )
        .select("shingle")
        .distinct()
    )
    true_neg = corp_keys.join(bench_sh, "shingle", "left_anti")
    bloom = bloom_build(bench_sh, "shingle", _NW, _K)
    flags = bloom_probe_keys(true_neg, "shingle", bloom, _NW, _K)
    return (
        flags.agg(
            F.count(F.lit(1)).alias("n_probed"),
            F.sum(F.col("maybe_member").cast("long")).alias(
                "n_false_positives"
            ),
        )
        .crossJoin(bench_sh.agg(F.count(F.lit(1)).alias("n_bench_shingles")))
        .select("n_bench_shingles", "n_probed", "n_false_positives")
    )


Q169_ORACLE = f"""
WITH {_SH_CTE},
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % {_BENCH_MOD} = 0),
corp_keys AS (
  SELECT DISTINCT shingle FROM sh WHERE doc_id % {_BENCH_MOD} <> 0
),
probe_keys AS (
  SELECT shingle FROM corp_keys
  WHERE shingle NOT IN (SELECT shingle FROM bench)
),
{_WORDS_CTE.lstrip()},
{_PROBE_CTE.lstrip()}
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM bench) AS n_bench_shingles,
       CAST(COUNT(*) AS BIGINT) AS n_probed,
       CAST(SUM(allset) AS BIGINT) AS n_false_positives
FROM flags
"""


def _flags_sql(src: str, words: str, flags: str, pfx: str) -> str:
    """Probe CTEs: ``{flags}`` = (shingle, allset) for ``src`` against
    ``{words}``."""
    return f"""
{pfx}h AS ({_hash_cte(src)}),
{pfx}pos AS (
  SELECT shingle, (h1m + ks.i * h2m) % {_M} AS p
  FROM {pfx}h CROSS JOIN (SELECT UNNEST(range({_K})) AS i) ks
),
{flags} AS (
  SELECT shingle,
         MIN(CASE WHEN (bits >> CAST(p % 63 AS INT)) & 1 = 1
                  THEN 1 ELSE 0 END) AS allset
  FROM {pfx}pos LEFT JOIN {words} ON {words}.w = {pfx}pos.p // 63
  GROUP BY shingle
)
"""


def q170_bloom_incremental_novelty(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The streaming Bloom screen's persisted-store flow
    (`streaming/bloom_ingest.py`), gated end-to-end in q167's
    seeded-corpus shape: the accumulated corpus (doc_id % 3 == 0) SEEDS
    a word table on disk, then one "re-crawl snapshot" (doc_id % 2 ==
    0 — deliberately OVERLAPPING the seed on doc_id % 6 == 0, so both
    routing legs are non-zero) screens against it via
    `screen_keys_batch`: probe the persisted table, totals row,
    definitely-new bits merged in, geometry checked against the log. Keys
    are exact-text md5 (the keep-latest dedup family's key). Returns
    the snapshot's totals row; the oracle replays the seed build and
    the probe in SQL, pinning the word arithmetic AND the routing
    counts. The temp store dies before returning (the totals row is
    checkpointed)."""
    import shutil
    import tempfile

    from ..streaming.bloom_ingest import screen_keys_batch, seed_bloom

    docs = load_table(spark, sf_dir, "documents")
    tmp = tempfile.mkdtemp(prefix="q170_bloom_")
    bloom_path, results = f"{tmp}/bloom", f"{tmp}/results"
    try:
        seed_bloom(
            docs.filter(F.col("doc_id") % 3 == 0).select(
                F.md5("text").alias("shingle")
            ),
            "shingle", bloom_path, n_words=_NW, k=_K,
        )
        screen_keys_batch(
            docs.filter(F.col("doc_id") % 2 == 0).select(
                F.md5("text").alias("shingle")
            ),
            "shingle", bloom_path, results,
            batch_id=1, n_words=_NW, k=_K,
        )
        out = (
            spark.read.parquet(results)
            .select("batch_id", "n_keys", "n_definitely_new", "n_maybe")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


Q170_ORACLE = f"""
WITH
bench AS (SELECT DISTINCT md5(text) AS shingle FROM documents
          WHERE doc_id % 3 = 0),
snap AS (SELECT DISTINCT md5(text) AS shingle FROM documents
         WHERE doc_id % 2 = 0),
{_WORDS_CTE.lstrip().rstrip()},
{_flags_sql("snap", "words", "f1", "p1").strip()}
SELECT CAST(1 AS BIGINT) AS batch_id,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(1 - allset) AS BIGINT) AS n_definitely_new,
       CAST(SUM(allset) AS BIGINT) AS n_maybe
FROM f1
"""


def q173_screened_decontamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The production two-stage decontamination, end-to-end: the Bloom
    SCREEN bounds the workload (only maybe-flagged corpus shingles
    reach the join), the exact VERIFY against the benchmark shingles
    decides (q46's semantics: >= 5 shared distinct shingles). The
    Bloom contract makes the composition EXACT — zero false negatives
    means no contaminated doc can be screened out, and the verify join
    kills every false positive — so the oracle is q46's exact SQL,
    untouched by filter arithmetic: the gate literally pins
    screen-then-verify == exhaustive join. What the screen buys at
    scale is the join's left side: FPR-bounded candidates instead of
    every corpus shingle."""
    from ..operators.bloom import bloom_build, bloom_probe_keys
    from ..operators.similarity_dedup import word_shingles

    docs = load_table(spark, sf_dir, "documents")
    bench_sh = word_shingles(
        docs.filter(F.col("doc_id") % _BENCH_MOD == 0), "doc_id", "text", n=3
    )
    corp_sh = word_shingles(
        docs.filter(F.col("doc_id") % _BENCH_MOD != 0), "doc_id", "text", n=3
    )
    bloom = bloom_build(bench_sh.select("shingle"), "shingle", _NW, _K)
    flags = bloom_probe_keys(corp_sh, "shingle", bloom, _NW, _K)
    flagged = corp_sh.join(
        flags.filter(F.col("maybe_member")).select("shingle"), "shingle"
    )
    return (
        flagged.join(
            bench_sh.select(
                F.col("doc_id").alias("bench_doc"), "shingle"
            ),
            "shingle",
        )
        .groupBy("doc_id")
        .agg(
            F.countDistinct("shingle").alias("shared_shingles"),
            F.countDistinct("bench_doc").alias("benchmark_docs"),
        )
        .filter(F.col("shared_shingles") >= 5)
    )


# q46's exact decontamination SQL IS the oracle: the screen must be
# invisible in the result (no false negatives by construction, false
# positives die in the verify join).
Q173_ORACLE = f"""
WITH {_SH_CTE.strip()},
bench AS (SELECT doc_id, shingle FROM sh WHERE doc_id % {_BENCH_MOD} = 0),
corp AS (SELECT doc_id, shingle FROM sh WHERE doc_id % {_BENCH_MOD} <> 0)
SELECT c.doc_id,
       COUNT(DISTINCT c.shingle) AS shared_shingles,
       COUNT(DISTINCT b.doc_id) AS benchmark_docs
FROM corp c JOIN bench b ON c.shingle = b.shingle
GROUP BY c.doc_id
HAVING COUNT(DISTINCT c.shingle) >= 5
"""


BLOOM_QUERIES = {
    "q168_bloom_decontamination": q168_bloom_decontamination,
    "q169_bloom_fpr_audit": q169_bloom_fpr_audit,
    "q170_bloom_incremental_novelty": q170_bloom_incremental_novelty,
    "q173_screened_decontamination": q173_screened_decontamination,
}

BLOOM_ORACLES = {
    "q168_bloom_decontamination": Q168_ORACLE,
    "q169_bloom_fpr_audit": Q169_ORACLE,
    "q170_bloom_incremental_novelty": Q170_ORACLE,
    "q173_screened_decontamination": Q173_ORACLE,
}
