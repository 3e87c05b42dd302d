"""Round-12 policy queries: the two VERDICT-r11 scale/correctness
policies, value-gated.

- q198: SemDeDup under the k∝n (fixed-cluster-size) centroid policy —
  `operators/similarity.semdedup_k` — with the centroid count derived
  FROM THE CORPUS SIZE on both engines (the oracle's k is a scalar
  subquery over the same table), so the gate pins the policy itself,
  not one frozen k.
- q199: the takedown queue under DUPLICATE DELIVERY with the
  applied-requests ledger on (`retraction_stream.fresh_requests`) —
  a request id retracts at most once even when a later queue file
  re-delivers it, and the oracle's net-count replay only passes if
  no occurrence was subtracted twice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.parquet_source import load_table
from .llm_queries import _dot_sql, _lloyd_cents_sql

#: q198 — the k∝n policy's SQL twin: k derived from the corpus size
#: inside the oracle, mirroring semdedup_k(n) = max(2, n // 45)
_K_SQL = "GREATEST(2, (SELECT COUNT(*) // 45 FROM embeddings))"

#: q199 request cohorts: %7 docs delivered TWICE (files 0 and 2),
#: %11-not-%7 docs once (file 1, mixed with a re-delivery of file 0's
#: requests — the duplicate-delivery shape per-request idempotence
#: exists for)
_MOD_A = 7
_MOD_B = 11
_NW = 8192
_K = 5


def q198_semdedup_fixed_cluster(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SemDeDup with k∝n centroids (round 12, VERDICT r11 #5): the
    centroid count comes from `semdedup_k` — corpus size over a fixed
    target cluster size — so expected within-cluster pairs stay
    ~n * (c-1)/2 (LINEAR in the corpus) instead of the sqrt-k
    policy's n^1.5. Fit is the deterministic integer Lloyd's
    (`fit_centroids_lloyd`), which the oracle replays bit-for-bit
    with k as a scalar subquery over the same embeddings table — the
    gate therefore pins the POLICY (both engines derive k from the
    data), not a frozen constant. Scaling evidence:
    SCALING_LLM.json round12 (tools/bench_scaling_r12.py, removed after
    commit 70d8186; check out that commit to re-run it)."""
    from ..operators.clustering import fit_centroids_lloyd
    from ..operators.similarity import semantic_dedup, semdedup_k

    emb = load_table(spark, sf_dir, "embeddings")
    k = semdedup_k(emb.count())
    centroids = fit_centroids_lloyd(emb, k=k, n_iters=4)
    return semantic_dedup(emb, centroids, threshold=0.35)


Q198_ORACLE = f"""
WITH {_lloyd_cents_sql(k=_K_SQL, n_iters=4)},
emb AS (
  SELECT vec_id, embedding,
         sqrt({_dot_sql('e.embedding', 'e.embedding')}) AS nrm
  FROM embeddings e
),
cwn AS (
  SELECT centroid_id, cv, sqrt({_dot_sql('c.cv', 'c.cv')}) AS nrm
  FROM cents c
),
scored AS (
  SELECT e.vec_id, c.centroid_id,
         COALESCE({_dot_sql('e.embedding', 'c.cv')}
         / NULLIF(e.nrm * c.nrm, 0.0), -2.0) AS cs
  FROM emb e, cwn c
),
best AS (
  SELECT vec_id, centroid_id FROM scored
  QUALIFY ROW_NUMBER() OVER (
    PARTITION BY vec_id ORDER BY cs DESC, centroid_id ASC) = 1
),
dups AS (
  SELECT DISTINCT b.vec_id
  FROM emb a
  JOIN best ba ON ba.vec_id = a.vec_id
  JOIN emb b ON a.vec_id < b.vec_id
  JOIN best bb ON bb.vec_id = b.vec_id AND bb.centroid_id = ba.centroid_id
  WHERE {_dot_sql('a.embedding', 'b.embedding')}
        / NULLIF(a.nrm * b.nrm, 0.0) >= 0.35
)
SELECT e.vec_id, b.centroid_id,
       e.vec_id NOT IN (SELECT vec_id FROM dups) AS kept
FROM embeddings e JOIN best b ON b.vec_id = e.vec_id
"""


def q199_takedown_request_idempotence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The takedown queue under duplicate delivery, with per-REQUEST
    idempotence on: the corpus seeds the counting screen, then three
    request files drain — file 0 = %7 docs, file 1 = the SAME %7 docs
    AGAIN mixed with fresh %11 docs, file 2 = the %7 docs a THIRD
    time — and the applied-requests ledger guarantees each doc_id
    retracts exactly once. The in-query contract checks pin the audit
    trail (fresh counts per batch: |%7|, |%11-only|, 0) and replay
    no-op; the oracle replays the NET counting state with one
    retraction per requested occurrence — it only hash-matches if no
    occurrence was subtracted twice (a double subtraction drags
    shared positions below their true count and flips some surviving
    key's membership verdict)."""
    import os
    import shutil
    import tempfile
    from functools import partial

    from ..concurrency import overlap
    from ..operators.bloom import bloom_probe_keys, counting_to_words
    from ..streaming.counting_store import (
        read_counts,
        write_counting_delta,
    )
    from ..streaming.retraction_stream import run_takedown_stream

    docs = load_table(spark, sf_dir, "documents")
    is_a = F.col("doc_id") % _MOD_A == 0
    is_b = (F.col("doc_id") % _MOD_B == 0) & ~is_a
    tmp = tempfile.mkdtemp(prefix="q199_takedown_")
    store = f"{tmp}/store"
    reqs = f"{tmp}/requests"
    results = f"{tmp}/results"
    ckpt = f"{tmp}/ckpt"
    applied = f"{tmp}/applied"
    try:
        # the screen seed and the request-queue files target disjoint
        # stores — two independent action chains, overlapped on the
        # driver (guide §2.6). The three queue files stay SEQUENTIAL
        # inside their chain and get explicitly spaced mtimes: the file
        # stream source orders files by modification time, so the
        # delivery order (file 0 = %7 docs, file 1 = the re-delivery
        # mix, file 2 = the third copy) is part of the query's
        # semantics and must never ride on write-completion order.
        os.makedirs(reqs)
        batches = [
            docs.filter(is_a),
            docs.filter(is_a).unionByName(docs.filter(is_b)),
            docs.filter(is_a),
        ]

        def _write_reqs() -> None:
            import time as _time

            base = _time.time()
            for i, b in enumerate(batches):
                part = f"{tmp}/req_part_{i}"
                b.coalesce(1).write.parquet(part)
                src = next(
                    f for f in os.listdir(part) if f.endswith(".parquet")
                )
                dst = os.path.join(reqs, f"part-{i}.parquet")
                os.link(os.path.join(part, src), dst)
                os.utime(dst, (base + 10 * i, base + 10 * i))

        overlap(
            spark,
            partial(
                write_counting_delta,
                docs.select(F.md5("text").alias("text_md5")),
                "text_md5", store, "seed", _NW, _K,
            ),
            _write_reqs,
        )

        def _drain() -> None:
            run_takedown_stream(
                spark, reqs, store, results, ckpt,
                max_files_per_trigger=1, n_words=_NW, k=_K,
                applied_path=applied,
            )

        _drain()
        _drain()  # whole-stream replay: no new files -> no-op
        audits = {
            int(r["batch_id"]): int(r["n_requests"])
            for r in spark.read.parquet(results).collect()
        }
        cohorts = docs.agg(
            F.sum(is_a.cast("long")).alias("n_a"),
            F.sum(is_b.cast("long")).alias("n_b"),
        ).collect()[0]  # one job for both cohort counts, not two
        n_a, n_b = int(cohorts["n_a"]), int(cohorts["n_b"])
        if audits != {0: n_a, 1: n_b, 2: 0}:
            raise AssertionError(
                "per-request idempotence contract broke: fresh counts "
                f"per batch {audits}, expected {{0: {n_a}, 1: {n_b}, "
                "2: 0}}"
            )
        keys = docs.select(F.md5("text").alias("text_md5"))
        flags = bloom_probe_keys(
            keys, "text_md5",
            counting_to_words(read_counts(spark, store)), _NW, _K,
        )
        truth = docs.groupBy(F.md5("text").alias("text_md5")).agg(
            F.max((~is_a & ~is_b).cast("long")).alias("truly_present")
        )
        out = (
            truth.join(flags, "text_md5")
            .groupBy(
                "truly_present",
                F.col("maybe_member").cast("long").alias("maybe_member"),
            )
            .agg(F.count(F.lit(1)).alias("n_keys"))
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


# Net-state replay (q194's machinery, minus the exact ledger): each
# key's counting delta = insertions minus ONE retraction per requested
# occurrence — exactly once regardless of the duplicate deliveries.
_M = _NW * 63
Q199_ORACLE = f"""
WITH keys AS (
  SELECT md5(text) AS k,
         CAST(COUNT(*) AS BIGINT) AS n_ins,
         CAST(SUM(CASE WHEN doc_id % {_MOD_A} = 0
                         OR doc_id % {_MOD_B} = 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_del,
         MAX(CASE WHEN doc_id % {_MOD_A} <> 0
                   AND doc_id % {_MOD_B} <> 0
                  THEN 1 ELSE 0 END) AS truly_present
  FROM documents GROUP BY 1
),
kh AS (
  SELECT k, n_ins - n_del AS delta, truly_present,
         CAST(concat('0x', substring(md5(k || ':b1'), 1, 15))
              AS BIGINT) % {_M} AS h1m,
         (CAST(concat('0x', substring(md5(k || ':b2'), 1, 15))
               AS BIGINT) | 1) % {_M} AS h2m
  FROM keys
),
pos AS (
  SELECT (h1m + ks.i * h2m) % {_M} AS p, delta
  FROM kh CROSS JOIN (SELECT UNNEST(range({_K})) AS i) ks
),
cnts AS (SELECT p, SUM(delta) AS cnt FROM pos GROUP BY p),
ppos AS (
  SELECT k, truly_present, (h1m + ks.i * h2m) % {_M} AS p
  FROM kh CROSS JOIN (SELECT UNNEST(range({_K})) AS i) ks
),
flags AS (
  SELECT k, truly_present,
         MIN(CASE WHEN c.cnt > 0 THEN 1 ELSE 0 END) AS allset
  FROM ppos LEFT JOIN cnts c ON c.p = ppos.p
  GROUP BY k, truly_present
)
SELECT CAST(truly_present AS BIGINT) AS truly_present,
       CAST(allset AS BIGINT) AS maybe_member,
       CAST(COUNT(*) AS BIGINT) AS n_keys
FROM flags
GROUP BY 1, 2
"""


POLICY_QUERIES = {
    "q198_semdedup_fixed_cluster": q198_semdedup_fixed_cluster,
    "q199_takedown_request_idempotence": q199_takedown_request_idempotence,
}

POLICY_ORACLES = {
    "q198_semdedup_fixed_cluster": Q198_ORACLE,
    "q199_takedown_request_idempotence": Q199_ORACLE,
}
