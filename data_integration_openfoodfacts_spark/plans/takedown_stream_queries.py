"""Takedown-stream lifecycle query (round 11): right-to-be-forgotten
as a QUEUE drain (`streaming/retraction_stream.py`), applied to BOTH
takedown surfaces at once, with the semantic difference between them
value-gated: the counting screen retracts per OWNER OCCURRENCE (a key
shared with a surviving doc stays member), the exact bucketed ledger
retracts per KEY (a requested key vanishes even when another owner
survives). The result cross-tab carries both verdicts against ground
truth, so the gate pins the counting screen's no-false-negative cell
AND the exact ledger's key-level semantics in one shot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.parquet_source import load_table

_NW = 8192
_K = 5
_M = _NW * 63
#: two non-overlapping request batches: %7 docs, then %5-but-not-%7
#: docs — disjoint so no occurrence is retracted twice (the counting
#: store's exactness contract; over-retraction is a caller bug that
#: the store keeps queryable evidence of, not a path to exercise here)
_MOD_A = 7
_MOD_B = 5
#: 16 buckets for the gated path (q184's rationale): the seed append
#: shuffles into n_buckets output dirs, so the toy-scale wall is
#: file-count latency — production stores size this to key volume.
_NB_LEDGER = 16


def q194_takedown_stream_lifecycle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The takedown queue drained end-to-end: the corpus seeds the
    counting screen (one occurrence per doc) and the exact key ledger
    (distinct md5 firsts), two takedown-request files land in the
    queue (doc_id % 7 docs, then doc_id % 5-but-not-%7 docs), an
    availableNow drain applies each as its own trigger to BOTH stores,
    a whole-stream replay is a no-op (counting version surface and
    ledger row count compared), and every corpus key is probed against
    both post-takedown stores. Cross-tab columns: ``truly_present``
    (some owner survives), ``maybe_member`` (counting screen verdict),
    ``seen_exact`` (exact-ledger verdict). Load-bearing cells: the
    counting screen can never report (present=1, maybe=0); the exact
    ledger's verdict equals "NO owner was requested" — for shared
    keys with mixed owners it deliberately diverges from
    truly_present, and the oracle pins exactly that divergence."""
    import shutil
    import tempfile

    from ..operators.bloom import bloom_probe_keys, counting_to_words
    from ..operators.novelty import seen_keys
    from ..operators.novelty_ledger import (
        append_ledger_delta,
        read_ledger,
    )
    from ..streaming.counting_store import (
        read_counts,
        store_versions,
        write_counting_delta,
    )
    from ..streaming.retraction_stream import run_takedown_stream

    docs = load_table(spark, sf_dir, "documents")
    is_a = F.col("doc_id") % _MOD_A == 0
    is_b = (F.col("doc_id") % _MOD_B == 0) & ~is_a
    tmp = tempfile.mkdtemp(prefix="q194_takedown_")
    store = f"{tmp}/store"
    ledger = f"{tmp}/ledger"
    reqs = f"{tmp}/requests"
    results = f"{tmp}/results"
    ckpt = f"{tmp}/ckpt"
    try:
        # seed both stores from the full corpus
        write_counting_delta(
            docs.select(F.md5("text").alias("text_md5")),
            "text_md5", store, "seed", _NW, _K,
        )
        append_ledger_delta(
            docs.groupBy(F.md5("text").alias("shingle_md5")).agg(
                F.min("doc_id").alias("first_doc")
            ),
            ledger,
            n_buckets=_NB_LEDGER,
        )
        # the queue: one file per request batch (per-trigger drain)
        import os

        os.makedirs(reqs)
        for i, pred in enumerate([is_a, is_b]):
            part = f"{tmp}/req_part_{i}"
            docs.filter(pred).coalesce(1).write.parquet(part)
            src = next(
                f for f in os.listdir(part) if f.endswith(".parquet")
            )
            os.link(
                os.path.join(part, src),
                os.path.join(reqs, f"part-{i}.parquet"),
            )

        def _drain() -> None:
            run_takedown_stream(
                spark, reqs, store, results, ckpt,
                max_files_per_trigger=1, n_words=_NW, k=_K,
                ledger_path=ledger,
            )

        _drain()
        v1 = store_versions(spark, store)
        n_ledger_1 = read_ledger(spark, ledger).count()
        _drain()  # whole-stream replay: no new files -> no-op
        v2 = store_versions(spark, store)
        n_ledger_2 = read_ledger(spark, ledger).count()
        n_batches = spark.read.parquet(results).count()
        if v2 != v1 or n_ledger_2 != n_ledger_1 or n_batches != 2:
            raise AssertionError(
                f"takedown drain contract broke: versions {v1} -> {v2},"
                f" ledger rows {n_ledger_1} -> {n_ledger_2},"
                f" audit batches={n_batches}"
            )
        keys = docs.select(F.md5("text").alias("text_md5"))
        flags = bloom_probe_keys(
            keys, "text_md5",
            counting_to_words(read_counts(spark, store)), _NW, _K,
        )
        exact_seen = seen_keys(
            keys.distinct().select(
                F.col("text_md5").alias("shingle_md5")
            ),
            read_ledger(spark, ledger),
        ).select(F.col("shingle_md5").alias("text_md5"))
        truth = docs.groupBy(F.md5("text").alias("text_md5")).agg(
            F.max((~is_a & ~is_b).cast("long")).alias("truly_present")
        )
        out = (
            truth.join(flags, "text_md5")
            .join(
                exact_seen.withColumn("seen_exact", F.lit(1).cast("long")),
                "text_md5", "left",
            )
            .fillna(0, subset=["seen_exact"])
            .groupBy(
                "truly_present",
                F.col("maybe_member").cast("long").alias("maybe_member"),
                "seen_exact",
            )
            .agg(F.count(F.lit(1)).alias("n_keys"))
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


# The twin replays the NET state of both stores: per key, insertions
# minus requested-owner retractions drive the counting positions
# (q192's bit-exact machinery); the exact ledger's verdict is "no
# owner was requested" (MIN over owners), which diverges from
# truly_present exactly on shared keys with mixed owners.
Q194_ORACLE = f"""
WITH keys AS (
  SELECT md5(text) AS k,
         CAST(COUNT(*) AS BIGINT) AS n_ins,
         CAST(SUM(CASE WHEN doc_id % {_MOD_A} = 0
                         OR doc_id % {_MOD_B} = 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_del,
         MAX(CASE WHEN doc_id % {_MOD_A} <> 0
                   AND doc_id % {_MOD_B} <> 0
                  THEN 1 ELSE 0 END) AS truly_present,
         MIN(CASE WHEN doc_id % {_MOD_A} = 0
                    OR doc_id % {_MOD_B} = 0
                  THEN 0 ELSE 1 END) AS seen_exact
  FROM documents GROUP BY 1
),
kh AS (
  SELECT k, n_ins - n_del AS delta, truly_present, seen_exact,
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
  SELECT k, truly_present, seen_exact,
         (h1m + ks.i * h2m) % {_M} AS p
  FROM kh CROSS JOIN (SELECT UNNEST(range({_K})) AS i) ks
),
flags AS (
  SELECT k, truly_present, seen_exact,
         MIN(CASE WHEN c.cnt > 0 THEN 1 ELSE 0 END) AS allset
  FROM ppos LEFT JOIN cnts c ON c.p = ppos.p
  GROUP BY k, truly_present, seen_exact
)
SELECT CAST(truly_present AS BIGINT) AS truly_present,
       CAST(allset AS BIGINT) AS maybe_member,
       CAST(seen_exact AS BIGINT) AS seen_exact,
       CAST(COUNT(*) AS BIGINT) AS n_keys
FROM flags
GROUP BY 1, 2, 3
"""


TAKEDOWN_STREAM_QUERIES = {
    "q194_takedown_stream_lifecycle": q194_takedown_stream_lifecycle,
}

TAKEDOWN_STREAM_ORACLES = {
    "q194_takedown_stream_lifecycle": Q194_ORACLE,
}
