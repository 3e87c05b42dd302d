"""Counting-screen STREAM lifecycle query (round 11, VERDICT #3):
`streaming/counting_store.run_counting_screen_stream` shipped with
stream==batch pinned in pytest but no oracle-gated registry entry —
this module drives the persistent deletable screen's FULL lifecycle
(availableNow drain with per-trigger deltas, mid-stream compaction,
whole-stream replay no-op, takedown, final probe) inside a gated query
whose DuckDB twin replays the position arithmetic bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.parquet_source import load_table

#: Same geometry rationale as counting_bloom_queries (8192 x 63 bits,
#: k=5): small enough to broadcast, large enough that the
#: false-positive cell is non-trivially exercised.
_NW = 8192
_K = 5
_M = _NW * 63
_TAKEDOWN_MOD = 11  # the family's takedown split, kept for comparability
#: source files -> availableNow triggers (1 file each). Two is the
#: minimum that still exercises multi-trigger accumulation AND the
#: mid-stream compaction (fires after bid=1); each extra trigger costs
#: ~3.5s of foreachBatch overhead at gate scale for no extra coverage.
_N_FILES = 2


def q192_counting_screen_stream_lifecycle(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The persistent counting screen driven by Structured Streaming,
    gated end-to-end: the corpus lands as ``_N_FILES`` source files, an
    availableNow drain screens each as its own trigger (per-batch
    totals row + delta append), deltas COMPACT into the base partition
    mid-stream (compact_every=2 — the absorbed tombstones must be
    non-empty afterwards), a whole-stream REPLAY from the same
    checkpoint is a no-op (version surface unchanged — the crash/
    restart contract), a takedown retracts one cohort's occurrences
    (doc_id % 11 == 0), and the final screen is cross-tabbed against
    ground truth. Because counting-table state is a SUM over
    occurrence deltas, the final state is independent of how the
    stream batched the corpus — which is exactly what lets a DuckDB
    twin replay it: insert every doc's text-md5 once, subtract the
    takedown cohort, rebuild the word probe bit-for-bit. The
    load-bearing cells match q176/q178's contract: (present=1,
    maybe=0) EMPTY — a key with a surviving owner can never screen
    out — and (present=0, maybe=1) counts the deterministic false
    positives. Only the totals rows depend on batch composition, so
    the gated result is the cross-tab; the per-batch trajectory is
    pinned stream==batch in tests/test_counting_store.py."""
    import shutil
    import tempfile

    from ..streaming.counting_store import (
        probe_counting,
        retract_counting,
        run_counting_screen_stream,
        store_versions,
    )

    docs = load_table(spark, sf_dir, "documents")
    tmp = tempfile.mkdtemp(prefix="q192_cntstream_")
    src = f"{tmp}/src"
    store = f"{tmp}/store"
    results = f"{tmp}/results"
    ckpt = f"{tmp}/ckpt"
    try:
        docs.repartition(_N_FILES).write.parquet(src)

        def _drain() -> None:
            run_counting_screen_stream(
                spark, src, store, results, ckpt,
                max_files_per_trigger=1, n_words=_NW, k=_K,
                compact_every=2,
            )

        _drain()
        v1 = store_versions(spark, store)
        _drain()  # replay: no new files -> no new triggers -> no-op
        v2 = store_versions(spark, store)
        n_batches = spark.read.parquet(results).count()
        # Contract checks live OUTSIDE assert statements (python -O).
        if v2 != v1 or not v1["absorbed"] or n_batches != _N_FILES:
            raise AssertionError(
                f"stream lifecycle contract broke: versions {v1} -> "
                f"{v2}, absorbed={v1['absorbed']}, batches={n_batches}"
            )
        retract_counting(
            docs.filter(F.col("doc_id") % _TAKEDOWN_MOD == 0).select(
                F.md5("text").alias("text_md5")
            ),
            "text_md5", store, "gdpr-1", _NW, _K,
        )
        flags = probe_counting(
            docs.select(F.md5("text").alias("text_md5")),
            "text_md5", store, _NW, _K,
        )
        truth = docs.groupBy(F.md5("text").alias("text_md5")).agg(
            F.max(
                (F.col("doc_id") % _TAKEDOWN_MOD != 0).cast("long")
            ).alias("truly_present")
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


# The twin replays the whole lifecycle's NET state: every doc inserts
# its text-md5 once (the stream's batching is invisible to a sum),
# the takedown cohort subtracts, the probe re-derives the k positions
# with the engine's md5 double-hashing (operators/bloom.py docstring)
# and reads bit-for-bit.
Q192_ORACLE = f"""
WITH keys AS (
  SELECT md5(text) AS k,
         CAST(COUNT(*) AS BIGINT) AS n_ins,
         CAST(SUM(CASE WHEN doc_id % {_TAKEDOWN_MOD} = 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_del,
         MAX(CASE WHEN doc_id % {_TAKEDOWN_MOD} <> 0
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


COUNTING_STREAM_QUERIES = {
    "q192_counting_screen_stream_lifecycle":
        q192_counting_screen_stream_lifecycle,
}

COUNTING_STREAM_ORACLES = {
    "q192_counting_screen_stream_lifecycle": Q192_ORACLE,
}
