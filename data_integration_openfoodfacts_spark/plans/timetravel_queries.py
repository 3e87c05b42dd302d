"""Time-travel queries (round 10 continuation): versioned reads of the
persisted counting store (`streaming/counting_store.py::read_counts_as_of`)
— the Delta-Lake/Iceberg version-read idea over plain parquet delta
partitions, with compaction as the VACUUM that bounds readable history.

Scale posture: an as-of read is a partition-column ``delta_id IN``
filter (the scan prunes to exactly the needed delta files) + the same
O(m)-row groupBy(p) every current-state read pays; nothing scales with
corpus size except the linear shingling pass that feeds the store.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.parquet_source import load_table

# q176's geometry, kept for comparability: large enough to be useful,
# small enough that the false-positive cells are non-empty and the
# oracle's bit-exact replay actually exercises them.
_NW = 8192
_K = 5
_M = _NW * 63
_TAKEDOWN_MOD = 11

# Local copy of the 3-gram shingle CTE (fingerprint isolation — a
# cross-module import would couple this module to counting_bloom_queries).
_SH_CTE = """
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM toks, LATERAL (SELECT UNNEST(range(1, len(t) - 1)) AS i) u
  WHERE len(t) >= 3
)
"""

# Per-version net weight of each (doc, shingle) ownership pair, and the
# matching ground-truth owner predicate. Version 1 (batch-0 alone) is
# deliberately NOT here: compaction vacuumed it, and the query asserts
# that reading it RAISES instead of answering.
#   v2 = batch-0 + batch-1 (post-compaction base)
#   v3 = v2 - takedown of (doc % 11 == 0) pairs among them
#   v4 = v3 + batch-2
_VERSIONS = [
    (2, "CASE WHEN doc_id % 3 <> 2 THEN 1 ELSE 0 END"),
    (3, "CASE WHEN doc_id % 3 <> 2 AND doc_id % 11 <> 0 "
        "THEN 1 ELSE 0 END"),
    (4, "CASE WHEN doc_id % 3 = 2 OR doc_id % 11 <> 0 "
        "THEN 1 ELSE 0 END"),
]


def _truth_cond(version: int):
    d = F.col("doc_id")
    if version == 2:
        return d % 3 != 2
    if version == 3:
        return (d % 3 != 2) & (d % _TAKEDOWN_MOD != 0)
    return (d % 3 == 2) | (d % _TAKEDOWN_MOD != 0)


def q179_counting_store_time_travel(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Audit a takedown THROUGH HISTORY: replay the membership screen's
    state at three retained versions of the persisted counting store
    and cross-tab each against that version's ground truth. The store
    lives the full lifecycle inside the gated path — two ingest deltas,
    a compaction (which VACUUMS version 1: the query asserts reading it
    raises), a GDPR takedown delta, a late ingest delta — and each
    surviving version is reconstructed by `read_counts_as_of`'s
    partition-pruned prefix sum, collapsed to a word table, and probed
    by the ONE probe implementation. Load-bearing cells per version:
    (present=1, maybe=0) empty — no version's screen may deny a key
    that version truly held — and (present=0, maybe=1) is that
    version's deterministic false-positive count, replayed bit-for-bit
    by the oracle. Version 3 vs 2 pins that history sees the takedown
    exactly at its log position; version 4 pins that post-takedown
    ingest re-admits."""
    import shutil
    import tempfile

    from ..concurrency import overlap
    from ..operators.bloom import bloom_probe_keys, counting_to_words
    from ..storage import LayoutError
    from ..streaming.counting_store import (
        append_counting_deltas,
        compact_counting,
        read_counts_as_of,
        store_versions,
    )
    from ..operators.similarity_dedup import word_shingles

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # ONE shingle pass feeds every delta, every probe and every truth
    # (the q175/q176 gate-wall trim — shingling is store-independent).
    occ = word_shingles(docs, "doc_id", "text", n=3).localCheckpoint(
        eager=True
    )
    tmp = tempfile.mkdtemp(prefix="q179_tt_")
    path = f"{tmp}/store"

    def _store_lifecycle() -> None:
        # the batched appends overlap the independent delta builds
        # inside each log-order-preserving transaction (round 14,
        # guide §2.6): batch-0/batch-1 land together pre-compaction,
        # the takedown and the late ingest land together after it —
        # the applied log ([batch-0, batch-1, takedown-gdpr-1,
        # batch-2]) and therefore every version cut are EXACTLY the
        # old sequential sequence's.
        append_counting_deltas(
            spark,
            [
                (
                    f"batch-{b}",
                    occ.filter(F.col("doc_id") % 3 == b).select(
                        "shingle"
                    ),
                    1,
                )
                for b in range(2)
            ],
            "shingle", path, _NW, _K,
        )
        compact_counting(spark, path, _NW, _K)
        append_counting_deltas(
            spark,
            [
                (
                    "takedown-gdpr-1",
                    occ.filter(
                        (F.col("doc_id") % _TAKEDOWN_MOD == 0)
                        & (F.col("doc_id") % 3 != 2)
                    ).select("shingle"),
                    -1,
                ),
                (
                    "batch-2",
                    occ.filter(F.col("doc_id") % 3 == 2).select(
                        "shingle"
                    ),
                    1,
                ),
            ],
            "shingle", path, _NW, _K,
        )

    # ONE pass computes the distinct probe keys and every version's
    # ground truth (three conditional maxes in one groupBy) — the
    # first draft re-deduped the 10x-larger occurrence frame and
    # re-aggregated truth once PER version (21.2s -> well under the
    # sf0.1 budget with the shared frames checkpointed). Both frames
    # are store-INDEPENDENT (they only read the checkpointed occ), so
    # they overlap the store lifecycle on driver threads (guide §2.6).
    try:
        _, keys, truth = overlap(
            spark,
            _store_lifecycle,
            lambda: occ.select("shingle")
            .distinct()
            .localCheckpoint(eager=True),
            lambda: occ.groupBy("shingle")
            .agg(
                *[
                    F.max(_truth_cond(v).cast("long")).alias(f"__t{v}")
                    for v, _w in _VERSIONS
                ]
            )
            .localCheckpoint(eager=True),
        )
        vs = store_versions(spark, path)
        if not (vs["latest"] == 4 and vs["min_readable"] == 2):
            raise AssertionError(f"unexpected store versions: {vs}")
        try:
            read_counts_as_of(spark, path, 1)
            raise AssertionError("vacuumed version 1 must be unreadable")
        except LayoutError:
            pass
        parts = []
        for v, _w in _VERSIONS:
            words = counting_to_words(read_counts_as_of(spark, path, v))
            flags = bloom_probe_keys(keys, "shingle", words, _NW, _K)
            parts.append(
                truth.join(flags, "shingle")
                .groupBy(
                    F.col(f"__t{v}").alias("truly_present"),
                    F.col("maybe_member").cast("long").alias(
                        "maybe_member"
                    ),
                )
                .agg(F.count(F.lit(1)).alias("n_keys"))
                .select(
                    F.lit(v).cast("long").alias("version"),
                    "truly_present", "maybe_member", "n_keys",
                )
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out = out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def _version_block(version: int, weight_sql: str) -> str:
    return f"""
SELECT CAST({version} AS BIGINT) AS version,
       CAST(k.t AS BIGINT) AS truly_present,
       CAST(f.allset AS BIGINT) AS maybe_member,
       CAST(COUNT(*) AS BIGINT) AS n_keys
FROM (
  SELECT shingle, MAX({weight_sql}) AS t FROM sh GROUP BY shingle
) k
JOIN (
  SELECT shingle,
         MIN(CASE WHEN c.cnt > 0 THEN 1 ELSE 0 END) AS allset
  FROM (
    SELECT kh.shingle, (kh.h1m + ks.i * kh.h2m) % {_M} AS p
    FROM kh CROSS JOIN (SELECT UNNEST(range({_K})) AS i) ks
  ) ppos
  LEFT JOIN (
    SELECT (kh.h1m + ks.i * kh.h2m) % {_M} AS p,
           SUM(kh.d{version}) AS cnt
    FROM kh CROSS JOIN (SELECT UNNEST(range({_K})) AS i) ks
    GROUP BY 1
  ) c ON c.p = ppos.p
  GROUP BY shingle
) f ON f.shingle = k.shingle
GROUP BY 1, 2, 3
"""


Q179_ORACLE = (
    f"""
WITH {_SH_CTE.strip()},
keys AS (
  SELECT shingle,
         {", ".join(
             f"CAST(SUM({w}) AS BIGINT) AS d{v}" for v, w in _VERSIONS
         )}
  FROM sh GROUP BY shingle
),
kh AS (
  SELECT shingle, {", ".join(f"d{v}" for v, _ in _VERSIONS)},
         CAST(concat('0x', substring(md5(shingle || ':b1'), 1, 15))
              AS BIGINT) % {_M} AS h1m,
         (CAST(concat('0x', substring(md5(shingle || ':b2'), 1, 15))
               AS BIGINT) | 1) % {_M} AS h2m
  FROM keys
)
"""
    + "\nUNION ALL\n".join(_version_block(v, w) for v, w in _VERSIONS)
)


TIMETRAVEL_QUERIES = {
    "q179_counting_store_time_travel": q179_counting_store_time_travel,
}

TIMETRAVEL_ORACLES = {
    "q179_counting_store_time_travel": Q179_ORACLE,
}
