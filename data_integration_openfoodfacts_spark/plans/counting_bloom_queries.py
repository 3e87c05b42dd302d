"""Counting-Bloom queries (round 10): the DELETABLE membership screen
— the missing takedown path for the Bloom family. q175 retracts from
the exact bucketed ledgers; the plain bit filter (q168-q170) cannot
retract at all (a set bit carries no owner count, so clearing it would
manufacture false negatives for every key sharing the position). The
counting master (`operators/bloom.py::counting_build`) carries exact
per-position occurrence counts, so a takedown is integer subtraction
and the post-takedown screen is POSITION-IDENTICAL to one rebuilt from
the surviving occurrences — false positives included, which is what
the oracle pins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.parquet_source import load_table

#: 8192 words x 63 bits = 516,096 bits (~64 KB broadcast), k = 5: at
#: sf0.1's ~27k distinct corpus shingles the theoretical FPR is ~7e-4
#: — small enough that the screen is useful, large enough that the
#: cross-tab's false-positive cell is usually non-empty and therefore
#: actually exercised by the oracle's bit-exact replay.
_NW = 8192
_K = 5
_M = _NW * 63
_TAKEDOWN_MOD = 11  # q175's takedown split, kept for comparability

# Local copy of the 3-gram shingle CTE (bloom_queries._SH_CTE's
# recipe; a cross-module import would couple the two fingerprints).
_SH_CTE = """
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM toks, LATERAL (SELECT UNNEST(range(1, len(t) - 1)) AS i) u
  WHERE len(t) >= 3
)
"""


def q176_counting_bloom_takedown(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Right-to-be-forgotten through the membership SCREEN itself:
    every (doc, 3-gram shingle) ownership pair increments the counting
    table, the takedown docs' (doc_id % 11 == 0) pairs are subtracted,
    and the post-takedown screen — the derived (w, bits) word table,
    probed by `bloom_probe_keys` like any plain filter — is cross-
    tabbed against ground truth (does the shingle still have a
    surviving owner?). The load-bearing cells: (present=1, maybe=0)
    must be EMPTY (a shingle shared with any surviving doc keeps every
    position count >= 1 — retraction can never screen out live data),
    and (present=0, maybe=1) counts the deterministic false positives
    the oracle replays bit-for-bit. Cost shape: two groupBy(p) builds
    (k exploded rows per ownership pair, map-side combined, <= m rows
    out), one O(table) word derivation, and the standard broadcast-
    word-table probe — nothing scales with corpus size except the
    linear hashing passes."""
    from ..operators.bloom import (
        bloom_positions,
        bloom_probe_keys,
        counting_to_words,
    )
    from ..operators.similarity_dedup import word_shingles

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # ONE shingle pass feeds the build, the retraction, the probe and
    # the ground truth (q175's gate-wall trim — shingling is
    # screen-independent).
    occ = word_shingles(docs, "doc_id", "text", n=3).localCheckpoint(
        eager=True
    )
    # build and retraction FUSED into one signed aggregation (round 14,
    # guide §2.4): insertions vote +1, the takedown pairs vote -1, and
    # ONE groupBy(p) SUM is integer-identical to build -> negative
    # build -> merge (sums are associative; zero rows dropped and
    # negatives kept exactly as `counting_store.read_counts` leaves
    # them) — the old shape paid two groupBy(p) aggregation stages plus the merge
    # re-aggregation on the same checkpointed occurrences
    signed = occ.select("shingle", F.lit(1).alias("w")).unionByName(
        occ.filter(F.col("doc_id") % _TAKEDOWN_MOD == 0).select(
            "shingle", F.lit(-1).alias("w")
        )
    )
    after = (
        signed.select(
            F.explode(
                bloom_positions(F.col("shingle"), _NW, _K)
            ).alias("p"),
            "w",
        )
        .groupBy("p")
        .agg(F.sum("w").alias("cnt"))
        .filter(F.col("cnt") != 0)
    )
    flags = bloom_probe_keys(
        occ.select("shingle"), "shingle", counting_to_words(after), _NW, _K
    )
    truth = occ.groupBy("shingle").agg(
        F.max(
            (F.col("doc_id") % _TAKEDOWN_MOD != 0).cast("long")
        ).alias("truly_present")
    )
    return (
        truth.join(flags, "shingle")
        .groupBy(
            "truly_present", F.col("maybe_member").cast("long").alias("maybe_member")
        )
        .agg(F.count(F.lit(1)).alias("n_keys"))
    )


Q176_ORACLE = f"""
WITH {_SH_CTE.strip()},
keys AS (
  SELECT shingle,
         CAST(COUNT(*) AS BIGINT) AS n_ins,
         CAST(SUM(CASE WHEN doc_id % {_TAKEDOWN_MOD} = 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_del,
         MAX(CASE WHEN doc_id % {_TAKEDOWN_MOD} <> 0
                  THEN 1 ELSE 0 END) AS truly_present
  FROM sh GROUP BY shingle
),
kh AS (
  SELECT shingle, n_ins - n_del AS delta, truly_present,
         CAST(concat('0x', substring(md5(shingle || ':b1'), 1, 15))
              AS BIGINT) % {_M} AS h1m,
         (CAST(concat('0x', substring(md5(shingle || ':b2'), 1, 15))
               AS BIGINT) | 1) % {_M} AS h2m
  FROM keys
),
pos AS (
  SELECT (h1m + ks.i * h2m) % {_M} AS p, delta
  FROM kh CROSS JOIN (SELECT UNNEST(range({_K})) AS i) ks
),
cnts AS (SELECT p, SUM(delta) AS cnt FROM pos GROUP BY p),
ppos AS (
  SELECT shingle, (h1m + ks.i * h2m) % {_M} AS p
  FROM kh CROSS JOIN (SELECT UNNEST(range({_K})) AS i) ks
),
flags AS (
  SELECT shingle,
         MIN(CASE WHEN c.cnt > 0 THEN 1 ELSE 0 END) AS allset
  FROM ppos LEFT JOIN cnts c ON c.p = ppos.p
  GROUP BY shingle
)
SELECT CAST(k.truly_present AS BIGINT) AS truly_present,
       CAST(f.allset AS BIGINT) AS maybe_member,
       CAST(COUNT(*) AS BIGINT) AS n_keys
FROM kh k JOIN flags f ON f.shingle = k.shingle
GROUP BY 1, 2
"""


def q178_counting_store_takedown(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """q176's takedown driven through the PERSISTED counting store
    (`streaming/counting_store.py`) instead of in-memory frames, with
    the store's replay/compaction contracts exercised inside the gated
    path: three ingest deltas partition the corpus (doc_id % 3), batch
    1 is deliberately REPLAYED both before compaction (id already in
    the store log → no-op) and after it (absorbed-id tombstone →
    refused), deltas compact into the base partition mid-flight, and
    the takedown lands as a negative delta. The final probe must
    cross-tab IDENTICALLY to q176 — the oracle is the same fixed-point
    SQL, so the gate pins that the persisted delta layout, the replay
    guards and the compaction are all invisible to the screen's
    semantics. Results are checkpointed before the temp store dies."""
    import shutil
    import tempfile

    from ..concurrency import overlap
    from ..operators.bloom import bloom_probe_keys, counting_to_words
    from ..operators.similarity_dedup import word_shingles
    from ..streaming.counting_store import (
        append_counting_deltas,
        compact_counting,
        read_counts,
        retract_counting,
        write_counting_delta,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    occ = word_shingles(docs, "doc_id", "text", n=3).localCheckpoint(
        eager=True
    )
    tmp = tempfile.mkdtemp(prefix="q178_cnt_")
    path = f"{tmp}/store"

    def _store_lifecycle() -> None:
        # the three ingest deltas are independent jobs over the
        # checkpointed occurrence frame targeting disjoint delta_id=
        # directories — the batched append overlaps their builds on
        # driver threads and appends the log ONCE in batch order
        # (round 14, guide §2.6; replay/compaction contracts exercised
        # below are unchanged and this query still gates them).
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
                for b in range(3)
            ],
            "shingle", path, _NW, _K,
        )
        # replay before compaction: completed directory, writes nothing
        # (side effects outside assert — survives ``python -O``)
        replay_pre = write_counting_delta(
            occ.filter(F.col("doc_id") % 3 == 1).select("shingle"),
            "shingle", path, "batch-1", _NW, _K,
        )
        compact_counting(spark, path, _NW, _K)
        # replay after compaction: directory absorbed, tombstone refuses
        replay_post = write_counting_delta(
            occ.filter(F.col("doc_id") % 3 == 1).select("shingle"),
            "shingle", path, "batch-1", _NW, _K,
        )
        if replay_pre or replay_post:
            raise AssertionError(
                f"replay guard broke: pre-compaction wrote={replay_pre},"
                f" post-compaction wrote={replay_post}"
            )
        retract_counting(
            occ.filter(F.col("doc_id") % _TAKEDOWN_MOD == 0).select(
                "shingle"
            ),
            "shingle", path, "gdpr-1", _NW, _K,
        )

    def _truth() -> DataFrame:
        # store-INDEPENDENT ground truth: only reads the checkpointed
        # occ frame, so it overlaps the store lifecycle (guide §2.6)
        return occ.groupBy("shingle").agg(
            F.max(
                (F.col("doc_id") % _TAKEDOWN_MOD != 0).cast("long")
            ).alias("truly_present")
        ).localCheckpoint(eager=True)

    try:
        _, truth = overlap(spark, _store_lifecycle, _truth)
        words = counting_to_words(read_counts(spark, path))
        flags = bloom_probe_keys(
            occ.select("shingle"), "shingle", words, _NW, _K
        )
        out = (
            truth.join(flags, "shingle")
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


COUNTING_BLOOM_QUERIES = {
    "q176_counting_bloom_takedown": q176_counting_bloom_takedown,
    "q178_counting_store_takedown": q178_counting_store_takedown,
}

COUNTING_BLOOM_ORACLES = {
    "q176_counting_bloom_takedown": Q176_ORACLE,
    # the persisted-store flow must be semantically invisible: same
    # fixed-point SQL as the in-memory takedown
    "q178_counting_store_takedown": Q176_ORACLE,
}
