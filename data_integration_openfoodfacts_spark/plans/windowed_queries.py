"""Windowed-ledger queries (round 10 continuation): sliding-window
dedup with O(1) epoch expiry (`operators/windowed_ledger.py`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.parquet_source import load_table

# Local copy of the 3-gram shingle CTE (fingerprint isolation).
_SH_CTE = """
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (
  SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
  FROM toks, LATERAL (SELECT UNNEST(range(1, len(t) - 1)) AS i) u
  WHERE len(t) >= 3
)
"""

_EPOCHS = 4
#: 16 buckets for the gated path: the four epoch writes each shuffle
#: into n_buckets output files, so the toy-scale wall is file-count
#: latency, not data — production stores size this to key volume.
_NB = 16


def q184_windowed_novelty_expiry(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Crawl dedup against a RETENTION WINDOW instead of all history:
    four snapshot epochs of shingle keys land as epoch partitions, the
    two oldest are expired (a directory drop — nothing surviving is
    rewritten), and the full corpus key set is re-probed: shingles
    whose only owners aged out score NOVEL AGAIN, shingles still
    co-held by a live epoch stay duplicates. Replay/resurrection contracts run
    inside the gated path (re-appending a live epoch: completed-dir
    no-op; re-appending an expired epoch: watermark refusal). The
    cross-tab adds the ground-truth 'was it ever in an expired epoch'
    axis so the oracle separately pins re-novel keys, still-live keys,
    and keys the window never saw."""
    import shutil
    import tempfile

    from ..operators.windowed_ledger import (
        append_window_epoch,
        expire_through,
        score_tranche_windowed,
    )
    from ..storage import read_state

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    from ..operators.similarity_dedup import word_shingles

    occ = (
        word_shingles(docs, "doc_id", "text", n=3)
        .select(
            (F.col("doc_id") % _EPOCHS).alias("epoch"),
            F.md5("shingle").alias("shingle_md5"),
        )
        .localCheckpoint(eager=True)
    )
    tmp = tempfile.mkdtemp(prefix="q184_win_")
    path = f"{tmp}/ledger"
    try:
        # Side effects OUTSIDE the asserts: under ``python -O`` a bare
        # ``assert append_window_epoch(...)`` is stripped entirely and
        # the ledger would never be built (round-11 ADVICE).
        for e in range(_EPOCHS):
            wrote = append_window_epoch(
                occ.filter(F.col("epoch") == e).select("shingle_md5"),
                "shingle_md5", path, e, _NB,
            )
            if not wrote:
                raise AssertionError(f"epoch {e} append was a no-op")
        # replay of a live epoch: completed directory, writes nothing
        replayed = append_window_epoch(
            occ.filter(F.col("epoch") == 3).select("shingle_md5"),
            "shingle_md5", path, 3, _NB,
        )
        dropped = expire_through(spark, path, 1)
        # resurrection guard: an expired epoch's replay is refused
        resurrected = append_window_epoch(
            occ.filter(F.col("epoch") == 1).select("shingle_md5"),
            "shingle_md5", path, 1, _NB,
        )
        mark = read_state(spark, path)[1]["expired_through"]
        if replayed or dropped != [0, 1] or resurrected or mark != 1:
            raise AssertionError(
                f"ledger lifecycle contract broke: replay wrote="
                f"{replayed}, dropped={dropped}, resurrection wrote="
                f"{resurrected}, watermark={mark}"
            )
        probe = occ.select("shingle_md5")
        flags = score_tranche_windowed(probe, "shingle_md5", path)
        in_expired = (
            occ.filter(F.col("epoch") <= 1)
            .select("shingle_md5")
            .distinct()
            .withColumn("was_expired", F.lit(1).cast("long"))
        )
        out = (
            flags.join(in_expired, "shingle_md5", "left")
            .groupBy(
                F.coalesce("was_expired", F.lit(0)).alias("was_expired"),
                F.col("seen_in_window").cast("long").alias(
                    "seen_in_window"
                ),
            )
            .agg(F.count(F.lit(1)).alias("n_keys"))
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


Q184_ORACLE = f"""
WITH {_SH_CTE.strip()},
e AS (SELECT DISTINCT doc_id % {_EPOCHS} AS epoch, md5(shingle) AS k
      FROM sh),
probe AS (SELECT DISTINCT k FROM e),
live AS (SELECT DISTINCT k FROM e WHERE epoch IN (2, 3)),
expired AS (SELECT DISTINCT k FROM e WHERE epoch IN (0, 1))
SELECT CAST(CASE WHEN x.k IS NULL THEN 0 ELSE 1 END AS BIGINT)
         AS was_expired,
       CAST(CASE WHEN l.k IS NULL THEN 0 ELSE 1 END AS BIGINT)
         AS seen_in_window,
       CAST(COUNT(*) AS BIGINT) AS n_keys
FROM probe p
LEFT JOIN live l ON l.k = p.k
LEFT JOIN expired x ON x.k = p.k
GROUP BY 1, 2
"""


WINDOWED_QUERIES = {
    "q184_windowed_novelty_expiry": q184_windowed_novelty_expiry,
}

WINDOWED_ORACLES = {
    "q184_windowed_novelty_expiry": Q184_ORACLE,
}
