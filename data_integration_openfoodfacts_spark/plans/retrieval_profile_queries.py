"""Retrieval operating-point profile (round 11, VERDICT #6): the ANN
twin of q190's dedup threshold profile. q186 added the Hamming-1
multi-probe knob and q189 the IVF nprobe knob; this module composes
BOTH into one gated recall-vs-cost curve — (family, knob, candidates,
hits, truth, recall) rows — because that curve is the number a real
user actually picks n_flips / nprobe by. Reference points:
`operators/multiprobe.py:42`, `operators/similarity.py:95`.

Both families are verified against EXACT scans: the hyperplane family
against the brute-force pair set over the same threshold, the IVF
family against per-query exact top-k. All ranking uses the engine's
deterministic tiebreaks (cosine DESC, id ASC; NULL cosines coalesced
to -2.0) so the DuckDB twin replays signatures, bit flips, Voronoi
assignment and both recall numerators bit-for-bit.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.localframe import local_rows_df
from pyspark.sql.window import Window

from ..sources.parquet_source import load_table

_DIM = 64

# hyperplane family: q186's exact setting, swept over the flip knob
_RPB = 8
_NB = 4
_T = 0.3
_QMOD = 23
_FLIP_KNOBS = (0, 2, 4, 8)  # 0 = single-probe baseline

# IVF family: q189's fixed centroids, swept over nprobe
_NCENT = 8
_K = 10
_IVF_QMOD = 53
_NPROBES = (1, 2, 4, 8)  # 8 = all lists == exact scan (recall 1 pin)


def q193_retrieval_operating_points(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """One row per (family, knob): how many candidates the knob buys
    and what recall they deliver against the exact scan. The
    hyperplane rows sweep n_flips over {0,2,4,8} at q186's banding
    (recall = verified pairs / exact pairs >= 0.35-style threshold
    0.3); the IVF rows sweep nprobe over {1,2,4,8} at q189's centroids
    (recall@10 = |ANN top-10 ∩ exact top-10| summed over the query
    workload / (10 x queries); nprobe=8 probes every list, so its
    recall must be exactly 1.0 — the degradation-to-exact pin from
    q189's plan test, now value-gated). Cost shape: the corpus is
    tagged/assigned once per family (broadcast centroids, Arrow-packed
    signatures); only the small query side explodes by knob, candidate
    frames stay bounded by the probed buckets/lists, and every
    aggregate rides the same plan — no driver-side loops, no collect."""
    from ..functions.vectors import cosine_similarity_expr, l2_norm_expr
    from ..operators.multiprobe import multiprobe_lsh_cross_candidates
    from ..operators.similarity import assign_to_centroids

    emb = load_table(spark, sf_dir, "embeddings")

    # ---------- family 1: hyperplane LSH, Hamming flip knob ----------
    q = emb.filter(F.col("vec_id") % _QMOD == 0).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    c = emb.filter(F.col("vec_id") % _QMOD != 0).select(
        F.col("vec_id").alias("c_id"), "embedding"
    )
    cand = reduce(
        DataFrame.unionByName,
        [
            multiprobe_lsh_cross_candidates(
                q, c, _DIM,
                rows_per_band=_RPB, num_bands=_NB, n_flips=nf,
            ).withColumn("knob", F.lit(nf).cast("long"))
            for nf in _FLIP_KNOBS
        ],
    )
    qa = q.select(
        "q_id",
        F.col("embedding").alias("__va"),
        l2_norm_expr("embedding").alias("__na"),
    )
    cb = c.select(
        "c_id",
        F.col("embedding").alias("__vb"),
        l2_norm_expr("embedding").alias("__nb"),
    )
    pair_cos = F.try_divide(
        F.aggregate(
            F.zip_with(
                F.transform("__va", lambda x: x.cast("double")),
                F.transform("__vb", lambda x: x.cast("double")),
                lambda x, y: x * y,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
        F.col("__na") * F.col("__nb"),
    )
    verified = (
        cand.select("q_id", "c_id")
        .distinct()
        .join(F.broadcast(qa), "q_id")
        .join(cb, "c_id")
        .select("q_id", "c_id", pair_cos.alias("cosine"))
        .filter(F.col("cosine") >= _T)
        .select("q_id", "c_id")
    )
    h_truth = (
        cb.crossJoin(F.broadcast(qa))
        .select(pair_cos.alias("cosine"))
        .filter(F.col("cosine") >= _T)
        .agg(F.count(F.lit(1)).alias("n_truth"))
    )
    h_knobs = local_rows_df(
        spark, [(int(nf),) for nf in _FLIP_KNOBS], "knob long"
    )
    h_rows = (
        h_knobs.join(
            cand.groupBy("knob").agg(
                F.count(F.lit(1)).alias("n_candidates")
            ),
            "knob", "left",
        )
        .join(
            cand.join(verified, ["q_id", "c_id"])
            .groupBy("knob")
            .agg(F.count(F.lit(1)).alias("n_hits")),
            "knob", "left",
        )
        .fillna(0, subset=["n_candidates", "n_hits"])
        .crossJoin(F.broadcast(h_truth))
        .select(
            F.lit("hyperplane_flips").alias("family"),
            "knob", "n_candidates", "n_hits", "n_truth",
        )
    )

    # ---------- family 2: IVF, nprobe knob ----------
    cents = emb.filter(F.col("vec_id") < _NCENT).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )
    assigned = assign_to_centroids(emb, cents)
    q2 = emb.filter(F.col("vec_id") % _IVF_QMOD == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("__qv")
    )
    qrank = (
        q2.crossJoin(F.broadcast(cents))
        .select(
            "q_id", "centroid_id",
            F.coalesce(
                cosine_similarity_expr("__qv", "centroid_vec"),
                F.lit(-2.0),
            ).alias("cs"),
        )
        .withColumn(
            "r",
            F.row_number().over(
                Window.partitionBy("q_id").orderBy(
                    F.desc("cs"), F.asc("centroid_id")
                )
            ),
        )
        .filter(F.col("r") <= max(_NPROBES))
        .select("q_id", "centroid_id", "r")
    )
    icand = (
        emb.select(F.col("vec_id").alias("c_id"), "embedding")
        .join(assigned.withColumnRenamed("vec_id", "c_id"), "c_id")
        .join(F.broadcast(qrank), "centroid_id")
        .filter(F.col("c_id") != F.col("q_id"))
        .join(F.broadcast(q2), "q_id")
        .select(
            "q_id", "c_id", "r",
            F.coalesce(
                cosine_similarity_expr("embedding", "__qv"), F.lit(-2.0)
            ).alias("cosine"),
        )
    )
    i_knobs = local_rows_df(
        spark, [(int(np_),) for np_ in _NPROBES], "knob long"
    )
    cand_k = icand.crossJoin(F.broadcast(i_knobs)).filter(
        F.col("r") <= F.col("knob")
    )
    ann = cand_k.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("knob", "q_id").orderBy(
                F.desc("cosine"), F.asc("c_id")
            )
        ),
    ).filter(F.col("rk") <= _K).select("knob", "q_id", "c_id")
    i_truth = (
        emb.select(F.col("vec_id").alias("c_id"), "embedding")
        .crossJoin(F.broadcast(q2))
        .filter(F.col("c_id") != F.col("q_id"))
        .select(
            "q_id", "c_id",
            F.coalesce(
                cosine_similarity_expr("embedding", "__qv"), F.lit(-2.0)
            ).alias("cosine"),
        )
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("q_id").orderBy(
                    F.desc("cosine"), F.asc("c_id")
                )
            ),
        )
        .filter(F.col("rk") <= _K)
        .select("q_id", "c_id")
    )
    i_rows = (
        i_knobs.join(
            cand_k.groupBy("knob").agg(
                F.count(F.lit(1)).alias("n_candidates")
            ),
            "knob", "left",
        )
        .join(
            ann.join(i_truth, ["q_id", "c_id"])
            .groupBy("knob")
            .agg(F.count(F.lit(1)).alias("n_hits")),
            "knob", "left",
        )
        .fillna(0, subset=["n_candidates", "n_hits"])
        .crossJoin(
            F.broadcast(
                i_truth.agg(F.count(F.lit(1)).alias("n_truth"))
            )
        )
        .select(
            F.lit("ivf_nprobe").alias("family"),
            "knob", "n_candidates", "n_hits", "n_truth",
        )
    )

    return h_rows.unionByName(i_rows).select(
        "family", "knob", "n_candidates", "n_hits", "n_truth",
        (F.col("n_hits") / F.col("n_truth")).alias("recall"),
    )


def _dot_sql(a: str, b: str, dim: int = _DIM) -> str:
    """Unrolled left-nested dot product (q43-oracle convention; local
    copy for fingerprint isolation)."""
    return "(" + " + ".join(
        f"CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)"
        for i in range(1, dim + 1)
    ) + ")"


def _q193_oracle() -> str:
    from ..operators.similarity import rademacher_hyperplanes

    planes = rademacher_hyperplanes(_RPB * _NB, _DIM)
    rows = ",\n".join(
        f"({p}, {p // _RPB}, [{', '.join(str(v) for v in row)}]::DOUBLE[])"
        for p, row in enumerate(planes)
    )
    fk = ",".join(
        f"({nf},{f})" for nf in _FLIP_KNOBS
        for f in [-1, *range(nf)]
    )
    knobs = ",".join(f"({np_})" for np_ in _NPROBES)
    cos_ab = (
        f"{_dot_sql('a.embedding', 'b.embedding')}"
        " / NULLIF(a.nrm * b.nrm, 0.0)"
    )
    return f"""
WITH planes(p, band, pv) AS (VALUES {rows}),
bits AS MATERIALIZED (
  SELECT e.vec_id, pl.p, pl.band,
         CASE WHEN {_dot_sql('e.embedding', 'pl.pv')} >= 0
              THEN 1 ELSE 0 END AS bit
  FROM embeddings e, planes pl
),
sig AS MATERIALIZED (
  SELECT vec_id, band, SUM(bit << (p % {_RPB})) AS sig
  FROM bits GROUP BY vec_id, band
),
fk(knob, f) AS (VALUES {fk}),
qprobe AS (
  SELECT fk.knob, s.vec_id, s.band,
         CASE WHEN fk.f < 0 THEN s.sig
              ELSE xor(s.sig, CAST(1 << fk.f AS BIGINT)) END AS sig
  FROM sig s CROSS JOIN fk
  WHERE s.vec_id % {_QMOD} = 0
),
hcand AS MATERIALIZED (
  SELECT DISTINCT qp.knob, qp.vec_id AS q_id, cs.vec_id AS c_id
  FROM qprobe qp
  JOIN sig cs ON cs.band = qp.band AND cs.sig = qp.sig
  WHERE cs.vec_id % {_QMOD} <> 0
),
embn AS MATERIALIZED (
  SELECT vec_id, embedding,
         sqrt({_dot_sql('e.embedding', 'e.embedding')}) AS nrm
  FROM embeddings e
),
hpair AS MATERIALIZED (
  SELECT q_id, c_id FROM (
    SELECT p.q_id, p.c_id, {cos_ab} AS cosine
    FROM (SELECT DISTINCT q_id, c_id FROM hcand) p
    JOIN embn a ON a.vec_id = p.q_id
    JOIN embn b ON b.vec_id = p.c_id
  ) WHERE cosine >= {_T}
),
htruth AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM (
    SELECT 1 FROM embn a JOIN embn b
      ON a.vec_id % {_QMOD} = 0 AND b.vec_id % {_QMOD} <> 0
    WHERE {cos_ab} >= {_T}
  )
),
hrows AS (
  SELECT 'hyperplane_flips' AS family,
         CAST(k.knob AS BIGINT) AS knob,
         CAST(COALESCE(nc.n, 0) AS BIGINT) AS n_candidates,
         CAST(COALESCE(nh.n, 0) AS BIGINT) AS n_hits,
         t.n_truth
  FROM (SELECT DISTINCT knob FROM fk) k
  LEFT JOIN (SELECT knob, COUNT(*) AS n FROM hcand GROUP BY 1) nc
    USING (knob)
  LEFT JOIN (
    SELECT hc.knob, COUNT(*) AS n
    FROM hcand hc JOIN hpair USING (q_id, c_id) GROUP BY 1
  ) nh USING (knob)
  CROSS JOIN htruth t
),
cents AS (
  SELECT vec_id AS centroid_id, embedding AS cv FROM embeddings
  WHERE vec_id < {_NCENT}
),
iscored AS MATERIALIZED (
  SELECT e.vec_id, c.centroid_id,
         COALESCE({_dot_sql('e.embedding', 'c.cv')}
         / NULLIF(sqrt({_dot_sql('e.embedding', 'e.embedding')})
            * sqrt({_dot_sql('c.cv', 'c.cv')}), 0.0), -2.0) AS cs
  FROM embeddings e, cents c
),
best AS (
  SELECT vec_id, centroid_id FROM iscored
  QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                             ORDER BY cs DESC, centroid_id ASC) = 1
),
qrank AS (
  SELECT vec_id AS q_id, centroid_id,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY cs DESC, centroid_id ASC) AS r
  FROM iscored WHERE vec_id % {_IVF_QMOD} = 0
  QUALIFY r <= {max(_NPROBES)}
),
icand AS MATERIALIZED (
  SELECT qr.q_id, e.vec_id AS c_id, qr.r,
         COALESCE({_dot_sql('e.embedding', 'q.embedding')}
         / NULLIF(e.nrm * q.nrm, 0.0), -2.0) AS cosine
  FROM embn e
  JOIN best b ON b.vec_id = e.vec_id
  JOIN qrank qr ON qr.centroid_id = b.centroid_id
  JOIN embn q ON q.vec_id = qr.q_id
  WHERE e.vec_id <> qr.q_id
),
knobs(knob) AS (VALUES {knobs}),
icand_k AS MATERIALIZED (
  SELECT k.knob, i.q_id, i.c_id, i.cosine
  FROM icand i JOIN knobs k ON i.r <= k.knob
),
iann AS (
  SELECT knob, q_id, c_id FROM icand_k
  QUALIFY ROW_NUMBER() OVER (PARTITION BY knob, q_id
                             ORDER BY cosine DESC, c_id ASC) <= {_K}
),
itruth AS MATERIALIZED (
  SELECT q_id, c_id FROM (
    SELECT q.vec_id AS q_id, e.vec_id AS c_id,
           COALESCE({_dot_sql('e.embedding', 'q.embedding')}
           / NULLIF(e.nrm * q.nrm, 0.0), -2.0) AS cosine
    FROM embn e JOIN embn q
      ON q.vec_id % {_IVF_QMOD} = 0 AND e.vec_id <> q.vec_id
  )
  QUALIFY ROW_NUMBER() OVER (PARTITION BY q_id
                             ORDER BY cosine DESC, c_id ASC) <= {_K}
),
itcnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM itruth),
irows AS (
  SELECT 'ivf_nprobe' AS family,
         CAST(k.knob AS BIGINT) AS knob,
         CAST(COALESCE(nc.n, 0) AS BIGINT) AS n_candidates,
         CAST(COALESCE(nh.n, 0) AS BIGINT) AS n_hits,
         t.n_truth
  FROM knobs k
  LEFT JOIN (SELECT knob, COUNT(*) AS n FROM icand_k GROUP BY 1) nc
    USING (knob)
  LEFT JOIN (
    SELECT a.knob, COUNT(*) AS n
    FROM iann a JOIN itruth USING (q_id, c_id) GROUP BY 1
  ) nh USING (knob)
  CROSS JOIN itcnt t
),
allrows AS (SELECT * FROM hrows UNION ALL SELECT * FROM irows)
SELECT family, knob, n_candidates, n_hits, n_truth,
       n_hits / n_truth AS recall
FROM allrows
"""


Q193_ORACLE = _q193_oracle()


RETRIEVAL_PROFILE_QUERIES = {
    "q193_retrieval_operating_points": q193_retrieval_operating_points,
}

RETRIEVAL_PROFILE_ORACLES = {
    "q193_retrieval_operating_points": Q193_ORACLE,
}
