"""Data-scale-up probe for the LLM-pipeline scale paths (VERDICT r04
item 2): how do MinHash-LSH dedup (q19), hyperplane-LSH embedding
near-dup (q43), incremental batch-vs-corpus dedup (q128) and SemDeDup
(q75's operator) grow when documents/embeddings grow K-fold — with the
CANDIDATE-PAIR COUNTS logged so the bucketing is visible, not inferred.

Replication must model K-times MORE data, not K exact copies: an exact
replica is a perfect near-duplicate of its source, so every LSH bucket
would grow K-fold and pair counts K²-fold BY TEST-DATA DESIGN — a
quadratic blowup the real "crawl grew 10x" workload does not have.
Decorrelation per replica:

- documents: every token gets a replica suffix (``w -> w_r{i}``), so
  replicas share ZERO shingles with their source or with each other,
  while the intra-replica near-dup structure is byte-identical — the
  corpus has exactly K times the near-dup clusters;
- embeddings: each replica's vectors are cyclically dimension-rotated
  by ``7*i`` positions — a permutation, so every intra-replica cosine
  is EXACTLY preserved (the near-dup structure replicates) while
  cross-replica cosines decorrelate.

SemDeDup is probed through its operator with the documented k ~
sqrt(n) contract (k=45 at 1x, k=141 at 10x for the 2k/20k-vector
corpus): the n^1.5 total-pair bound REQUIRES the cluster count to grow
with the corpus; fixing k while data grows 10x would measure a
misconfiguration, not the algorithm. Candidate pairs = sum over
clusters of m*(m-1)/2, computed from assignment counts.

    python tools/bench_scaling_llm.py [K] [probe_dir]
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SHIFT = 10**9


def replicate(spark, src: str, dst: str, k: int) -> None:
    os.makedirs(dst, exist_ok=True)
    docs = spark.read.parquet(f"{src}/documents.parquet")
    rep = docs.withColumn(
        "__rep", F.explode(F.array(*[F.lit(i) for i in range(k)]))
    )
    suffixed = F.array_join(
        F.transform(
            F.split(F.col("text"), " "),
            lambda w: F.concat(w, F.lit("_r"), F.col("__rep").cast("string")),
        ),
        " ",
    )
    (
        rep.withColumn(
            "doc_id", F.col("doc_id") + F.col("__rep").cast("long") * SHIFT
        )
        .withColumn(
            "text",
            F.when(F.col("__rep") == 0, F.col("text")).otherwise(suffixed),
        )
        .drop("__rep")
        .write.mode("overwrite")
        .parquet(f"{dst}/documents.parquet")
    )
    emb = spark.read.parquet(f"{src}/embeddings.parquet")
    dim = len(emb.select("embedding").first()["embedding"])
    out = None
    for i in range(k):
        s = (7 * i) % dim
        part = emb.withColumn(
            "vec_id", F.col("vec_id") + F.lit(i).cast("long") * SHIFT
        )
        if s:
            part = part.withColumn(
                "embedding",
                F.concat(
                    F.slice("embedding", s + 1, dim - s),
                    F.slice("embedding", 1, s),
                ),
            )
        out = part if out is None else out.unionByName(part)
    out.write.mode("overwrite").parquet(f"{dst}/embeddings.parquet")


def time_df(mk_df) -> float:
    best = float("inf")
    for _ in range(2):
        t = time.perf_counter()
        mk_df().write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t)
    return round(best, 2)


def probe_all(spark, sf_dir: str) -> dict:
    """(wall_sec, candidate_pairs) per probe at one scale."""
    from data_integration_openfoodfacts_spark.operators.similarity import (
        hyperplane_lsh_candidates,
        semantic_dedup,
    )
    from data_integration_openfoodfacts_spark.operators.similarity_dedup import (
        incremental_minhash_dedup,
        minhash_band_signatures,
        minhash_lsh_pairs,
    )
    from data_integration_openfoodfacts_spark.plans.registry import QUERIES
    from data_integration_openfoodfacts_spark.sources.parquet_source import (
        load_table,
    )

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    res = {}

    res["q19_minhash_lsh"] = {
        "sec": time_df(lambda: QUERIES["q19_minhash_lsh_pairs"](spark, sf_dir)),
        "candidates": minhash_lsh_pairs(
            docs, "doc_id", "text", n=3, num_hashes=8, band_size=2
        ).count(),
    }

    # Production near-dup config (threshold 0.9, 8-bit bands), NOT the
    # registry q43 fixture (threshold 0.35, 2-bit bands): 0.35 is a
    # near-random angle (P[bit agrees] ~ 0.614), so short bands
    # legitimately retain ~all pairs — measured 4.0x candidates at 2x
    # data, i.e. chance-collision-quadratic BY THRESHOLD CHOICE.
    #
    # Two configurations, because LSH theory says so:
    # - fixed8x8 (control): band bits FIXED while n grows. Chance
    #   collisions = C(n,2) * bands / 2^bits — a quadratic floor that
    #   holding the config constant across a 10x corpus CANNOT avoid
    #   (measured: 100x candidates at 10x data, i.e. exactly n²).
    # - logscaled: band bits grow with log2(n) (b = log2(n) - 3, the
    #   constant calibrated so b=8 at n~2000), which pins the chance
    #   floor at ~linear-in-n — the correct production tuning rule.
    #   num_bands stays CONSTANT at 8 (recall at a fixed threshold is
    #   the num_bands knob, so it must not silently shrink): past 64
    #   total bits the signatures pack into multiple longs
    #   (hyperplane_lsh_candidates' array<long> path), so at 10x this
    #   probe genuinely exercises 11x8 = 88-bit packing.
    import math as _math

    from data_integration_openfoodfacts_spark.operators.similarity import (
        hyperplane_lsh_pairs,
    )

    n_vec = emb.count()
    for tag, rpb in (
        ("fixed8x8", 8),
        ("logscaled", max(8, round(_math.log2(max(n_vec, 2))) - 3)),
    ):
        nb = 8
        res[f"hyperplane_lsh_{tag}"] = {
            "sec": time_df(
                lambda: hyperplane_lsh_pairs(
                    emb, dim=64, rows_per_band=rpb, num_bands=nb,
                    threshold=0.9,
                )
            ),
            "bits_per_band": rpb,
            "num_bands": nb,
            "candidates": hyperplane_lsh_candidates(
                emb, dim=64, rows_per_band=rpb, num_bands=nb
            ).count(),
        }

    # Incremental dedup, the crawl-ingestion shape: a FIXED-size batch
    # (replica-0 docs with doc_id % 3 == 0 — identical rows at every
    # scale) deduped against a STORED corpus band index that grows with
    # the corpus (eager localCheckpoint = the persisted index; the
    # registry q128 rebuilds it inline because it must be
    # self-contained, which would time index construction, not
    # ingestion). The 100 TB claim under test: ingest cost is
    # batch-sized — wall time stays ~flat while the index grows 10x.
    old = docs.filter(F.col("doc_id") % 3 != 0)
    new = docs.filter(
        (F.col("doc_id") % 3 == 0) & (F.col("doc_id") < SHIFT)
    )
    corpus_bands = minhash_band_signatures(
        old, "doc_id", "text"
    ).localCheckpoint(eager=True)

    def run_q128():
        survivors, _ = incremental_minhash_dedup(
            new, corpus_bands, "doc_id", "text"
        )
        return survivors.select("doc_id", "lang", "source")

    new_bands = minhash_band_signatures(new, "doc_id", "text")
    res["q128_incremental_fixed_batch"] = {
        "sec": time_df(run_q128),
        "index_rows": corpus_bands.count(),
        "candidates": new_bands.join(
            corpus_bands.select("band", "sig"), ["band", "sig"]
        ).count(),
    }

    n_vec = emb.count()
    k = max(8, int(math.isqrt(n_vec)))
    cents = emb.orderBy("vec_id").limit(k).select(
        F.col("vec_id").alias("centroid_id"),
        F.col("embedding").alias("centroid_vec"),
    )
    sem = semantic_dedup(emb, cents, threshold=0.35)
    res["q75_semdedup_sqrtk"] = {
        "sec": time_df(lambda: semantic_dedup(emb, cents, threshold=0.35)),
        "k": k,
        "candidates": int(
            sem.groupBy("centroid_id")
            .agg(F.count(F.lit(1)).alias("m"))
            .agg(F.sum(F.expr("m * (m - 1) / 2")).alias("p"))
            .first()["p"]
        ),
    }

    # Cross-corpus alignment (q143's operator) under the SAME log-scaled
    # tuning rule the self-join probe validates: both corpora (even/odd
    # vector halves) hash with log2(n)-scaled band bits, so candidate
    # growth should track ~K, not K².
    from data_integration_openfoodfacts_spark.operators.similarity import (
        cross_corpus_align,
        hyperplane_lsh_cross_candidates,
    )

    left = emb.filter(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("id_a"), "embedding"
    )
    right = emb.filter(F.col("vec_id") % 2 == 1).select(
        F.col("vec_id").alias("id_b"), "embedding"
    )
    rpb_x = max(8, round(_math.log2(max(n_vec, 2))) - 3)
    res["q143_cross_corpus_logscaled"] = {
        "sec": time_df(
            lambda: cross_corpus_align(
                left, right, dim=64, threshold=0.9,
                rows_per_band=rpb_x, num_bands=8,
            )
        ),
        "bits_per_band": rpb_x,
        "candidates": hyperplane_lsh_cross_candidates(
            left, right, dim=64, rows_per_band=rpb_x, num_bands=8
        ).count(),
    }

    # DSIR importance (q144's operator): the claim is LINEAR —
    # wall tracks the bigram count (one conditional agg + broadcast
    # ratio join + one per-doc agg), never quadratic. "Candidates"
    # here = total bigrams scored.
    from data_integration_openfoodfacts_spark.operators.importance import (
        hashed_ngram_importance,
    )

    def run_dsir():
        return hashed_ngram_importance(
            docs, is_target=F.pmod(F.col("doc_id"), F.lit(7)) == 0
        )

    res["q144_dsir_linear"] = {
        "sec": time_df(run_dsir),
        "candidates": int(
            run_dsir().agg(F.sum("n_bigrams").alias("s")).first()["s"]
        ),
    }

    # q151 leakage-guarded split: minhash edges (q19's ~linear growth,
    # measured above) -> star-contraction components -> md5 split. The
    # probe pins the END-TO-END wall and the edge count the CC loop
    # actually consumed; components ("clusters") is the extra metric.
    from data_integration_openfoodfacts_spark.operators.graph import (
        connected_components,
    )

    def run_q151():
        return QUERIES["q151_leakage_guarded_split"](spark, sf_dir)

    pairs = minhash_lsh_pairs(docs, "doc_id", "text")
    cc = connected_components(pairs.select("id_a", "id_b"), "id_a", "id_b")
    res["q151_leakage_cc"] = {
        "sec": time_df(run_q151),
        "candidates": pairs.count(),
        "clusters": cc.select("component").distinct().count(),
    }

    # q152 novelty: one shingle-level min agg + join-back — work is the
    # shingle-row count, linear in corpus bytes by construction; the
    # probe MEASURES it instead of asserting it.
    from data_integration_openfoodfacts_spark.operators.similarity_dedup import (
        word_shingles,
    )

    res["q152_novelty_linear"] = {
        "sec": time_df(lambda: QUERIES["q152_ngram_novelty"](spark, sf_dir)),
        "candidates": word_shingles(docs, "doc_id", "text", n=8).count(),
    }

    # q164 classifier training (round 9): the claim is LINEAR — one
    # O(tokens) feature shuffle + per-iteration work bounded by
    # O(feats) with a constant-size (num_buckets-row) driver envelope,
    # never anything quadratic and never a growing driver transfer.
    # "Candidates" = (doc, bucket) feature rows the loop iterates.
    from data_integration_openfoodfacts_spark.operators.training import (
        doc_bucket_features,
        train_hashed_logistic,
    )

    labeled = docs.select(
        "doc_id", "text", (F.col("lang") == "en").cast("long").alias("y")
    )
    res["q164_training_linear"] = {
        "sec": time_df(
            lambda: train_hashed_logistic(
                labeled, num_buckets=64, n_iters=3
            )
        ),
        "candidates": doc_bucket_features(labeled, 64).count(),
    }

    # q166 span removal (round 9): detection is the bounded window-hash
    # agg + dup-only join-back; merge/reassembly are narrow per-doc
    # folds — work tracks the window count (linear in corpus bytes).
    # Replicas are token-decorrelated, so cross-replica duplicate runs
    # cannot form and the duplicated-span structure replicates exactly.
    from data_integration_openfoodfacts_spark.operators.substring_dedup import (
        remove_duplicate_spans,
    )

    res["q166_span_removal_linear"] = {
        "sec": time_df(lambda: remove_duplicate_spans(docs, window=8)),
        "candidates": int(
            remove_duplicate_spans(docs, window=8)
            .agg(F.sum("n_tokens").alias("s"))
            .first()["s"]
        ),
    }

    # q167 incremental embedding ingest (round 9): a FIXED batch (the
    # base dir's vec_id % 3 == 0 vectors, id-shifted out of every
    # ledger's id space) probed against a persisted eb-bucketed
    # signature ledger built from THIS scale's embeddings — the crawl
    # claim: ingest wall is O(batch), flat while the ledger grows 10x.
    # "Candidates" = ledger band rows the probe could touch.
    from data_integration_openfoodfacts_spark.operators.embedding_ingest import (
        append_embedding_bands,
        embedding_band_signatures,
        incremental_embedding_dedup,
    )

    fixed_batch = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .filter(F.col("vec_id") % 3 == 0)
        .select((F.col("vec_id") + 50 * SHIFT).alias("vec_id"), "embedding")
        .localCheckpoint(eager=True)
    )
    eb_tmp = tempfile.mkdtemp(prefix="q167_probe_")
    eb_path = f"{eb_tmp}/bands"
    append_embedding_bands(
        embedding_band_signatures(emb, 64, rows_per_band=16, num_bands=8),
        eb_path,
    )

    def run_q167():
        survivors, _ = incremental_embedding_dedup(
            fixed_batch, eb_path, 64,
            rows_per_band=16, num_bands=8, append=False,
        )
        return survivors.select("vec_id")

    res["q167_embedding_ingest_fixed_batch"] = {
        "sec": time_df(run_q167),
        "candidates": spark.read.parquet(eb_path).count(),
    }
    shutil.rmtree(eb_tmp, ignore_errors=True)
    return res


def main() -> None:
    from data_integration_openfoodfacts_spark.session import get_spark

    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    spark = get_spark("bench-scaling-llm")
    spark.sparkContext.setLogLevel("ERROR")
    scratch = (
        sys.argv[2]
        if len(sys.argv) > 2
        else tempfile.mkdtemp(prefix="scaleprobe_llm_")
    )
    print(f"replicating docs/embeddings {k}x -> {scratch}", file=sys.stderr)
    replicate(spark, SF_DIR, scratch, k)
    base = probe_all(spark, SF_DIR)
    big = probe_all(spark, scratch)
    out = {"k": k, "base_sf_dir": SF_DIR, "queries": {}}
    for name in base:
        b, g = base[name], big[name]
        out["queries"][name] = {
            "base_sec": b["sec"],
            f"x{k}_sec": g["sec"],
            "growth": round(g["sec"] / b["sec"], 2) if b["sec"] else None,
            "base_candidates": b["candidates"],
            f"x{k}_candidates": g["candidates"],
            "cand_growth": round(g["candidates"] / b["candidates"], 2)
            if b["candidates"]
            else None,
        }
        for extra in b:
            if extra not in ("sec", "candidates"):
                out["queries"][name][f"{extra}_base"] = b[extra]
                out["queries"][name][f"{extra}_big"] = g[extra]
        print(f"{name}: {json.dumps(out['queries'][name])}", file=sys.stderr)
    print(json.dumps(out))
    if scratch.startswith(tempfile.gettempdir()):
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
