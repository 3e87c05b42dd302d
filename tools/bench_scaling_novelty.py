"""Ledger-growth probe for the incremental shingle-novelty path
(round-7 VERDICT #1; the q128-style "O(batch) against a grown index"
measurement applied to operators/novelty_ledger.py): score the SAME
fixed tranche against a 1x and a Kx PERSISTED key-bucket-partitioned
shingle ledger and log wall time + ledger row counts.

Decorrelation (the bench_scaling_llm rule): replicas suffix every
token ``w -> w_r{i}``, so replica shingles share nothing with the base
corpus or each other — the Kx ledger is K-times the DISTINCT shingles,
not K copies of the same keys. The probe tranche uses suffix ``_probe``
(absent from every ledger), so its novelty work is identical in both
runs; only the membership scan's ledger side grows.

Two tranche sizes, probing the two scale mechanisms:

- ``full`` (the whole documents table, ~all buckets touched): measures
  the round-8 JOIN-DIRECTION fix — the tranche keys broadcast against
  a streaming ledger scan (no ledger shuffle/sort/broadcast; the
  round-7 plan broadcast the whole ledger per tranche and measured
  1.76x wall at 10x ledger).
- ``micro`` (a handful of docs, touching a strict subset of the 256
  buckets): additionally measures PARTITION PRUNING — the ledger read
  lists only the tranche's buckets, so growth should be flatter still
  and the plan shows PartitionFilters (pinned by
  tests/test_novelty.py).

Skew-adversarial cases (round-9 VERDICT #5 — the uniform-md5 probes
never stress the layout's degradation modes, so measure them):

- ``fixed`` doubles as the **s >> B** case: ~235k distinct tranche
  shingles against 256 buckets touch EVERY bucket, so pruning degrades
  to the full ledger scan the sizing math predicts — its growth number
  IS the graceful-degradation measurement (buckets_touched recorded).
- ``skew`` (NEW): a boilerplate-heavy tranche — thousands of docs that
  are all the SAME 8-token line, i.e. ONE distinct shingle in ONE
  bucket. Worst-case key skew on the tranche side (a single hot
  shingle absorbs every doc; map-side combine must flatten it) plus
  maximal pruning on the ledger side (1 of B buckets listed). Growth
  vs ledger size should be ~flat and the absolute wall tiny.

    python tools/bench_scaling_novelty.py [K] [n_buckets]

Appends its results under SCALING_LLM.json "queries" as
"q159_novelty_ledger_fixed_tranche" (full / s >> B),
"q159_novelty_ledger_micro_tranche" (micro) and
"q159_novelty_ledger_skew_tranche" (boilerplate skew).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SHIFT = 10**9


def decorrelated_docs(spark, src: str, k: int):
    """K decorrelated replicas of the documents table (token-suffixed;
    replica 0 is the original) — the bench_scaling_llm recipe, docs
    only."""
    docs = spark.read.parquet(f"{src}/documents.parquet").select(
        "doc_id", "text"
    )
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
    return (
        rep.withColumn(
            "doc_id", F.col("doc_id") + F.col("__rep").cast("long") * SHIFT
        )
        .withColumn(
            "text",
            F.when(F.col("__rep") == 0, F.col("text")).otherwise(suffixed),
        )
        .drop("__rep")
    )


def probe_tranche(spark, src: str, n_docs: int | None = None):
    docs = spark.read.parquet(f"{src}/documents.parquet").select(
        "doc_id", "text"
    )
    if n_docs is not None:
        docs = docs.orderBy("doc_id").limit(n_docs)
    suffixed = F.array_join(
        F.transform(
            F.split(F.col("text"), " "),
            lambda w: F.concat(w, F.lit("_probe")),
        ),
        " ",
    )
    return docs.withColumn("doc_id", F.col("doc_id") + 20 * SHIFT).withColumn(
        "text", suffixed
    )


def skew_tranche(spark, n_docs: int = 5000):
    """Boilerplate-adversarial tranche: every doc is the identical
    8-token line — one distinct shingle, one touched bucket, one hot
    groupBy key fanned across all partitions."""
    line = (
        "skewed boilerplate line repeated identically across the"
        " entire tranche_skew"
    )
    return spark.range(n_docs).select(
        (F.col("id") + 30 * SHIFT).alias("doc_id"),
        F.lit(line).alias("text"),
    )


def build_ledger(spark, docs, path: str, n_buckets: int) -> int:
    """Persist the bucket-partitioned ledger of ``docs`` (untimed
    setup) and return its row count."""
    from data_integration_openfoodfacts_spark.operators.novelty import (
        doc_shingle_keys,
    )
    from data_integration_openfoodfacts_spark.operators.novelty_ledger import (
        append_ledger_delta,
    )

    firsts = (
        doc_shingle_keys(docs, "doc_id", "text", n=8)
        .groupBy("shingle_md5")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    append_ledger_delta(firsts, path, n_buckets=n_buckets)
    return spark.read.parquet(path).count()


def score_time(spark, tranche, ledger_path) -> tuple[float, int, int]:
    from data_integration_openfoodfacts_spark.operators.novelty import (
        doc_shingle_keys,
    )
    from data_integration_openfoodfacts_spark.operators.novelty_ledger import (
        score_shingled_tranche_against_ledger,
    )

    t0 = time.perf_counter()
    sh = doc_shingle_keys(tranche, "doc_id", "text", n=8).localCheckpoint(
        eager=True
    )
    per_doc, new_firsts = score_shingled_tranche_against_ledger(
        sh, ledger_path, "doc_id"
    )
    n_new = new_firsts.count()
    n_docs = per_doc.count()
    return time.perf_counter() - t0, n_docs, n_new


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    n_buckets = int(sys.argv[2]) if len(sys.argv) > 2 else 256
    from data_integration_openfoodfacts_spark.session import get_spark

    spark = get_spark("bench-scaling-novelty")
    spark.sparkContext.setLogLevel("ERROR")

    tmp = tempfile.mkdtemp(prefix="novelty_probe_")
    base_path = f"{tmp}/ledger_base"
    big_path = f"{tmp}/ledger_x{k}"
    try:
        base_docs = decorrelated_docs(spark, SF_DIR, 1)
        big_docs = decorrelated_docs(spark, SF_DIR, k)
        rows_base = build_ledger(spark, base_docs, base_path, n_buckets)
        rows_big = build_ledger(spark, big_docs, big_path, n_buckets)

        out = {}
        for tag, n_docs in (("fixed", None), ("micro", 5), ("skew", None)):
            if tag == "skew":
                tranche = skew_tranche(spark).localCheckpoint(eager=True)
            else:
                tranche = probe_tranche(
                    spark, SF_DIR, n_docs
                ).localCheckpoint(eager=True)
            # warm both paths once, then min-of-2 timed runs
            score_time(spark, tranche, base_path)
            base_sec = min(
                score_time(spark, tranche, base_path)[0]
                for _ in range(2)
            )
            score_time(spark, tranche, big_path)
            best, nd, nn = None, None, None
            for _ in range(2):
                s, nd, nn = score_time(spark, tranche, big_path)
                best = s if best is None else min(best, s)
            entry = {
                "base_sec": round(base_sec, 2),
                f"x{k}_sec": round(best, 2),
                "growth": round(best / base_sec, 2),
                "ledger_rows_base": rows_base,
                "ledger_rows_big": rows_big,
                "tranche_docs": nd,
                "tranche_new_firsts": nn,
                "n_buckets": n_buckets,
            }
            from data_integration_openfoodfacts_spark.operators.novelty import (  # noqa: E501
                doc_shingle_keys,
            )
            from data_integration_openfoodfacts_spark.operators.novelty_ledger import (  # noqa: E501
                kb_of,
            )

            entry["buckets_touched"] = (
                doc_shingle_keys(tranche, "doc_id", "text", n=8)
                .select(kb_of("shingle_md5", n_buckets))
                .distinct()
                .count()
            )
            out[tag] = entry
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SCALING_LLM.json",
    )
    suffix = "" if k == 10 else f"_k{k}"
    rep = json.load(open(path))
    rep["queries"]["q159_novelty_ledger_fixed_tranche" + suffix] = out["fixed"]
    rep["queries"]["q159_novelty_ledger_micro_tranche" + suffix] = out["micro"]
    rep["queries"]["q159_novelty_ledger_skew_tranche" + suffix] = out["skew"]
    json.dump(rep, open(path, "w"), indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
