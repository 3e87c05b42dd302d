"""Incremental-CC scale probe (round 12, q200's operator).

Scenario measured: a corpus at 10x holds persisted (doc, component)
labels; one tranche (the base-corpus-sized 10% slice) arrives with
its new candidate edges. Compare folding the delta in with
`merge_components` (component-graph CC + broadcast mapping over the
ledger) against re-running batch CC over the FULL pair set — the
from-scratch cost the incremental path avoids. Pair generation is
charged to neither side (q128's incremental matcher owns that); both
sides start from materialized edge lists.

    python tools/bench_scaling_incremental_cc.py [K] [probe_dir]
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

from tools.bench_scaling_llm import SF_DIR, replicate  # noqa: E402


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    probe_dir = (
        sys.argv[2]
        if len(sys.argv) > 2
        else tempfile.mkdtemp(prefix="inccc_")
    )
    own_tmp = len(sys.argv) <= 2

    from data_integration_openfoodfacts_spark.operators.graph import (
        connected_components,
    )
    from data_integration_openfoodfacts_spark.operators.graph_incremental import (  # noqa: E501
        merge_components,
    )
    from data_integration_openfoodfacts_spark.operators.similarity_dedup import (  # noqa: E501
        minhash_lsh_pairs,
    )
    from data_integration_openfoodfacts_spark.session import get_spark

    spark = get_spark(
        "inccc12",
        extra_conf={
            "spark.sql.warehouse.dir": "/tmp/inccc12wh",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    replicate(spark, SF_DIR, probe_dir, k)
    docs = spark.read.parquet(f"{probe_dir}/documents.parquet")
    n_docs = docs.count()

    # replica 0 keeps original text; treat replica k-1 as the arriving
    # tranche (decorrelated: its pairs never cross replicas, so the
    # delta is tranche-internal — the common case; boundary-crossing
    # merges are pinned functionally by the unit tests and q200)
    shift = 10**9
    tranche_lo = (k - 1) * shift
    pairs = (
        minhash_lsh_pairs(
            docs, "doc_id", "text", n=3, num_hashes=8, band_size=2
        )
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    n_pairs = pairs.count()
    is_new = lambda c: F.col(c) >= tranche_lo  # noqa: E731
    old_pairs = pairs.filter(
        ~is_new("id_a") & ~is_new("id_b")
    ).localCheckpoint(eager=True)
    new_pairs = pairs.filter(
        is_new("id_a") | is_new("id_b")
    ).localCheckpoint(eager=True)
    n_new = new_pairs.count()

    old_docs = docs.filter(~is_new("doc_id")).select(
        F.col("doc_id").alias("node")
    )
    cc_old = connected_components(old_pairs, "id_a", "id_b")
    labels = (
        old_docs.join(cc_old, "node", "left")
        .withColumn("component", F.coalesce("component", F.col("node")))
        .localCheckpoint(eager=True)
    )
    labels.count()

    t0 = time.perf_counter()
    merged = merge_components(
        labels, new_pairs, src="id_a", dst="id_b"
    )
    merged.write.format("noop").mode("overwrite").save()
    merge_sec = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    full = connected_components(pairs, "id_a", "id_b")
    full.write.format("noop").mode("overwrite").save()
    batch_sec = round(time.perf_counter() - t0, 2)

    # value check: merged labels == batch labels on the merged domain
    diff = (
        merged.withColumnRenamed("component", "m")
        .join(full.withColumnRenamed("component", "b"), "node")
        .filter(F.col("m") != F.col("b"))
        .count()
    )

    res = {
        "k": k,
        "docs": n_docs,
        "pairs": n_pairs,
        "delta_pairs": n_new,
        "merge_delta_sec": merge_sec,
        "batch_full_sec": batch_sec,
        "speedup": round(batch_sec / merge_sec, 2) if merge_sec else None,
        "label_mismatches": diff,
    }

    # The LSH graph above is too small for wall to track edge volume
    # (CC wall at <25k edges is driver-round latency, measured ~equal
    # either way) — the cost driver at 100 TB is the PER-ROUND SHUFFLE
    # of the edge set. Synthetic section: a 4M-edge graph vs a
    # 5k-edge delta, where that term dominates.
    n_nodes, n_edges, n_delta = 2_000_000, 4_000_000, 5_000
    big = (
        spark.range(n_edges)
        .select(
            (F.xxhash64(F.col("id")) % n_nodes).alias("u"),
            (F.xxhash64(F.col("id") + n_edges) % n_nodes).alias("v"),
        )
        .select(F.abs("u").alias("id_a"), F.abs("v").alias("id_b"))
        .localCheckpoint(eager=True)
    )
    big.count()
    nodes = (
        big.select(F.col("id_a").alias("node"))
        .union(big.select(F.col("id_b").alias("node")))
        .distinct()
    )
    t0 = time.perf_counter()
    cc_big = connected_components(big, "id_a", "id_b")
    labels_big = (
        nodes.join(cc_big, "node", "left")
        .withColumn("component", F.coalesce("component", F.col("node")))
        .localCheckpoint(eager=True)
    )
    labels_big.count()
    seed_sec = round(time.perf_counter() - t0, 2)  # yesterday's batch cost
    delta = (
        spark.range(n_delta)
        .select(
            F.abs(F.xxhash64(F.col("id") + 7) % n_nodes).alias("id_a"),
            (F.abs(F.xxhash64(F.col("id") + 13) % n_nodes)
             + n_nodes).alias("id_b"),  # half the endpoints are new
        )
        .localCheckpoint(eager=True)
    )
    delta.count()
    t0 = time.perf_counter()
    merge_components(
        labels_big, delta, src="id_a", dst="id_b"
    ).write.format("noop").mode("overwrite").save()
    merge_big_sec = round(time.perf_counter() - t0, 2)
    t0 = time.perf_counter()
    connected_components(
        big.union(delta), "id_a", "id_b"
    ).write.format("noop").mode("overwrite").save()
    batch_big_sec = round(time.perf_counter() - t0, 2)
    res["synthetic_4m_edges"] = {
        "nodes": n_nodes,
        "edges": n_edges,
        "delta_edges": n_delta,
        "batch_seed_sec": seed_sec,
        "merge_delta_sec": merge_big_sec,
        "batch_full_sec": batch_big_sec,
        "speedup": round(batch_big_sec / merge_big_sec, 2),
    }
    out_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SCALING_LLM.json",
    )
    merged_json = json.load(open(out_path))
    # default round12 (the original probe home); re-runs after a code
    # change land under their own round key for before/after audit
    round_key = os.environ.get("SPARK_GRAFT_PROBE_ROUND", "round12")
    merged_json.setdefault(round_key, {})["incremental_cc"] = res
    with open(out_path, "w") as f:
        json.dump(merged_json, f, indent=1)
        f.write("\n")
    print(json.dumps(res, indent=1))
    if own_tmp:
        shutil.rmtree(probe_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
