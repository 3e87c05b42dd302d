"""Data-scale-up probe: how does query wall time grow when the FACT
data grows K-fold (dims fixed, like a real warehouse)?

Replicates the sf0.1 fact tables (lineitem, orders, events) K times
with PRIMARY-key remapping (each replica gets a disjoint key range,
so dedup-group and fact-to-fact-join cardinalities scale — K times
MORE groups, not K-times-fatter), writes them once to a scratch dir,
then times a probe set at 1x and Kx (min of 2 runs each, noop sink).

Dimension FOREIGN keys (partkey/suppkey/custkey) are deliberately NOT
shifted — dims stay fixed like a real warehouse, so dim joins remain
valid at Kx. Event timestamps are also unshifted: time-window probes
(q27) therefore measure the fatter-groups regime (same windows, K
times the rows), which is the realistic shape for a fixed calendar.

Sub-linear growth (ratio << K) is the evidence that fixed overheads
amortize and the plans stay shuffle-minimal — the property that
carries to a 1000-executor cluster.

    python tools/bench_scaling.py [K] [probe_dir]
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
#: probe queries: scan-agg, star join, window dedup, UDF chain,
#: time windows, TPC-H pricing summary, big-big join, CMS sketch
PROBES = [
    "q1_brand_return_ratio",
    "q5_anomaly_scan",
    "q8_events_keep_latest",
    "q14_derived_measures",
    "q27_windowed_event_stats",
    "q32_pricing_summary",
    "q33_shipping_priority",
    "q99_returned_items",
    "q112_shipmode_priority",
    "q123_cms_heavy_hitters",
]
#: PRIMARY/user keys shifted per replica so cardinalities scale; dim
#: FKs (o_custkey, l_partkey, l_suppkey) stay in range of the copied,
#: unreplicated dims so dim joins don't silently empty out at Kx.
KEY_SHIFTS = {
    "lineitem": ["l_orderkey"],
    "orders": ["o_orderkey"],
    "events": ["event_id", "user_id"],
}
SHIFT = 10**9


def replicate(spark, src: str, dst: str, k: int) -> None:
    os.makedirs(dst, exist_ok=True)
    for name in (
        "region nation customer supplier part documents embeddings".split()
    ):
        s, d = f"{src}/{name}.parquet", f"{dst}/{name}.parquet"
        if os.path.isdir(s):  # Spark-written directory-form dataset
            shutil.copytree(s, d, dirs_exist_ok=True)
        else:
            shutil.copy(s, d)
    for name, keys in KEY_SHIFTS.items():
        df = spark.read.parquet(f"{src}/{name}.parquet")
        rep = df.withColumn(
            "__rep", F.explode(F.array(*[F.lit(i) for i in range(k)]))
        )
        for key in keys:
            rep = rep.withColumn(
                key, F.col(key) + F.col("__rep").cast("long") * SHIFT
            )
        rep.drop("__rep").write.mode("overwrite").parquet(
            f"{dst}/{name}.parquet"
        )


def time_query(fn, spark, sf_dir: str) -> float:
    best = float("inf")
    for _ in range(2):
        t = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        best = min(best, time.perf_counter() - t)
    return round(best, 2)


def main() -> None:
    from data_integration_openfoodfacts_spark.plans.registry import QUERIES
    from data_integration_openfoodfacts_spark.session import get_spark

    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    spark = get_spark("bench-scaling")
    spark.sparkContext.setLogLevel("ERROR")
    scratch = (
        sys.argv[2]
        if len(sys.argv) > 2
        else tempfile.mkdtemp(prefix="scaleprobe_")
    )
    print(f"replicating facts {k}x -> {scratch}", file=sys.stderr)
    replicate(spark, SF_DIR, scratch, k)
    out = {"k": k, "base_sf_dir": SF_DIR, "queries": {}}
    for name in PROBES:
        base = time_query(QUERIES[name], spark, SF_DIR)
        big = time_query(QUERIES[name], spark, scratch)
        out["queries"][name] = {
            "base_sec": base,
            f"x{k}_sec": big,
            "growth": round(big / base, 2) if base > 0 else None,
        }
        print(f"{name}: {base}s -> {big}s ({out['queries'][name]['growth']}x)",
              file=sys.stderr)
    print(json.dumps(out))
    if scratch.startswith(tempfile.gettempdir()):
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
