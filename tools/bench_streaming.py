"""Streaming throughput benchmark: events/sec through the windowed
aggregation and sessionization paths, availableNow over replicated
event files. Prints one JSON line.

Usage: python tools/bench_streaming.py [replications]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    from pyspark.sql import functions as F

    from data_integration_openfoodfacts_spark.session import get_spark
    from data_integration_openfoodfacts_spark.sources.parquet_source import (
        load_events,
    )
    from data_integration_openfoodfacts_spark.streaming.events_stream import (
        sessionized_events,
        windowed_event_stats,
    )

    spark = get_spark("bench-streaming")
    spark.sparkContext.setLogLevel("ERROR")

    work = tempfile.mkdtemp(prefix="stream_bench_")
    src = os.path.join(work, "src")
    os.makedirs(src)
    ev = load_events(spark, "/root/testdata/sf0.1").drop("ts_ns")
    n_events = ev.count() * reps
    base = os.path.join(work, "base")
    ev.coalesce(4).write.parquet(base)
    files = [f for f in os.listdir(base) if f.endswith(".parquet")]
    for r in range(reps):
        for i, f in enumerate(files):
            shutil.copy(
                os.path.join(base, f), os.path.join(src, f"r{r}_{i}.parquet")
            )

    results = {}
    for name, transform, mode in [
        ("windowed_stats", windowed_event_stats, "complete"),
        ("sessionization", sessionized_events, "complete"),
    ]:
        stream = spark.readStream.schema(ev.schema).parquet(src)
        t0 = time.perf_counter()
        q = (
            transform(stream)
            .writeStream.format("noop")
            .outputMode(mode)
            .option("checkpointLocation", os.path.join(work, f"ckpt_{name}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        dt = time.perf_counter() - t0
        results[name] = {
            "sec": round(dt, 2),
            "events_per_sec": int(n_events / dt),
        }

    shutil.rmtree(work, ignore_errors=True)
    print(
        json.dumps(
            {
                "metric": "streaming_throughput",
                "n_events": n_events,
                "unit": "events/sec",
                "paths": results,
            }
        )
    )


if __name__ == "__main__":
    main()
