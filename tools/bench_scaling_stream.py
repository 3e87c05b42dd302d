"""Streaming STATE-scale probe: measure state-store rows/bytes of the
windowed event aggregation across a 10x key-cardinality step, instead
of asserting the eviction story (round-5 VERDICT #5 — the streaming
counterpart of SCALING_LLM.json).

On deterministic synthetic event files (one file per event-time hour,
streamed with maxFilesPerTrigger=1 so every micro-batch advances the
watermark), ``windowed_event_stats`` (1h tumbling agg, append mode)
must hold peak state rows at the open-window x event-type cardinality
— independent of the number of events per hour.

Run: ``python tools/bench_scaling_stream.py`` (~1-2 min) — prints one
JSON document. The committed SCALING_STREAM.json also holds ``dedup_*``
cases for a watermarked dedup stream operator; the package and this
tool dropped that operator after commit c81fa34, where the tool that
produced them still runs.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE_TS = "2026-01-01 00:00:00"


def write_hourly_files(spark, root: str, hours: int, keys_per_hour: int):
    """One parquet file per event-time hour: keys_per_hour distinct
    event_ids, 4 event types, deterministic values."""
    from pyspark.sql import functions as F

    os.makedirs(root)
    for h in range(hours):
        df = (
            spark.range(keys_per_hour)
            .select(
                (F.lit(h) * keys_per_hour + F.col("id")).alias("event_id"),
                (
                    F.to_timestamp(F.lit(BASE_TS))
                    + F.make_interval(hours=F.lit(h))
                    + F.make_interval(secs=F.col("id") % 3600)
                ).alias("ts"),
                (F.col("id") % 97).alias("user_id"),
                F.element_at(
                    F.array(
                        F.lit("view"), F.lit("click"),
                        F.lit("purchase"), F.lit("refund"),
                    ),
                    (F.col("id") % 4 + 1).cast("int"),
                ).alias("event_type"),
                (F.col("id") % 1000).cast("double").alias("value"),
                F.lit(None).cast("string").alias("props"),
            )
        )
        df.coalesce(1).write.parquet(os.path.join(root, f"h{h:03d}"))
    # flatten: the file source lists files, one dir per hour is fine if
    # we glob; simpler to move each part file up under a sortable name
    for h in range(hours):
        d = os.path.join(root, f"h{h:03d}")
        part = next(f for f in os.listdir(d) if f.endswith(".parquet"))
        os.rename(
            os.path.join(d, part), os.path.join(root, f"h{h:03d}.parquet")
        )
        shutil.rmtree(d)


def run_case(spark, src: str, work: str, name: str, transform):
    """Stream src one file per trigger; return per-batch state rows and
    bytes from the progress stateOperators."""
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        transform(stream)
        .writeStream.format("noop")
        .outputMode("append")
        .option("checkpointLocation", os.path.join(work, f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows, bytes_ = [], []
    for p in q.recentProgress:
        for op in p.get("stateOperators", []):
            rows.append(op["numRowsTotal"])
            bytes_.append(op["memoryUsedBytes"])
    return {
        "batches": len(q.recentProgress),
        "state_rows_per_batch": rows,
        "peak_state_rows": max(rows) if rows else 0,
        "final_state_rows": rows[-1] if rows else 0,
        "peak_state_bytes": max(bytes_) if bytes_ else 0,
    }


def main() -> None:
    from data_integration_openfoodfacts_spark.session import get_spark
    from data_integration_openfoodfacts_spark.streaming.events_stream import (
        windowed_event_stats,
    )

    spark = get_spark("bench-scaling-stream")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="stream_state_")

    corpora = {
        "12h_1k": (12, 1000),
        "12h_10k": (12, 10000),
    }
    for cname, (hours, kph) in corpora.items():
        write_hourly_files(
            spark, os.path.join(work, cname), hours, kph
        )

    results = {}
    cases = [
        # (case name, corpus, transform)
        ("windowed_w2h_12h_1k", "12h_1k",
         lambda s: windowed_event_stats(s, watermark="2 hours")),
        ("windowed_w2h_12h_10k", "12h_10k",
         lambda s: windowed_event_stats(s, watermark="2 hours")),
    ]
    for name, corpus, transform in cases:
        results[name] = run_case(
            spark, os.path.join(work, corpus), work, name, transform
        )

    def ratio(a, b):
        pa = results[a]["peak_state_rows"]
        pb = results[b]["peak_state_rows"]
        return round(pa / pb, 2) if pb else None

    summary = {
        # windowed agg state is open-windows x event-types: 10x events
        # per hour must NOT move it
        "windowed_peak_ratio_10x_keys": ratio(
            "windowed_w2h_12h_10k", "windowed_w2h_12h_1k"
        ),
    }
    shutil.rmtree(work, ignore_errors=True)
    print(
        json.dumps(
            {
                "metric": "streaming_state_scale",
                "corpora": {
                    k: {"hours": h, "keys_per_hour": kp}
                    for k, (h, kp) in corpora.items()
                },
                "cases": results,
                "summary": summary,
            },
            indent=1,
        )
    )


if __name__ == "__main__":
    main()
