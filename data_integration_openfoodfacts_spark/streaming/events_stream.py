"""Structured Streaming: the reference's documented-but-unimplemented
incremental/CDC mode (docs/architecture_notes.md:263-331 — watermark on
the modification timestamp, MERGE upserts), realized with public Spark
streaming primitives over the ``events`` table shape.

Design notes (scale-first):
- file-source ``readStream`` + ``availableNow`` gives incremental batch
  over a growing directory — the 100 TB ingest pattern (each micro-batch
  processes only new files);
- watermarks bound state: late events beyond the horizon are dropped and
  window state is evicted — without this, 100 TB of stream state OOMs;
- ``session_window`` is the built-in sessionization operator (no custom
  state needed); ``transformWithStateInPandas``/``applyInPandasWithState``
  remain the escape hatch for truly custom state machines.

The aggregations are batch/stream agnostic: the same function works on a
batch DataFrame (used by the q27 oracle check) and a streaming one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_event_stats(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str | None = "2 hours",
    slide: str | None = None,
) -> DataFrame:
    """Tumbling (default) or hopping (``slide`` < ``window``) window
    counts + exact value sums per event type.

    Works identically on batch and streaming inputs; on streams the
    watermark bounds state and handles late data. With a slide each
    event lands in window/slide overlapping windows — Spark expands
    the assignment map-side (no self-join), which is why hopping
    windows stay one shuffle at any scale.
    """
    df = events
    if watermark and events.isStreaming:
        df = df.withWatermark("ts", watermark)
    w = (
        F.window("ts", window, slide) if slide else F.window("ts", window)
    )
    return (
        df.groupBy(
            w.alias("w"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("nb_events"),
            (
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_value"),
        )
        .select(
            F.col("w.start").cast("string").alias("window_start"),
            "event_type",
            "nb_events",
            "avg_value",
        )
    )


def sessionized_events(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str | None = "2 hours",
) -> DataFrame:
    """Per-user session windows (gap-based) via the built-in
    ``session_window`` operator: a new session starts when a user is
    idle longer than ``gap``."""
    df = events
    if watermark and events.isStreaming:
        df = df.withWatermark("ts", watermark)
    return (
        df.groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("nb_events"),
            F.min("event_id").alias("first_event_id"),
            F.max("event_id").alias("last_event_id"),
        )
        .select(
            F.col("w.start").cast("string").alias("session_start"),
            F.col("w.end").cast("string").alias("session_end"),
            "user_id",
            "nb_events",
            "first_event_id",
            "last_event_id",
        )
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    left_ts: str,
    right_ts: str,
    max_gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream (or batch) INTERVAL join: each left event matches
    right events of the same key that precede it by at most ``max_gap``
    (right_ts <= left_ts <= right_ts + max_gap, both bounds inclusive).

    Batch/stream agnostic like the aggregations above. On streams this
    is Spark's watermarked stream-stream inner join: BOTH sides get
    event-time watermarks and the join condition time-bounds the match,
    so join state is evicted once the watermark passes right_ts +
    max_gap — without the time bound, stream-stream join state grows
    forever (the 100 TB failure mode). Inner matches emit immediately;
    the watermark only governs state cleanup and late-data drop.

    Column names must not collide across sides (alias before joining);
    both key columns are kept for the caller to project away.
    """
    l = left.withWatermark(left_ts, watermark) if left.isStreaming else left
    r = (
        right.withWatermark(right_ts, watermark)
        if right.isStreaming
        else right
    )
    cond = (
        (l[left_key] == r[right_key])
        & (r[right_ts] <= l[left_ts])
        & (l[left_ts] <= r[right_ts] + F.expr(f"INTERVAL {max_gap}"))
    )
    return l.join(r, cond, "inner")
