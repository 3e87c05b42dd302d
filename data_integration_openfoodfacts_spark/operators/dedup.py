"""Deduplication operators.

``dedup_keep_latest`` is the reference's canonical dedup (W1,
pipeline_etl.ipynb:425-429): one shuffle on the key, per-partition sort,
``row_number() == 1``. The reference ALSO runs a broken
``orderBy().dropDuplicates()`` pass first (O1, :325-328) whose keep-first
semantics Spark does not guarantee — we implement only the correct form.

Scale posture: the window shuffle hash-partitions by key, so it scales
linearly with data and executors; a skewed key (one product updated
millions of times) is handled MAP-SIDE by Spark >= 3.5's
``InferWindowGroupLimit`` — the ``row_number()==1`` filter becomes a
``WindowGroupLimit(Partial)`` before the shuffle, so each map task
forwards at most one row per key (measured flat across 90-99% hot keys;
see SKEW.md). No global sort, no driver collect.

Near-duplicate detection (MinHash/SimHash/Jaccard) lives in
``operators.similarity_dedup``.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dedup_keep_latest(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[Column],
) -> DataFrame:
    """Keep exactly one row per key: the first under ``order_by``.

    Callers MUST make ``order_by`` a total order (add a unique tiebreaker
    column) or goldens flap — the reference lacks a tiebreaker
    (SURVEY.md §7 "Keep-latest dedup semantics").
    """
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(*order_by)
    rn = F.row_number().over(w)
    return df.withColumn("__rn", rn).filter(F.col("__rn") == 1).drop("__rn")


def dedup_exact_segments(
    df: DataFrame,
    id_col: str,
    text_col: str,
    seg_words: int = 10,
) -> DataFrame:
    """Corpus-wide EXACT-substring dedup at word-segment granularity —
    the C4/RefinedWeb preprocessing step: any segment (window of
    ``seg_words`` consecutive words; the final one may be shorter) that
    appears anywhere earlier in the corpus is dropped, and each
    document is reassembled from its surviving segments.

    "Earlier" is the deterministic total order (doc id, segment index),
    so the first occurrence corpus-wide survives — layout-independent,
    unlike dropDuplicates' arbitrary winner.

    Scale shape: tokenize + window-slice are narrow per-row transforms;
    the only shuffles are (1) the keep-first window keyed BY SEGMENT
    TEXT — the same key a 100 TB run hashes, hot segments (boilerplate)
    are one group each — and (2) the per-document reassembly
    aggregation. No joins, nothing quadratic.

    Returns (id, text, n_segments, n_dropped) with ``text`` rebuilt
    from kept segments joined by single spaces.
    """
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n_segs = F.ceil(F.size(toks) / F.lit(seg_words)).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), n_segs - 1),
        lambda i: F.struct(
            i.alias("seg_idx"),
            F.concat_ws(
                " ", F.slice(toks, i * seg_words + 1, seg_words)
            ).alias("seg"),
        ),
    )
    exploded = (
        df.select(
            F.col(id_col), F.explode(segs).alias("s"), n_segs.alias("n_segments")
        )
        .select(
            id_col, "n_segments", F.col("s.seg_idx").alias("seg_idx"),
            F.col("s.seg").alias("seg"),
        )
    )
    w = Window.partitionBy("seg").orderBy(F.col(id_col).asc(), F.col("seg_idx").asc())
    kept = (
        exploded.withColumn("__rn", F.row_number().over(w))
        .withColumn("__keep", F.col("__rn") == 1)
    )
    return (
        kept.groupBy(F.col(id_col), F.col("n_segments"))
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("__keep"),
                                F.struct("seg_idx", "seg"),
                            )
                        )
                    ),
                    lambda s: s["seg"],
                ),
            ).alias(text_col),
            (F.col("n_segments") - F.sum(F.col("__keep").cast("long")))
            .cast("long")
            .alias("n_dropped"),
        )
        .select(
            id_col,
            text_col,
            F.col("n_segments").cast("long").alias("n_segments"),
            "n_dropped",
        )
    )
