"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed by Arrow-batched ``mapInPandas``.

The container has no image/audio codecs, so every operator here is
codec-free: byte histograms and byte n-gram SimHash work on the raw
payload. Everything Spark-side — schema, binary payload handling,
Arrow batch shapes, partition behavior — is real and tested.

Scale posture: media bytes never leave the executor JVM except as Arrow
batches into the Python worker; no driver collects; per-batch vectorized
numpy work. For 100 TB of media the table should be bucketed by content
hash so re-processing after a code change co-locates with prior feature
tables.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("media_type", StringType()),  # image | audio | video
        StructField("payload", BinaryType()),
        StructField(
            "meta",
            StructType(
                [
                    StructField("source_uri", StringType()),
                    StructField("n_bytes", LongType()),
                    StructField("content_md5", StringType()),
                ]
            ),
        ),
    ]
)


def attach_fake_media(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Manufacture a deterministic media table from a text column (the
    test harness has no real media): payload = utf-8 bytes, typed meta."""
    payload = F.encode(F.col(text_col), "utf-8")
    return df.select(
        F.col(id_col).alias("media_id"),
        (
            F.when(F.col(id_col) % 3 == 0, F.lit("image"))
            .when(F.col(id_col) % 3 == 1, F.lit("audio"))
            .otherwise(F.lit("video"))
        ).alias("media_type"),
        payload.alias("payload"),
        F.struct(
            F.concat(F.lit("synthetic://"), F.col(id_col).cast("string")).alias(
                "source_uri"
            ),
            F.length(payload).cast("long").alias("n_bytes"),
            F.md5(payload).alias("content_md5"),
        ).alias("meta"),
    )


def extract_byte_features(df: DataFrame, n_buckets: int = 8) -> DataFrame:
    """Byte-histogram feature vector per payload (real computation, no
    codec needed): fraction of bytes landing in each of ``n_buckets``
    equal-width buckets. Arrow-batched pandas UDF, vectorized numpy."""
    from pyspark.sql.functions import pandas_udf

    def make_histogram():
        def hist_series(batch):
            import numpy as np
            import pandas as pd

            out = []
            for payload in batch:
                if payload is None:
                    out.append([0.0] * n_buckets)
                    continue
                a = np.frombuffer(payload, dtype=np.uint8)
                if a.size == 0:
                    out.append([0.0] * n_buckets)
                    continue
                counts, _ = np.histogram(a, bins=n_buckets, range=(0, 256))
                out.append((counts / a.size).tolist())
            return pd.Series(out)

        return pandas_udf(hist_series, ArrayType(DoubleType()))

    hist = make_histogram()
    return df.select(
        "media_id",
        "media_type",
        F.col("meta.n_bytes").alias("n_bytes"),
        hist(F.col("payload")).alias("byte_histogram"),
    )


def binary_simhash(
    df: DataFrame,
    id_col: str = "media_id",
    payload_col: str = "payload",
    ngram_bytes: int = 4,
    bits: int = 16,
) -> DataFrame:
    """Codec-free near-duplicate fingerprint for OPAQUE binary
    payloads: SimHash over distinct byte n-grams — the multimodal
    answer to "this crawl re-fetched the same image with a few bytes
    of EXIF churn" that needs no decoder at all (exact dedup has
    `meta.content_md5`; this catches the almost-equal payloads).

    Arrow pass (round 14): ONE `mapInPandas` over exactly
    (id, payload) computes each payload's distinct-gram ±1 bit votes
    in place — numpy windows the bytes,
    dedups grams per row, and md5 (hashlib over the SAME uppercase-hex
    gram string `F.hex` produced, so hashes are bit-identical to the
    old JVM plan and to DuckDB's `hex()`) runs once per TASK-unique
    gram behind a dict cache instead of once per (payload, gram). The
    old JVM shape materialized ~n_bytes gram rows per payload (~16x
    payload bytes through a Generate + a distinct exchange) before the
    vote agg; the Arrow pass ships each payload across the Python
    boundary once and emits ONE partial-vote row per payload, so the
    only shuffle left is the final map-side-combined groupBy(id) of
    ``bits``-column partials. Payloads shorter than ``ngram_bytes``
    carry no gram and drop out (no fingerprint is honest — there is
    nothing to vote).

    Precondition (shared with `similarity_dedup.word_shingles`, and
    true of every media frame here — ``id_col`` is the media PK): one
    payload row per non-null id. The partial-vote sum then equals the
    old global (id, gram)-distinct vote exactly; ids repeated across
    rows would instead vote grams shared BETWEEN their rows once per
    row, and null ids would all fold into one group. Both RAISE: the
    final aggregate also counts the partial rows per id, and the
    fingerprint of a null id or of an id with more than one voting row
    is a ``raise_error`` (same job, same single exchange).
    """
    from functools import reduce
    from operator import add

    if bits > 63:
        raise ValueError(
            "simhash projects vote signs onto BIGINT bit positions; "
            f"bits={bits} would overflow the 1 << b literal"
        )
    n = int(ngram_bytes)
    nbits = int(bits)
    out_schema = StructType(
        [StructField("__id", LongType())]
        + [StructField(f"s{b}", LongType()) for b in range(nbits)]
    )

    def vote_batches(batches: Iterator) -> Iterator:
        import hashlib

        import numpy as np
        import pandas as pd

        mod = 1 << nbits
        shifts = np.arange(nbits, dtype=np.int64)
        # task-level gram -> ±1 vote-vector cache: md5 runs once per
        # distinct gram seen by this task, not once per occurrence
        votes_of: dict[bytes, "np.ndarray"] = {}

        def _row_votes(payload) -> "np.ndarray | None":
            if payload is None:
                return None
            raw = bytes(payload)
            if len(raw) < n:
                return None
            a = np.frombuffer(raw, dtype=np.uint8)
            w = np.lib.stride_tricks.sliding_window_view(a, n)
            uniq = np.unique(np.ascontiguousarray(w).view(f"V{n}"))
            s = np.zeros(nbits, dtype=np.int64)
            for gv in uniq:
                g = gv.tobytes()
                v = votes_of.get(g)
                if v is None:
                    hx = g.hex().upper().encode("ascii")
                    h = int(
                        hashlib.md5(hx).hexdigest()[:15], 16
                    ) % mod
                    v = ((h >> shifts) & 1) * 2 - 1
                    votes_of[g] = v
                s += v
            return s

        for pdf in batches:
            ids, cols = [], []
            for mid, payload in zip(pdf["__id"], pdf["__payload"]):
                s = _row_votes(payload)
                if s is None:
                    continue
                ids.append(mid)
                cols.append(s)
            # nullable: a null id must reach the final check, not
            # fail an int cast inside the worker
            out = {"__id": pd.Series(ids, dtype="Int64")}
            arr = (
                np.vstack(cols)
                if cols
                else np.zeros((0, nbits), dtype=np.int64)
            )
            for b in range(nbits):
                out[f"s{b}"] = pd.Series(arr[:, b], dtype="int64")
            yield pd.DataFrame(out)

    partials = df.select(
        F.col(id_col).cast("long").alias("__id"),
        F.col(payload_col).alias("__payload"),
    ).mapInPandas(vote_batches, out_schema)
    bitsums = partials.groupBy("__id").agg(
        *[F.sum(f"s{b}").alias(f"s{b}") for b in range(nbits)],
        F.count(F.lit(1)).alias("__rows"),
    )
    simhash = reduce(
        add,
        [
            F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
            for b in range(nbits)
        ],
    )
    bad_id = F.col("__id").isNull() | (F.col("__rows") > 1)
    checked = F.when(
        bad_id,
        F.raise_error(
            F.concat(
                F.lit(f"binary_simhash needs one payload row per non-null "
                      f"{id_col}; got "),
                F.col("__rows").cast("string"),
                F.lit(" rows for id "),
                F.coalesce(F.col("__id").cast("string"), F.lit("NULL")),
            )
        ),
    ).otherwise(simhash.cast("long"))
    return bitsums.select(
        F.col("__id").alias(id_col), checked.alias("simhash")
    )
