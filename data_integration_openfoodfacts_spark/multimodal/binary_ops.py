"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed by Arrow-batched ``mapInPandas``.

The container has no image/audio codecs, so the decode step is STUBBED:
``decode_media(..., fake=False)`` raises NotImplementedError where a
real deployment would call PIL/ffmpeg; ``fake=True`` substitutes a
deterministic byte-statistics decode. Everything Spark-side — schema,
binary payload handling, Arrow batch shapes, partition behavior — is
real and tested.

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


#: stub decode contract shared by decode_media and resize_media — ONE
#: definition so the two can't silently desynchronize
_STUB_CODEC_MSG = (
    "media codecs unavailable in this container; "
    "pass fake=True for the deterministic stub decode"
)


def _stub_dims(n_bytes: int) -> tuple[int, int, int]:
    """Deterministic (width, height, channels) implied by the payload
    byte length."""
    return (n_bytes % 640 + 1, n_bytes % 480 + 1, 3)


DECODED_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("media_type", StringType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("n_channels", LongType()),
    ]
)


def decode_media(df: DataFrame, fake: bool = False) -> DataFrame:
    """Decode payloads to (width, height, channels) via mapInPandas.

    With ``fake=False`` this raises NotImplementedError inside the UDF —
    a real deployment plugs PIL/libav into ``_decode_one``. The fake
    decode derives dimensions deterministically from the byte length.
    """

    def decode_batches(batches: Iterator) -> Iterator:
        import pandas as pd

        def _decode_one(payload, fake_flag: bool):
            if payload is None:
                return (None, None, None)  # undecodable row, not a crash
            if not fake_flag:
                raise NotImplementedError(_STUB_CODEC_MSG)
            return _stub_dims(len(payload))

        for pdf in batches:
            dims = [_decode_one(p, fake) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "width": [d[0] for d in dims],
                    "height": [d[1] for d in dims],
                    "n_channels": [d[2] for d in dims],
                }
            )

    return df.mapInPandas(decode_batches, DECODED_SCHEMA)


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


def sample_frames(
    df: DataFrame, frame_bytes: int = 64, stride: int = 2
) -> DataFrame:
    """'Video' frame sampling over a binary payload: split into
    fixed-size frames, keep every ``stride``-th. Pure Spark (no UDF):
    byte slicing via substring on binary — one row per sampled frame."""
    n_frames = F.floor(F.col("meta.n_bytes") / frame_bytes).cast("int")
    idx = F.explode(
        F.when(n_frames > 0, F.sequence(F.lit(0), n_frames - 1, F.lit(stride)))
        .otherwise(F.array().cast("array<int>"))
    ).alias("frame_idx")
    return df.filter(F.col("media_type") == "video").select(
        "media_id", idx, "payload"
    ).select(
        "media_id",
        "frame_idx",
        F.substring(
            F.col("payload"), F.col("frame_idx") * frame_bytes + 1, frame_bytes
        ).alias("frame_bytes"),
    )


RESIZED_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("media_type", StringType()),
        StructField("out_width", LongType()),
        StructField("out_height", LongType()),
        StructField("n_channels", LongType()),
        StructField("pixels", BinaryType()),
    ]
)


def resize_media(
    df: DataFrame, out_w: int = 8, out_h: int = 8, fake: bool = False
) -> DataFrame:
    """Nearest-neighbor image resize via mapInPandas — the Spark-side
    plumbing (schema, batching, per-row numpy) is real; only the codec
    is stubbed. ``fake=False`` raises NotImplementedError inside the
    UDF (a real deployment decodes with PIL there); the fake path
    materializes the SAME (h, w, c) pixel buffer the stub decode
    implies (payload bytes tiled to w*h*c) and runs the real
    nearest-neighbor index-gather over it, so the resampling math is
    fully exercised and deterministic without any codec.

    Scale: narrow Arrow-batched transform, no shuffle; output rows
    carry out_w*out_h*c bytes regardless of input size (the decode
    buffer never leaves the task)."""

    def resize_batches(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        def _one(payload):
            if payload is None:
                return (None, None, None, None)
            if not fake:
                raise NotImplementedError(_STUB_CODEC_MSG)
            w, h, c = _stub_dims(len(payload))
            raw = np.frombuffer(bytes(payload), dtype=np.uint8)
            buf = np.resize(raw, w * h * c).reshape(h, w, c)
            yi = (np.arange(out_h) * h) // out_h
            xi = (np.arange(out_w) * w) // out_w
            out = buf[yi][:, xi]
            return (out_w, out_h, c, out.tobytes())

        for pdf in batches:
            res = [_one(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "media_type": pdf["media_type"],
                    "out_width": [r[0] for r in res],
                    "out_height": [r[1] for r in res],
                    "n_channels": [r[2] for r in res],
                    "pixels": [r[3] for r in res],
                }
            )

    return df.mapInPandas(resize_batches, RESIZED_SCHEMA)


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

    Arrow pass (round 14; the ``decode_media`` shape): ONE
    `mapInPandas` over exactly (id, payload) computes each payload's
    distinct-gram ±1 bit votes in place — numpy windows the bytes,
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
    payload row per id. The partial-vote sum then equals the old
    global (id, gram)-distinct vote exactly; ids repeated across rows
    would instead vote grams shared BETWEEN their rows once per row.
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
            out = {"__id": pd.Series(ids, dtype="int64")}
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
        *[F.sum(f"s{b}").alias(f"s{b}") for b in range(nbits)]
    )
    simhash = reduce(
        add,
        [
            F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
            for b in range(nbits)
        ],
    )
    return bitsums.select(
        F.col("__id").alias(id_col), simhash.cast("long").alias("simhash")
    )
