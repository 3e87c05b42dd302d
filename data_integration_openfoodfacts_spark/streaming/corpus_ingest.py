"""Streaming document source and the MinHash band ledger.

``read_docs_stream`` is the file-source stream over document parquet
drops that the streaming screens (Bloom novelty, counting store,
retraction requests) consume. The band ledger holds one
(doc_id, band, sig) row per document per band — the near-dup index
that ``similarity_dedup.collision_ids`` probes (q202); its layout is
the shared :mod:`operators.bucketed_ledger` recipe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

DOCS_STREAM_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)

#: Band-ledger bucket layout (round-7 VERDICT stretch item — the
#: novelty_ledger recipe applied to the near-dup index): rows persist
#: hive-partitioned by ``sb = md5_long(band:sig) % BAND_LEDGER_BUCKETS``
#: so a batch's collision probe prunes the ledger read to the buckets
#: its own signatures touch (PartitionFilters at file-listing level;
#: sizing math in operators/novelty_ledger.py's module doc applies
#: verbatim).
BAND_LEDGER_BUCKETS = 64
SB_COL = "sb"


def _sb_of_buckets(n_buckets: int):
    return band_bucket(F.col("band"), F.col("sig"), n_buckets)


def band_bucket(band, sig, n_buckets: int = BAND_LEDGER_BUCKETS):
    from ..operators.similarity_dedup import md5_long

    return F.pmod(
        md5_long(F.concat(band.cast("string"), F.lit(":"), sig)),
        F.lit(n_buckets),
    ).cast("int")


def append_bands(
    rows: DataFrame, bands_path: str, n_buckets: int = BAND_LEDGER_BUCKETS
) -> None:
    """Append (doc_id, band, sig) rows to the band ledger. Layout
    mechanics are the shared helper's (:mod:`operators.bucketed_ledger`)."""
    from ..operators.bucketed_ledger import append_bucketed

    append_bucketed(
        rows.select("doc_id", "band", "sig"), bands_path, SB_COL,
        _sb_of_buckets, n_buckets,
    )


def read_docs_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    reader = spark.readStream.schema(DOCS_STREAM_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)
