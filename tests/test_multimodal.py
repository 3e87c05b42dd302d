"""Multimodal binary-column plumbing tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_integration_openfoodfacts_spark.multimodal.binary_ops import (
    attach_fake_media,
    extract_byte_features,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def media(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(30)
    return attach_fake_media(docs, "doc_id", "text").cache()


def test_media_schema_and_meta(media):
    row = media.first()
    assert row["media_type"] in ("image", "audio", "video")
    assert row["meta"]["n_bytes"] == len(row["payload"])
    assert len(row["meta"]["content_md5"]) == 32


def test_byte_features_sum_to_one(media):
    feats = extract_byte_features(media).collect()
    for r in feats:
        assert len(r["byte_histogram"]) == 8
        assert abs(sum(r["byte_histogram"]) - 1.0) < 1e-9


def test_binary_simhash_neardup_vs_disjoint(spark):
    """Codec-free payload fingerprints: byte-identical payloads share
    a fingerprint, a few-byte mutation stays within a small Hamming
    distance (shared gram mass dominates the votes), and an unrelated
    payload lands far away. Sub-4-byte payloads drop out (no gram to
    vote). Plan stays JVM-only (no BatchEvalPython)."""
    from data_integration_openfoodfacts_spark.multimodal.binary_ops import (
        binary_simhash,
    )

    base = bytes(range(48, 112)) * 4  # 256 bytes
    mutated = bytearray(base)
    mutated[100:104] = b"XYZW"  # 4-byte "EXIF churn"
    rows = [
        (1, bytes(base)),
        (2, bytes(base)),          # exact dup
        (3, bytes(mutated)),       # near dup
        (4, b"\x01\x02" * 128),    # unrelated
        (5, b"ab"),                # too short: no gram
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = binary_simhash(df, "media_id", "payload")
    got = {r["media_id"]: r["simhash"] for r in out.collect()}
    assert 5 not in got and set(got) == {1, 2, 3, 4}
    assert got[1] == got[2]
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(got[1], got[3]) <= 4, (got[1], got[3])
    assert ham(got[1], got[4]) >= 5, (got[1], got[4])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_binary_simhash_single_vote_aggregation(spark):
    """Round-14 optimization pin: gram dedup + the ±1 bit votes happen
    in ONE Arrow `mapInPandas` pass emitting a single partial-vote row
    per payload — no hex-gram Generate fan-out (~16x payload bytes
    materialized in round 13's shape), no gram-distinct exchange. Plan
    budget: exactly 1 shuffle exchange (the map-side-combined
    groupBy(id) of the partials), 0 Generate, exactly 1 MapInPandas,
    and the Arrow pass sees ONLY (id, payload) — payload-adjacent
    metadata columns must not cross the Python boundary."""
    from data_integration_openfoodfacts_spark.multimodal.binary_ops import (
        binary_simhash,
    )

    df = spark.createDataFrame(
        [(1, bytes(range(32)), "extra")],
        "media_id long, payload binary, other string",
    )
    out = binary_simhash(df, "media_id", "payload")
    plan = out._jdf.queryExecution().executedPlan().toString()
    shuffles = plan.count("Exchange") - plan.count("BroadcastExchange")
    assert shuffles == 1, plan
    assert plan.count("Generate") == 0, plan
    assert plan.count("MapInPandas") == 1, plan
    assert "other" not in plan.split("MapInPandas", 1)[1].split(
        "\n", 1
    )[0], plan


def test_binary_simhash_values_match_jvm_reference(spark):
    """Value pin for the round-14 Arrow rewrite: the mapInPandas vote
    pass must reproduce the old JVM explode+distinct+agg plan's
    simhash values bit-for-bit (same uppercase-hex gram strings, same
    md5-prefix hash, same ±1 votes over per-payload DISTINCT grams)."""
    from functools import reduce
    from operator import add

    from pyspark.sql import functions as F

    from data_integration_openfoodfacts_spark.multimodal.binary_ops import (
        binary_simhash,
    )
    from data_integration_openfoodfacts_spark.operators.similarity_dedup import (  # noqa: E501
        md5_long,
    )

    rows = [
        (1, bytes(range(48, 112)) * 4),
        (2, b"abcdabcdabcd"),      # heavy intra-payload gram repeats
        (3, b"\x00\x01\x02\x03"),  # exactly one gram
        (4, bytes(range(256))),    # all byte values, incl. non-ascii hex
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {
        r["media_id"]: r["simhash"]
        for r in binary_simhash(df, "media_id", "payload").collect()
    }

    # the pre-round-14 JVM reference shape, inlined
    bits, ngram_bytes = 16, 4
    grams = (
        df.filter(F.length("payload") >= ngram_bytes)
        .select(
            "media_id",
            F.explode(
                F.sequence(F.lit(0), F.length("payload") - ngram_bytes)
            ).alias("i"),
            F.hex(F.col("payload")).alias("hx"),
        )
        .select(
            "media_id",
            F.expr(f"substring(hx, i * 2 + 1, {ngram_bytes * 2})").alias(
                "gram"
            ),
        )
        .distinct()
    )
    hashed = grams.withColumn("h", md5_long(F.col("gram")) % (2**bits))
    bitsums = hashed.groupBy("media_id").agg(
        *[
            F.sum(
                (F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1))) * 2 - 1
            ).alias(f"s{b}")
            for b in range(bits)
        ]
    )
    simhash = reduce(
        add,
        [
            F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
            for b in range(bits)
        ],
    )
    want = {
        r["media_id"]: r["simhash"]
        for r in bitsums.select(
            "media_id", simhash.cast("long").alias("simhash")
        ).collect()
    }
    assert got == want


@pytest.mark.parametrize(
    "rows",
    [
        [(None, b"abcdefgh"), (1, b"zzzzzzzzzz")],
        [(1, b"abcdefgh"), (1, b"zzzzzzzzzz"), (2, b"qqqqqqqq")],
    ],
    ids=["null_id", "repeated_id"],
)
def test_binary_simhash_rejects_null_and_repeated_ids(spark, rows):
    """One voting payload row per non-null id is a precondition: a null
    id or an id on two rows would fold several payloads into one
    fingerprint, so the query raises instead of returning it."""
    from data_integration_openfoodfacts_spark.multimodal.binary_ops import (
        binary_simhash,
    )

    df = spark.createDataFrame(
        [(i, bytearray(p)) for i, p in rows], "media_id long, payload binary"
    )
    with pytest.raises(Exception, match="one payload row per non-null"):
        binary_simhash(df, "media_id", "payload").collect()
