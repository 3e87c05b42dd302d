"""SCD Type 2 dimension history: batch builder semantics."""

from __future__ import annotations

import datetime


from data_integration_openfoodfacts_spark.operators.scd import scd2_history

SF_DIR = "/root/testdata/sf0.001"


def _ts(h):
    return datetime.datetime(2024, 1, 1, h)


def _changes(spark, rows):
    return spark.createDataFrame(rows, ["user_id", "ts", "event_type"])


def test_scd2_history_versions_and_collapse(spark):
    rows = [
        (1, _ts(0), "view"),
        (1, _ts(1), "view"),  # same attr -> collapses into version 1
        (1, _ts(2), "cart"),
        (1, _ts(3), "view"),  # back to view -> NEW version (not merged)
        (2, _ts(0), None),  # null attr is a real version
        (2, _ts(1), "buy"),
    ]
    out = scd2_history(
        _changes(spark, rows), ["user_id"], "ts", ["event_type"]
    )
    got = {
        (r["user_id"], r["version"]): (
            r["event_type"],
            r["effective_from"],
            r["effective_to"],
            r["is_current"],
        )
        for r in out.collect()
    }
    assert got[(1, 1)] == ("view", _ts(0), _ts(2), False)
    assert got[(1, 2)] == ("cart", _ts(2), _ts(3), False)
    assert got[(1, 3)] == ("view", _ts(3), None, True)
    assert got[(2, 1)] == (None, _ts(0), _ts(1), False)
    assert got[(2, 2)] == ("buy", _ts(1), None, True)
    assert len(got) == 5
