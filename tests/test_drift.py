"""Drift profile (`operators/drift.py`): exact counts and smoothed
shares vs a pure-Python reference, all-bands-present guarantee, and
the banded-count plan claim."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_integration_openfoodfacts_spark.operators.drift import (
    drift_profile,
)

B = 5


def _df(spark, vals):
    return spark.createDataFrame([(v,) for v in vals], "x long")


def _band():
    return F.least(F.lit(B - 1), F.col("x"))


def _ref_profile(ref_vals, cur_vals):
    nr = [0] * B
    nc = [0] * B
    for v in ref_vals:
        nr[min(v, B - 1)] += 1
    for v in cur_vals:
        nc[min(v, B - 1)] += 1
    tr, tc = sum(nr), sum(nc)
    return {
        b: (
            nr[b], nc[b],
            (nr[b] + 1) / (tr + B),
            (nc[b] + 1) / (tc + B),
        )
        for b in range(B)
    }


def test_profile_matches_reference_and_fills_empty_bands(spark):
    ref_vals = [0, 0, 1, 2, 2, 2, 9]  # band 3 empty, 9 clamps to 4
    cur_vals = [1, 1, 1, 4, 4]        # bands 0,2,3 empty
    prof = drift_profile(
        _df(spark, ref_vals), _df(spark, cur_vals), _band(), B
    ).collect()
    assert len(prof) == B  # every band present, even doubly-empty ones
    got = {
        r["band"]: (r["n_ref"], r["n_cur"], r["p_ref"], r["p_cur"])
        for r in prof
    }
    assert got == _ref_profile(ref_vals, cur_vals)
    for r in prof:
        assert r["gap"] == r["p_ref"] - r["p_cur"]


def test_argument_validation(spark):
    with pytest.raises(ValueError, match="n_bands"):
        drift_profile(_df(spark, [1]), _df(spark, [1]), _band(), 1)
