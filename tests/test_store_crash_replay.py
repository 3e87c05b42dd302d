"""Crash-replay sweep over the store writes: each case runs one store
write with an exception injected at a write boundary, then replays the
write. The live reads — and, for the counting store,
`read_counts_as_of` at every readable version — must show the store
either before or after the write while it is crashed, and equal a
crash-free run of the same write after the replay.

Boundaries:

- ``before_commit``: the write's data has landed, its log entry has
  not been committed;
- ``after_commit``: the log entry is committed, the directories it
  retires are not yet deleted;
- ``second_write``: the pooled counting append's second delta write
  raises while the first and third land;
- ``after_write``: a bucketed append's rows have landed. Appends to a
  bucketed store commit no log entry (its header is the only one), so
  the replay is deduplicated by the caller's anti-join against the
  store, here the novelty ledger's tranche scoring.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from data_integration_openfoodfacts_spark import storage
from data_integration_openfoodfacts_spark.operators import windowed_ledger
from data_integration_openfoodfacts_spark.operators.bucketed_ledger import (
    compact_bucketed,
    read_bucketed,
)
from data_integration_openfoodfacts_spark.operators.novelty import (
    doc_shingle_keys,
)
from data_integration_openfoodfacts_spark.operators.novelty_ledger import (
    KB_COL,
    append_ledger_delta,
    kb_of,
    score_shingled_tranche_against_ledger,
)
from data_integration_openfoodfacts_spark.operators.windowed_ledger import (
    append_window_epoch,
    expire_through,
    read_window,
)
from data_integration_openfoodfacts_spark.storage import read_state
from data_integration_openfoodfacts_spark.streaming import (
    bloom_ingest,
    counting_store,
)
from data_integration_openfoodfacts_spark.streaming.bloom_ingest import (
    seed_bloom,
)
from data_integration_openfoodfacts_spark.streaming.counting_store import (
    append_counting_deltas,
    compact_counting,
    read_counts,
    read_counts_as_of,
    store_versions,
    write_counting_delta,
)

NW, K, NB = 64, 5, 8
#: the modules whose ``commit`` the stores call
COMMITTERS = (storage, windowed_ledger, counting_store)


class Crash(Exception):
    """The injected failure."""


def _keys(spark, names):
    return spark.createDataFrame([(n,) for n in names], "k string")


def _rows(df):
    return sorted(tuple(r) for r in df.collect()) if df is not None else []


# -- counting store -------------------------------------------------

def _counting_setup(spark, p):
    write_counting_delta(_keys(spark, ["a", "b"]), "k", p, "d-pre", NW, K)


def _pooled_append(spark, p):
    append_counting_deltas(
        spark,
        [("d0", _keys(spark, ["b", "c"]), 1),
         ("d1", _keys(spark, ["c", "d"]), 1),
         ("d2", _keys(spark, ["a"]), -1)],
        "k", p, NW, K,
    )


def _counting_compact_setup(spark, p):
    _counting_setup(spark, p)
    _pooled_append(spark, p)


def _counting_read(spark, p):
    vs = store_versions(spark, p)
    return {
        "versions": vs,
        "live": _rows(read_counts(spark, p)),
        "as_of": {
            v: _rows(read_counts_as_of(spark, p, v))
            for v in range(vs["min_readable"], vs["latest"] + 1)
        },
    }


# -- windowed ledger ------------------------------------------------

def _epoch(spark, p, e, names):
    append_window_epoch(
        _keys(spark, names).select(F.md5("k").alias("k")), "k", p, e, NB
    )


def _windowed_read(spark, p):
    return {
        "state": read_state(spark, p)[1],
        "rows": _rows(read_window(spark, p)),
    }


# -- bucketed (novelty) ledger --------------------------------------

def _tranche(spark, p, rows):
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    _, new_firsts = score_shingled_tranche_against_ledger(
        doc_shingle_keys(docs), p
    )
    append_ledger_delta(new_firsts, p, n_buckets=NB)


T1 = [(1, "a b c d e f g h i"), (2, "j k l m n o p q r")]
T2 = [(3, "a b c d e f g h i z"), (4, "s t u v w x y z a")]


def _bucketed_read(spark, p):
    df, n_buckets = read_bucketed(spark, p)
    return {
        "n_buckets": n_buckets,
        "rows": _rows(df.select("shingle_md5", "first_doc", KB_COL)),
    }


# -- bloom word table -----------------------------------------------

def _bloom_read(spark, p):
    data = read_state(spark, p)[1]["data"]
    return _rows(spark.read.parquet(f"{p}/{data}"))


def _screen(spark, p):
    bloom_ingest.screen_keys_batch(
        _keys(spark, ["b", "c", "d", "e"]), "k", p, f"{p}__results",
        batch_id=0, n_words=NW, k=K,
    )


#: name -> (setup, op, read, boundaries the op has)
CASES = {
    "counting_pooled_append": (
        _counting_setup, _pooled_append, _counting_read,
        ("second_write", "before_commit", "after_commit"),
    ),
    "counting_compaction": (
        _counting_compact_setup, lambda s, p: compact_counting(s, p, NW, K),
        _counting_read, ("before_commit", "after_commit"),
    ),
    "windowed_append": (
        lambda s, p: _epoch(s, p, 0, ["a", "b"]),
        lambda s, p: _epoch(s, p, 1, ["b", "c"]),
        _windowed_read, ("before_commit", "after_commit"),
    ),
    "windowed_expiry": (
        lambda s, p: [_epoch(s, p, e, [f"k{e}", "x"]) for e in range(3)],
        lambda s, p: expire_through(s, p, 1),
        _windowed_read, ("before_commit", "after_commit"),
    ),
    "bucketed_append": (
        lambda s, p: _tranche(s, p, T1),
        lambda s, p: _tranche(s, p, T2),
        _bucketed_read, ("after_write",),
    ),
    "bucketed_compaction": (
        lambda s, p: [_tranche(s, p, t) for t in (T1, T2)],
        lambda s, p: compact_bucketed(
            s, p, KB_COL, lambda nb: kb_of("shingle_md5", nb), NB
        ),
        _bucketed_read, ("before_commit", "after_commit"),
    ),
    "bloom_screen_batch": (
        lambda s, p: seed_bloom(_keys(s, ["a", "b"]), "k", p, NW, K),
        _screen, _bloom_read, ("before_commit", "after_commit"),
    ),
}


def _inject(monkeypatch, point, path):
    """Arm ``point`` for the write under ``path``."""
    if point in ("before_commit", "after_commit"):
        def wrap(real):
            def commit(spark, p, n, state):
                if point == "after_commit":
                    real(spark, p, n, state)
                raise Crash(f"{point} of entry {n}")
            return commit

        for module in COMMITTERS:
            monkeypatch.setattr(module, "commit", wrap(module.commit))
        return
    real_parquet = DataFrameWriter.parquet
    target = f"{path}/delta_id=d1" if point == "second_write" else path

    def parquet(self, out, *a, **kw):
        if not str(out).startswith(target):
            return real_parquet(self, out, *a, **kw)
        if point == "after_write":
            real_parquet(self, out, *a, **kw)
        raise Crash(f"{point} at {out}")

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)


@pytest.fixture(scope="module")
def crash_free(spark, tmp_path_factory):
    """Each case's reads after an uninterrupted run."""
    out = {}
    for name, (setup, op, read, _points) in CASES.items():
        p = str(tmp_path_factory.mktemp(name) / "store")
        setup(spark, p)
        op(spark, p)
        out[name] = read(spark, p)
    return out


@pytest.mark.parametrize(
    "name,point",
    [(name, point) for name, case in CASES.items() for point in case[3]],
)
def test_replay_after_crash_matches_crash_free_run(
    spark, tmp_path, monkeypatch, crash_free, name, point
):
    setup, op, read, _points = CASES[name]
    p = str(tmp_path / "store")
    setup(spark, p)
    before = read(spark, p)
    with monkeypatch.context() as m:
        _inject(m, point, p)
        with pytest.raises(Crash):
            op(spark, p)
    assert read(spark, p) in (before, crash_free[name])
    op(spark, p)
    assert read(spark, p) == crash_free[name]
