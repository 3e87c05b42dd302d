"""Seeded synthetic inputs for the benchmark.

``write_tables`` writes the ten star-schema / LLM tables the query
registry reads (one parquet file with one row group per table, the
layout and column types of the engine's test data) at a chosen scale;
``write_tsv`` writes the OpenFoodFacts-style bronze TSV the medallion
pipeline ingests. The same (scale, seed) always yields the same bytes.
"""

from __future__ import annotations

import functools
import importlib.util
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_WEIGHTS = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64

_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")
_DAY_US = 86_400_000_000


def _sizes(sf: float) -> dict[str, int]:
    return {
        "customer": max(150, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": max(1_500, int(1_500_000 * sf)),
        "lineitem": max(6_000, int(6_000_000 * sf)),
        "events": max(1_000, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, n: int, span_days: int) -> pa.Array:
    us = _EPOCH_1995 + rng.integers(0, span_days, n) * np.timedelta64(1, "D")
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> list[str]:
    return [values[i] for i in rng.choice(len(values), n, p=p)]


def build_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """All ten tables as Arrow tables; every column is drawn from one
    generator seeded by ``seed``, table by table in a fixed order."""
    rng = np.random.default_rng(seed)
    n = _sizes(sf)
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    i64 = lambda a: pa.array(a, pa.int64())  # noqa: E731
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": i32(range(5)), "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": i32(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": i32([i % 5 for i in range(25)]),
    })
    c = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": i64(np.arange(c)),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": i32(rng.integers(0, 25, c)),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": _pick(rng, SEGMENTS, c),
    })
    s = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": i64(np.arange(s)),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": i32(rng.integers(0, 25, s)),
        "s_acctbal": _money(rng, -999.99, 9999.99, s),
    })
    p = n["part"]
    keys = np.arange(p)
    t["part"] = pa.table({
        "p_partkey": i64(keys),
        "p_name": [
            f"{ADJECTIVES[a]} {NOUNS[b]}"
            for a, b in zip(rng.integers(0, 8, p), rng.integers(0, 8, p))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
        "p_type": _pick(rng, PART_TYPES, p),
        "p_size": i32(rng.integers(1, 51, p)),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
    })
    o = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": i64(np.arange(o)),
        "o_custkey": i64(rng.integers(0, c, o)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], o),
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": _days(rng, o, 2404),
        "o_orderpriority": _pick(rng, PRIORITIES, o),
    })
    li = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": i64(rng.integers(0, o, li)),
        "l_partkey": i64(rng.integers(0, p, li)),
        "l_suppkey": i64(rng.integers(0, s, li)),
        "l_linenumber": i32(rng.integers(1, 8, li)),
        "l_quantity": rng.integers(1, 51, li).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], li),
        "l_linestatus": _pick(rng, ["F", "O"], li),
        "l_shipdate": _days(rng, li, 2499),
    })
    e = n["events"]
    offsets = np.sort(rng.integers(0, 30 * _DAY_US, e))
    t["events"] = pa.table({
        "event_id": i64(np.arange(e)),
        "ts": pa.array(
            _EPOCH_2024 + offsets.astype("timedelta64[us]"), pa.timestamp("us")
        ),
        "user_id": i64(rng.integers(0, max(10, e * 15 // 1000), e)),
        "event_type": _pick(rng, EVENT_TYPES, e),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, e), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    d = n["documents"]
    texts = [
        " ".join(_pick(rng, VOCAB, int(k)))
        for k in rng.integers(10, 101, d)
    ]
    # exactly 5% near-duplicates (a fixed count keeps the dedup work
    # alike across seeds): another document's text plus a marker word
    for i in rng.choice(d, d // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, d))] + " dup"
    t["documents"] = pa.table({
        "doc_id": i64(np.arange(d)),
        "text": texts,
        "lang": _pick(rng, LANGS, d, LANG_WEIGHTS),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": i64([len(x) for x in texts]),
    })
    m = n["embeddings"]
    vecs = rng.standard_normal((m, EMBED_DIM)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": i64(np.arange(m)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": i32(rng.integers(0, 10, m)),
    })
    return t


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table as ``<out_dir>/<name>.parquet`` (one row group);
    returns the row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in build_tables(sf, seed).items():
        pq.write_table(
            table, os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=max(1, table.num_rows),
        )
        rows[name] = table.num_rows
    return rows


@functools.cache
def load_tool(name: str):
    """The repository's ``tools/<name>.py``, loaded by path (``tools``
    is not a package)."""
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(REPO, "tools", f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


#: codes the bronze TSV delivers a second time (see ``write_tsv``)
TSV_REPEATS = 25


def write_tsv(out_dir: str, rows: int, seed: int) -> str:
    """The bronze TSV for (rows, seed), keyed by BOTH in its file name.
    (``bench_pipeline.ensure_tsv`` keys its shared file by row count
    only, so a different seed would silently reuse an old file.)

    ``gen_tsv`` repeats a code with probability 6e-5 per row, about once
    per 20,000 rows, so on many seeds the keep-latest dedup would have
    nothing to reject. ``TSV_REPEATS`` seeded rows are therefore
    delivered again with a later ``last_modified_t``, as the reference
    data's 27 rejects are."""
    path = os.path.join(out_dir, f"products_n{rows}_seed{seed}.tsv")
    if not os.path.exists(path):
        tmp = path + ".tmp"
        load_tool("bench_pipeline").gen_tsv(tmp, rows, seed)
        with open(tmp, encoding="utf-8") as f:
            header = f.readline().rstrip("\n").split("\t")
            lines = f.read().splitlines()
        lm = header.index("last_modified_t")
        rng = random.Random(seed)
        with open(tmp, "a", encoding="utf-8") as f:
            for i in sorted(rng.sample(range(len(lines)), min(TSV_REPEATS, len(lines)))):
                cols = lines[i].split("\t")
                cols[lm] = str(int(cols[lm]) + 1 + rng.randrange(86_400))
                f.write("\t".join(cols) + "\n")
        os.replace(tmp, path)
    return path
