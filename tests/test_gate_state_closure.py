"""Pin the scanner behind the code-churn gate rotation.

A closure that misses a dependency, or a fingerprint that misses code a
query reaches, lets a churned query keep a stale green rank outside the
gate's 50-entry window — the exact failure the fingerprint exists to
prevent. The fingerprint tests run on synthetic modules.
"""

from __future__ import annotations

import ast

import pytest

from tools.gate_state import PKG_ROOT, fingerprint, module_closure, top_nodes


def _rel(files):
    return {str(p.relative_to(PKG_ROOT)) for p in files}


def test_consecutive_imports_all_resolve(tmp_path=None):
    # gold queries: 'from .csv_source import read_openfoodfacts_csv'
    # directly precedes 'from .pipeline import run_pipeline' — the
    # second statement is the one the greedy regex used to swallow.
    files = _rel(module_closure(PKG_ROOT / "plans" / "gold_oracle_queries.py"))
    assert "plans/pipeline.py" in files
    assert "sources/csv_source.py" in files
    # and pipeline's own transitive deps must follow
    assert "operators/cleaning.py" in files
    assert "operators/dedup.py" in files
    assert "functions/text_normalize.py" in files


def test_loader_dependency_resolves_for_query_modules():
    for mod in ("llm_queries", "sampling_queries", "tpch_queries"):
        files = _rel(module_closure(PKG_ROOT / "plans" / f"{mod}.py"))
        assert "sources/parquet_source.py" in files, mod


def test_registry_closure_spans_the_operator_library():
    files = _rel(module_closure(PKG_ROOT / "plans" / "registry.py"))
    # the registry reaches every query module, which reach the
    # operators; a regression that shrinks the closure below the
    # operator layer would un-fingerprint most of the engine
    for needed in (
        "plans/pipeline.py",
        "sources/parquet_source.py",
        "operators/similarity_dedup.py",
        "operators/graph.py",
        "operators/sampling.py",
        "functions/text_analysis.py",
    ):
        assert needed in files, needed
    assert len(files) >= 40


def test_parenthesized_multiline_import_resolves(tmp_path):
    # synthetic module exercising the '(...)' multi-line branch plus a
    # following import that must NOT be swallowed
    mod = PKG_ROOT / "plans" / "_closure_probe_tmp.py"
    mod.write_text(
        "from ..operators.dedup import (\n"
        "    dedup_exact,\n"
        "    dedup_keep_latest,\n"
        ")\n"
        "from ..operators.graph import bfs_distances\n"
    )
    try:
        files = _rel(module_closure(mod))
        assert "operators/dedup.py" in files
        assert "operators/graph.py" in files
    finally:
        mod.unlink()


#: a query module and the library it imports, by relative path
BASE = {
    "plans/q.py": (
        "from ..ops.lib import helper as _helper\n"
        "from ..ops.lib import RATE\n"
        "@register(1)\n"
        "def query(spark, sf, k=3):\n    return _helper(spark) * RATE * k\n"
        "def register(version):\n    return lambda fn: fn\n"
        "def other_query(spark):\n    return unused()\n"
    ),
    "ops/lib.py": (
        "RATE = 2\n"
        "OTHER = 5\n"
        "def helper(spark):\n    return inner(spark)\n"
        "def inner(spark):\n    return spark\n"
        "def unused():\n    return 0\n"
    ),
}


def _fp(sources, edits=()):
    sources = dict(sources)
    for mod, old, new in edits:
        assert old in sources[mod], old
        sources[mod] = sources[mod].replace(old, new)
    modules = {m: top_nodes(ast.parse(s), s) for m, s in sources.items()}
    return fingerprint(modules, "query", "SELECT 1")


@pytest.mark.parametrize("edit", [
    ("ops/lib.py", "return 0", "return 1"),
    ("ops/lib.py", "OTHER = 5", "OTHER = 6"),
    ("plans/q.py", "return unused()", "return None"),
    ("ops/lib.py", "def unused", "# a comment between defs\ndef unused"),
])
def test_fingerprint_ignores_unreached_code(edit):
    assert _fp(BASE, [edit]) == _fp(BASE)


@pytest.mark.parametrize("edit", [
    # a def reached through another, and a reached constant
    ("ops/lib.py", "return spark\n", "return None\n"),
    ("ops/lib.py", "RATE = 2", "RATE = 3"),
    # the target of an aliased import, and the alias itself
    ("ops/lib.py", "return inner(spark)", "return spark"),
    ("plans/q.py", "import helper as", "import inner as"),
    # a decorator's arguments and the decorator's own def
    ("plans/q.py", "@register(1)", "@register(2)"),
    ("plans/q.py", "lambda fn: fn", "lambda fn: None"),
    # a default argument
    ("plans/q.py", "k=3", "k=4"),
])
def test_fingerprint_follows_reached_code(edit):
    assert _fp(BASE, [edit]) != _fp(BASE)


@pytest.mark.parametrize("dynamic", [
    ("ops/lib.py", "return inner(spark)", "return getattr(spark, NAME)"),
    ("ops/lib.py", "return inner(spark)", "return globals()[NAME]"),
    ("ops/lib.py", "return inner(spark)", "return spark.__dict__[NAME]"),
    ("plans/q.py", "from ..ops.lib import RATE", "from ..ops.lib import *"),
])
def test_dynamic_lookup_hashes_the_whole_closure(dynamic):
    unused = ("ops/lib.py", "return 0", "return 1")
    assert _fp(BASE, [dynamic, unused]) != _fp(BASE, [dynamic])
    # a constant getattr name stays a plain reference
    static = ("ops/lib.py", "return inner(spark)",
              "return getattr(spark, 'inner')")
    assert _fp(BASE, [static, unused]) == _fp(BASE, [static])
