"""AST lint of the package source:

- no bare ``assert`` statement in the package, the entry files or
  ``tools/``: ``python -O`` strips them, so a violated precondition
  would yield a silently wrong answer instead of an error (docstring
  examples are strings, not statements);
- driver threads start in ONE place: only ``concurrency.py`` may
  import ``concurrent.futures`` or ``threading``. Everything else fans
  out through ``concurrency.overlap``, whose threads keep the caller's
  job group and description;
- stores commit in ONE place: only ``storage.py`` may call
  ``.rename(``, ``os.replace`` or ``shutil.move``, or use its Hadoop
  ``FileSystem`` handle ``hadoop_fs``. Every other module commits log
  entries, swaps directories and deletes retired ones through
  ``storage``, whose renames are checked and whose swaps restore on
  failure;
- no package code that only tests reach: every module, and every
  top-level def not in ``KEEP``, must be reached from a workload — a
  registry query, the medallion pipeline, the CLI, or the bench and
  benchmark entry points. Neither re-exports in ``__init__`` files nor
  a module's ``__all__`` list keep a name alive, and neither does a
  module-level assignment that reached code never names. Reachability
  is the oracle gate's own scanner (``tools/gate_state.py``)."""

from __future__ import annotations

import ast
import pathlib

import data_integration_openfoodfacts_spark as pkg
from tools.gate_state import (
    module_closure, module_file, scan, top_nodes, unreached_defs,
)

PKG_DIR = pathlib.Path(pkg.__file__).parent
REPO = PKG_DIR.parent
THREAD_MODULES = {"concurrent", "concurrent.futures", "threading"}
THREADS_ALLOWED = {"concurrency.py"}
COMMITS_ALLOWED = {"storage.py"}
#: files outside the package that must hold no bare assert either
ASSERT_FREE = ("bench.py", "__spark_entry__.py", "tools/*.py")


def _modules():
    for path in sorted(PKG_DIR.rglob("*.py")):
        yield path, ast.parse(path.read_text(encoding="utf-8"), str(path))


def _where(path, node) -> str:
    return f"{path.relative_to(PKG_DIR)}:{node.lineno}"


def _imported(node) -> list[str]:
    if isinstance(node, ast.Import):
        return [a.name for a in node.names]
    if isinstance(node, ast.ImportFrom) and node.level == 0:
        return [node.module or ""]
    return []


def test_scan_sees_the_package():
    assert len(list(_modules())) > 50


def test_no_bare_asserts():
    files = [path for path, _tree in _modules()]
    files += [f for pat in ASSERT_FREE for f in sorted(REPO.glob(pat))]
    found = [
        f"{path.relative_to(REPO)}:{node.lineno}"
        for path in files
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8")))
        if isinstance(node, ast.Assert)
    ]
    assert found == [], f"bare asserts (stripped by python -O): {found}"


def test_thread_imports_only_in_concurrency_module():
    found = [
        _where(path, node)
        for path, tree in _modules()
        if str(path.relative_to(PKG_DIR)) not in THREADS_ALLOWED
        for node in ast.walk(tree)
        if any(
            name in THREAD_MODULES or name.startswith("concurrent.")
            for name in _imported(node)
        )
    ]
    assert found == [], (
        f"driver threads outside concurrency.overlap: {found}"
    )


def _is_commit_call(node) -> bool:
    if not (isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)):
        return False
    attr, owner = node.func.attr, node.func.value
    if attr == "rename":
        return True
    return isinstance(owner, ast.Name) and (owner.id, attr) in {
        ("os", "replace"), ("shutil", "move"),
    }


def test_renames_only_in_storage_module():
    found = [
        _where(path, node)
        for path, tree in _modules()
        if str(path.relative_to(PKG_DIR)) not in COMMITS_ALLOWED
        for node in ast.walk(tree)
        if _is_commit_call(node)
    ]
    assert found == [], f"store commits outside storage.py: {found}"


def _uses_hadoop_fs(node) -> bool:
    if isinstance(node, ast.ImportFrom):
        return any(a.name == "hadoop_fs" for a in node.names)
    return isinstance(node, ast.Attribute) and node.attr == "hadoop_fs"


def test_filesystem_layout_only_in_storage_module():
    found = [
        _where(path, node)
        for path, tree in _modules()
        if str(path.relative_to(PKG_DIR)) not in COMMITS_ALLOWED
        for node in ast.walk(tree)
        if _uses_hadoop_fs(node)
    ]
    assert found == [], f"hadoop_fs outside storage.py: {found}"
    for src, hit in (("from ..storage import hadoop_fs", True),
                     ("from ..storage import read_state", False),
                     ("storage.hadoop_fs(spark, p)", True)):
        assert any(map(_uses_hadoop_fs, ast.walk(ast.parse(src)))) == hit


def test_commit_call_detector():
    def flagged(src):
        return _is_commit_call(ast.parse(src).body[0].value)

    for src in ("fs.rename(a, b)", "os.rename(a, b)", "os.replace(a, b)",
                "shutil.move(a, b)"):
        assert flagged(src), src
    for src in ("df.withColumnRenamed(a, b)", "s.replace(a, b)",
                "shutil.rmtree(a)"):
        assert not flagged(src), src


#: package imports in these files (and in perfbench/*.py) are
#: workload roots, like the registry queries, the pipeline and the CLI
ENTRY_FILES = ("bench.py", "__spark_entry__.py", "tools/bench_pipeline.py")
#: top-level defs no workload reaches that stay as the REFERENCE a
#: test checks a live path against: name -> the live function
KEEP = {
    "empty_ledger": "score_shingled_tranche_against_ledger",
    "tranche_novelty_update": "score_shingled_tranche_against_ledger",
    "range_join_broadcast": "range_join_bucketed",
    # shares `_build_kernel` with the live assignment; its plan pin
    # checks that kernel's single-scan shape
    "assign_mean_partials": "blocked_assign",
    # the fixed codebook the encode/ADC tests build their inputs with,
    # and the baseline the trained codebook's recall must beat
    "head_codebook": "pq_encode",
    # the unranked hit list the `_hits_col` tests read through
    "phrase_hits": "phrase_topk",
}


def _reachability():
    from data_integration_openfoodfacts_spark.plans.registry import QUERIES

    entries = [REPO / f for f in ENTRY_FILES]
    entries += sorted(REPO.glob("perfbench/*.py"))
    roots = {module_file(fn.__module__) for fn in QUERIES.values()}
    roots |= {PKG_DIR / "plans" / "pipeline.py", PKG_DIR / "cli.py"}
    reached = set(module_closure(*roots, *entries))
    files = [p for p, _tree in _modules() if p.name != "__init__.py"]
    unreached_mods = sorted(
        str(f.relative_to(PKG_DIR)) for f in files if f not in reached)
    modules = {str(f.relative_to(PKG_DIR)): scan(f).nodes
               for f in files if f in reached}
    # entry files name what they reach: perfbench's computed lookups
    # wrap traced modules or read names spelled as strings in the file
    live = set().union(*(n.refs for f in entries for n in scan(f).nodes))
    live.discard("*")
    unreached = unreached_defs(modules, live)
    defs = {(m, n.names[0]) for m in modules for n in modules[m] if n.is_def}
    return unreached_mods, unreached, {d for _m, d in defs - set(unreached)}


def test_package_code_is_reached_outside_tests():
    modules, defs, live = _reachability()
    kept = {name for _mod, name in defs if name in KEEP}
    dead = [f"{mod}:{name}" for mod, name in defs if name not in KEEP]
    assert (modules, dead) == ([], []), (
        f"only tests reach {len(modules)} package modules {modules} "
        f"and {len(dead)} top-level defs {dead}"
    )
    # KEEP must not go stale: each entry is still unreached, and the
    # function it is the reference for is reached by a workload
    assert kept == set(KEEP), f"KEEP entries now reached: {set(KEEP) - kept}"
    assert set(KEEP.values()) <= live, set(KEEP.values()) - live


def test_unreached_def_detector():
    src = (
        "import x\n"
        "from y import target as alias\n"
        "def live():\n    return helper()\n"
        "def helper():\n    return x.attr_live()\n"
        "def attr_live():\n    pass\n"
        "def by_name():\n    pass\n"
        "def target():\n    pass\n"
        "def dead():\n    return only_from_dead()\n"
        "def only_from_dead():\n    pass\n"
        "def only_from_value():\n    pass\n"
        "class Dead:\n    def live(self):\n        pass\n"
        "VALUE = only_from_value()\n"
        "print(live(), getattr(x, 'by_name'), alias)\n"
        "__all__ = ['live', 'dead', 'Dead']\n"
    )
    nodes = top_nodes(ast.parse(src), src)
    # the statement that binds no name is live; a def it names, an
    # attribute or string it names, and an aliased import's target are
    # reached; a named assignment and __all__ keep nothing alive
    got = unreached_defs({"m.py": nodes}, live=set())
    assert got == [
        ("m.py", "Dead"), ("m.py", "dead"), ("m.py", "only_from_dead"),
        ("m.py", "only_from_value"),
    ]
    # a name used by an entry file outside the package is a root too,
    # and reaching an assignment reaches what its value names
    got = unreached_defs({"m.py": nodes}, live={"dead", "VALUE"})
    assert got == [("m.py", "Dead")]
