"""AST lint of the package source:

- no bare ``assert`` statement: ``python -O`` strips them, so a
  violated precondition would yield a silently wrong answer instead
  of an error (docstring examples are strings, not statements);
- driver threads start in ONE place: only ``concurrency.py`` may
  import ``concurrent.futures`` or ``threading``. Everything else fans
  out through ``concurrency.overlap``, whose threads keep the caller's
  job group and description;
- stores commit in ONE place: only ``storage.py`` may call
  ``.rename(``, ``os.replace`` or ``shutil.move``. Every other module
  publishes sidecars, swaps directories and claims partitions through
  ``storage``, whose renames are checked and whose swaps restore on
  failure;
- no package code that only tests reach: every module, and every
  top-level def not in ``KEEP``, must be reached from a workload — a
  registry query, the medallion pipeline, the CLI, or the bench and
  benchmark entry points. Neither re-exports in ``__init__`` files nor
  a module's ``__all__`` list keep a name alive."""

from __future__ import annotations

import ast
import pathlib

import data_integration_openfoodfacts_spark as pkg
from tools.gate_state import module_closure

PKG_DIR = pathlib.Path(pkg.__file__).parent
REPO = PKG_DIR.parent
THREAD_MODULES = {"concurrent", "concurrent.futures", "threading"}
THREADS_ALLOWED = {"concurrency.py"}
COMMITS_ALLOWED = {"storage.py"}


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
    found = [
        _where(path, node)
        for path, tree in _modules()
        for node in ast.walk(tree)
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
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _module_file(dotted: str) -> pathlib.Path | None:
    parts = dotted.split(".")
    if parts[0] != PKG_DIR.name:
        return None
    base = PKG_DIR.joinpath(*parts[1:])
    for cand in (base.with_suffix(".py"), base / "__init__.py"):
        if cand.is_file():
            return cand
    return None


def _entry_files() -> list[pathlib.Path]:
    files = [REPO / f for f in ENTRY_FILES]
    return files + sorted(REPO.glob("perfbench/*.py"))


def _package_imports(tree) -> set[pathlib.Path]:
    """Package modules an out-of-package file imports (absolute
    imports only; ``from pkg.mod import name`` may name a submodule)."""
    found = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            dotted = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.level == 0:
            mod = node.module or ""
            dotted = [mod] + [f"{mod}.{a.name}" for a in node.names]
        else:
            continue
        found |= {f for f in map(_module_file, dotted) if f is not None}
    return found


def _refs(node) -> set[str]:
    """Names a piece of code can reach a def by: bare names, attribute
    names, and identifier-shaped string constants (``getattr``/
    registry lookups)."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif (isinstance(n, ast.Constant) and isinstance(n.value, str)
              and n.value.isidentifier()):
            out.add(n.value)
    return out


def _is_all(stmt) -> bool:
    return isinstance(stmt, ast.Assign) and any(
        isinstance(t, ast.Name) and t.id == "__all__" for t in stmt.targets
    )


def unreached_defs(modules: dict[str, ast.Module], refs: set[str]):
    """``(module, name)`` of every top-level def that no reached code
    names. Module-level statements (except ``__all__``, which lists
    names without calling them) and ``refs`` are live from the start;
    a def's body becomes live once its name is — iterated to a
    fixpoint, so a helper of unreached code stays unreached."""
    live = set(refs)
    defs = {}
    for mod, tree in modules.items():
        for stmt in tree.body:
            if isinstance(stmt, _DEFS):
                defs[(mod, stmt.name)] = stmt
            elif not _is_all(stmt):
                live |= _refs(stmt)
    reached: set = set()
    grew = True
    while grew:
        grew = False
        for key, node in defs.items():
            if key not in reached and key[1] in live:
                reached.add(key)
                live |= _refs(node)
                grew = True
    return sorted(set(defs) - reached)


def _reachability():
    from data_integration_openfoodfacts_spark.plans.registry import QUERIES

    roots = {_module_file(fn.__module__) for fn in QUERIES.values()}
    roots |= {PKG_DIR / "plans" / "pipeline.py", PKG_DIR / "cli.py"}
    refs: set[str] = set()
    for path in _entry_files():
        tree = ast.parse(path.read_text(encoding="utf-8"), str(path))
        roots |= _package_imports(tree)
        refs |= _refs(tree)
    reached = set()
    for root in roots:
        reached |= set(module_closure(root))
    trees = {
        str(path.relative_to(PKG_DIR)): tree
        for path, tree in _modules()
        if path in reached and path.name != "__init__.py"
    }
    unreached_mods = sorted(
        str(path.relative_to(PKG_DIR))
        for path, _tree in _modules()
        if path not in reached and path.name != "__init__.py"
    )
    unreached = unreached_defs(trees, refs)
    live = {
        node.name
        for mod, tree in trees.items()
        for node in tree.body
        if isinstance(node, _DEFS) and (mod, node.name) not in unreached
    }
    return unreached_mods, unreached, live


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
    tree = ast.parse(
        "import x\n"
        "def live():\n    return helper()\n"
        "def helper():\n    return x.attr_live()\n"
        "def attr_live():\n    pass\n"
        "def by_name():\n    pass\n"
        "def dead():\n    return only_from_dead()\n"
        "def only_from_dead():\n    pass\n"
        "class Dead:\n    def live(self):\n        pass\n"
        "VALUE = live()\n"
        "LOOKUP = getattr(x, 'by_name')\n"
        "__all__ = ['live', 'dead', 'Dead']\n"
    )
    got = unreached_defs({"m.py": tree}, refs=set())
    assert got == [
        ("m.py", "Dead"), ("m.py", "dead"), ("m.py", "only_from_dead"),
    ]
    # a name used by an entry file outside the package is a root too
    got = unreached_defs({"m.py": tree}, refs={"dead"})
    assert got == [("m.py", "Dead")]
