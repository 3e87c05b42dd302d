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
  failure."""

from __future__ import annotations

import ast
import pathlib

import data_integration_openfoodfacts_spark as pkg

PKG_DIR = pathlib.Path(pkg.__file__).parent
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
