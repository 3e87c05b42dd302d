"""Gate-state library: committed, code-churn-aware oracle-gate rotation.

The registry order is a committed artifact, ``plans/gate_state.json``,
regenerated by ``tools/update_gate_state.py``; ``plans.registry`` reads
only that file, so the order is a pure function of the committed tree.

* Each query has a **fingerprint**: sha256 over its oracle SQL (the
  checkout root replaced by a fixed token) and the source of the
  package code its query def can reach (``query_fingerprint``).
* ``gate_state.json`` records, per query and scale factor, the
  fingerprint of its last local oracle-green run
  (``tools/check_oracle.py --record``). The committed
  ``CORRECTNESS_r*.json`` records of the external 50-query gate give
  its last gate-green round; the tool reads them, never the library at
  import time.
* Rank: tier 0 = forced (``_FORCE_GATE``), last gate record red, or
  fingerprint drifted / never verified — these must reach the gate's
  50-entry window; tier 0.5 = never gated but locally verified at the
  current fingerprint; then ascending last-green round; the query key
  breaks ties.

**Reachability** is shared with the package lint
(``tests/test_package_lint.py``). Each module is parsed once into its
top-level nodes. A def, class, assignment or import alias is a named
node: it is reached once a name it binds is referenced by reached code
(a bare name, an attribute name, an imported name or an
identifier-shaped string). A statement that binds no name is always
live. Imports resolve from the AST, relative and function-local ones
included. The result must over-approximate what a query runs, so a
reached dynamic lookup (computed ``getattr``, ``globals()``,
``vars()``, ``__dict__``) or a star import makes the query hash every
node of its closure.
"""

from __future__ import annotations

import ast
import functools
import hashlib
import json
import os
import re
from collections import defaultdict
from pathlib import Path
from typing import NamedTuple

PKG = "data_integration_openfoodfacts_spark"
REPO = Path(__file__).resolve().parent.parent
PKG_ROOT = REPO / PKG
STATE_PATH = PKG_ROOT / "plans" / "gate_state.json"
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


class Node(NamedTuple):
    """A top-level statement, or one alias of a top-level import."""

    names: tuple[str, ...]  # the names it binds; () = always live
    refs: frozenset[str]  # the names its code can reach others by
    text: str  # its source, decorator lines included
    is_def: bool


class Module(NamedTuple):
    nodes: tuple[Node, ...]
    imports: frozenset[Path]  # package files it imports, anywhere


def _refs(tree: ast.AST) -> set[str]:
    """Names a piece of code can reach a node by: bare, attribute and
    imported names, and identifier-shaped strings (``getattr``/registry
    lookups). A lookup by computed name — ``getattr`` with a
    non-constant name, ``globals``, ``vars``, ``__dict__`` or a star
    import — adds ``"*"``, which reaches every node."""
    out = set()
    for n in ast.walk(tree):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
        elif (isinstance(n, ast.Constant) and isinstance(n.value, str)
              and n.value.isidentifier()):
            out.add(n.value)
        elif (isinstance(n, ast.Call) and isinstance(n.func, ast.Name)
              and n.func.id == "getattr" and not (
                  len(n.args) > 1 and isinstance(n.args[1], ast.Constant))):
            out.add("*")
    if out & {"globals", "vars", "__dict__"}:
        out.add("*")
    return out


def _bound(stmt: ast.stmt) -> tuple[str, ...]:
    if isinstance(stmt, _DEFS):
        return (stmt.name,)
    if not isinstance(stmt, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
        return ()
    targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
    return tuple(
        n.id for t in targets for n in ast.walk(t)
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)
    )


def top_nodes(tree: ast.Module, src: str) -> list[Node]:
    """The top-level nodes of a parsed module, docstrings left out."""
    lines = src.splitlines(keepends=True)
    out = []
    for stmt in tree.body:
        if (isinstance(stmt, ast.Expr) and isinstance(stmt.value, ast.Constant)
                and isinstance(stmt.value.value, str)):
            continue
        if isinstance(stmt, (ast.Import, ast.ImportFrom)):
            # one node per alias, hashed by its own fields: adding a name
            # to a shared import line re-stales no query
            frm = (f"from {'.' * stmt.level}{stmt.module or ''} "
                   if isinstance(stmt, ast.ImportFrom) else "")
            out += [Node(
                () if a.name == "*" else (a.asname or a.name.split(".")[0],),
                frozenset(_refs(a)), f"{frm}import {a.name} as {a.asname}",
                False) for a in stmt.names]
            continue
        start = min([stmt.lineno] + [
            d.lineno for d in getattr(stmt, "decorator_list", ())])
        out.append(Node(_bound(stmt), frozenset(_refs(stmt)),
                        "".join(lines[start - 1 : stmt.end_lineno]),
                        isinstance(stmt, _DEFS)))
    return out


def module_file(dotted: str) -> Path | None:
    """The package file a dotted module name names, if any."""
    parts = dotted.split(".")
    if parts[0] != PKG:
        return None
    base = PKG_ROOT.joinpath(*parts[1:])
    for cand in (base.with_suffix(".py"), base / "__init__.py"):
        if cand.is_file():
            return cand
    return None


@functools.lru_cache(maxsize=None)
def scan(path: Path) -> Module:
    """``path``'s top-level nodes and the package files it imports
    anywhere (``from m import name`` may name a submodule, so ``m.name``
    is tried too); parsed once per process."""
    src = path.read_text(encoding="utf-8")
    tree = ast.parse(src, str(path))
    here = ([PKG, *path.relative_to(PKG_ROOT).parent.parts]
            if path.is_relative_to(PKG_ROOT) else [])
    dotted = []
    for n in ast.walk(tree):
        if isinstance(n, ast.Import):
            dotted += [a.name for a in n.names]
        elif isinstance(n, ast.ImportFrom):
            base = here[: len(here) - n.level + 1] if n.level else []
            mod = ".".join(base + ([n.module] if n.module else []))
            dotted += [mod] + [f"{mod}.{a.name}" for a in n.names]
    imports = {f for f in map(module_file, dotted) if f is not None}
    return Module(tuple(top_nodes(tree, src)), frozenset(imports))


def module_closure(*roots: Path) -> list[Path]:
    """The roots and every package file they import, transitively."""
    seen: set[Path] = set()
    todo = list(roots)
    while todo:
        f = todo.pop()
        if f not in seen:
            seen.add(f)
            todo += scan(f).imports
    return sorted(seen)


def reach(modules: dict[str, list[Node]], live: set[str]) -> set:
    """``(module, index)`` of every node reached from the names in
    ``live``: nodes that bind no name are reached from the start, and a
    named node once a name it binds is, iterated to a fixpoint."""
    binders = defaultdict(list)
    reached, todo, done = set(), list(live), set()
    for mod, nodes in modules.items():
        for i, node in enumerate(nodes):
            if node.names:
                for name in (*node.names, "*"):  # "*" binds every name
                    binders[name].append((mod, i))
            else:
                reached.add((mod, i))
                todo += node.refs
    while todo:
        name = todo.pop()
        if name not in done:
            done.add(name)
            for key in set(binders[name]) - reached:
                reached.add(key)
                todo += modules[key[0]][key[1]].refs
    return reached


def unreached_defs(modules: dict[str, list[Node]], live: set[str]):
    """``(module, name)`` of every top-level def or class not reached
    from ``live``."""
    reached = reach(modules, live)
    return sorted(
        (mod, node.names[0])
        for mod, nodes in modules.items()
        for i, node in enumerate(nodes)
        if node.is_def and (mod, i) not in reached
    )


def fingerprint(modules: dict[str, list[Node]], root: str,
                oracle_text: str) -> str:
    """sha256 over ``oracle_text`` and the source of every node reached
    from the name ``root``."""
    h = hashlib.sha256(oracle_text.encode())
    for mod, i in sorted(reach(modules, {root})):
        h.update(f"\0{mod}\0{modules[mod][i].text}".encode())
    return h.hexdigest()


def query_fingerprint(fn, oracle_text: str) -> str:
    """Fingerprint of the registry query callable ``fn`` over its
    module's import closure; a callable that is not a top-level def of
    its module hashes the whole closure."""
    mod_file = module_file(fn.__module__)
    modules = {
        str(f.relative_to(PKG_ROOT)): scan(f).nodes
        for f in module_closure(mod_file)
    }
    own = modules[str(mod_file.relative_to(PKG_ROOT))]
    root = fn.__name__ if any(fn.__name__ in n.names for n in own) else "*"
    # the q89-q94 oracles read the fixture TSV by absolute path
    return fingerprint(modules, root,
                       oracle_text.replace(str(REPO), "<checkout>"))


def _registry():
    import sys

    if str(REPO) not in sys.path:
        sys.path.insert(0, str(REPO))
    from data_integration_openfoodfacts_spark.plans import registry

    return registry


def current_fingerprints() -> dict[str, str]:
    """{query key: fingerprint} for the full registry (imports Spark-free
    registry metadata only — query callables are not invoked)."""
    registry = _registry()
    return {
        name: query_fingerprint(fn, registry.ORACLES.get(name, ""))
        for name, fn in registry.QUERIES.items()
    }


def load_state() -> dict:
    if STATE_PATH.is_file():
        return json.loads(STATE_PATH.read_text())
    return {"order": [], "verified": {}}


def save_state(state: dict) -> None:
    STATE_PATH.write_text(json.dumps(state, indent=1, sort_keys=True) + "\n")


def load_driver_records() -> dict[int, dict]:
    """{round: CORRECTNESS_r{N}.json} — tool-time read of the driver's
    committed records (the tool runs in the real checkout; the library
    import path never touches the filesystem beyond gate_state.json)."""
    out: dict[int, dict] = {}
    for path in sorted(REPO.glob("CORRECTNESS_r*.json")):
        m = re.search(r"_r(\d+)\.json$", path.name)
        if not m:
            continue
        try:
            data = json.loads(path.read_text())
        except Exception:  # noqa: BLE001 — skip a truncated record
            continue
        if isinstance(data, dict):
            out[int(m.group(1))] = data
    return out


def compute_tiers(
    fingerprints: dict[str, str],
    verified: dict[str, dict],
    records: dict[int, dict],
    force_gate: set[str],
) -> dict[str, float]:
    """0 = must re-gate (forced / last seen red by the gate /
    fingerprint drifted or never verified since the last local green);
    0.5 = never gated but locally verified at the CURRENT fingerprint,
    so a new-query burst sorts behind genuine churn but ahead of every
    gate-green query; otherwise the round of the query's most recent
    gate green (older sorts first)."""
    last_green: dict[str, int] = {}
    has_oracle = set(_registry().ORACLES)
    for rnd in sorted(records):
        for key, rec in records[rnd].items():
            if not isinstance(rec, dict):
                continue
            green = bool(rec.get("hash_match")) or (
                key not in has_oracle and bool(rec.get("rows_match"))
            )
            last_green[key] = rnd if green else 0

    def tier(k: str) -> float:
        if k in force_gate:
            return 0
        v = verified.get(k)
        if not v or v.get("fingerprint") != fingerprints[k]:
            return 0  # code/oracle drifted since last local green
        lg = last_green.get(k)
        if lg == 0:
            return 0  # the driver SAW this query fail — re-gate first
        if lg is None:
            return 0.5  # never driver-gated, but locally green at HEAD
        return lg

    return {k: tier(k) for k in fingerprints}


def compute_order(
    fingerprints: dict[str, str],
    verified: dict[str, dict],
    records: dict[int, dict],
    force_gate: set[str],
) -> list[str]:
    tiers = compute_tiers(fingerprints, verified, records, force_gate)
    return sorted(fingerprints, key=lambda k: (tiers[k], k))


def sf_key(sf_dir: str) -> str:
    """The record key of a scale-factor directory: its name (``sf0.01``),
    however the path was spelled and wherever the data sits."""
    return Path(os.path.abspath(sf_dir)).name


def stale_keys(
    fingerprints: dict[str, str], verified: dict[str, dict], sf_dir: str
) -> set[str]:
    """Queries NOT verified at their current fingerprint AT ``sf_dir``
    (``verified[k]["sfs"]`` maps each scale factor, by `sf_key`, to the
    fingerprint last verified there): a green record at one scale
    factor never satisfies a stale check at another."""
    sf = sf_key(sf_dir)
    return {
        k for k in fingerprints
        if verified.get(k, {}).get("sfs", {}).get(sf) != fingerprints[k]
    }
