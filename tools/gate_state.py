"""Gate-state library: committed, code-churn-aware oracle-gate rotation.

Round-3 VERDICT #1 + ADVICE items: the old ``_gate_order`` (a) globbed
``CORRECTNESS_r*.json`` from the working tree at import time, so two
checkouts of the same commit could produce different registry orders,
and (b) rotated purely by last-green AGE, blind to code churn — a query
whose implementing module was refactored AFTER its last green record
kept its old rank and could sit outside the 50-entry driver window for
rounds (the r03 stale-green finding: q18/q19/q46/q49/q73 vs commit
d927e84).

New design — the order is a COMMITTED ARTIFACT, regenerated once per
round by ``tools/update_gate_state.py``:

* Each query gets a **fingerprint**: sha256 over its oracle SQL text
  plus the content of every repo module transitively reachable from its
  implementing module (regex import resolution — conservative: a
  comment-only edit also trips it, which errs toward re-verification).
* ``plans/gate_state.json`` records, per query, the fingerprint at the
  last LOCALLY oracle-green run (``tools/check_oracle.py --record``)
  and the last driver-green round (from CORRECTNESS_r*.json — read by
  the TOOL in a real checkout, never at library import time).
* Rank: tier 0 = last driver record red / fingerprint drifted or never
  verified since the last local green / in ``_FORCE_GATE`` — these MUST
  reach the 50-entry window this round; tier 0.5 = never driver-gated
  but locally oracle-verified at the current fingerprint (the rotation
  CONSUMES the committed local record — round-5 VERDICT #7 — so a
  new-query burst queues behind genuine churn instead of evicting it);
  then ascending last-green round; the query key as the deterministic
  tiebreak.

``plans.registry`` reads ONLY the committed JSON (plus "new keys
first"), so the order is a pure function of the committed tree.
"""

from __future__ import annotations

import hashlib
import json
import re
from pathlib import Path

PKG = "data_integration_openfoodfacts_spark"
REPO = Path(__file__).resolve().parent.parent
PKG_ROOT = REPO / PKG
STATE_PATH = PKG_ROOT / "plans" / "gate_state.json"

# ``from ..operators.x import y`` / ``from . import z`` /
# ``from data_integration_openfoodfacts_spark.functions.v import w`` —
# matched anywhere in the source (function-local imports included).
# The names group is either ONE parenthesized (possibly multi-line)
# list or the rest of the line — an unbounded [\w.,\s()*]+ here
# swallowed every consecutive from-import through its \s newlines, so
# the closure silently missed most dependencies (the r04 review's top
# finding; pinned by test_gate_state_closure.py).
_IMPORT_RE = re.compile(
    rf"^[ \t]*from[ \t]+(\.+[\w.]*|{PKG}(?:\.[\w.]+)?)[ \t]+import"
    rf"[ \t]+(\([^)]*\)|[^\n]+)",
    re.M,
)


def _module_path_candidates(base_pkg: list[str], stmt: str, names: str):
    """Yield repo-relative module paths a ``from stmt import names``
    statement may refer to (both ``pkg/mod.py`` and ``pkg/mod/name.py``
    — the imported name can itself be a submodule)."""
    if stmt.startswith("."):
        dots = len(stmt) - len(stmt.lstrip("."))
        rel = stmt.lstrip(".")
        # one dot = current package, two = parent, ...
        root = base_pkg[: len(base_pkg) - (dots - 1)] if dots > 1 else base_pkg
        parts = root + ([p for p in rel.split(".") if p] if rel else [])
    else:
        parts = stmt.split(".")[1:]  # strip the package name itself
    yield parts  # the module itself (names are attributes)
    for nm in re.split(r"[,\s()]+", names):
        nm = nm.strip()
        if nm and nm != "*" and nm.isidentifier():
            yield parts + [nm]  # the name may be a submodule


def _resolve_file(parts: list[str]) -> Path | None:
    if not parts:
        return None
    p = PKG_ROOT.joinpath(*parts)
    for cand in (p.with_suffix(".py"), p / "__init__.py"):
        if cand.is_file():
            return cand
    return None


def module_closure(start: Path) -> list[Path]:
    """Transitive repo-internal import closure of a module file."""
    seen: set[Path] = set()
    todo = [start]
    while todo:
        f = todo.pop()
        if f in seen or not f.is_file():
            continue
        seen.add(f)
        src = f.read_text()
        base_pkg = list(f.relative_to(PKG_ROOT).parent.parts)
        for m in _IMPORT_RE.finditer(src):
            for parts in _module_path_candidates(base_pkg, m.group(1), m.group(2)):
                dep = _resolve_file(parts)
                if dep is not None and dep not in seen:
                    todo.append(dep)
    return sorted(seen)


def query_fingerprint(mod_file: Path, oracle_text: str) -> str:
    h = hashlib.sha256()
    h.update(oracle_text.encode())
    for f in module_closure(mod_file):
        h.update(str(f.relative_to(REPO)).encode())
        h.update(hashlib.sha256(f.read_bytes()).digest())
    return h.hexdigest()


def current_fingerprints() -> dict[str, str]:
    """{query key: fingerprint} for the full registry (imports Spark-free
    registry metadata only — query callables are not invoked)."""
    import sys

    if str(REPO) not in sys.path:
        sys.path.insert(0, str(REPO))
    from data_integration_openfoodfacts_spark.plans import registry

    out: dict[str, str] = {}
    for name, fn in registry.QUERIES.items():
        mod = fn.__module__.replace(PKG + ".", "").split(".")
        mod_file = _resolve_file(mod)
        if mod_file is None:  # pragma: no cover — registry always in-pkg
            raise RuntimeError(f"cannot locate module for {name}: {fn.__module__}")
        out[name] = query_fingerprint(mod_file, registry.ORACLES.get(name, ""))
    return out


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
    """0 = must re-gate (forced / last-seen-red at the driver /
    code-or-oracle drifted or never verified since the last local
    green); 0.5 = never driver-green but locally oracle-verified at the
    CURRENT fingerprint (round-5 VERDICT #7: the committed local record
    relieves a new-query burst from monopolizing the window — these
    sort behind genuine churn but ahead of every already-driver-green
    query); otherwise the round of the query's most recent driver green
    (older sorts first).
    """
    last_green: dict[str, int] = {}
    has_oracle = _oracle_keys()
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


def _oracle_keys() -> set[str]:
    import sys

    if str(REPO) not in sys.path:
        sys.path.insert(0, str(REPO))
    from data_integration_openfoodfacts_spark.plans import registry

    return set(registry.ORACLES)


def stale_keys(
    fingerprints: dict[str, str], verified: dict[str, dict], sf_dir: str
) -> set[str]:
    """Queries NOT verified at their current fingerprint AT ``sf_dir``.

    Per-sf tracking lives in ``verified[k]["sfs"]`` ({sf_dir:
    fingerprint}); entries recorded before the map existed fall back to
    the legacy single-(fingerprint, sf) pair. A green record at one
    scale factor never satisfies a stale check at another (round-6
    review finding)."""

    def seen(v: dict, k: str) -> bool:
        if "sfs" in v:
            return v["sfs"].get(sf_dir) == fingerprints[k]
        return (
            v.get("fingerprint") == fingerprints[k]
            and v.get("sf") == sf_dir
        )

    return {k for k in fingerprints if not seen(verified.get(k, {}), k)}
