"""Regenerate the committed gate order (run once per round, then commit).

Usage: python tools/update_gate_state.py

Reads the driver's CORRECTNESS_r*.json records + current per-query code
fingerprints, recomputes the rotation (see tools/gate_state.py for the
ranking), and rewrites ``plans/gate_state.json``. The ``verified``
fingerprint map is only ever updated by a green
``tools/check_oracle.py --record`` run — this tool just re-ranks.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tools import gate_state


def main() -> int:
    from data_integration_openfoodfacts_spark.plans.registry import (
        _FORCE_GATE,
    )

    fps = gate_state.current_fingerprints()
    state = gate_state.load_state()
    records = gate_state.load_driver_records()
    order = gate_state.compute_order(
        fps, state.get("verified", {}), records, _FORCE_GATE
    )
    tiers = gate_state.compute_tiers(
        fps, state.get("verified", {}), records, _FORCE_GATE
    )
    n_forced = sum(1 for t in tiers.values() if t == 0)
    n_local = sum(1 for t in tiers.values() if t == 0.5)
    state["order"] = order
    state["last_driver_round"] = max(records, default=0)
    gate_state.save_state(state)
    print(
        f"gate_state.json: {len(order)} queries ordered, "
        f"{n_forced} forced to tier 0 (churned/forced/red), "
        f"{n_local} local-green awaiting first driver gate, "
        f"driver records through r{state['last_driver_round']:02d}"
    )
    print("window (first 50):", ", ".join(order[:50]))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
