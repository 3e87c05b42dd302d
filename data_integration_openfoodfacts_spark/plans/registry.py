"""Central query/oracle registry consumed by ``__spark_entry__``.

Every implemented operator from SURVEY.md §2 (and the LLM-pipeline
extensions) has a named query here; keys present in ``QUERIES`` but not
``ORACLES`` get the driver's weaker rows-only check (reserved for
genuinely non-SQL-expressible ops).

STABILITY: query keys (q1..q29) are part of the cross-round correctness
record — the driver compares CORRECTNESS_r{N}.json between rounds. Add
new keys freely; never rename or repurpose existing ones.
"""

from __future__ import annotations

from .analytics import ANALYTICS_ORACLES, ANALYTICS_QUERIES
from .bloom_queries import BLOOM_ORACLES, BLOOM_QUERIES
from .bucketed_queries import BUCKETED_ORACLES, BUCKETED_QUERIES
from .calibration_queries import (
    CALIBRATION_ORACLES,
    CALIBRATION_QUERIES,
)
from .canonical_queries import (
    CANONICAL_ORACLES,
    CANONICAL_QUERIES,
)
from .containment_queries import (
    CONTAINMENT_ORACLES,
    CONTAINMENT_QUERIES,
)
from .counting_bloom_queries import (
    COUNTING_BLOOM_ORACLES,
    COUNTING_BLOOM_QUERIES,
)
from .counting_stream_queries import (
    COUNTING_STREAM_ORACLES,
    COUNTING_STREAM_QUERIES,
)
from .curation_queries import CURATION_ORACLES, CURATION_QUERIES
from .drift_queries import DRIFT_ORACLES, DRIFT_QUERIES
from .embedding_ingest_queries import (
    EMBEDDING_INGEST_ORACLES,
    EMBEDDING_INGEST_QUERIES,
)
from .etl_queries import ETL_ORACLES, ETL_QUERIES
from .fusion_queries import FUSION_ORACLES, FUSION_QUERIES
from .gold_oracle_queries import GOLD_ORACLE_ORACLES, GOLD_ORACLE_QUERIES
from .hygiene_queries import HYGIENE_ORACLES, HYGIENE_QUERIES
from .insight_queries import INSIGHT_ORACLES, INSIGHT_QUERIES
from .ivf_queries import IVF_ORACLES, IVF_QUERIES
from .kcore_queries import KCORE_ORACLES, KCORE_QUERIES
from .ledger_queries import LEDGER_ORACLES, LEDGER_QUERIES
from .llm_queries import LLM_ORACLES, LLM_QUERIES
from .multimodal_queries import MULTIMODAL_ORACLES, MULTIMODAL_QUERIES
from .multiprobe_queries import (
    MULTIPROBE_ORACLES,
    MULTIPROBE_QUERIES,
)
from .olap_queries import OLAP_ORACLES, OLAP_QUERIES
from .fingerprint_queries import FINGERPRINT_ORACLES, FINGERPRINT_QUERIES
from .phrase_queries import PHRASE_ORACLES, PHRASE_QUERIES
from .policy_queries import POLICY_ORACLES, POLICY_QUERIES
from .incremental_cc_queries import (
    INCREMENTAL_CC_ORACLES,
    INCREMENTAL_CC_QUERIES,
)
from .neardup_ledger_queries import (
    NEARDUP_LEDGER_ORACLES,
    NEARDUP_LEDGER_QUERIES,
)
from .takedown_ledger_queries import (
    TAKEDOWN_LEDGER_ORACLES,
    TAKEDOWN_LEDGER_QUERIES,
)
from .propagation_queries import PROPAGATION_ORACLES, PROPAGATION_QUERIES
from .retraction_queries import RETRACTION_ORACLES, RETRACTION_QUERIES
from .quality_calibration_queries import (
    QUALITY_CALIBRATION_ORACLES,
    QUALITY_CALIBRATION_QUERIES,
)
from .repetition_queries import (
    REPETITION_ORACLES,
    REPETITION_QUERIES,
)
from .retrieval_profile_queries import (
    RETRIEVAL_PROFILE_ORACLES,
    RETRIEVAL_PROFILE_QUERIES,
)
from .sampling_queries import SAMPLING_ORACLES, SAMPLING_QUERIES
from .schema_drift_queries import (
    SCHEMA_DRIFT_ORACLES,
    SCHEMA_DRIFT_QUERIES,
)
from .span_queries import SPAN_ORACLES, SPAN_QUERIES
from .streaming_queries import STREAMING_ORACLES, STREAMING_QUERIES
from .takedown_stream_queries import (
    TAKEDOWN_STREAM_ORACLES,
    TAKEDOWN_STREAM_QUERIES,
)
from .subsumption_queries import (
    SUBSUMPTION_ORACLES,
    SUBSUMPTION_QUERIES,
)
from .temporal_queries import TEMPORAL_ORACLES, TEMPORAL_QUERIES
from .timetravel_queries import TIMETRAVEL_ORACLES, TIMETRAVEL_QUERIES
from .tpch_queries import TPCH_ORACLES, TPCH_QUERIES
from .training_queries import TRAINING_ORACLES, TRAINING_QUERIES
from .windowed_queries import WINDOWED_ORACLES, WINDOWED_QUERIES
from .weighted_minhash_queries import (
    WEIGHTED_MINHASH_ORACLES,
    WEIGHTED_MINHASH_QUERIES,
)

_ALL_QUERIES = {
    **ANALYTICS_QUERIES,
    **ETL_QUERIES,
    **LLM_QUERIES,
    **STREAMING_QUERIES,
    **MULTIMODAL_QUERIES,
    **TPCH_QUERIES,
    **TEMPORAL_QUERIES,
    **OLAP_QUERIES,
    **SAMPLING_QUERIES,
    **GOLD_ORACLE_QUERIES,
    **INSIGHT_QUERIES,
    **CURATION_QUERIES,
    **HYGIENE_QUERIES,
    **LEDGER_QUERIES,
    **TRAINING_QUERIES,
    **SPAN_QUERIES,
    **EMBEDDING_INGEST_QUERIES,
    **BLOOM_QUERIES,
    **PROPAGATION_QUERIES,
    **FINGERPRINT_QUERIES,
    **RETRACTION_QUERIES,
    **COUNTING_BLOOM_QUERIES,
    **WEIGHTED_MINHASH_QUERIES,
    **TIMETRAVEL_QUERIES,
    **CONTAINMENT_QUERIES,
    **BUCKETED_QUERIES,
    **SCHEMA_DRIFT_QUERIES,
    **FUSION_QUERIES,
    **WINDOWED_QUERIES,
    **KCORE_QUERIES,
    **MULTIPROBE_QUERIES,
    **PHRASE_QUERIES,
    **CANONICAL_QUERIES,
    **IVF_QUERIES,
    **CALIBRATION_QUERIES,
    **SUBSUMPTION_QUERIES,
    **COUNTING_STREAM_QUERIES,
    **RETRIEVAL_PROFILE_QUERIES,
    **TAKEDOWN_STREAM_QUERIES,
    **REPETITION_QUERIES,
    **QUALITY_CALIBRATION_QUERIES,
    **DRIFT_QUERIES,
    **POLICY_QUERIES,
    **INCREMENTAL_CC_QUERIES,
    **NEARDUP_LEDGER_QUERIES,
    **TAKEDOWN_LEDGER_QUERIES,
}
_ALL_ORACLES = {
    **ANALYTICS_ORACLES,
    **ETL_ORACLES,
    **LLM_ORACLES,
    **STREAMING_ORACLES,
    **MULTIMODAL_ORACLES,
    **TPCH_ORACLES,
    **TEMPORAL_ORACLES,
    **OLAP_ORACLES,
    **SAMPLING_ORACLES,
    **GOLD_ORACLE_ORACLES,
    **INSIGHT_ORACLES,
    **CURATION_ORACLES,
    **HYGIENE_ORACLES,
    **LEDGER_ORACLES,
    **TRAINING_ORACLES,
    **SPAN_ORACLES,
    **EMBEDDING_INGEST_ORACLES,
    **BLOOM_ORACLES,
    **PROPAGATION_ORACLES,
    **FINGERPRINT_ORACLES,
    **RETRACTION_ORACLES,
    **COUNTING_BLOOM_ORACLES,
    **WEIGHTED_MINHASH_ORACLES,
    **TIMETRAVEL_ORACLES,
    **CONTAINMENT_ORACLES,
    **BUCKETED_ORACLES,
    **SCHEMA_DRIFT_ORACLES,
    **FUSION_ORACLES,
    **WINDOWED_ORACLES,
    **KCORE_ORACLES,
    **MULTIPROBE_ORACLES,
    **PHRASE_ORACLES,
    **CANONICAL_ORACLES,
    **IVF_ORACLES,
    **CALIBRATION_ORACLES,
    **SUBSUMPTION_ORACLES,
    **COUNTING_STREAM_ORACLES,
    **RETRIEVAL_PROFILE_ORACLES,
    **TAKEDOWN_STREAM_ORACLES,
    **REPETITION_ORACLES,
    **QUALITY_CALIBRATION_ORACLES,
    **DRIFT_ORACLES,
    **POLICY_ORACLES,
    **INCREMENTAL_CC_ORACLES,
    **NEARDUP_LEDGER_ORACLES,
    **TAKEDOWN_LEDGER_ORACLES,
}

# The driver's per-round oracle gate checks the FIRST 50 registry
# entries, so the iteration order decides which queries it sees. Keys
# themselves are stable (see STABILITY above); only the order is tuned,
# by the committed snapshot that _gate_order() reads.

#: Hand-promotion lever consumed by ``tools/update_gate_state.py``:
#: queries listed here rank as if never verified when the committed
#: order snapshot is regenerated, so a round that changes a green
#: query's semantics can FORCE it back into the gate window. Usually
#: unnecessary — the snapshot tool fingerprints each query's code +
#: oracle text and auto-forces anything that drifted since its last
#: locally-verified green run. Clear after re-verification.
_FORCE_GATE: set[str] = set()


def _gate_order() -> list[str]:
    """Registry iteration order maximizing cross-round gate coverage.

    Round-4 redesign (r03 ADVICE): the order is read from the COMMITTED
    snapshot ``plans/gate_state.json`` — written once per round by
    ``tools/update_gate_state.py``, which ranks code-churned / forced /
    never-green queries first, then least-recently-driver-green (see
    ``tools/gate_state.py``). Import time therefore reads only the
    committed tree: reproducible across checkouts, no working-tree
    CORRECTNESS_r*.json globbing, no filesystem-state dependence.

    Queries added AFTER the snapshot was generated sort FIRST (they are
    by definition never-verified and must enter the 50-entry window);
    a missing/corrupt snapshot falls back to key order.
    """
    import json
    import os

    snap = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "gate_state.json")
    try:
        with open(snap) as fh:
            order = json.load(fh)["order"]
        known = [k for k in order if k in _ALL_QUERIES]
        new = sorted(k for k in _ALL_QUERIES if k not in set(order))
        if known:
            return new + known
    except Exception:  # noqa: BLE001 — never let ordering break the gate
        pass
    return sorted(_ALL_QUERIES)


_ORDER = [k for k in _gate_order() if k in _ALL_QUERIES]
QUERIES = {k: _ALL_QUERIES[k] for k in _ORDER}
ORACLES = {k: _ALL_ORACLES[k] for k in _ORDER if k in _ALL_ORACLES}
