"""Generate PLANS.md: formatted physical plans of the headline queries
with the scale-relevant properties annotated. Run after plan changes:

    python tools/explain_report.py
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = "/root/testdata/sf0.001"

HEADLINERS = {
    "q1_brand_return_ratio": "star join + conditional distinct agg + top-k",
    "q5_anomaly_scan": "predicate pushdown + column pruning",
    "q8_events_keep_latest": "single-shuffle window dedup",
    "q10_orphan_events": "broadcast anti join",
    "q19_minhash_lsh_pairs": "LSH bucket self-join",
    "q24_cosine_topk": "shuffle-free scan + TakeOrderedAndProject",
    "q27_windowed_event_stats": "tumbling window agg (stream twin)",
    "q34_local_supplier_volume": "6-table broadcast star join (TPC-H Q5)",
    "q36_asof_purchase_last_view": "as-of join via single-window union trick",
    "q38_time_rollup": "multi-granularity ROLLUP, one shuffle",
    "q43_hyperplane_lsh_neardup_pairs": (
        "hyperplane-LSH band join, spread input, candidate-bounded verify"
    ),
    "q59_deterministic_sample": "md5 Bernoulli sample — narrow, no shuffle",
    "q134_quality_classifier": (
        "hashed-feature classifier inference: broadcast weight join, "
        "one map-side-combined doc shuffle"
    ),
    "q63_customer_distribution": (
        "TPC-H Q13 left join + agg sharing one partitioning"
    ),
    "q68_token_packing": "per-shard running-sum packing windows",
    "q75_semantic_dedup": (
        "broadcast centroid assignment + within-cluster shuffled pair scan"
    ),
    "q78_bigram_prob_scores": (
        "count-table model build + bigram-key scoring join, nothing quadratic"
    ),
    "q95_tfidf_top_terms": (
        "two hash aggs + broadcast corpus stats + WindowGroupLimit top-k"
    ),
    "q96_bm25_search": (
        "conditional-agg per-term columns, fixed-order total, TakeOrdered"
    ),
    "q98_volume_shipping": (
        "TPC-H Q7: one SortMergeJoin (lineitem-orders), all dims broadcast"
    ),
    "q100_approx_distinct_bounds": (
        "HLL++ sketch agg (fixed-size mergeable state) next to the exact gate"
    ),
    "q101_weighted_sample": (
        "A-ES weighted top-k: narrow key expr + TakeOrderedAndProject"
    ),
    "q108_min_cost_supplier": (
        "TPC-H Q2: one supply-agg shuffle, per-part minima broadcast back"
    ),
    "q116_suppliers_kept_waiting": (
        "TPC-H Q21: EXISTS/NOT-EXISTS pair as one per-order agg + self-join"
    ),
    "q117_part_skyline": (
        "skyline via price-group agg + small-table sweep + broadcast-back"
    ),
    "q118_orders_profile": (
        "single-scan multi-metric profiling agg + stack unpivot"
    ),
    "q123_cms_heavy_hitters": (
        "count-min sketch: map-side-combined 4xseed agg, broadcast estimate join"
    ),
    "q139_duplicate_window_spans": (
        "exact-substring dup spans: bounded dup-set agg + broadcast "
        "join-back, lead-window interval union (no position explode; "
        "the collect_list variant was reverted — unbounded buffer)"
    ),
    "q143_cross_corpus_alignment": (
        "cross-corpus LSH: two corpora meet ONLY in the (band, sig) "
        "equi-join; XOR first-match dedup; no cartesian node"
    ),
    "q144_dsir_importance": (
        "DSIR: one conditional agg builds both bucket models; 4096-row "
        "ratio table broadcasts; one per-doc agg"
    ),
    "q145_domain_mixture": (
        "domain cap+mix: single rank-window shuffle, broadcast rate table"
    ),
    "q146_span_corruption": (
        "T5 span corruption: pure narrow HOF expressions, zero Exchange"
    ),
    "q151_leakage_guarded_split": (
        "leakage guard: minhash band join -> star-contraction "
        "components -> md5-of-cluster split, no per-doc hash leak"
    ),
    "q153_epoch_upsampling": (
        "fractional epoch upsampling: narrow rate+draw expressions + "
        "copy-sequence explode, zero shuffle"
    ),
    "q154_embedding_outliers": (
        "Mahalanobis screen: broadcast constant index + 64-row stats, "
        "expansion fused into partial agg (no data self-join)"
    ),
    "q158_rule_quality_battery": (
        "Gopher/C4 rule battery: every signal and flag in one Project "
        "riding the scan — zero Exchange"
    ),
    "q160_token_budget_fill": (
        "token-budget fill: one window shuffle (per-source running "
        "sum), budgets broadcast"
    ),
    "q162_kmv_snapshot_overlap": (
        "KMV sketches: distinct + TakeOrdered per side, everything "
        "downstream <= k rows"
    ),
    "q164_classifier_training": (
        "hashed-logistic training (final weight table assembly; the "
        "per-iteration plan is pinned by test_plan_shapes — broadcast "
        "weight join, map-side-combined doc agg, 64-row gradient "
        "envelope)"
    ),
    "q166_duplicate_span_removal": (
        "span-exact removal: bounded dup-hash agg + join-back, lag-gap "
        "interval merge (one id-window shuffle), narrow positional "
        "filter reassembly — no position-level join, no Python UDF"
    ),
    "q168_bloom_decontamination": (
        "Bloom screen: map-side bit_or word build (<=1024 rows out), "
        "BROADCAST word table into the probe join, one groupBy(key) — "
        "the filter is never shuffled, the probe side is"
    ),
    "q171_binary_simhash": (
        "codec-free payload SimHash: narrow hex-gram explode, distinct, "
        "ONE grouped agg keyed on media_id with per-bit conditional "
        "sums (round 13 — bit explode + second shuffle removed) — "
        "linear in corpus bytes, zero Python"
    ),
    "q176_counting_bloom_takedown": (
        "deletable screen: two groupBy(p) count builds (insert +, "
        "takedown -), O(m)-bounded word derivation, broadcast probe — "
        "retraction is integer subtraction, never a rebuild"
    ),
    "q177_weighted_jaccard_pairs": (
        "tf-weighted MinHash: integer replication expansion (one md5 "
        "per replica), 8 minima from ONE groupBy(id), bucket-capped "
        "LSH self-join, candidate-bounded exact J_W verify"
    ),
    "q180_containment_pairs": (
        "asymmetric containment join: contained-side rare-first prefix "
        "into the posting join, length-filtered host postings, "
        "pair-bounded verify — integer thresholds, no IEEE ceil"
    ),
    "q181_bucketed_colocated_join": (
        "persisted bucketed tables: SortMergeJoin over two bucketed "
        "scans, ZERO Exchange (asserted in the gated path)"
    ),
    "q184_windowed_novelty_expiry": (
        "windowed ledger probe: broadcast-tranche semi over a scan "
        "partition-pruned on BOTH epoch range and touched buckets; "
        "expiry is a directory drop"
    ),
    "q185_kcore_template_rings": (
        "k-core peel: two semi-joins + one degree agg per round, "
        "lineage truncated per round, one driver long per round"
    ),
    "q186_multiprobe_retrieval": (
        "multi-probe LSH: corpus tagged once, query side explodes "
        "1+8 probe sigs per band, (band, sig) equi-join, exact-cosine "
        "verify bounded by candidates"
    ),
    "q187_phrase_search": (
        "phrase search: token-wise match rides the scan (no explode, "
        "no join); only the per-phrase top-k window shuffles"
    ),
    "q188_quality_canonical_dedup": (
        "quality-canonical dedup: CC clusters + per-cluster Borda "
        "windows; canonical = first(doc_id) over the same window "
        "(round 13 — no self-join, no checkpoint, no extra shuffle)"
    ),
    "q193_retrieval_operating_points": (
        "recall-vs-cost curve: corpus tagged/assigned ONCE per family, "
        "only the small query side explodes per knob; broadcast NLJ "
        "exact baselines, no CartesianProduct"
    ),
    "q151_leakage_guarded_split": (
        "round 12: CC input is LSH bucket STARS (one window over the "
        "band table, member -> bucket min) — no band self-join, no "
        "pair groupBy; a hot bucket can't emit m^2/2 edges"
    ),
    "q198_semdedup_fixed_cluster": (
        "k∝n SemDeDup: corpus-derived centroid count, broadcast "
        "centroid scoring, within-cluster pair join hash-partitioned "
        "on centroid_id, no single-partition exchange"
    ),
    "q200_incremental_components": (
        "incremental CC: new edges map to current components, "
        "component-graph CC bounded by the delta, broadcast mapping "
        "over the label ledger (ledger never shuffled; round 13 "
        "semi-prunes the endpoint translation to broadcast joins too)"
    ),
    "q202_neardup_ingest_component_lifecycle": (
        "round 13: the ingest loop composed — per-tranche signatures, "
        "bucket-pruned band probe, collision STAR edges (O(batch), "
        "never m^2/2), delta-cost persisted component merge, "
        "canonical survivors"
    ),
}


def main() -> None:
    from data_integration_openfoodfacts_spark.plans.registry import QUERIES
    from data_integration_openfoodfacts_spark.session import get_spark

    spark = get_spark("explain-report")
    spark.sparkContext.setLogLevel("ERROR")

    out = [
        "# PLANS — physical plans of the headline queries",
        "",
        "Generated by `tools/explain_report.py` at sf0.001 (plan shapes are",
        "size-independent except where AQE notes otherwise). Properties",
        "pinned by `tests/test_plan_shapes.py`.",
        "",
    ]
    for name, why in HEADLINERS.items():
        df = QUERIES[name](spark, SF_DIR)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        txt = buf.getvalue()
        # keep the operator tree, drop the verbose per-node details
        tree = txt.split("\n\n")[0]
        out += [f"## {name} — {why}", "", "```", tree.strip(), "```", ""]

    path = os.path.join(REPO, "PLANS.md")
    with open(path, "w", encoding="utf-8") as f:
        f.write("\n".join(out))
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
