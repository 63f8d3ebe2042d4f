"""Query registry assembly + driver-window ordering.

The verification driver records correctness rows for the FIRST 50
entries of ``__spark_entry__.queries()`` (observed in CORRECTNESS_r01/
_r02: each is exactly the first 50 registry entries in import order).
Relying on import order proved fragile — round 2's relational
insertions pushed the entire LLM-ops surface past position 50 — so the
window is now explicit: ``DRIVER_WINDOW`` lists the 50 queries that
form the gate of record, chosen so every SURVEY §2 row and every §2.12
LLM-data-pipeline capability has a green row inside the window.

Queries beyond the window (granular per-family scalar variants, the
wider TPC-H rotation) remain registered: ``scripts/driver_gate.py``
runs ALL of them at sf0.01, and bench.py times the headline set.
"""

from lakeflow.plans.registry import QUERIES, QuerySpec, query

# importing the modules populates QUERIES (order no longer matters —
# DRIVER_WINDOW below fixes the exported ordering)
from lakeflow.plans import llm_ops  # noqa: F401
from lakeflow.plans import relational  # noqa: F401
from lakeflow.plans import scalar_ops  # noqa: F401

#: The 50 queries the driver's correctness gate records, in order.
#: Rotated each round to grow the certified set (rounds 1-5 certified
#: 103 distinct queries; COVERAGE.md's ledger maps every §2 ref to its
#: certifying round).
DRIVER_WINDOW: tuple[str, ...] = (
    # ROUND-11 ROTATION, generated from CERTIFIED.json (freshly folded
    # with the 50/50-green CORRECTNESS_r10 rows) via
    # scripts/certified_ledger.py: oldest-certification-first.
    # Composition: ALL 42 queries whose latest driver row is round 7
    # (the refresh backlog VERDICT r10 gap #1 names — this clears it in
    # one rotation) plus the first 8 (alphabetical — all r8 rows are
    # equally stale) of the 50 whose latest row is round 8. Round-11
    # builds displace r8 fills as they land (inline comments below).
    # After this round the ledger's minimum latest-round is 8.
    #
    # --- latest row r7 (all 42) ---
    "q_clean_lines",
    "q_containment_join",
    "q_contamination",
    "q_cosine_topk",
    "q_data_selection",
    "q_dedup_survivors",
    "q_equi_depth_hist",
    "q_exact_k_sample",
    "q_flatten_collision",
    "q_fs_linkage",
    "q_gopher_rules",
    "q_hard_negatives",
    "q_hash_sample",
    "q_heavy_hitters",
    "q_hybrid_search",
    "q_incremental_near_dup",
    "q_incremental_semantic",
    "q_incremental_setsim",
    "q_ks_drift",
    "q_lang_id",
    "q_leakage_safe_split",
    "q_minhash_lsh_pairs",
    "q_near_dup_pipeline",
    "q_oov_rate",
    "q_pagerank",
    "q_paragraph_dedup",
    "q_phrase_search",
    "q_pps_sample",
    "q_pq_ann",
    "q_quality_classifier",
    "q_record_linkage",
    "q_resample_interp",
    "q_sanitize_names",
    "q_semantic_dedup",
    "q_setsim_join",
    "q_struct_json",
    "q_temperature_mix",
    "q_tokenize_ids",
    "q_trend_slope",
    "q_try_casts",
    "q_wav_meta",
    "q_winsorize",
    # --- must-certify round-11 builds (3) — each displaces an r8
    # fill (q_anti_join_customers, q_approx_distinct, q_apss_join;
    # all three stay green in the local gate and roll into the r12
    # refresh): family pairings for the r7 rows rotated in above
    # (VERDICT r10 task #5) — rm3 pairs the bm25/hybrid search
    # family, triangle_count pairs the pagerank graph family,
    # token_fertility pairs the tokenize_ids/oov_rate family
    "q_rm3_expansion",
    "q_triangle_count",
    "q_token_fertility",
    # --- connected-components consumers: their operator
    # (clusters.connected_components) changed, and a row whose
    # operator changed gets a driver row
    "q_entity_resolution",
    "q_incremental_entities",
    "q_dup_clusters",
    "q_cluster_safe_split",
    # --- latest row r8: entry() ---
    "q5_local_supplier_volume",
)


def _apply_driver_window() -> None:
    if len(DRIVER_WINDOW) != 50:
        raise RuntimeError(
            f"DRIVER_WINDOW must hold exactly 50 queries, got {len(DRIVER_WINDOW)}"
        )
    missing = [name for name in DRIVER_WINDOW if name not in QUERIES]
    if missing:
        raise RuntimeError(f"DRIVER_WINDOW names not in registry: {missing}")
    rest = [name for name in QUERIES if name not in DRIVER_WINDOW]
    ordered = {name: QUERIES[name] for name in (*DRIVER_WINDOW, *rest)}
    QUERIES.clear()
    QUERIES.update(ordered)


_apply_driver_window()

__all__ = ["QUERIES", "QuerySpec", "query", "DRIVER_WINDOW"]
