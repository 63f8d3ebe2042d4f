"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query executes to completion through the noop sink (full distributed
execution, no driver-side materialization cost in the measurement).

Load robustness (round 4, after BENCH_r03's 2.7x anomaly on unchanged
code — adjudicated environmental by the r3 judge; REWORKED round 11,
VERDICT r10 defect #1): a fixed calibration job is timed at the
start, middle, and end of each pass and reported in the JSON.
``calibration_sec`` is the MINIMUM probe (see the REF constants for
why min, not median); ``queries_normalized`` rescales each raw timing
by ``CALIBRATION_MID_REF_SEC / calibration_sec`` so a contended
machine reads the same as an idle one. Raw timings stay the headline
``value`` for round-over-round continuity; the normalized block is
the load-independent record.

Round-11 rework: the anchor probe is now a MID-SIZE shuffle+codegen
query (``_calibration_mid_job`` — two wide hash aggregates + a sort
over 48M generated rows, ~1 s idle), not the old ~0.1 s CPU-only
reduction. Round 10 proved the small probe blind: two same-code
sessions differed by a median 1.28x per query across 147 common
queries while the CPU probe moved ~1% — whole-session load that
throttles shuffle/codegen-heavy queries never touched it, so the
artifact of record regressed 13% while the code got ~10% faster.
The mid probe exercises the same resource mix the headline queries
do (codegen, exchange write/read, hash tables), so session-level
throttling shows up in the anchor and divides back out. The old CPU
probe is still recorded (``calibration_cpu_sec``) for cross-round
attribution, as is the shuffle micro-probe.

A second, anchor-INDEPENDENT noise detector: ``vs_history_median_
ratio`` compares this session's RAW per-query timings against the
per-query RAW minimum across prior recorded sessions
(bench_history.jsonl, same sf) — the median ratio over common
queries; raw on both sides so the comparison survives any anchor
mistake, past or future. A clean session reads ~1.0-1.15 (history-min is a floor);
``session_load_suspect`` flags outside [0.8, 1.25] — above means
a loaded session (r10's slow artifact session reads 1.28 on this
metric), below means the median query beat its all-time floor by
>20% (a sweeping code/runtime change — worth a human look either
way). The probes alone proved insufficient in BOTH directions: r10's
CPU probe under-responded (moved 1% in a 1.28x-slow session) and
r11's first session showed the all-32-thread probes OVER-respond to
host steal that short query stages don't feel (probe 3.4x, queries
~5%). ``value_history_anchored`` = raw headline / vs_history — the
uniform machine component divided out entirely, the number two
same-code sessions should agree on regardless of probe behavior;
per-query regressions still move it (they move the distribution, not
just the uniform factor).

Per-query timing is min-of-3, and the Spark cache is scoped per query
so operators that persist intermediates (near-dup pipeline, LSH
index) cannot pressure later queries' memory.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

#: Wall seconds the LEGACY CPU-only calibration job takes on an idle
#: 32-thread sandbox. Recorded for cross-round attribution only since
#: round 11; see CALIBRATION_MID_REF_SEC for the normalization anchor.
#: Anchor = the session MINIMUM of the start/middle/end probes: C2-JIT
#: tiering keeps lowering later probes toward the true steady state, so
#: the session median swings ~50% between otherwise-identical runs
#: (measured 0.195 vs 0.130) while the minimum is stable within ~5%
#: (0.106 vs 0.111). Contention raises ALL probes, so the minimum still
#: detects a loaded machine.
CALIBRATION_REF_SEC = 0.108

#: Wall seconds the round-11 MID-SIZE shuffle+codegen calibration job
#: (_calibration_mid_job) reads under REFERENCE QUERY CONDITIONS —
#: i.e. in a session whose per-query timings match the recorded
#: r10/r11 bench baseline. Set from the first r11 session: mid-probe
#: session min 2.514 while that session's queries ran at ~1.05x the
#: r10 artifact (and the fused rows FASTER) — so 2.5 is what the
#: probe reads when queries are at baseline speed. NOT an "idle
#: machine" number: the r11 sessions showed the all-32-thread probes
#: over-respond to host steal (probe 3.4x while queries moved ~5%),
#: so an idle-derived anchor over-corrects — the first r11 session's
#: probe-normalized headline read 0.43x its own history floor, which
#: the vs_history detector flagged. The probe still catches genuine
#: whole-session throttling (it moves WITH the queries when the
#: throttle is sustained, as in the pre-session measurements this
#: round); the anchor-independent history fields below are the
#: backstop when it over- or under-responds.
CALIBRATION_MID_REF_SEC = 2.5


def _sf_from_dir(d: str) -> float:
    m = re.search(r"sf([0-9.]+)", d)
    return float(m.group(1)) if m else -1.0


def _calibration_job(spark) -> None:
    spark.range(0, 256_000_000, 1, 32).selectExpr(
        "sum(id * id % 1000003) as s"
    ).collect()


def _calibrate(spark) -> float:
    """Fixed CPU-bound probe: 256M-row modular arithmetic reduction over
    32 fixed partitions — no I/O, no shuffle variance. Timed min-of-3.
    Callers must have warmed the job untimed first (JIT tiering shifts
    the first executions by 2-4x)."""
    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        _calibration_job(spark)
        runs.append(time.perf_counter() - t0)
    return min(runs)


def _calibration_mid_job(spark) -> None:
    """q3-shaped mid-size probe (round 11): 48M generated rows through
    whole-stage codegen, a 1M-group partial+final hash aggregate
    (32-partition exchange), a re-keyed second aggregate, and a sort —
    the resource mix (CPU + shuffle write/read + hash tables) the
    headline queries actually exercise, sized ~1 s idle so
    whole-session load that throttles real queries is visible to it.
    Deterministic, no I/O, no data dependence."""
    (
        spark.range(0, 48_000_000, 1, 32)
        .selectExpr("id % 1000003 as k", "id")
        .groupBy("k")
        .agg({"id": "sum"})
        .selectExpr("k % 9973 as k2", "`sum(id)` as s")
        .groupBy("k2")
        .agg({"s": "sum"})
        .orderBy("k2")
        .collect()
    )


def _calibrate_mid(spark) -> float:
    """Timed min-of-3 of the mid-size probe; callers warm it untimed
    first (JIT tiering shifts first executions)."""
    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        _calibration_mid_job(spark)
        runs.append(time.perf_counter() - t0)
    return min(runs)


def _calibration_shuffle_job(spark) -> None:
    spark.range(0, 8_000_000, 1, 32).selectExpr(
        "id", "id % 9973 as k"
    ).repartition(32, "k").selectExpr("sum(id) as s").collect()


def _calibrate_shuffle(spark) -> float:
    """Fixed shuffle-bound probe: 8M rows hashed through a 32x32
    exchange. The CPU probe above misses machine drift that lives in
    the shuffle path (local-disk throttling, page-cache pressure) —
    recording both lets a cross-round reader attribute a uniform
    query-time shift to the right resource instead of to the code
    (observed late round 6: CPU probe FASTER while every
    shuffle-bearing query ran ~15-25% slower)."""
    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        _calibration_shuffle_job(spark)
        runs.append(time.perf_counter() - t0)
    return min(runs)


# Headline set: the heavy scan/join/agg/window/dedup paths. Extended as the
# registry grows; anything not listed still runs in the driver's t2 gate.
BENCH_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q_topk_orders_per_customer",
    "q_dedup_latest_event",
    "q_window_running",
    "q_range_pairs_events",
    "q_asof_latest_order",
    "q_rollup_lineitem",
    "q_json_extract_events",
    "q_exact_dedup_docs",
    "q_text_stats",
    "q_minhash_lsh_pairs",
    "q_cosine_topk",
    "q_lsh_ann",
    "q_simhash",
    "q_multimodal_meta",
    "q_sessionize_batch",
    "q_pivot_event_types",
    "q_lang_id",
    "q_near_dup_pipeline",
    "q_correlated_subquery",
    # round 2 additions
    "q6_forecast_revenue",
    "q7_volume_shipping",
    "q10_returned_items",
    "q18_large_volume_orders",
    "q_token_classes",
    "q_winnow_fingerprint",
    "q_embedding_near_dup",
    "q_ivf_ann",
    "q_edit_distance_pairs",
    "q_drift_tvd",
    # round 3 additions (driver-window consolidations + reworked q17)
    "q_scalar_funcs_wide",
    "q_set_ops",
    "q17_small_quantity_parts",
    # round 3 training-pipeline additions
    "q_hash_sample",
    "q_repetition_metrics",
    "q_corpus_prep",
    "q_dup_clusters",
    "q_boilerplate",
    "q_contamination",
    "q_pack_sequences",
    "q_pii_redact",
    "q_zorder_key",
    "q_multimodal_frames",
    "q_incremental_near_dup",
    "q_profile_orders",
    "q_full_outer_activity",
    "q_kmeans_cells",
    "q_semantic_dedup",
    "q_token_budget_mix",
    "q_heavy_hitters",
    "q_heavy_hitters_approx",
    "q_stats_moments",
    "q9_profit_by_nation",
    "q15_top_supplier",
    "q21_waiting_suppliers",
    "q_tfidf_terms",
    # q_quality_band_approx replaced the exact-percentile q_quality_band
    # row in round 6: the benched form is now the GK-sketch scale path
    # (the one that runs at 100 TB); the exact row stays registered for
    # bit-exact oracle parity but no longer shapes the headline.
    "q_quality_band_approx",
    "q_chunk_windows",
    "q_leakage_safe_split",
    "q_cluster_safe_split",
    "q_collocations",
    "q_try_casts",
    "q_cohort_retention",
    "q_cluster_purity",
    "q_funnel_steps",
    "q_salted_agg",
    # round 4 additions (TPC-H completion + line cleaning + exact-k)
    "q2_min_cost_supplier",
    "q11_important_stock",
    "q16_supplier_relationship",
    "q20_potential_promotion",
    "q_clean_lines",
    "q_exact_k_sample",
    "q_pq_ann",
    "q_doc_surprisal",
    "q_dedup_survivors",
    # q_ivf_pq_ann retired from the headline in round 6 (VERDICT r5
    # task #2): its ~3 s was in-query codebook/centroid TRAINING, which
    # the serve path never pays. The build cost is now measured once as
    # the separate "build_ivf_pq_fit_sec" metric below; the query stays
    # registered (its oracle row still certifies the composed path) and
    # q_ann_serving benches the steady-state search against the
    # prebuilt index.
    # round 5 additions (serving-path ANN against a prebuilt index +
    # the gold card-funnel star query)
    "q_ann_serving",
    "q_gold_funnel_join",
    "q_repeated_spans",
    "q_percent_rank",
    "q_paragraph_dedup",
    "q_expectations",
    "q_resample_locf",
    "q_resample_interp",
    "q_image_dims",
    "q_wav_meta",
    "q_bigram_surprisal",
    "q_domain_percent_rank",
    "q_gopher_rules",
    # round 5 continuation: scan-reduction + graph + sketch-rollup + sampling
    "q_bloom_prune_join",
    "q_zonemap_scan",
    "q_pagerank",
    "q_sketch_rollup",
    "q_stratified_sample",
    "q_keyword_search",
    "q_snapshot_diff",
    "q_bitmap_rollup",
    "q_shard_assignment",
    "q_winsorize",
    "q_oov_rate",
    "q_interval_join",
    "q_equi_depth_hist",
    "q_tokenize_ids",
    # round 5 final: exact set-similarity + data selection + profiling
    "q_setsim_join",
    "q_dsir_weights",
    "q_pps_sample",
    "q_ts_gaps",
    "q_trend_slope",
    "q_bpe_merges",
    "q_embedding_dim_stats",
    "q_mad_outliers",
    "q_data_selection",
    "q_incremental_setsim",
    "q_record_linkage",
    "q_entity_resolution",
    "q_fs_linkage",
    "q_hard_negatives",
    # round 6 additions: incremental entity resolution + trained filter
    "q_incremental_linkage",
    "q_incremental_entities",
    "q_quality_classifier",
    "q_incremental_semantic",
    "q_bm25_search",
    "q_hybrid_search",
    "q_temperature_mix",
    # round 7: containment decontamination, KS drift, phrase search
    # (q_cdf_aggregate stays out of the headline: it is an end-to-end
    # multi-version WRITE pipeline — a build metric, not a query shape)
    "q_containment_join",
    "q_ks_drift",
    "q_phrase_search",
    # round 8: proximity retrieval over the positional index +
    # corpus-level minhash overlap
    "q_slop_search",
    "q_corpus_overlap",
    # round 8 continuation: chi-squared drift, int8 embedding
    # quantization (error profile + recall contract), MMR selection
    "q_chi2_drift",
    "q_int8_quantize",
    "q_int8_recall",
    "q_mmr_select",
    "q_source_overlap",
    "q_kcenter_select",
    "q_grouped_ks",
    # round 8 continuation-2: PCA sufficient statistics, portable HLL
    # distinct sketch, ranked-retrieval quality, counts-derived exact
    # quantiles
    "q_pca_gram",
    "q_hll_distinct",
    "q_retrieval_metrics",
    "q_exact_quantiles",
    "q_cms_estimate",
    "q_grouped_chi2",
    "q_matryoshka_recall",
    # round 9: mergeable log-histogram quantile sketch (the
    # unbounded-domain quantile path; q_incremental_apss stays out —
    # see the apss note below)
    "q_loghist_quantiles",
    # round 10: the grouped (fleet-monitor) loghist form and the
    # snapshot-staleness drift monitor — both steady-state plan shapes
    # (one hash agg + bounded selection; one token pass + bounded
    # chi2), so both ARE benchable, unlike their apss-family cousin
    # q_incremental_apss (exclusion reviewed this rotation: the
    # staleness probe never generates pairs, so the near-clique
    # degeneration that keeps the apss joins out does not apply to it)
    "q_grouped_loghist",
    "q_snapshot_staleness",
    # round 10 continuation: the discrete-bucket occupancy monitor
    # (bounded aggregates over the frozen banding — steady-state shape)
    "q_band_staleness",
    # round 11: RM3 query expansion (a BM25 round + broadcast feedback
    # join), degree-oriented triangle counting over the part
    # co-purchase graph (the round's heaviest new row — a genuine
    # wedge-join graph workload), per-language tokenizer fertility
    "q_rm3_expansion",
    "q_triangle_count",
    "q_token_fertility",
    # q_apss_join stays OUT of the headline (the q_cdf_aggregate rule:
    # not a steady-state query shape on this data): the synthetic
    # documents table draws uniform tokens from a tiny shared
    # vocabulary, making it a near-clique for cosine (75% of ALL pairs
    # >= 0.5, 69,364 >= 0.85 at sf0.1) where ANY sound exact
    # prefix-filter degenerates to ~all-pairs — 70-135 s dominated by
    # the genuine 12M-candidate verify. On a realistic zipf-vocabulary
    # corpus of the same size the same plan is candidate-bound: 2,056
    # raw candidate rows -> 327 candidates -> 188 pairs, 9.7 s
    # (SCALING.md, 'weighted-cosine APSS'). The driver gate certifies
    # it at sf0.01 against the ground-truth all-pairs oracle.
    # q_incremental_apss (round 9) stays out for the same reason: its
    # new×stored tier probes the same near-clique corpus at the same
    # 0.85 threshold (1/7 of docs vs the stored 6/7 — the answer set is
    # the pair clique's new-touching slice). Driver-gate certified at
    # sf0.01 against the ground-truth snapshot-weighted oracle; the
    # zipf-corpus scale probe is in SCALING.md.
]


# Queries whose fn() executes driver-side greedy/iterative rounds
# EAGERLY (localCheckpoint loops, TakeOrdered selection rounds): timing
# only the final write would report the last projection and silently
# absorb the real work into untimed fn() (VERDICT r8 task #4 —
# q_mmr_select's benched 0.06 s vs its true ~2 s). For these, the timed
# region is fn()+write — the TRUE end-to-end cost — and the artifact
# lists them under "eager_timed" so round-over-round readers know these
# rows changed basis in round 9. Module-level so scripts/scale_probe.py
# times the SAME region at 10x/30x (VERDICT r9 task #3).
DRIVER_EAGER = {
    "q_dup_clusters",
    "q_entity_resolution",
    "q_incremental_entities",
    "q_mmr_select",
    "q_kcenter_select",
}

def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    os.environ.setdefault("LAKEFLOW_MASTER", f"local[{cpus}]")
    os.environ.setdefault("LAKEFLOW_SHUFFLE_PARTITIONS", cpus)
    # the host-sized default heap (4g on a 16 GB host) runs out in the
    # end-of-pass calibration probe at local[32]; the bench keeps 8g
    os.environ.setdefault("LAKEFLOW_DRIVER_MEM", "8g")

    from lakeflow import get_spark
    from lakeflow.plans import QUERIES

    spark = get_spark("lakeflow-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # JVM warm-up outside the measurement; the calibration jobs are
    # warmed untimed so JIT tiering doesn't bias the first probe high
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    for _ in range(3):
        _calibration_job(spark)
    for _ in range(2):
        _calibration_mid_job(spark)

    names = [n for n in BENCH_QUERIES if n in QUERIES]
    probes: list[float] = [_calibrate_mid(spark)]

    # steady-state timing: min of 3 runs per query — the first run pays
    # one-time whole-stage-codegen JIT compilation (~1s/query), which at
    # sf0.1 would swamp the actual execution being measured
    from lakeflow.caching import scoped_cache

    def _run_pass(pass_no: int) -> dict[str, float]:
        timings: dict[str, float] = {}
        for i, name in enumerate(names):
            spec = QUERIES[name]
            # Operators that persist intermediates (near-dup pipeline,
            # LSH band index, embedding near-dup, corpus prep) register
            # with the ambient scoped_cache: exiting the block releases
            # EXACTLY the relations this query persisted, so they can't
            # pressure later measurements — precise lifetime instead of
            # the old blanket clearCache() (which also nuked anything
            # else a session held). The scope spans all 3 runs, so runs
            # 2-3 stay plan-cache-warm, matching rounds 1-4 methodology
            # for round-over-round ratios.
            #
            # Timed region = the noop write only (plan execution),
            # matching rounds 1-2 methodology so round-over-round
            # comparisons hold — EXCEPT for the DRIVER_EAGER set, where
            # fn() itself executes the work (driver-side greedy rounds
            # with eager localCheckpoints/TakeOrdered) and the timed
            # region is therefore fn()+write, the true end-to-end cost
            # (round 9; previously those rows timed only the final
            # projection with the caveat living in SCALING.md).
            # q_pagerank's unrolled rounds run lazily and were always
            # fully timed either way.
            eager = name in DRIVER_EAGER
            runs = []
            with scoped_cache():
                for _ in range(3):
                    t_eager = time.perf_counter()
                    df = spec.fn(spark, sf_dir)
                    t0 = time.perf_counter() if not eager else t_eager
                    df.write.format("noop").mode("overwrite").save()
                    runs.append(time.perf_counter() - t0)
            timings[name] = round(min(runs), 3)
            print(f"# p{pass_no} {name}: {timings[name]:.3f}s", file=sys.stderr)
            if i == len(names) // 2:
                probes.append(_calibrate_mid(spark))
        probes.append(_calibrate_mid(spark))
        return timings

    # The RECORDED artifact is the SESSION MIN (VERDICT r7 task #2):
    # the full query set runs N passes (>= 2) and each query's recorded
    # time is its minimum across passes — same-session history showed
    # identical code swinging 13% pass-to-pass (r7's recorded run was
    # the session's worst), so a single-pass artifact degrades
    # round-over-round comparison into noise-reading. Every pass is
    # appended to bench_history.jsonl; the session-min goes to
    # bench_detail.json + stdout as the round's number.
    n_passes = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "2")))
    pass_timings = [_run_pass(p + 1) for p in range(n_passes)]
    timings = {
        n: min(t[n] for t in pass_timings) for n in pass_timings[0]
    }
    pass_totals = [round(sum(t.values()), 3) for t in pass_timings]
    for _ in range(2):
        _calibration_shuffle_job(spark)  # warm untimed
    shuffle_probe = _calibrate_shuffle(spark)
    cpu_probe = _calibrate(spark)  # legacy anchor, recorded for attribution

    # Separate BUILD benchmark (outside the headline sum): one IVF-PQ
    # index fit over the embeddings table into a throwaway dir — the
    # amortized index-construction cost whose in-query form used to eat
    # ~3 s of the headline as q_ivf_pq_ann. Serving cost is the
    # q_ann_serving row above (prebuilt index).
    import shutil
    import tempfile

    from lakeflow.operators.pq import ivf_pq_fit, pq_fit

    build_dir = tempfile.mkdtemp(prefix="lakeflow_bench_ivfpq_")
    shutil.rmtree(build_dir)
    try:
        from lakeflow.catalog import load_table

        emb = load_table(spark, sf_dir, "embeddings")
        t0 = time.perf_counter()
        ivf_pq_fit(spark, emb, build_dir, m=8, k_sub=16, target_cell_size=128)
        build_ivf_pq_fit_sec = round(time.perf_counter() - t0, 3)
    finally:
        shutil.rmtree(build_dir, ignore_errors=True)

    # Flat-PQ fit as its own line too (round 7: q_pq_ann's headline row
    # now serves against a prebuilt index, same split as IVF-PQ).
    build_dir = tempfile.mkdtemp(prefix="lakeflow_bench_pq_")
    shutil.rmtree(build_dir)
    try:
        t0 = time.perf_counter()
        pq_fit(spark, emb, build_dir, m=8, k_sub=16)
        build_pq_fit_sec = round(time.perf_counter() - t0, 3)
    finally:
        shutil.rmtree(build_dir, ignore_errors=True)

    calibration = min(probes)
    scale = CALIBRATION_MID_REF_SEC / calibration
    normalized = {n: round(t * scale, 3) for n, t in timings.items()}

    # second, anchor-independent noise detector: this session's RAW
    # per-query timings vs the per-query RAW minimum across prior
    # recorded sessions at the same sf (see module docstring). Raw on
    # both sides deliberately — normalized history values depend on
    # whatever anchor each past session used, raw ones don't, so this
    # comparison survives any anchor mistake, past or future.
    repo_dir = os.path.dirname(__file__) or "."
    hist_min: dict[str, float] = {}
    hist_sessions = 0
    sf_val = _sf_from_dir(sf_dir)
    try:
        with open(os.path.join(repo_dir, "bench_history.jsonl")) as f:
            for line in f:
                try:
                    rec = json.loads(line)
                except ValueError:
                    continue
                # artifact (session-min) lines only, same scale
                if rec.get("metric") is None or rec.get("sf") != sf_val:
                    continue
                hist_sessions += 1
                for n, t in (rec.get("queries") or {}).items():
                    if t > 0 and (n not in hist_min or t < hist_min[n]):
                        hist_min[n] = t
    except OSError:
        pass
    ratios = sorted(
        timings[n] / hist_min[n]
        for n in timings
        if n in hist_min and timings[n] > 0
    )
    vs_history = (
        round(ratios[len(ratios) // 2], 3) if ratios else None
    )

    total = round(sum(timings.values()), 3)
    detail = {
        "metric": "headline_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "calibration_sec": round(calibration, 3),
        "calibration_probes": [round(p, 3) for p in probes],
        "calibration_ref_sec": CALIBRATION_MID_REF_SEC,
        "calibration_cpu_sec": round(cpu_probe, 3),
        "calibration_cpu_ref_sec": CALIBRATION_REF_SEC,
        "calibration_shuffle_sec": round(shuffle_probe, 3),
        "vs_history_median_ratio": vs_history,
        "history_sessions": hist_sessions,
        "session_load_suspect": bool(
            vs_history and (vs_history > 1.25 or vs_history < 0.8)
        ),
        # the anchor-INDEPENDENT headline: divide the uniform
        # machine/anchor component out by forcing the session's median
        # per-query ratio against the all-time per-query floor to 1.
        # Two same-code sessions agree on this to the extent their
        # per-query DISTRIBUTIONS agree modulo a uniform factor —
        # which is exactly what same code on a differently-loaded
        # machine produces. Per-query (non-uniform) regressions and
        # improvements still move it; only the uniform component is
        # removed, and that component is the machine's.
        "value_history_anchored": (
            round(total / vs_history, 3)
            if vs_history
            else None
        ),
        "value_normalized": round(sum(normalized.values()), 3),
        "queries_normalized": normalized,
        "build_ivf_pq_fit_sec": build_ivf_pq_fit_sec,
        "build_pq_fit_sec": build_pq_fit_sec,
        "session_passes": n_passes,
        "session_pass_totals": pass_totals,
        # rows whose timed region is fn()+write (true end-to-end cost
        # of driver-eager greedy rounds) rather than write-only — their
        # round-9+ numbers are NOT comparable to their rounds 1-8 rows
        "eager_timed": sorted(DRIVER_EAGER & set(names)),
    }
    # The per-query map (now ~80 entries, twice) outgrew the driver's
    # stdout tail capture in round 4 — the captured tail began mid-map
    # and the headline "value" was cut off (BENCH_r04 "parsed": null).
    # So: the FULL record goes to a sidecar file and an EARLIER stdout
    # line; the LAST stdout line is a compact summary that always
    # survives tail capture.
    with open(os.path.join(repo_dir, "bench_detail.json"), "w") as f:
        json.dump(detail, f, indent=1)
    # append-only in-repo history so round-over-round diffs never depend
    # on the driver's (truncating) stdout capture — one line per PASS
    # (raw per-pass timings, so noise bands stay reconstructable) plus
    # one line for the recorded session-min artifact
    with open(os.path.join(repo_dir, "bench_history.jsonl"), "a") as f:
        for p, t in enumerate(pass_timings):
            f.write(
                json.dumps(
                    {
                        "ts": time.time(),
                        "pass": p + 1,
                        "of_passes": n_passes,
                        "value": round(sum(t.values()), 3),
                        "queries": t,
                        "sf": _sf_from_dir(sf_dir),
                    }
                )
                + "\n"
            )
        f.write(json.dumps({"ts": time.time(), **detail}) + "\n")
    print(json.dumps(detail))
    # Final (parsed) line: the driver captures only the LAST ~2000
    # chars of stdout and parses the last line (BENCH_r04 "parsed":
    # null is what a longer line produces — the full 151-entry map is
    # ~3.6 KB compact, so it can NEVER ride this line whole). VERDICT
    # r11 asked for a driver-parseable per-query record here; the
    # budget-respecting form is a PARTIAL map — the largest rows
    # first (the ones a per-query perf comparison is about), added
    # while the whole line stays under 1850 chars, with the elided
    # count declared. The FULL map still goes to the detail line
    # above, bench_detail.json and bench_history.jsonl.
    summary = {
        "metric": "headline_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "sf": sf_val,
        "calibration_sec": round(calibration, 3),
        "calibration_shuffle_sec": round(shuffle_probe, 3),
        "vs_history_median_ratio": vs_history,
        "session_load_suspect": bool(
            vs_history and (vs_history > 1.25 or vs_history < 0.8)
        ),
        "value_history_anchored": (
            round(total / vs_history, 3) if vs_history else None
        ),
        "value_normalized": round(sum(normalized.values()), 3),
        "n_queries": len(timings),
        "queries": {},
        "queries_elided": len(timings),
        "queries_partial": True,
        "detail": "bench_detail.json",
    }
    for n in sorted(timings, key=lambda x: (-timings[x], x)):
        summary["queries"][n] = timings[n]
        summary["queries_elided"] = len(timings) - len(summary["queries"])
        if len(json.dumps(summary, separators=(",", ":"))) > 1850:
            del summary["queries"][n]
            summary["queries_elided"] = len(timings) - len(summary["queries"])
            break
    print(json.dumps(summary, separators=(",", ":")))


if __name__ == "__main__":
    main()
