"""Benchmark harness: runs the headline catalog queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Each query is forced end-to-end with the noop sink (full computation of
every output column, no write cost, no driver collect).  Each query runs
N_RUNS times; the headline number is the per-query MEDIAN (single-digit
-second measurements are variance-dominated, so one run can't separate a
plan change from scheduler noise), with per-query [min, max] spread
reported alongside.

Round-7 restructure (r6 VERDICT directive #1): the headline is split
into GROUPS of <= _GROUP_SIZE queries, each group measured in its OWN
subprocess JVM.  The r4 and r6 bisects (scripts/bisect_r4_regressions
.py, scripts/bisect_r6_drift.py + BISECT_R6_DRIFT.json) both proved
that a long single-JVM session taxes late measurements by 25-45%
(code-cache/JIT/heap state), and the tax GREW with the headline count
(33 -> 48 queries r5 -> r6 drove a +18% phantom "regression" with zero
plan changes).  Fixed-order grouping means new headline entries only
perturb the last group; every earlier query keeps its fresh-JVM
timing basis round over round.  Set SPARK_GRAFT_BENCH_SINGLE_JVM=1 to
force the old in-process path (debugging).

Round-5 hygiene retained inside each worker:

* tracked caches are RELEASED and a JVM GC is hinted between queries;
* every scale factor is measured the same way — warm-up run, then
  median of N_RUNS — so the fitted log-log exponents compare
  like-for-like;
* the FINAL stdout line is a compact (<1950 chars) JSON summary —
  medians, total, worst exponent — because the driver records only the
  last 2000 chars of output.  r12 (r11 VERDICT #2): the PER-QUERY map
  is the protected core of that line — flag detail collapses first,
  query entries (slowest kept, centisecond-rounded) drop last, and
  every drop is recorded in ``n_queries_omitted``.  The complete
  payload (full precision, spreads, per-SF scaling map, full triage)
  goes to BENCH_FULL.json (UNTRACKED as of r7 — the driver's reruns
  overwrite it; the round's committed record is the
  BENCH_FULL_r{N}.json snapshot) and an earlier stdout line.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

N_RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
#: max queries measured per subprocess JVM
_GROUP_SIZE = int(os.environ.get("SPARK_GRAFT_BENCH_GROUP_SIZE", "12"))

HEADLINE = [
    # reference-parity core
    "info_gain_topk",
    "scan_filter_project",
    "agg_pricing_summary",
    "join_orders_customer",
    "broadcast_dim_rollup",
    "semi_join_vocab",
    "window_rank_parts",
    "sessionize_events",
    "tumbling_window_events",
    "shingle_documents",
    # training-data-pipeline extensions
    "dedup_exact",
    "minhash_lsh_pairs",
    "minhash_lsh_pairs_fast",
    "token_stats",
    "cosine_topk_bruteforce",
    "ann_lsh_topk",
    "embedding_near_dup",
    "payload_metadata_stats",
    "sliding_window_events",
    "tfidf_top_terms",
    "hypertable_rollup",
    "top_unshipped_revenue",
    # iterative-components and two-phase-scan paths (timed, not just
    # correctness-checked)
    "dedup_cluster_assign_two_phase",
    "sequence_packing",
    # round-3 corpus-filter / RAG pack (span inverted index, bigram-LM
    # shuffle join, pure-map chunking)
    "dup_span_doc_fraction",
    "bigram_lm_perplexity",
    "rag_chunk_windows",
    # round-3 semantic/ingest/mixture pack (cluster-scoped pair join,
    # asymmetric batch-vs-corpus index probe, two-phase seeded shuffle)
    "semantic_dedup_pairs",
    "dedup_incremental_batch",
    "training_shuffle_order",
    # round-4 exact ML twins + sketch pack (Lloyd iteration, fixed-
    # quantizer IVF probe, count-min merge)
    "kmeans_lloyd_step",
    "ivf_ann_topk_fixed",
    "cms_heavy_users",
    # round-5 composed canary (ingest -> minhash -> pairs -> components
    # -> survivors -> retention, one plan)
    "dedup_pipeline_e2e",
    # round-5 similarity additions (weighted inverted-index pairs,
    # PQ-ADC code search)
    "tfidf_cosine_pairs",
    "pq_adc_topk_fixed",
    # round-5 layout/ML/stats additions (double global-rank zone audit,
    # one-plan NB train+score, prefix-sum rank test over a join)
    "zone_map_pruning_audit",
    "nb_gaussian_confusion",
    "mann_whitney_u_test",
    # round-6 additions (ExactSubstr span dedup over the gram inverted
    # index; PageRank iterations over the shingle-overlap graph; the
    # composed curation canary)
    "suffix_dedup_spans",
    "pagerank_dup_graph_exact",
    "corpus_curation_e2e",
    # round-6 session-2 additions (wedge-join link prediction over the
    # min-support graph; the bucketed epsilon-band join primitive)
    "adamic_adar_linkpred",
    "band_join_prices",
    # round-6 session-3 additions (market-basket self-join CF; LM
    # retrieval over the inverted index; rank-stat test via two
    # prefix-sum passes + value joins)
    "item_item_topk_recs",
    "dirichlet_ql_retrieval",
    "spearman_price_quantity",
    # composed canary #3 (five dashboard legs in one plan)
    "bi_dashboard_e2e",
    # round-7 additions (per-row array-arithmetic fingerprinting; the
    # R/S block-window family; the exact NB classifier over the
    # source×vocab broadcast grid; composed canary #4)
    "winnowing_fingerprints",
    "hurst_rescaled_range_daily",
    "multinomial_nb_source_confusion",
    "experiment_readout_e2e",
    # round-8 addition (r7 VERDICT directive #4): the reference feature-
    # selection job END-TO-END on the real api_logs corpus (~224k
    # lines) — api_logs scan -> IG top-2000 -> LIBSVM lines.  The
    # measured figure replaces BASELINE.md's "expected orders of
    # magnitude under the ~3,200-job design" with a number.
    "api_log_feature_job_e2e",
    # round-8 additions (user-partitioned session windows; the char
    # explode + per-doc entropy agg; the e2e multiclass GD step with
    # its two 1-row broadcasts; the edge-support wedge join)
    "bounce_sessions_daily",
    "char_entropy_topdocs",
    "softmax_gd_step_exact",
    "ktruss_edge_support",
    # round-9 additions (the full iterative truss peel — 6 wedge-join
    # rounds with per-round localCheckpoints; the prefix-sum CDF +
    # rank-adjacency W1 integral; the 8-sweep integer IPF over the
    # 25-cell frame; the double-histogram selectivity audit with its
    # two-phase equi-depth rank)
    "ktruss_peel_exact",
    "wasserstein_1d_price_periods",
    "ipf_raking_fixpoint",
    "histogram_selectivity_audit",
    # round-9 second wave (new families): the day-window matrix-profile
    # pair join; the KN model-rollup + two-key scoring joins; the
    # 4-sweep integer HITS chain; the coalition-histogram Shapley
    # algebra; the 3-round Boruvka forest with bounded propagation
    "matrix_profile_daily",
    "kneser_ney_bigram_ppl",
    "hits_bipartite_topk",
    "shapley_channel_attribution",
    "msf_boruvka_dup_graph",
    # round-10 additions: the bounded-relaxation dup-DAG critical
    # path (rides the slimmed 3-shuffle edge builder); the CPM /
    # Markov single-fold plans (the zero-iteration-job shape); the
    # Graham LPT fold; the two per-key replay folds; the quadratic
    # DP folds; the from-scratch HLL register aggregate + merge audit
    "dag_critical_path_dup",
    "dag_task_schedule_critical",
    "markov_absorption_conversion",
    "lpt_makespan_daily",
    "interval_greedy_sessions",
    "token_bucket_throttle_audit",
    "lis_daily_revenue",
    "dtw_month_shape_distance",
    "hll_shingle_estimate",
    "hll_shard_merge_audit",
    # round-10 session-2 additions: the month-frame hull predicate
    # joins; the strip-pruned closest pair (band self-join); the
    # last-greater span self-join; the 1/e replay's partitioned
    # windows; the ski-rental counting rollup; the Kadane 1-row fold;
    # the two due-date sequencing folds over the 1995 day-job frame
    "convex_hull_monthly",
    "closest_pair_strip",
    "stock_span_daily",
    "secretary_stopping_audit",
    "ski_rental_break_even",
    "max_subarray_daily_kadane",
    "edd_lateness_audit",
    "moore_hodgson_late_jobs",
    # round-10 session-2: the cache-replay folds (per-key linear
    # state, the heaviest per-key arithmetic in the replay family)
    "lru_stack_distance_hit_curve",
    "belady_opt_vs_lru_audit",
    # round-10 session-2: the G-S fold + 25-cell preference build
    "stable_matching_segments_regions",
    # round-10 session-2: one-scan pure-map agreement statistics
    "fleiss_kappa_rules",
    "krippendorff_alpha_rules",
    # round-10 session-2: char explode + bounded optimal-merge fold
    "huffman_code_cost_chars",
    # round-10 session-2: hull predicate + hull-vertex pair max
    "farthest_pair_diameter",
    # round-10 session-2: two-slot majority fold + certificate pass
    "boyer_moore_majority_events",
    # round-11 additions: the cross-corpus alignment family — banded
    # MinHash buckets probed by the broadcast eval side, exact-Jaccard
    # scoring of the candidate set, and the exhaustive-truth recall
    # audit (the heaviest leg: a full train-gram x eval-gram probe)
    "eval_contamination_bestmatch",
    "eval_lsh_recall_audit",
    # round-11 session-2: the calendar-bounded pair-slope join + two
    # two-phase global ranks; the per-doc LZ78 parse fold; the
    # per-pair Levenshtein DP riding the gram inverted index; the
    # 1-row knapsack fold with its certificate chain
    "theil_sen_slope_daily",
    "lz78_doc_compressibility",
    "edit_distance_dup_pairs",
    "knapsack_day_budget_audit",
    # round-11 session-3: the Arrow prefix-min fast path beside the
    # fold (same oracle; the gap IS the measured fold-vs-Arrow story)
    "edit_distance_dup_pairs_fast",
    # round-11 session-3: the windowed greedy matcher fold riding the
    # same candidate pairs
    "jaro_winkler_dup_pairs",
    # round-11 session-3: the cross-metric tau synthesis (rides the
    # Arrow fast path; its oracle refolds the expression DP)
    "jaccard_vs_edit_tau",
]

#: queries over a FIXED corpus (/root/reference/api_logs) — sf_dir is
#: ignored, so per-SF scaling legs would measure the same work thrice;
#: they get a headline median + spread but no exponent.
FIXED_CORPUS = {"api_log_feature_job_e2e"}

#: queries with an extra synthetic-sf1 scaling leg when
#: $SPARK_GRAFT_SF1_DIR is set (scripts/make_sf1.py)
SF1_FAMILY = {
    "dedup_cluster_assign_two_phase",
    "dedup_incremental_batch",
    "dup_span_doc_fraction",
    "minhash_lsh_pairs",
    "semantic_dedup_pairs",
    "dedup_pipeline_e2e",
    # round-8 additions: the two priciest new headline entries get the
    # out-of-grid decade too (wedge-join graph family; char explode)
    "ktruss_edge_support",
    "char_entropy_topdocs",
    # round-9: the full peel rides the same capped graph as the
    # edge-support pass — its sf1 leg shows the per-round thinning
    "ktruss_peel_exact",
    # round-10 (r9 VERDICT directive #4): the round-9 heavyweights get
    # the out-of-grid decade — capped-graph thinning (Boruvka), the
    # distinct-edge HITS sweeps, and the bigram-type sublinearity
    "msf_boruvka_dup_graph",
    "hits_bipartite_topk",
    "kneser_ney_bigram_ppl",
}


# --------------------------------------------------------------------------
# worker: measure one group of queries in THIS process's JVM
# --------------------------------------------------------------------------


def _measure_group(names: list[str], sf_dir: str, sf: str) -> dict:
    from big_data_virus_analysis_spark.operators.caching import (
        release_tracked_caches,
    )
    from big_data_virus_analysis_spark.plans.catalog import CATALOG
    from big_data_virus_analysis_spark.session import get_spark

    spark = get_spark("bdva-bench")
    spark.sparkContext.setLogLevel("ERROR")

    def _reset() -> None:
        release_tracked_caches()
        spark.catalog.clearCache()
        try:
            spark._jvm.System.gc()
        except Exception:
            pass

    def _run_once(name: str, d: str) -> float:
        t0 = time.perf_counter()
        CATALOG[name].spark(spark, d).write.format("noop").mode(
            "overwrite"
        ).save()
        dt = time.perf_counter() - t0
        _reset()
        return dt

    names = [n for n in names if n in CATALOG]

    # Steady-state warmup: run every plan once at sf0.001 so the
    # measured window times execution, not one-time JVM/codegen
    # compilation (whole-stage codegen compiles per plan shape; at the
    # 100 TB design point compile time is noise, at sf0.1 it would
    # dominate several queries).
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    # Machine-calibration probe (r8 VERDICT directive #1): a FIXED
    # catalog query measured at an IDENTICAL point in every worker
    # JVM's life (fresh JVM -> range warmup -> probe warmup -> probe
    # runs).  The parent normalizes the drift check by the ratio of
    # this run's probe median to the prior snapshot's, so a uniformly
    # slower/faster machine (the r8 driver ran ~+13% across the board)
    # no longer reads as a code regression.
    _CAL = "scan_filter_project"
    calibration: list[float] = []
    if _CAL in CATALOG:
        _run_once(_CAL, "/root/testdata/sf0.001")
        calibration = [
            round(_run_once(_CAL, sf_dir), 3) for _ in range(N_RUNS)
        ]

    for name in names:
        _run_once(name, "/root/testdata/sf0.001")

    timings: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    for name in names:
        runs = [_run_once(name, sf_dir) for _ in range(N_RUNS)]
        timings[name] = round(statistics.median(runs), 3)
        spread[name] = [round(min(runs), 3), round(max(runs), 3)]

    # Measured scaling curve: median of N_RUNS at EVERY scale factor
    # (the sf0.001 warm-up above doubles as each query's warm-up run).
    # The per-query exponent is the log-log slope between the two
    # LARGEST measured SFs; the interval brackets the fit over the
    # run-to-run min/max at the two fitted SFs.  Disable with
    # SPARK_GRAFT_SCALING=0.
    sf1_dir = os.environ.get("SPARK_GRAFT_SF1_DIR", "")
    scaling: dict[str, dict[str, float]] = {}
    scaling_spread: dict[str, dict[str, list[float]]] = {}
    exponents: dict[str, float] = {}
    exponent_interval: dict[str, list[float]] = {}
    if os.environ.get("SPARK_GRAFT_SCALING", "1") != "0":
        base = os.path.dirname(sf_dir.rstrip("/")) or "/root/testdata"
        extra = [s for s in ("0.001", "0.01") if s != sf]
        for name in names:
            if name in FIXED_CORPUS:
                continue
            per = {sf: timings[name]}
            per_spread = {sf: spread[name]}
            for s in extra:
                d = os.path.join(base, f"sf{s}")
                if not os.path.isdir(d):
                    continue
                runs = [_run_once(name, d) for _ in range(N_RUNS)]
                per[s] = round(statistics.median(runs), 3)
                per_spread[s] = [round(min(runs), 3), round(max(runs), 3)]
            if sf1_dir and name in SF1_FAMILY and os.path.isdir(sf1_dir):
                runs = [_run_once(name, sf1_dir) for _ in range(N_RUNS)]
                per["1"] = round(statistics.median(runs), 3)
                per_spread["1"] = [round(min(runs), 3), round(max(runs), 3)]
            scaling[name] = {k: per[k] for k in sorted(per, key=float)}
            scaling_spread[name] = {
                k: per_spread[k] for k in sorted(per_spread, key=float)
            }
            sfs = sorted(per, key=float)
            if len(sfs) >= 2:
                s1, s2 = sfs[-2], sfs[-1]
                denom = math.log(float(s2) / float(s1))
                if per[s1] > 0 and per[s2] > 0:
                    exponents[name] = round(
                        math.log(per[s2] / per[s1]) / denom, 2
                    )
                    lo1, hi1 = per_spread[s1]
                    lo2, hi2 = per_spread[s2]
                    if hi1 > 0 and lo2 > 0:
                        exponent_interval[name] = [
                            round(math.log(lo2 / hi1) / denom, 2),
                            round(math.log(hi2 / lo1) / denom, 2),
                        ]

    return {
        "spread": spread,
        "scaling": scaling,
        "scaling_spread": scaling_spread,
        "queries": timings,
        "scaling_exponent": exponents,
        "exponent_interval": exponent_interval,
        "calibration_runs": calibration,
    }


def _worker_main(out_path: str) -> None:
    names = os.environ["SPARK_GRAFT_BENCH_NAMES"].split(",")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    result = _measure_group(names, sf_dir, sf)
    with open(out_path, "w") as f:
        json.dump(result, f)


# --------------------------------------------------------------------------
# parent: spawn one JVM per group, merge, print
# --------------------------------------------------------------------------


def _drift_vs_prev_snapshot(
    timings: dict,
    sf: str,
    calibration_sec: float | None,
    group_calibration: dict | None = None,
) -> tuple[list[dict], float]:
    """Queries whose median exceeds the fresh-JVM [min, max] recorded in
    the newest committed BENCH_FULL_r{N}.json (same SF only — spreads
    from a different scale factor are not comparable), NORMALIZED by the
    machine factor (r8 VERDICT directive #1): this run's calibration-
    probe median over the snapshot's.  The r8 driver run flagged 7
    phantom regressions because the driver machine ran uniformly ~13%
    slower than the builder machine that recorded the spreads; the
    calibrated threshold `prev_max * machine_factor` separates machine
    speed from code drift.  The factor is clamped to [0.5, 3.0] so a
    corrupt probe can't silence (or invent) everything.

    r9 VERDICT directive #1: a run-level factor cannot explain PER-GROUP
    contention (the r9 driver run flagged two byte-identical queries at
    3-4x while its run factor read 1.082 — their worker JVMs were
    co-scheduled against heavier neighbors).  When ``group_calibration``
    maps a query to ITS OWN worker JVM's calibration-probe median, the
    threshold for that query uses the group's factor (same clamp), and
    the entry records it as ``group_factor``.

    Returns (compact dicts {q, sec, prev_max, adj_prev_max,
    group_factor?, prev_cal?}, machine_factor); factor is 1.0 when
    either side lacks a calibration record."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    snaps = []
    for p in glob.glob(os.path.join(here, "BENCH_FULL_r*.json")):
        m = re.search(r"_r(\d+)\.json$", p)
        if m:
            snaps.append((int(m.group(1)), p))
    if not snaps:
        return [], 1.0
    _, newest = max(snaps)
    try:
        with open(newest) as f:
            prev = json.load(f)
    except (OSError, ValueError):
        return [], 1.0
    if str(prev.get("sf")) != str(float(sf)):
        return [], 1.0
    factor = 1.0
    prev_cal = prev.get("calibration_sec")
    if calibration_sec and prev_cal:
        factor = round(
            min(3.0, max(0.5, calibration_sec / prev_cal)), 3
        )
    prev_spread = prev.get("spread", {})
    out = []
    for name, med in sorted(timings.items()):
        sp = prev_spread.get(name)
        if not (sp and len(sp) == 2):
            continue
        q_factor = factor
        q_group_factor = None
        g_cal = (group_calibration or {}).get(name)
        if g_cal and prev_cal:
            q_group_factor = round(min(3.0, max(0.5, g_cal / prev_cal)), 3)
            q_factor = q_group_factor
        if med > sp[1] * q_factor:
            entry = {
                "q": name,
                "sec": med,
                "prev_max": sp[1],
                "adj_prev_max": round(sp[1] * q_factor, 3),
            }
            if q_group_factor is not None:
                entry["group_factor"] = q_group_factor
            if prev_cal:
                entry["prev_cal"] = prev_cal
            out.append(entry)
    return out, factor


def _merge(parts: list[dict]) -> dict:
    merged: dict = {
        "spread": {},
        "scaling": {},
        "scaling_spread": {},
        "queries": {},
        "scaling_exponent": {},
        "exponent_interval": {},
    }
    for p in parts:
        for key in merged:
            merged[key].update(p.get(key, {}))
    # calibration: every group measures the same probe at the same JVM
    # age; the run's calibration is the MEDIAN of group medians (robust
    # to one noisy group), with the min/max of all runs as spread
    all_runs = [r for p in parts for r in p.get("calibration_runs", [])]
    group_meds = [
        statistics.median(p["calibration_runs"])
        for p in parts
        if p.get("calibration_runs")
    ]
    merged["calibration_sec"] = (
        round(statistics.median(group_meds), 3) if group_meds else None
    )
    merged["calibration_spread"] = (
        [round(min(all_runs), 3), round(max(all_runs), 3)]
        if all_runs
        else None
    )
    # query -> its OWN worker JVM's calibration median, so the drift
    # check can normalize per group instead of per run (r9 directive #1:
    # run-level calibration can't see per-group co-scheduling contention)
    group_cal: dict[str, float] = {}
    for p in parts:
        if p.get("calibration_runs"):
            med = round(statistics.median(p["calibration_runs"]), 3)
            for q in p.get("queries", {}):
                group_cal[q] = med
    merged["group_calibration"] = group_cal
    return merged


def _spawn_worker(
    group: list[str], tag: str, env_extra: dict | None = None
) -> dict | None:
    """Measure ``group`` in a fresh subprocess JVM; returns the worker's
    result dict, or None on failure."""
    here = os.path.abspath(__file__)
    with tempfile.NamedTemporaryFile(
        suffix=f".bench_{tag}.json", delete=False
    ) as tf:
        out_path = tf.name
    env = dict(os.environ)
    env["SPARK_GRAFT_BENCH_NAMES"] = ",".join(group)
    env.update(env_extra or {})
    proc = subprocess.run(
        [sys.executable, here, "--worker-out", out_path],
        env=env,
        stdout=subprocess.DEVNULL,
        stderr=subprocess.DEVNULL,
    )
    try:
        if proc.returncode == 0 and os.path.getsize(out_path) > 0:
            with open(out_path) as f:
                return json.load(f)
        return None
    finally:
        try:
            os.unlink(out_path)
        except OSError:
            pass


def _solo_triage(entries: list[dict], max_triage: int = 16) -> None:
    """In-run auto-triage of drift flags (r9 VERDICT directive #1b):
    each flagged query is re-measured SOLO in a fresh JVM (no group
    neighbors, scaling legs off) and the solo median is attached as
    ``triage_sec`` with its own calibration factor.  A flag whose solo
    median falls back inside the calibrated prior spread is marked
    ``cleared_by_triage`` — contention, not code; a flag that SURVIVES
    a solo fresh-JVM re-run is evidence of real drift.  Mutates the
    entries in place; the compact line reports only survivors."""
    for e in entries[:max_triage]:
        part = _spawn_worker(
            [e["q"]], f"triage_{e['q']}", {"SPARK_GRAFT_SCALING": "0"}
        )
        if not part or e["q"] not in part.get("queries", {}):
            e["triage"] = "worker_failed"
            continue
        e["triage_sec"] = part["queries"][e["q"]]
        t_factor = 1.0
        cal_runs = part.get("calibration_runs") or []
        if cal_runs and e.get("prev_cal"):
            t_factor = round(
                min(
                    3.0,
                    max(0.5, statistics.median(cal_runs) / e["prev_cal"]),
                ),
                3,
            )
        e["triage_factor"] = t_factor
        e["triage_adj_prev_max"] = round(e["prev_max"] * t_factor, 3)
        e["cleared_by_triage"] = (
            e["triage_sec"] <= e["triage_adj_prev_max"]
        )


def _first_appearance(sf: str, here: str | None = None) -> dict[str, float]:
    """Per-query first-appearance medians: for every query ever
    benchmarked at this SF, the timing from the EARLIEST committed
    ``BENCH_FULL_r{N}.json`` snapshot that contains it.  The judge's
    perf gate compares against first-appearance baselines, so the
    compact line must keep any query that breaches 2x of its own
    first number visible regardless of where it ranks by wall time
    (r10 VERDICT directive #2)."""
    import glob
    import re

    here = here or os.path.dirname(os.path.abspath(__file__))
    snaps = []
    for p in glob.glob(os.path.join(here, "BENCH_FULL_r*.json")):
        m = re.search(r"_r(\d+)\.json$", p)
        if m:
            snaps.append((int(m.group(1)), p))
    first: dict[str, float] = {}
    for _, path in sorted(snaps):  # oldest round first; first write wins
        try:
            with open(path) as f:
                snap = json.load(f)
        except (OSError, ValueError):
            continue
        if str(snap.get("sf")) != str(float(sf)):
            continue
        for q, sec in (snap.get("queries") or {}).items():
            first.setdefault(q, sec)
    return first


def _compact_line(
    compact: dict,
    timings: dict,
    protected: set[str] | None = None,
    cap: int = 1950,
) -> str:
    """Serialize the compact summary, trimming until the line fits under
    ``cap`` chars (the driver keeps only the final 2000 chars of
    stdout; 1950 + newline leaves the whole line inside that tail).

    r12 REWORK (r11 VERDICT directive #2): the r11 full run shipped
    ``"queries":{}, "n_queries_omitted":101`` — the old trim order
    dropped unprotected queries FIRST, and with 101 queries + 25 flags
    it dropped all of them, leaving the driver's PERF comparison with
    zero common queries and an empty scaling block.  The per-query map
    IS the driver contract; triage-flag DETAIL is what BENCH_FULL
    exists for.  Inverted order — flag detail collapses first, the
    queries map shrinks LAST (slowest entries kept, every drop
    recorded in ``n_queries_omitted``):

    1. ``regressions`` name list caps at 8 + "...".
    2. CLEARED flags collapse to [name, "clr"], then all but 4 drop
       (``n_flags`` still counts them; full triage in BENCH_FULL).
    3. ``fallback_queries`` caps at 8 + "...".
    4. NON-cleared flags collapse to [name, sec] (never to nothing —
       the survivors' existence must stay on the line), then all but
       10 drop as a flood guard.
    5. The ``regressions`` list drops entirely (survivor names stay
       visible in ``flags``); ``worst_exponent_interval`` drops (the
       point estimate stays).
    6. ONLY THEN unprotected ``queries`` entries drop, lowest wall
       time first — the retained set is the top-N by time plus every
       protected (flagged / over-2x-baseline) name.
    7. Absolute last resort: protected queries drop too — an
       unparseable head-cut line carries no evidence at all, so the
       parse guarantee outranks completeness.  Every protected name
       dropped is counted in ``n_protected_omitted``.

    GUARANTEED to terminate (r8 ADVICE): the loop exits the moment a
    full trim pass fails to shrink the line — a line whose irreducible
    fields alone exceed the cap ships as-is rather than spinning
    forever and printing nothing."""
    protected = protected or set()

    def _drop_queries(protected_ok: bool = False) -> bool:
        droppable = [
            q
            for q in compact["queries"]
            if protected_ok or q not in protected
        ]
        if not droppable:
            return False
        drop = set(sorted(droppable, key=timings.get)[:5])
        compact["queries"] = {
            k: v for k, v in compact["queries"].items() if k not in drop
        }
        compact["n_queries_omitted"] = len(timings) - len(compact["queries"])
        lost = len(drop & protected)
        if lost:
            compact["n_protected_omitted"] = (
                compact.get("n_protected_omitted", 0) + lost
            )
        return True

    def _cap_names(fld: str) -> bool:
        vals = compact.get(fld) or []
        if len(vals) > 8 and vals[-1] != "...":
            compact[fld] = vals[:8] + ["..."]
            return True
        return False

    def _drop_field(fld: str) -> bool:
        if compact.get(fld) not in (None, [], {}):
            compact.pop(fld, None)
            return True
        return False

    def _collapse_flag(cleared: bool) -> bool:
        # cleared flags collapse to [name, "clr"]; non-cleared ones to
        # [name, sec] (never to nothing — the survivors' existence
        # must stay on the line)
        for f in reversed(compact.get("flags") or []):
            if len(f) > 2 and bool(f[-1] == 1) == cleared:
                idx = compact["flags"].index(f)
                compact["flags"][idx] = (
                    [f[0], "clr"] if cleared else [f[0], f[1]]
                )
                compact["n_flags_collapsed"] = (
                    compact.get("n_flags_collapsed", 0) + 1
                )
                return True
        return False

    def _is_cleared(f) -> bool:
        return (len(f) > 2 and f[-1] == 1) or f[1:] == ["clr"]

    def _drop_excess(cleared: bool, keep: int) -> bool:
        # flood guard: beyond `keep` entries of a class even the
        # collapsed forms crowd out the queries map (the r11 failure
        # mode); the "n_flags" count still records dropped ones
        flags = compact.get("flags") or []
        cls = [f for f in flags if _is_cleared(f) == cleared]
        if len(cls) <= keep:
            return False
        drop = {id(f) for f in cls[keep:]}
        compact["flags"] = [f for f in flags if id(f) not in drop]
        compact["n_flags_dropped"] = (
            compact.get("n_flags_dropped", 0) + len(drop)
        )
        return True

    steps = (
        lambda: _cap_names("regressions"),
        lambda: _collapse_flag(True),
        lambda: _drop_excess(True, 4),
        lambda: _cap_names("fallback_queries"),
        lambda: _collapse_flag(False),
        lambda: _drop_excess(False, 10),
        lambda: _drop_field("regressions"),
        lambda: _drop_field("worst_exponent_interval"),
        _drop_queries,
        lambda: _drop_queries(True),
    )
    # terminates: every step strictly consumes a finite budget (one-shot
    # list caps/field drops, full-form flags, droppable queries); once
    # all return False the line ships as-is even if still over cap
    line = json.dumps(compact, separators=(",", ":"))
    while len(line) > cap:
        if not any(step() for step in steps):
            break
        line = json.dumps(compact, separators=(",", ":"))
    return line


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    if len(sys.argv) >= 3 and sys.argv[1] == "--worker-out":
        _worker_main(sys.argv[2])
        return

    names = list(HEADLINE)
    # triage hook: SPARK_GRAFT_BENCH_ONLY=a,b,c restricts the headline —
    # non-headline catalog names are allowed too (appended in the given
    # order) so any query's scaling exponent can be measured on demand
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY", "")
    if only:
        chosen = [c for c in only.split(",") if c]
        names = [n for n in names if n in chosen] + [
            c for c in chosen if c not in names
        ]
    groups = [
        names[i : i + _GROUP_SIZE] for i in range(0, len(names), _GROUP_SIZE)
    ]

    parts: list[dict] = []
    fallback_queries: list[str] = []
    if os.environ.get("SPARK_GRAFT_BENCH_SINGLE_JVM", "") == "1":
        parts.append(_measure_group(names, sf_dir, sf))
    else:
        for gi, group in enumerate(groups):
            part = _spawn_worker(group, f"g{gi}")
            if part is None:
                # a worker failure gets ONE retry in a fresh subprocess
                # first — measuring failed groups in the accumulating
                # parent JVM is exactly the JVM-state tax the per-group
                # restructure removes (r6 bisect: 25-45% late-
                # measurement inflation)
                print(
                    f"bench: worker group {gi} failed; retrying in a "
                    "fresh subprocess",
                    file=sys.stderr,
                )
                part = _spawn_worker(group, f"g{gi}")
            if part is None:
                # last resort: in-process, and TAG the queries so
                # round-over-round drift in them is attributable to the
                # degraded measurement path
                print(
                    f"bench: worker group {gi} failed twice; "
                    "re-measuring in-process (tagged as fallback)",
                    file=sys.stderr,
                )
                part = _measure_group(group, sf_dir, sf)
                fallback_queries.extend(group)
            parts.append(part)

    merged = _merge(parts)
    timings = merged["queries"]
    exponents = merged["scaling_exponent"]
    exponent_interval = merged["exponent_interval"]
    total = round(sum(timings.values()), 3)
    # self-reporting drift check (r7 VERDICT directive #5): compare each
    # query's median against the fresh-JVM [min, max] spread recorded in
    # the newest committed BENCH_FULL_r{N}.json snapshot; medians above
    # the recorded max are listed as regressions on the compact line so
    # no human has to diff rounds by hand.
    regressions, machine_factor = _drift_vs_prev_snapshot(
        timings,
        sf,
        merged.get("calibration_sec"),
        merged.get("group_calibration"),
    )
    first_app = _first_appearance(sf)
    # r9 directive #1b: flags that survive the per-group factor get a
    # SOLO fresh-JVM re-run inside this same bench invocation; a flag
    # cleared solo was group contention, a flag that survives solo is
    # real.  SPARK_GRAFT_BENCH_TRIAGE=0 disables (and the in-process
    # single-JVM debug path skips it).
    if (
        regressions
        and os.environ.get("SPARK_GRAFT_BENCH_TRIAGE", "1") != "0"
        and os.environ.get("SPARK_GRAFT_BENCH_SINGLE_JVM", "") != "1"
    ):
        # triage the WORST relative overshoots first — the r11 full run
        # produced 28 flags on a quiet host and the alphabetical order
        # spent the triage budget on sub-second names while the
        # multi-second ones went unadjudicated
        regressions.sort(
            key=lambda r: r["sec"] / max(r["adj_prev_max"], 1e-9),
            reverse=True,
        )
        _solo_triage(regressions)
    payload = {
        "metric": "headline_queries_total",
        "unit": "sec",
        "n_runs": N_RUNS,
        "group_size": _GROUP_SIZE,
        "n_groups": len(parts),
        **merged,
        "fallback_queries": fallback_queries,
        "regressions": regressions,
        "machine_factor": machine_factor,
        "value": total,
        "sf": float(sf),
    }
    # triage runs (SPARK_GRAFT_BENCH_ONLY) must not clobber the full
    # working record with a partial one
    if not only:
        try:
            with open(
                os.path.join(
                    os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json"
                ),
                "w",
            ) as f:
                json.dump(payload, f, indent=1)
        except OSError:
            pass  # read-only checkout: stdout still carries everything
    # Full payload first (untracked working record in BENCH_FULL.json;
    # the committed round record is the BENCH_FULL_r{N}.json snapshot)...
    print(json.dumps(payload))
    # ...then a compact summary as the VERY LAST line: the driver keeps
    # only the final 2000 chars of stdout, so this line must stand
    # alone and parse.
    compact = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "sf": float(sf),
        "n_queries": len(timings),
        "n_runs": N_RUNS,
        "jvm_groups": len(parts),
        "worst_exponent": max(exponents.values()) if exponents else None,
        "worst_exponent_interval": (
            exponent_interval.get(max(exponents, key=exponents.get))
            if exponents
            else None
        ),
        # survivors only (names): a flag cleared by the solo fresh-JVM
        # triage re-run was group contention, not code
        "regressions": [
            r["q"] for r in regressions if not r.get("cleared_by_triage")
        ],
        # r10 VERDICT directive #2: the COMPLETE self-adjudicating flag
        # set rides the compact line — every drift flag as
        # [q, sec, adj_prev_max, triage_sec, cleared(0/1)], non-cleared
        # first, so the solo-triage disposition of every anomaly is
        # visible on the only channel the driver keeps.
        "flags": [
            [
                r["q"],
                r["sec"],
                r.get("adj_prev_max"),
                r.get("triage_sec"),
                int(bool(r.get("cleared_by_triage"))),
            ]
            for r in sorted(
                regressions, key=lambda r: bool(r.get("cleared_by_triage"))
            )
        ],
        "n_flags": len(regressions),
        "machine_factor": machine_factor,
        "calibration_sec": merged.get("calibration_sec"),
        "fallback_queries": fallback_queries,
        # queries over 2x their first-appearance baseline, with that
        # baseline — the judge's perf gate — so breaches are visible
        # even when the timings dict must trim
        "over2x_first": {
            q: [timings[q], first_app[q]]
            for q in sorted(timings)
            if q in first_app and timings[q] > 2 * first_app[q]
        },
        # centisecond rounding (r11 VERDICT #2): the per-query map is
        # the driver's PERF/scaling contract and trims LAST now; two
        # decimals keep ~100 chars of headroom for more entries
        "queries": {q: round(v, 2) for q, v in timings.items()},
    }
    # drift-flagged names keep their seat in the queries map alongside
    # the over-2x names: the driver's per-query comparison reads
    # ``queries``, and a flagged query is exactly the one the next
    # round must be able to compare (r11 VERDICT #2)
    protected = set(compact["over2x_first"]) | {r["q"] for r in regressions}
    print(_compact_line(compact, timings, protected))


if __name__ == "__main__":
    main()
