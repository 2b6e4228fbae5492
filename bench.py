"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric", "value", "unit", "queries", "sf"}.

Each query is forced end-to-end with the `noop` batch sink (full physical
execution — scan, shuffle, agg — with zero driver-side collection cost),
which is the honest way to time a distributed plan. A warmup query runs
first so JVM/codegen startup is not billed to the first headline query.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from cdc_poc_spark.queries import all_specs  # noqa: E402
from cdc_poc_spark.session import get_spark  # noqa: E402

# Headline rotation (VERDICT r6 "Next round" #3: the flat list hit 69
# entries / 81 s and grew linearly with the registry). Split:
#
#   CORE — a FIXED 15-query set, one per heavy operator family, timed
#   EVERY round. Its total is the round-over-round comparable number;
#   names here must never change without a PLANS.md note (a changed
#   core breaks the longitudinal record).
#
#   ROTATING — everything else worth a number. Each round times ONE of
#   two deterministic cohorts (list index parity vs the round number
#   derived from committed BENCH_r*.json files, overridable via
#   $SPARK_GRAFT_BENCH_ROUND / $SPARK_GRAFT_BENCH_COHORT), so every
#   rotating query gets a fresh number every 2 rounds and the wall
#   stays bounded as the registry grows. New additions append to
#   ROTATING (never CORE); the order must not change, since the cohort
#   is chosen by index parity.
#
# Not benched: the checkpointed foreachBatch stream drives and the
# bucketed-state IVM drives (cdc_materialized_join_view/_agg), whose
# walls are stream and table churn, and the queries whose wall is a
# fixed build or driver loop (sim_ann_opq_topk,
# ml_adaboost_stumps_2rounds). None of these times a query plan; their
# scale record is the 10x probe.
CORE = [
    "q1_pricing_summary",          # TPC-H scan-heavy agg
    "q3_shipping_priority",        # 3-way join + top-k
    "q13_customer_distribution",   # outer join + distribution
    "cdc_current_state_by_segment",  # CDC upsert state
    "win_top3_orders_per_customer",  # ranking window
    "tw_session_30min_by_user",    # event-time sessionization
    "agg_rollup_segment_nation",   # multi-level rollup
    "join_asof_purchase_to_view",  # as-of join
    "dedup_minhash_lsh_pairs",     # MinHash-LSH near-dup (xxhash64
    #   production plan again since r11 — the r10 total briefly timed
    #   the portable-md5 oracle plan under this name, worth ~+0.9-1.4 s;
    #   that form now benches nowhere and lives as
    #   dedup_minhash_lsh_pairs_portable for the driver's value oracle)
    "dedup_cc_clusters",           # pair graph -> clusters
    "sim_cosine_topk",             # brute-force ANN baseline
    "text_bm25_topk",              # inverted-index retrieval
    "pipeline_corpus_curation",    # multi-stage curation
    "pipeline_pack_sequences",     # sequence packing
    "graph_pagerank_5iter",        # iterative graph
]

ROTATING = [
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q7_nation_volume_shipping",
    "q10_returned_items",
    "subq_in_big_quantity_orders",
    "win_trailing_30d_spend",
    "tw_tumbling_5min_by_type",
    "tw_interval_join_attribution",
    "dedup_exact_groups",
    "dedup_minhash_tiered_pairs",
    "dedup_embedding_cosine_pairs",
    "udf_pandas_grouped_agg",
    "text_stats_per_doc",
    "pipeline_split_train_val",
    "pipeline_decontaminate_ngram",
    "tw_gap_fill_interpolate",
    "sql_revenue_by_nation_year",
    "agg_moment_stats",
    "join_range_binned",
    "tw_sessionize_ids",
    "text_tfidf_cosine_topk",
    "pipeline_dup_rate_by_source",
    "text_unigram_logprob_junk",
    "dedup_incremental_vs_index",
    "pipeline_token_budget_fill",
    "agg_heavy_hitters_tokens",
    "text_passage_dedup",
    "tw_m4_downsample",
    "pipeline_bpe_merge_step",
    "join_nearest_event",
    "sim_knn_graph_ivf",
    "tw_ohlc_bars",
    "dedup_token_containment",
    "text_winnowing_fingerprints",
    "agg_pareto_concentration",
    "agg_ks_two_sample",
    "graph_local_clustering",
    "tw_cusum_changepoint",
    "text_collocations_pmi",
    "ml_logreg_grad_step",
    "pipeline_epoch_shuffle",
    "join_spatial_grid_pairs",
    "sql_lateral_topn_per_nation",
    "agg_bloom_filter_semijoin",
    "agg_countmin_estimate",
    "agg_mann_whitney_u",
    "graph_association_rules",
    "ml_power_iteration_step",
    "agg_poisson_bootstrap",
    "sim_pq_codebook_stats",
    "cdc_point_in_time_join",
    "text_textrank_keywords",
    "ml_decision_stump",
    "sim_ann_ivfpq_topk",
    "graph_linkpred_common_neighbors",
    "ml_ols_normal_equation",
    "ml_nearest_centroid_classifier",
    "pipeline_proportional_sample",
    "scalar_xml_functions",
    "sql_pivot_unpivot_roundtrip",
    "dedup_threshold_sweep",
    "sim_ann_ivfpq_rerank_topk",
    "agg_spearman_rho",
    "ml_covariance_matrix",
    "pipeline_bloom_decontaminate",
    "dedup_common_substring_pairs",
    "text_rouge2_pairs",
    "ml_roc_auc_exact",
    "tw_kaplan_meier",
    "graph_katz_centrality_2step",
    "mm_chunk_store_savings",
    "win_rolling_median",
    "text_query_likelihood_dirichlet",
    "win_skyline_pareto",
    "agg_morans_i",
    "graph_two_hop_reach",
    "mm_content_defined_chunks",
    "text_hybrid_rrf_fusion",
    "agg_mergeable_quantile_sketch",
    "agg_misra_gries_topk",
    "agg_cliff_delta",
    "agg_anderson_darling_2samp",
    "tw_holt_double_smoothing",
    "ml_brier_decomposition",
    "ml_auc_delong_variance",
    "text_heaps_law_fit",
    "text_ngram_novelty_curve",
    "graph_harmonic_2hop",
    "pipeline_quota_water_filling",
    "dedup_lsh_param_planner",
    "sim_pq_sdc_vs_adc",
    "ml_ndcg_at_k",
    "sim_hamming_sign_topk",
    "sim_matryoshka_prefix_recall",
    "text_yule_k",
    "tw_durbin_watson",
    "agg_jonckheere_terpstra",
    "tw_sample_entropy",
    "graph_diamond_census",
    "graph_wcc_minlabel_3round",
    "text_self_bleu2",
    "ml_expected_calibration_error",
    "ml_regression_metrics",
    "ml_multiclass_confusion_prf",
    "pipeline_hash_uniformity_check",
    "sql_recursive_cte_reach",
    "pipeline_bpe_train_k_rounds",
    "dedup_semdedup_prune",
    "dedup_minhash_lsh_pairs_portable",
    "pipeline_bpe_apply_encode",
    "agg_bottomk_sample_merge",
    "graph_ktruss_peel_rounds",
    "pipeline_dedup_tiers_composed",
    "pipeline_pack_nfd_vs_greedy",
    # the heaviest rotating entry (~28 s at sf0.1: eight probed stages
    # run end to end); kept so the composed cost stays visible
    "pipeline_curation_e2e",
    "pipeline_bpe_fertility_eval",
    "dedup_semdedup_recentroid_maintenance",
    "pipeline_pack_manifest_shuffle",
    "pipeline_pack_split_vs_truncate",
    "pipeline_bpe_train_to_vocab",
]


def _bench_round() -> int:
    """Current round number: 1 + the count of committed BENCH_r*.json
    records (the driver writes one per completed round), overridable
    with $SPARK_GRAFT_BENCH_ROUND. Deterministic — no clock."""
    env = os.environ.get("SPARK_GRAFT_BENCH_ROUND")
    if env:
        return int(env)
    import glob

    here = os.path.dirname(os.path.abspath(__file__))
    return 1 + len(glob.glob(os.path.join(here, "BENCH_r[0-9]*.json")))


def _headline_split() -> tuple[list[str], list[str]]:
    """(core, this round's rotating cohort). Cohort = list-index parity
    vs the round number, so consecutive rounds cover the whole pool."""
    cohort = os.environ.get("SPARK_GRAFT_BENCH_COHORT")
    parity = int(cohort) % 2 if cohort else _bench_round() % 2
    rotating = [n for i, n in enumerate(ROTATING) if i % 2 == parity]
    return CORE, rotating


def _force(df) -> None:
    """Execute the full plan without materializing rows on the driver."""
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# Load covariate (VERDICT r7 "What's wrong #1": a 1.5x min-time drift with
# code unchanged traced to outside CPU contention, and the committed record
# had no way to PROVE it). Every timed sample now carries the fraction of
# machine CPU time consumed by processes OUTSIDE this bench's process tree
# during the measurement — on a quiesced machine it is ~0; a contaminated
# sample is flagged by the number itself, not by after-the-fact forensics.
# ---------------------------------------------------------------------------

def _descendant_pids() -> list[int]:
    """This process and all live descendants (the local-mode JVM and any
    Python workers), via one /proc scan of ppid chains."""
    ppid_of: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                parts = fh.read().rsplit(")", 1)[1].split()
            ppid_of[int(entry)] = int(parts[1])  # field 4 = ppid
        except OSError:
            continue
    mine = {os.getpid()}
    changed = True
    while changed:
        changed = False
        for pid, ppid in ppid_of.items():
            if ppid in mine and pid not in mine:
                mine.add(pid)
                changed = True
    return sorted(mine)


def _cpu_jiffies() -> tuple[int, int]:
    """(machine busy jiffies, this-process-tree jiffies). Busy = total
    minus idle+iowait from /proc/stat line 1; tree = sum of utime+stime
    over descendant /proc/<pid>/stat (dead children's time is lost, but
    the JVM does ~all the work here and lives the whole run)."""
    with open("/proc/stat") as fh:
        f = fh.readline().split()[1:]
    vals = [int(x) for x in f]
    # guest/guest_nice (fields 9/10) are already included in user/nice
    # on modern kernels — summing them double-counts guest time and
    # inflates the external-CPU covariate on virtualized hosts
    busy = (
        sum(vals[:8])
        - vals[3]
        - (vals[4] if len(vals) > 4 else 0)
    )
    tree = 0
    for pid in _descendant_pids():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                parts = fh.read().rsplit(")", 1)[1].split()
            tree += int(parts[11]) + int(parts[12])  # utime, stime
        except OSError:
            continue
    return busy, tree


def _timed_sample(spark, fn, sf_dir: str) -> tuple[float, float]:
    """Build and run ``fn(spark, sf_dir)`` once through the noop sink,
    then release whatever it cached. Returns (wall seconds,
    external-CPU fraction): the share of machine busy-CPU during the
    sample that was NOT this process tree — ~0 quiesced, >0 flags a
    contaminated sample. The tree delta is clamped at 0 (a Python worker
    exiting mid-sample takes its accumulated jiffies out of the sum,
    driving the raw delta negative) and the ratio at 1 (it is a
    fraction)."""
    busy0, tree0 = _cpu_jiffies()
    t0 = time.perf_counter()
    _force(fn(spark, sf_dir))
    wall = time.perf_counter() - t0
    busy1, tree1 = _cpu_jiffies()
    d_busy = max(busy1 - busy0, 1)
    d_tree = max(tree1 - tree0, 0)
    # Queries that persist intermediates (similarity join, CC) must not
    # hold blocks into the next measurement — isolate each run.
    spark.catalog.clearCache()
    return wall, round(min(max(d_busy - d_tree, 0) / d_busy, 1.0), 3)


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def _index_lifecycle(spark, sf_dir: str) -> dict[str, float]:
    """Timed persisted-Jaccard-index lifecycle (VERDICT r4 #6): the
    standing-index claim — per-batch dedup cost is bucket-local, not
    O(corpus) — gets a committed number like every query. Phases:
    build the index from 90% of documents, append a 5% batch, then
    incremental-query the remaining 5% against the grown index. Single
    shot (each phase writes/reads catalog tables; a median-of-n would
    measure table overwrite churn, not the operator)."""
    from pyspark.sql import functions as F

    from cdc_poc_spark.operators.dedup import (
        append_to_jaccard_index,
        build_jaccard_index,
        incremental_vs_jaccard_index,
    )
    from cdc_poc_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    bucket = F.pmod(F.col("doc_id"), F.lit(20))
    corpus = docs.filter(bucket >= 2)
    batch_a = docs.filter(bucket == 1)
    batch_b = docs.filter(bucket == 0)
    name = "bench_jix"
    # Min-of-3 full lifecycles (VERDICT r5 "What's wrong #4": single-shot
    # phases swung 2.9->15.0 s with zero code changes). Each repetition is
    # a FRESH build (tables dropped between runs), so the min per phase is
    # a least-contended observation of the same work, not overwrite churn.
    n_reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_LIFECYCLE_RUNS", "3")))
    phases: dict[str, list[float]] = {
        "ix_jaccard_build_90pct": [],
        "ix_jaccard_append_5pct": [],
        "ix_jaccard_query_5pct": [],
    }
    for _ in range(n_reps):
        for suffix in ("_hsets", "_prefix", "_meta", "_commons"):
            spark.sql(f"DROP TABLE IF EXISTS {name}{suffix}")
        t0 = time.perf_counter()
        build_jaccard_index(corpus, name)
        phases["ix_jaccard_build_90pct"].append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        append_to_jaccard_index(batch_a, name)
        phases["ix_jaccard_append_5pct"].append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        _force(incremental_vs_jaccard_index(batch_b, name))
        phases["ix_jaccard_query_5pct"].append(time.perf_counter() - t0)
        spark.catalog.clearCache()
    for suffix in ("_hsets", "_prefix", "_meta", "_commons"):
        spark.sql(f"DROP TABLE IF EXISTS {name}{suffix}")
    spark.catalog.clearCache()
    return {k: round(min(ts), 3) for k, ts in phases.items()}


# ---------------------------------------------------------------------------
# All-time-min record (VERDICT r10 "What's wrong #3" / r11 task #3): the
# OFFICIAL longitudinal number is the per-query all-time minimum at sf0.1,
# kept in committed BENCH_RECORD.json and updated only by samples whose
# load covariate is <= RECORD_MAX_EXT — so a contended session can only
# FAIL TO IMPROVE the record, never corrupt it. Seeded from all committed
# BENCH_DETAIL.json history by tools/seed_bench_record.py (same rules).
# PLANS.md quotes regressions against THIS table, not against the previous
# round's possibly-dirty total.
# ---------------------------------------------------------------------------

RECORD_MAX_EXT = 0.3


def _update_bench_record(
    samples: dict[str, list[float]],
    external: dict[str, list[float]],
    sf: float,
) -> tuple[dict, int]:
    """Fold this run's samples into BENCH_RECORD.json. Rules (identical
    to the seeder): a CLEAN sample (covariate <= RECORD_MAX_EXT) beats a
    provisional entry regardless of value and a clean entry only when
    faster; a dirty sample only seeds a missing entry (flagged
    provisional). Returns (record payload, n_updates)."""
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_RECORD.json"
    )
    try:
        with open(path) as fh:
            payload = json.load(fh)
    except (OSError, json.JSONDecodeError):
        payload = {"max_ext": RECORD_MAX_EXT, "sf": 0.1, "queries": {}}
    if sf != payload.get("sf", 0.1):
        return payload, 0  # probe-scale runs never touch the record
    commit = "worktree"
    try:
        import subprocess

        commit = subprocess.run(
            ["git", "-C", os.path.dirname(os.path.abspath(__file__)),
             "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True,
        ).stdout.strip() or "worktree"
    except OSError:
        pass
    rec = payload["queries"]
    n_updates = 0
    for name, ts in samples.items():
        es = external.get(name) or [None] * len(ts)
        for t, e in zip(ts, es):
            cand = {
                "min_sec": round(t, 3),
                "ext": e,
                "commit": commit,
                "sf": sf,
                "clean": e is not None and e <= RECORD_MAX_EXT,
            }
            cur = rec.get(name)
            if cur is None:
                rec[name] = cand
                n_updates += 1
            elif cand["clean"] and not cur["clean"]:
                rec[name] = cand
                n_updates += 1
            elif cand["clean"] == cur["clean"] and cand["min_sec"] < cur["min_sec"]:
                rec[name] = cand
                n_updates += 1
    payload["queries"] = dict(sorted(rec.items()))
    with open(path, "w") as fh:
        json.dump(payload, fh, indent=1)
    return payload, n_updates


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = -1.0  # non-standard dir name (e.g. a scale probe)
    spark = get_spark(app_name="cdc-poc-bench")
    specs = all_specs()
    core, rotating = _headline_split()
    headline = core + rotating

    # Warmup: run every headline plan once at the smallest scale factor so
    # whole-stage-codegen compilation and JVM JIT are not billed to the
    # timed runs (plan shapes are identical across sf; generated code is
    # cached by source). Falls back to the target dir if sf0.001 is absent.
    warm_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    for name in headline:
        _force(specs[name].fn(spark, warm_dir))
        spark.catalog.clearCache()

    # Timed rounds, per-query MEDIAN (VERDICT r2 #3: single-shot timings
    # flagged two +30% "regressions" that were run-to-run noise). Round-4
    # found the residual problem (VERDICT r4 "What's wrong #1"): at n=3
    # hot-session medians, GC/session temperature dominated the >=3 s
    # queries' committed numbers. Harness fixes, in order of effect:
    #   1. ROTATED order per round — round r runs the list rotated by
    #      r*7 positions (deterministic, no RNG), so no query inherits
    #      the same predecessor's heap/shuffle debris every round;
    #   2. n=5 samples for SLOW queries (>= SLOW_SEC in round 1 at the
    #      target scale) vs n=3 for the rest — median of 5 bounds a
    #      single GC-hit outlier's influence to zero;
    #   3. explicit JVM System.gc() before each slow-query measurement,
    #      so a predecessor's garbage is collected OUTSIDE the timed
    #      region instead of mid-query.
    n_base = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    n_slow = max(n_base, int(os.environ.get("SPARK_GRAFT_BENCH_SLOW_RUNS", "5")))
    slow_sec = float(os.environ.get("SPARK_GRAFT_BENCH_SLOW_SEC", "2.0"))
    jvm_gc = spark.sparkContext._jvm.System.gc  # type: ignore[attr-defined]
    samples: dict[str, list[float]] = {name: [] for name in headline}
    external: dict[str, list[float]] = {name: [] for name in headline}
    load_start = _loadavg()

    slow: set[str] = set()

    # Dirty-sample refusal (VERDICT r9 task #7: the driver's r9 bench ran
    # under external load — covariate max 1.0 — and its numbers had to be
    # adjudicated contaminated after the fact). A sample whose external
    # CPU fraction exceeds the threshold is RE-TAKEN up to max_retries
    # times; if contention persists, the last sample is kept — the
    # covariate columns still flag it, so a dirty record is visible, it
    # just cannot silently displace a clean one the harness could have
    # taken by waiting out a burst.
    max_ext = float(os.environ.get("SPARK_GRAFT_BENCH_MAX_EXT", "0.3"))
    max_retries = int(os.environ.get("SPARK_GRAFT_BENCH_EXT_RETRIES", "2"))
    n_resampled = {"n": 0}

    def timed(name: str) -> None:
        for attempt in range(max_retries + 1):
            if name in slow:
                jvm_gc()
            wall, ext = _timed_sample(spark, specs[name].fn, sf_dir)
            if ext <= max_ext or attempt == max_retries:
                samples[name].append(wall)
                external[name].append(ext)
                return
            n_resampled["n"] += 1

    for name in headline:  # round 1 doubles as the slow-set probe
        timed(name)
    slow = {n for n, ts in samples.items() if ts[0] >= slow_sec}
    for r in range(1, n_slow):
        rot = r * 7 % len(headline)
        for name in headline[rot:] + headline[:rot]:
            if len(samples[name]) < (n_slow if name in slow else n_base):
                timed(name)

    timings = {
        name: round(statistics.median(ts), 3) for name, ts in samples.items()
    }
    # Per-query MIN alongside the median: back-to-back full-process runs
    # on this container swing up to ~1.5x from outside CPU contention
    # (measured r5 — PLANS.md "bench harness variance"); the min is the
    # least-contended observation and the right stat for attributing a
    # cross-round delta to code vs environment.
    mins = {name: round(min(ts), 3) for name, ts in samples.items()}
    lifecycle = _index_lifecycle(spark, sf_dir)

    # Record split (VERDICT r5 "What's wrong #1"): the external driver
    # keeps only the LAST 2000 bytes of stdout, and the full per-query
    # payload overflowed that in r5, leaving BENCH_r05.json unparseable.
    # Fix: the full detail (per-query medians + mins + samples + the
    # min-of-3 lifecycle phases) is WRITTEN to a committed JSON file, and
    # stdout ends with one compact summary line guaranteed < 1 KB.
    detail_path = os.environ.get(
        "SPARK_GRAFT_BENCH_DETAIL",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "BENCH_DETAIL.json"),
    )
    # The comparable longitudinal number is the CORE total (fixed set,
    # timed every round); the rotating cohort's total covers a different
    # half of the pool each round and is reported separately.
    core_total = round(sum(timings[n] for n in core), 3)
    core_total_min = round(sum(mins[n] for n in core), 3)
    rot_total = round(sum(timings[n] for n in rotating), 3)
    record, n_record_updates = _update_bench_record(samples, external, sf)
    rec_q = record.get("queries", {})
    core_total_record = (
        round(sum(rec_q[n]["min_sec"] for n in core), 3)
        if all(n in rec_q for n in core)
        else None
    )
    detail = {
        "metric": "core_queries_total_wall",
        "value": core_total,
        "value_min": core_total_min,
        "unit": "sec",
        "core": core,
        "rotating": rotating,
        "rotating_total": rot_total,
        "rotating_total_min": round(sum(mins[n] for n in rotating), 3),
        "queries": timings,
        "queries_min": mins,
        "samples": {n: [round(t, 3) for t in ts] for n, ts in samples.items()},
        # Load covariate: per-sample fraction of machine busy-CPU spent
        # OUTSIDE this bench's process tree (~0 on a quiesced machine;
        # a contaminated run is detectable from the record itself).
        "external_cpu_frac": external,
        "external_cpu_frac_max": round(
            max((x for xs in external.values() for x in xs), default=0.0), 3
        ),
        "loadavg_start": load_start,
        "loadavg_end": _loadavg(),
        "dirty_samples_retaken": n_resampled["n"],
        "dirty_sample_threshold": max_ext,
        "n_cpus": os.cpu_count(),
        # The official longitudinal comparison: this run's min vs the
        # committed all-time clean record (BENCH_RECORD.json). A ratio
        # > 1 on a dirty session is contention; a ratio > 1 on a clean
        # session (external_cpu_frac <= 0.3 for that query's samples)
        # is a real regression to investigate.
        "core_total_record": core_total_record,
        "record_updates_this_run": n_record_updates,
        "vs_record": {
            n: round(mins[n] / rec_q[n]["min_sec"], 3)
            for n in headline
            if n in rec_q and rec_q[n]["min_sec"] > 0
        },
        "index_lifecycle_min3": lifecycle,
        "sf": sf,
        "runs_per_query": n_base,
        "slow_query_runs": n_slow,
        "slow_queries": sorted(slow),
    }
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=1)
    compact = {
        "metric": "core_queries_total_wall",
        "value": core_total,
        "value_min": core_total_min,
        "unit": "sec",
        "n_core": len(core),
        "rotating_total": rot_total,
        "n_rotating": len(rotating),
        "external_cpu_frac_max": detail["external_cpu_frac_max"],
        "core_total_record": core_total_record,
        "loadavg_start": load_start,
        "sf": sf,
        "detail": os.path.basename(detail_path),
    }
    line = json.dumps(compact)
    assert len(line) < 1000, f"compact bench line must stay <1KB, got {len(line)}"
    print(line)


if __name__ == "__main__":
    main()
