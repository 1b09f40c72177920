#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
    {"metric": "total_wall_seconds", "value": N, "unit": "sec",
     "queries": {name: sec, ...}, "sf": 0.1}

Each query materializes fully via the noop sink (count() would let
Catalyst prune the work). Queries come straight from the driver-contract
registry so the benchmark measures exactly what correctness verified.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# breadth over the operator families; heavy hitters first so JVM warmup
# noise lands on the big joins, not the micro queries
BENCH_QUERIES = [
    "j08_multiway_fact_join",      # 7-table star join
    "j09_interval_join_scd2",      # SCD2 temporal key resolution
    "j02_broadcast_key_map_join",  # broadcast dim probe + agg
    "p04_date_membership_semi_join",
    "p07_rn1_filter",              # window dedup over the fact
    "w01_window_dedup_latest",
    "a01_groupby_mode",
    "a05_count_distinct",
    "a08_conditional_ratio",
    "o01_orderby_limit_topk",
    "u01_union_distinct",
    "j05_j06_j07_d02_scd2_two_run",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "sim_cosine_topk",
    "sim_lsh_ann_topk",
    "text_stats_quality",
    "text_fingerprint",
    "events_sessionization",
    "events_tumbling_window",
    "events_asof_join",
    "mm_image_meta",
    "olap_time_rollup_events",
    "j11_range_band_join",
    # r4-new heavy operators (VERDICT r4 task 2): regressions in the
    # newest code must be visible in the per-round bench
    "text_tfidf_top_terms",
    "dedup_canonical_longest",
    "dedup_cluster_components",
    "dedup_fuzzy_blocked",
    "dedup_ngram_jaccard",
    "clean_winsorize",
    "sample_weighted_without_replacement",
    # r6-new: the end-to-end curation run (heaviest composed plan) and the
    # skew-safe W1 — regressions must be bench-visible
    "curate_pipeline",
    "skew_salted_latest",
    # r7-new: the transaction-table write paths (file-pruned merge; the
    # exactly-once streaming sink) — commit/stats overhead regressions
    # must be bench-visible
    "txn_merge_fileprune",
    "stream_tx_upsert",
    # r8-new heavy READ paths (VERDICT r8 task 3): the tx-table pruned
    # lookups, the heaviest cross-doc dedup scorer, and the classifier
    # fit+score report — regressions here were previously bench-invisible
    "txn_point_lookup",
    "txn_keyset_lookup",
    "dedup_cross_doc_ngram_score",
    "text_quality_classifier_report",
    # r9-new: the cross-table transaction (staging + decision + pinned
    # read) and the change-data-feed capture+read — coordination/capture
    # overhead regressions must be bench-visible
    "txn_multitable_publish",
    "txn_change_feed",
    # r9-new: partitioned-table overwrite (partition-pure write + one
    # commit), cluster-blocked semantic self-dedup, and the iterative
    # BPE training loop — three new compute families, all bench-visible
    "txn_replace_where",
    "txn_delete_dv",
    "dedup_semdedup",
    "dedup_semdedup_lsh",
    "text_bpe_train",
    # r10 (VERDICT r9 task 2): the remaining r9-new heavy paths — CDF-fold
    # incremental aggregation, the materialized agg view (batch + streaming
    # refresh loop), the full BPE tokenize→pack pipeline, RESTORE, and the
    # partitioned exactly-once streaming ingest — previously bench-invisible
    "txn_cdf_incremental_agg",
    "txn_agg_mv",
    "txn_agg_mv_minmax",
    "stream_agg_mv_follow",
    "pipe_bpe_tokenize_pack",
    "txn_restore",
    "stream_partition_ingest",
    # r10-new schema-evolution paths: column-mapping rename (merge through
    # the mapping) and type widening (narrow-write upcasts + widened read)
    # — mapping/upcast overhead regressions must be bench-visible
    "txn_rename_column",
    "txn_type_widening",
    "txn_generated_columns",
    # r10-new compressed-domain ANN (PQ-ADC + exact re-rank): the encode
    # UDF + code-scan cost must be bench-visible next to the IVF/LSH tiers
    "sim_pq_ann_topk",
    # r10-new: identity-column assignment rides the append/merge writes
    "txn_identity_column",
    # r10-new CDC replication: the streaming replica (CDF source ->
    # netted apply_changes per batch) is the heaviest new composed path
    "stream_replicate_cdc",
    # end-to-end star pipeline (ingest→ODS→staging→target→BI agg) with a
    # COLD warehouse cache — guards the pipeline plans, not just micro ops
    "pipe_bi_sales_by_category",
    # same star, WARM cache — isolates the BI query plan itself, so plan
    # regressions are visible separately from the fixture-build cost above
    "pipe_bi_sales_by_state",
    # r11-new: row-tracked RESTORE (diff materialization on the changed
    # files), COPY INTO (ledger replay + selective load), the bloom-index
    # write+lookup, single-pass ANALYZE, DSIR scoring (corpus token
    # explode + broadcast ratio join), and the temperature mixer — each a
    # new write/read/scoring family whose regressions must be visible
    "txn_restore_cdf",
    "txn_table_diff",
    "txn_copy_into",
    "txn_bloom_col_prune",
    "txn_analyze",
    "sel_dsir_weights",
    "sample_temperature_mixture",
    "text_bigram_logprob",
    "pipe_dsir_select_pack",
    "sim_kmeans_labels",
    "dedup_semdedup_kmeans",
    # r12: the k ∝ N scale twin (derived k, broadcast-join assignment)
    # — the pair-cost-vs-k tradeoff must be bench-visible next to the
    # fixed-k oracle anchor above
    "dedup_semdedup_kmeans_scaled",
    # r12-new: the avg/approx-distinct MV (HLL union + sketch-recompute
    # fallback riding the same refresh loop) — sketch-maintenance cost
    # regressions must be bench-visible next to the count/sum/minmax MVs
    "txn_agg_mv_avg_distinct",
    # r12-new: metadata-only aggregates (count/min/max from the log's
    # per-file stats, DV'd files hybrid-read) — the stats fold must stay
    # log-replay-sized, so its cost rides next to the other txn reads
    "txn_agg_pushdown",
    # r12-new: distributed PCA (tree-aggregated Gram + broadcast
    # projection) and the per-entity rolling-window features — two new
    # compute families, bench-visible
    "sim_pca_project",
    "ts_rolling_window",
    # r12-new, late session: the ExactSubstr span-removal corpus pass
    # (shingle explode + islands + range-join reassembly), the IVF-PQ
    # residual ANN (coarse fit + residual encode + cell-pruned ADC),
    # PageRank's iterative join rounds, the CMS sketch build+probe, the
    # trailing-window anomaly scorer, and the race-forced concurrent
    # merge (conflict classification + no-rerun re-commit) — six new
    # compute families, all bench-visible
    "dedup_span_removal",
    "sim_ivfpq_ann_topk",
    "graph_pagerank_partsupp",
    "sketch_cms_heavy_hitters",
    "ts_anomaly_zscore",
    "txn_concurrent_disjoint_writers",
    # r12-new, latest: the join-aggregate MV (enrich-hook CDF folds),
    # the ExactSubstr→unigram→pack composed pipeline (3 corpus scans +
    # the Viterbi tokenize hop), and the Matryoshka two-stage rank —
    # all new composed paths, bench-visible
    "txn_agg_mv_join",
    "pipe_exactsubstr_unigram_pack",
    "sim_matryoshka_topk",
    # r12-new, latest: the CDF→SCD2 derivations — the batch fold and
    # the streaming follower (per-batch window + bloom-pruned current
    # read + exactly-once merge); replica-maintenance cost regressions
    # must be bench-visible next to stream_replicate_cdc
    "txn_cdf_scd2_history",
    "stream_scd2_follow",
    # r12-new: partition evolution (metadata commit + mixed-layout
    # pruned read + materializing compact) — layout-migration cost
    # regressions must be bench-visible
    "txn_partition_evolution",
    # r12-new: BFD no-straddle packing (per-group Arrow hop)
    "pack_bins_bfd",
    # r13-new: sorted-neighborhood blocking (one sort-shuffle dedup),
    # PSI drift report (first dq-family bench row), decimal-exact
    # corr/regression, seasonal Holt-Winters struct fold
    "dedup_sorted_neighborhood",
    "dq_psi_drift",
    "olap_corr_regr",
    "ts_holt_winters",
    # r13 late: PMI collocations (text), contrastive triplet mining
    "text_pmi_collocations",
    "sample_contrastive_triplets",
    # r14-new: SNM cross-boundary edge pass, RRF over the IVF-PQ ANN
    # tier, exact two-sample KS drift (distributed prefix-sum)
    "dedup_snm_boundary",
    "sim_rrf_ann_fusion",
    "dq_ks_drift",
    # r15-new: the melted multi-feature drift pass (its single-shuffle
    # job-count collapse must be bench-visible next to dq_ks_drift),
    # the streaming chi-square/MWU twins, the strided embedding energy
    # distance, and the chained-global-window SNM
    "dq_drift_multicol",
    "dq_drift_report",
    "dq_drift_baseline_serve",
    "dq_drift_timeline",
    "stream_chisq_drift",
    "stream_mwu_drift",
    "dq_embedding_drift",
    "dq_embedding_norm_drift",
    "stream_embedding_norm_drift",
    "stream_drift_multicol",
    "dedup_snm_chained",
]

#: Bench-subset rotation (VERDICT r14 task 6): BENCH_QUERIES pins ~105
#: of the 300+ registry entries, so a perf regression in an unpinned
#: entry could hide indefinitely. Every FULL run appends
#: ROTATING_SLOTS extra queries drawn deterministically from the
#: sorted unpinned pool: window start = round_index × ROTATING_SLOTS
#: (mod pool size, wraparound). round_index must be IDENTICAL for every
#: run within a round (the driver benches at 32 cores, writes
#: BENCH_r<N>.json, then re-benches at 8 cores for the scaling block —
#: in r15 a file-count-based index incremented between those two runs
#: and they rotated different query sets, wrecking the scaling row).
#: So the index comes from $SPARK_GRAFT_ROUND when set, else
#: 1 + max(round N of the GIT-COMMITTED BENCH_rN.json files): the
#: current round's own bench output is untracked until the end-of-round
#: artifact commit, so every same-round run — 32-core, 8-core, re-runs
#: — sees the same committed set and rotates identically, while the
#: next round's commit advances the window. Rotated timings get
#: per-query rows in BENCH_spread.json like every query; on stdout they
#: aggregate under the single "rotation" family so the pinned families
#: stay round-over-round comparable and the JSON line stays under the
#: driver's ~2 KB tail capture.
ROTATING_SLOTS = 8


def rotation_round_index(repo_dir: str | None = None) -> int:
    """Stable-within-a-round rotation index (see ROTATING_SLOTS note)."""
    env = os.environ.get("SPARK_GRAFT_ROUND", "")
    if env.isdigit():
        return int(env)
    import re
    import subprocess
    repo_dir = repo_dir or os.path.dirname(os.path.abspath(__file__))
    names: list[str] = []
    try:
        out = subprocess.run(
            ["git", "ls-files", "BENCH_r*.json"], cwd=repo_dir,
            capture_output=True, text=True, timeout=30)
        if out.returncode == 0:
            names = out.stdout.split()
    except Exception:
        names = []
    if not names:  # no git (bare checkout export): fall back to glob
        import glob
        names = [os.path.basename(p) for p in
                 glob.glob(os.path.join(repo_dir, "BENCH_r*.json"))]
        print("warning: no git-tracked BENCH_r*.json; the rotation round "
              "comes from a glob that may count this round's own file — "
              "set SPARK_GRAFT_ROUND to fix it", file=sys.stderr)
    rounds = [int(m.group(1)) for m in
              (re.match(r"BENCH_r(\d+)", os.path.basename(n))
               for n in names) if m]
    return (max(rounds) + 1) if rounds else 0


def rotation_names(reg_names, round_index: int) -> list[str]:
    """The deterministic rotating picks for this round (see above)."""
    pinned = set(BENCH_QUERIES)
    pool = sorted(n for n in reg_names if n not in pinned)
    if not pool:
        return []
    start = (round_index * ROTATING_SLOTS) % len(pool)
    picks = [pool[(start + i) % len(pool)]
             for i in range(min(ROTATING_SLOTS, len(pool)))]
    return list(dict.fromkeys(picks))

#: pipe_* queries that should pay the full cold pipeline build; other
#: pipe_* entries reuse the star cache built by the cold one.
COLD_PIPE = {"pipe_bi_sales_by_category"}

#: first cluster query pays the full pair-graph + closure build; the
#: second reuses the shared labeled-corpus artifact (warm twin), so the
#: bench shows both the closure cost and the serve-many read cost.
COLD_LABELED = {"dedup_canonical_longest"}

#: Load-contamination canary (VERDICT r11 task 3): r11's driver bench ran
#: on a loaded box and every family drifted 1.5-8x with no code change —
#: only a judge re-run could tell a hot machine from a regression. The
#: canary is a tiny pinned-cost query run (untimed) before the first and
#: after the last measured query; if even the BEST of its runs exceeds
#: factor x pinned on either side, the whole window is suspect and the
#: JSON line carries "load_skewed": true.
CANARY = "o01_orderby_limit_topk"
CANARY_PINNED_SEC = 0.15   # idle-box median: 0.139s in BENCH_r09
CANARY_SKEW_FACTOR = 2.0
CANARY_RUNS = 3


def _family(name: str) -> str:
    """Bench-reporting family of a query name: SURVEY-core ids
    (``j08_...``, ``a01_...``) collapse to ``core``; everything else
    groups by its leading token (``txn_*``, ``dedup_*``, ``sim_*``...).
    Used only to aggregate the stdout JSON line under the driver's ~2 KB
    tail capture — per-query detail stays in BENCH_spread.json."""
    head = name.split("_", 1)[0]
    if len(head) >= 2 and head[0].isalpha() and head[1:].isdigit():
        return "core"
    return head


def is_load_skewed(canary_secs: list[float],
                   pinned: float = CANARY_PINNED_SEC,
                   factor: float = CANARY_SKEW_FACTOR) -> bool:
    """True when a canary probe shows the box was loaded.

    ``canary_secs`` holds the best-of-N canary time for each probe point
    (start and end of the bench window). min-of-runs is the statistic:
    a single-run hiccup on an idle box never flags, but a box loaded for
    the whole probe can't produce even one clean run.
    """
    return any(t > pinned * factor for t in canary_secs)


def census(spark, name: str, leaked: set[str]) -> None:
    """Leak census after one run of ``name``: a query that leaves a
    cached plan behind is added to ``leaked`` (reported in
    BENCH_spread.json), and the cache is cleared so the next run is
    not handed a warm cache."""
    from walmart_project_etl_spark.operators.util import leak_census

    n = leak_census(spark)
    if n:
        leaked.add(name)
        print(f"# {name}: LEAKED {n} cached plan(s)", file=sys.stderr)


def main() -> int:
    from walmart_project_etl_spark.queries import registry
    from walmart_project_etl_spark.session import get_spark

    spark = get_spark("wpe-bench")
    spark.sparkContext.setLogLevel("ERROR")
    reg = registry()

    sf = 0.1
    base = os.path.basename(SF_DIR.rstrip("/"))
    if base.startswith("sf"):
        try:
            sf = float(base[2:])
        except ValueError:
            pass

    # JVM/codegen warmup so the first measured query isn't charged for it
    reg["j02_broadcast_key_map_join"][0](spark, SF_DIR) \
        .write.format("noop").mode("overwrite").save()
    # Warm the one-time events fixture (ts-encoding normalization +
    # repartition copy, queries/util.events_t) OUTSIDE the timed loop —
    # it's a per-process build, and billing it to whichever events query
    # runs first made events_sessionization look 2.4× slower in r3.
    from walmart_project_etl_spark.queries.util import events_t
    events_t(spark, SF_DIR)

    sc = spark.sparkContext
    run_seq = [0]
    leaked: set[str] = set()

    def run_once(name: str) -> tuple[float, int]:
        """One timed materialization; returns (seconds, failed_tasks).
        The leak census (:func:`census`) runs after it.

        Failed/retried task attribution (VERDICT r8 task 2): each run gets
        a unique job group, and after the run the status tracker's stage
        infos for that group's jobs are summed for numFailedTasks — so a
        transient executor-task retry trace in stderr is attributable to a
        specific query and count instead of an anonymous DAGScheduler
        fragment (the r8 loose end)."""
        fn, _oracle = reg[name]
        if name in COLD_PIPE:
            # time the full pipeline build, not a warm cache hit
            from walmart_project_etl_spark.queries.pipeline import \
                invalidate_star_cache
            invalidate_star_cache()
        if name in COLD_LABELED:
            from walmart_project_etl_spark.queries.trainprep import \
                invalidate_labeled_cache
            invalidate_labeled_cache()
        run_seq[0] += 1
        group = f"bench-{name}-{run_seq[0]}"
        sc.setJobGroup(group, name)
        try:
            t0 = time.time()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
        finally:
            sc.setJobGroup(None, None)
            census(spark, name, leaked)
        failed = 0
        try:
            tracker = sc.statusTracker()
            for jid in tracker.getJobIdsForGroup(group):
                jinfo = tracker.getJobInfo(jid)
                if jinfo is None:
                    continue
                for sid in jinfo.stageIds:
                    sinfo = tracker.getStageInfo(sid)
                    if sinfo is not None:
                        failed += sinfo.numFailedTasks
        except Exception as e:  # tracking must never fail the bench
            print(f"# status tracker unavailable for {name}: {e}",
                  file=sys.stderr)
        return dt, failed

    # Median over repeated runs: single-shot numbers carry a measured
    # ~1.4x same-code wall-time spread on this box (docs/SCALE.md),
    # enough to mask a real 1.3x regression. 3 runs per query; queries
    # whose first run is already ≥10s drop to 2 runs (lower-middle =
    # best-of-2) to keep total bench wall time in budget — their
    # absolute size makes relative drift less able to hide a regression.
    # optional CLI subset (iterating on one query); full list by default
    full_run = not sys.argv[1:]
    if full_run:
        round_index = rotation_round_index()
        rotated = rotation_names(reg.keys(), round_index)
        names = BENCH_QUERIES + rotated
        print(f"# rotation (round_index {round_index}): {rotated}",
              file=sys.stderr)
    else:
        rotated = []
        names = sys.argv[1:]
    rotated_set = set(rotated)
    unknown = [n for n in names if n not in reg]
    assert not unknown, f"not in registry: {unknown}"

    def canary_probe() -> float:
        best = min(run_once(CANARY)[0] for _ in range(CANARY_RUNS))
        print(f"# canary {CANARY}: best {best:.3f}s "
              f"(pin {CANARY_PINNED_SEC}s)", file=sys.stderr)
        return round(best, 3)

    canary_secs = [canary_probe()]
    timings: dict[str, float] = {}
    spread: dict[str, list[float]] = {}
    for name in names:
        results = [run_once(name)]
        n = 2 if results[0][0] >= 10.0 else 3
        while len(results) < n:
            results.append(run_once(name))
        runs = sorted(r[0] for r in results)
        failed_tasks = sum(r[1] for r in results)
        timings[name] = round(runs[(len(runs) - 1) // 2], 3)
        spread[name] = [round(runs[0], 3), round(runs[-1], 3)]
        print(f"# {name}: {timings[name]:.2f}s "
              f"(spread {runs[0]:.2f}-{runs[-1]:.2f}, "
              f"failed_tasks={failed_tasks})", file=sys.stderr)

    canary_secs.append(canary_probe())
    skewed = is_load_skewed(canary_secs)
    if skewed:
        print(f"# LOAD SKEW: canary best-of-{CANARY_RUNS} {canary_secs} "
              f"exceeds {CANARY_SKEW_FACTOR}x pin {CANARY_PINNED_SEC}s — "
              "timings below are machine-load-contaminated", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    # per-query min/max spread goes to a SIDE FILE: the driver tails
    # stdout for ONE compact JSON line, and r6's inline spread dict grew
    # past its capture window, truncating the medians (BENCH_r06
    # "parsed": null). The primary line is compact and printed last.
    if full_run:  # subset runs must not clobber the record
        try:
            with open(os.path.join(
                    os.path.dirname(os.path.abspath(__file__)),
                    "BENCH_spread.json"), "w") as fh:
                json.dump({"sf": sf, "canary": canary_secs,
                           "rotation": rotated,
                           "timings": timings, "spread": spread,
                           "leaked": sorted(leaked)}, fh)
        except OSError as e:
            print(f"# spread file not written: {e}", file=sys.stderr)
    # The driver tails stdout for ONE JSON line and its capture window is
    # only ~2 KB: r11's 73-query line (~3.5 KB) AND r12's 2-dp compact
    # 96-query line both outgrew it ("parsed": null two rounds running).
    # So stdout carries PER-FAMILY wall-second totals (~20 keys, <1 KB —
    # every family represented, a family-level regression is still
    # driver-visible) and the per-query medians + spreads live in
    # BENCH_spread.json, written above. The line prints LAST and ALONE.
    fam_secs: dict[str, float] = {}
    fam_n: dict[str, int] = {}
    for n_, t_ in timings.items():
        f_ = "rotation" if n_ in rotated_set else _family(n_)
        fam_secs[f_] = fam_secs.get(f_, 0.0) + t_
        fam_n[f_] = fam_n.get(f_, 0) + 1
    line = json.dumps(
        {"metric": "total_wall_seconds", "value": round(total, 2),
         "unit": "sec",
         "queries": {f_: round(s_, 2) for f_, s_ in sorted(fam_secs.items())},
         "n_queries": len(timings),
         "per_family_n": {f_: fam_n[f_] for f_ in sorted(fam_n)},
         "sf": sf, "load_skewed": skewed, "detail": "BENCH_spread.json"},
        separators=(",", ":"))
    if len(line) > 1800:  # stay well under the driver's ~2 KB tail capture
        # the per-family queries map is the dominant term — the fallback
        # must drop it too (keeping it only removes ~200 B of counts and
        # leaves the line unbounded as the family set grows); the full
        # detail always lives in BENCH_spread.json
        print(f"# JSON line {len(line)}B > 1800B budget — dropping "
              "per-family maps", file=sys.stderr)
        line = json.dumps(
            {"metric": "total_wall_seconds", "value": round(total, 2),
             "unit": "sec", "queries": {},
             "n_queries": len(timings), "sf": sf,
             "load_skewed": skewed, "detail": "BENCH_spread.json"},
            separators=(",", ":"))
    print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main())
