"""Benchmark harness: times the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The headline set covers every operator family: engine pipeline (filter →
fan-out → window → agg), joins, top-k, rollup, window functions,
sessionization, dedup (exact, LSH, inverted-index Jaccard), ANN, text
stats, and the streaming-parity run. Each query is collected to force
full execution (results are small aggregates — collect is not the
bottleneck being measured).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BENCH_QUERIES = [
    "ref_multi_metric_fanout",
    "ref_grouped_labels",
    "tpch_q1_pricing_summary",
    "tpch_q5_local_supplier",
    "tpch_q6_forecast_revenue",
    "tpch_q10_returned_items",
    "tpch_q13_customer_distribution",
    "tpch_q18_large_volume",
    "tpch_q21_suppliers_kept_waiting",
    "revenue_by_nation",
    "topk_orders_per_priority",
    "rollup_lineitem_qty",
    "running_order_totals",
    "sessions_per_user",
    "asof_last_click_before_purchase",
    "tpch_q3_shipping_priority",
    "range_join_purchases_after_order",
    "token_frequencies_top100",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "ann_cosine_topk_bruteforce",
    # ann_cosine_topk_ivf / ann_cosine_topk_pq are excluded: both train
    # their quantizer/codebooks on every call (an index-BUILD cost,
    # amortized once at 100 TB, not a per-query cost) — timing them
    # per-query misstates the steady state. scripts/ann_sweep.py
    # benchmarks the ANN variants separately.
    "timeseries_gap_fill",
    "text_token_stats",
    "text_quality_scores",
    "quality_repetition_signals",
    "corpus_duplicate_ngram_fraction",
    "tfidf_top_terms",
    # round-3 additions: partsupp-adapted TPC-H shapes, corpus governance,
    # real image decode
    "tpch_q2_min_cost_supplier",
    "tpch_q9_product_type_profit",
    "pii_detection_rates",
    "contamination_ngram_overlap",
    "sequence_packing",
    "multimodal_bmp_ppm_decode",
    # round-4 additions: the remaining round-3 operator families now
    # carry bench rows too (verdict r3 item 4)
    "hierarchical_time_rollup",
    "dedup_edit_distance_pairs",
    "dedup_incremental_batch",
    "dedup_simhash_pairs",
    "funnel_conversion",
    "dataset_split_assign",
    "key_skew_profile",
    "table_profile_orders",
    "domain_rebalance_sample",
    "corpus_dedup_keep_list",
    "dataset_shard_assign",
    "central_tendency_per_type",
    "value_clip_rates",
    # round-4 wave 2: statistical quality scoring, embedding diagnostics,
    # event analytics, corpus statistics, audio decode.
    # pagerank_customer_supplier is not listed here: it is timed per
    # iteration in ITERATIVE_QUERIES below.
    # knn_graph_hub_stats is excluded like IVF: it is a guarded O(n²)
    # diagnostic (exact edges over a bounded sample) — timing the
    # quadratic baseline at sf0.1 measures the guard's ceiling, not an
    # operator a 100 TB deployment would run (that one uses LSH/IVF
    # candidate edges).
    "unigram_logprob_quality",
    "token_entropy_per_doc",
    "quality_rule_breakdown",
    "doc_length_outlier_flags",
    "embedding_dim_stats",
    "embedding_norm_outliers",
    "event_transition_matrix",
    "user_retention_cohorts",
    "event_interval_overlap_sweep",
    "ohlc_downsample",
    "daily_anomaly_mad",
    "template_prefix_clusters",
    "source_crossover_dup_rate",
    "vocab_growth_curve",
    "join_cardinality_estimate",
    "multimodal_wav_frame_rms",
    "vocab_p90_coverage",
    "bigram_pmi_top",
    "value_trend_per_type",
    "event_type_drift_psi",
    "embedding_quantization_error",
    "embedding_whitened_norms",
    "referential_integrity_audit",
    "event_path_trigrams",
    # round-5 wave: containment dedup, sampling/budget tables, event
    # load-shape diagnostics, shuffle-balance estimate, cluster geometry
    "containment_dup_pairs",
    "quality_decile_token_budget",
    "domain_temperature_weights",
    "event_seasonality_profile",
    "user_activity_power_law",
    "session_duration_stats",
    "shuffle_partition_estimate",
    "centroid_separation_matrix",
    "multimodal_image_patch_pool",
    "zipf_fit_slope",
    "ngram_novelty_curve",
    "cross_split_contamination",
    "supplier_cotrade_triangles",
    "seasonal_naive_forecast_error",
    "basket_part_pair_lift",
    "rfm_customer_segments",
    "value_cusum_drift",
    "part_revenue_abc_classes",
    "revenue_pareto_coverage",
    "order_backlog_sweep",
    # round-5 wave e: snapshot reconciliation (CDC), attribution,
    # lateness audit, BPE merge scan
    "snapshot_diff_documents",
    "multi_touch_attribution",
    "watermark_lateness_audit",
    "bpe_merge_candidates",
    "incremental_aggregate_merge",
    "doc_chunking_plan",
    "weighted_median_price_per_flag",
    "equi_depth_histogram_totalprice",
    "shipping_lag_quantiles",
    # round-6: hash-checkable IVF certification (trains centroids at
    # construction -> construction-timed below)
    "ann_ivf_recall_audit",
    # round-6 wave 2: explicit scale patterns — bloom-style semi-join
    # prefilter, Z-order layout audit, exact two-pass heavy hitters
    "bloom_prefilter_semi_revenue",
    "zorder_layout_pruning_audit",
    "heavy_hitters_exact_twopass",
    # round-6 wave 3: substring/passage/semantic dedup, weighted
    # sampling without replacement, count-min audit
    "dedup_substring_runs",
    "passage_dedup_rate",
    "semdedup_prune_list",
    "weighted_sample_wor",
    "countmin_error_audit",
    # round-7: lang-id hash-checkable certification (UDF vs SQL twin)
    "lang_id_agreement_audit",
    # round-7 wave 2: sparse retrieval + smoothing forecaster + hybrid
    # fusion + alert-flood suppression
    "bm25_topk_retrieval",
    "ewma_forecast_error",
    "retrieval_rank_fusion",
    "event_debounce_rate",
    "compaction_bin_packing",
    "phrase_search_topk",
    "seasonal_adjusted_anomalies",
    "budget_apportion_largest_remainder",
    # round-7 wave 4: corpus-frequency boilerplate masking, DP-style
    # contribution capping, trend-aware smoothing, MinHash estimator
    # audit. knn_label_vote_audit is excluded like knn_graph_hub_stats:
    # a guarded O(n²) eval diagnostic over a bounded sample (the 100 TB
    # path feeds LSH/IVF candidate edges through the same rollup).
    "boilerplate_block_mask",
    "user_contribution_capping",
    "brown_double_smoothing_error",
    "minhash_estimate_error_audit",
    # round-7 wave 5: Matryoshka truncation audit + bigram-LM quality
    "embedding_truncation_fidelity",
    "bigram_logprob_quality",
    # round-7 wave 6: quality-aware dup resolution (CC rounds inside ->
    # construction-timed) and the BM25 MRR/hits@10 eval (shares the
    # checkpointed matched-postings core with bm25_topk_retrieval)
    "quality_aware_keep_list",
    "bm25_eval_mrr",
    "k_anonymity_audit",
    "curation_pipeline_v2",
    "multimodal_avi_frame_index",
    "cdc_upsert_merge_audit",
    "bpe_merge_apply_compression",
    # round 9: merge-on-read CDC (delta log + last-writer-wins reconcile)
    "cdc_merge_on_read_audit",
    # round 10: the compaction leg (reconcile -> columnar write -> read
    # -> checksum round-trip; construction-timed, the write is eager)
    "cdc_mor_compaction_audit",
    # round 11: exact positional percentiles via the sortless
    # boundary-row locate (two scans, no window)
    "value_percentiles_exact_global",
]

# Streaming-parity queries run the full Structured Streaming harness
# (micro-batch scheduler, state store, checkpoint I/O) to produce a
# batch-equivalent answer. Timed and reported separately: comparing a
# streaming engine's harness spin-up against a one-shot DuckDB SQL is
# not meaningful — on a real deployment these are long-running jobs
# whose setup cost amortizes to zero.
STREAMING_QUERIES = [
    "stream_equals_count_parity",
    "stream_join_click_purchase_parity",
    "stream_incremental_dedup_parity",
    "stream_ohlc_parity",
    "stream_funnel_parity",
    "stream_salted_fanout_parity",
    "stream_topk_per_window_parity",
    "stream_passage_dedup_parity",
    "stream_debounce_parity",
    "stream_ewma_parity",
    "stream_weighted_sample_parity",
    "stream_contribution_cap_parity",
    "stream_boilerplate_mask_parity",
    "stream_k_anonymity_parity",
    "stream_avi_ingest_parity",
    "stream_cdc_merge_parity",
]

# Iterative workloads, timed with an iteration-normalized metric
# (sec/iteration): the per-round join+agg cost is the number that
# extrapolates, so it is measured rather than excluded (r04 verdict
# item 4). Since r14 pagerank and label propagation run their fixed
# rounds as one lazily nested plan over a persisted keyed edge table;
# kcore still materializes each round's keep set with an eager
# localCheckpoint. Construction is INSIDE the timer: these operators run jobs
# (edge-cache build and node count, kcore's rounds) while the
# DataFrame is being built.
ITERATIVE_QUERIES = [
    "kcore_trade_graph",
    "label_prop_communities",
    "pagerank_customer_supplier",
    "dedup_clusters",
    "embedding_pca_power_iteration",
]

# Queries that materialize work EAGERLY at plan-construction time
# (localCheckpoint of an intermediate): their construction must sit
# inside the timer or the bench would hide that work entirely — worse,
# plan-reuse timing of these is EVICTION-DEPENDENT (the checkpointed
# blocks live in the block manager; under the memory pressure of a
# 90-query run they evict and silently recompute inside the timer, so
# the number flaps between ~0.1s and the full cost run to run).
# Rebuilding per trial is the honest, stable protocol for them.
# Module-level so scripts/scale_probe.py times the SAME set the same
# way (scaling_check.py already imports ITERATIVE_QUERIES from here).
CONSTRUCTION_TIMED = {
    "supplier_cotrade_triangles",   # backbone edge checkpoint
    "dedup_minhash_lsh",            # candidate-set checkpoint
    "corpus_dedup_keep_list",       # capped-LSH + CC round checkpoints
    "ann_ivf_recall_audit",         # centroid training collects at build
    "minhash_estimate_error_audit", # pair-table checkpoint at build
    "quality_aware_keep_list",      # CC rounds checkpoint per iteration
    "curation_pipeline_v2",         # composes the CC stage -> same checkpoints
    # r9: queries that swapped eager checkpoints / repeated scans for
    # lazy persist() caches — REBUILD is the honest protocol for them
    # (plan reuse would time warm cache reads). bm25_topk_retrieval is
    # cache-free and pure-lazy now, so it moves to plan-reuse timing.
    "semdedup_prune_list",
    "bigram_pmi_top",
    "retrieval_rank_fusion",
    "bm25_eval_mrr",
    # r10: compaction writes the merged snapshot eagerly at build
    "cdc_mor_compaction_audit",
    # r14 (VERDICT r13 #3): the exact per-key table localCheckpoints
    # eagerly at build — plan-reuse timing excluded the query's ONLY
    # events scan. Construction-timed is the honest accounting; the
    # r13-and-earlier numbers (~0.3 s at sf0.1) measured the
    # post-checkpoint consumers only and are restated in
    # OPTIMIZATION_r14.md.
    "countmin_error_audit",
    # r12 note: the ntile-family cutoff FLAGS (part_revenue_abc_classes
    # use_cutoff_classes etc.) localCheckpoint at build and must be
    # timed construction-inclusive when flagged on; the bench runs the
    # lazy window DEFAULTS, so they stay out of this set.
}


def _iter_count(name: str) -> int:
    from beametrics_spark.operators import curation, graph3
    from beametrics_spark.operators.graph import N_ITER
    from beametrics_spark.operators.similarity4 import PCA_ITERS

    return {
        "kcore_trade_graph": graph3.KCORE_ROUNDS,
        "label_prop_communities": graph3.N_ITER,
        "pagerank_customer_supplier": N_ITER,
        "dedup_clusters": curation.LAST_CC_ROUNDS,
        "embedding_pca_power_iteration": PCA_ITERS,
    }[name]


def _iterative_bench(spark, sf_dir: str, qs) -> dict:
    out: dict[str, dict] = {}
    for name in ITERATIVE_QUERIES:
        # same pre-query gc hygiene as timed() — see the session-aging
        # note in main(). clearCache per trial (r14): the graph
        # operators persist() their keyed edge table; CacheManager
        # matches rebuilt plans by canonicalized subtree, so without
        # the clear each rebuilt trial would read the PREVIOUS trial's
        # warm cache instead of paying its own construction (the same
        # honesty rule the CONSTRUCTION_TIMED rebuild loop applies).
        spark.sparkContext._jvm.System.gc()
        spark.catalog.clearCache()
        qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        trials = []
        for _ in range(2):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            trials.append(time.perf_counter() - t0)
        wall = min(trials)
        iters = _iter_count(name)
        out[name] = {
            "wall_s": round(wall, 3),
            "iters": iters,
            "s_per_iter": round(wall / max(iters, 1), 3),
        }
        print(
            f"# {name}: {wall:.3f}s / {iters} iters = "
            f"{out[name]['s_per_iter']:.3f} s/iter",
            file=sys.stderr,
        )
    return out


def _layout_bench(spark, sf_dir: str) -> dict:
    """Physical-layout demo: the same join-aggregate over bucketed vs
    flat parquet. Bucketing pre-shuffles at write time (an index-build
    cost, amortized over every subsequent query — reported separately
    as build_s), so the per-query join runs with ZERO exchanges. At
    100 TB this is the difference between re-shuffling terabytes per
    query and none; broadcast is disabled during the measurement so the
    plan proves co-location, not small-table luck.
    """
    import time

    from beametrics_spark.sources.layout import bucketed_vs_flat_demo

    t0 = time.perf_counter()
    bucketed, flat, cleanup = bucketed_vs_flat_demo(spark, sf_dir, "bench")
    build_s = round(time.perf_counter() - t0, 3)

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # count shuffle exchanges from the FINALIZED adaptive plan (AQE
        # only settles stages after execution — the pre-execution string
        # is the initial plan); recorded, not asserted, so a planner
        # regression degrades the metric instead of failing the bench
        # (tests/test_layout.py keeps the hard assertion)
        bucketed.collect()
        import re as _re

        final = (
            bucketed._jdf.queryExecution()
            .executedPlan()
            .toString()
            .split("== Initial Plan ==")[0]
        )
        n_shuffles = len(_re.findall(r"Exchange hashpartitioning", final))
        out = {"build_s": build_s, "bucketed_exchanges": n_shuffles}
        for label, df in (("bucketed_join_agg", bucketed), ("flat_join_agg", flat)):
            df.write.format("noop").mode("overwrite").save()  # warm
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            out[label] = round(time.perf_counter() - t0, 3)
            print(f"# layout/{label}: {out[label]:.3f}s", file=sys.stderr)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        cleanup()
    return out


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")

    from beametrics_spark.session import get_spark

    spark = get_spark("beametrics-bench")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry

    qs = entry.queries()

    # warmup: JIT + codegen + parquet footer/IO caches, so timings measure
    # steady-state query execution, not first-touch JVM costs (reported
    # openly — the warmup is not part of the benchmark result).
    #
    # Each benchmark query is first run once at sf0.001 (JMH-style): the
    # plan — and therefore the generated whole-stage-codegen source — is
    # identical across scale factors, so this compiles and JIT-warms the
    # exact classes the timed run uses while reading ~100× less data from
    # DIFFERENT files (no page-cache or result reuse at the timed scale).
    from beametrics_spark.sources import load_table

    warm_dir = os.environ.get("SPARK_GRAFT_WARMUP_DIR", "/root/testdata/sf0.001")
    t0 = time.perf_counter()
    for t in ("events", "lineitem", "orders", "documents", "embeddings"):
        load_table(spark, sf_dir, t).count()
    for name in BENCH_QUERIES + STREAMING_QUERIES:
        if name in qs and os.path.isdir(warm_dir):
            qs[name](spark, warm_dir).collect()
    print(f"# warmup: {time.perf_counter() - t0:.3f}s", file=sys.stderr)

    # Timed execution uses Spark's `noop` sink: the full plan runs (every
    # column materialized, nothing pruned by a count) but rows stay
    # JVM-side, as they would on a cluster writing parquet — collect()
    # would charge Python row deserialization of 100k-row results to the
    # engine. Row counts are logged from a separate, untimed pass.
    # Each query is timed N_TRIALS times and the MIN is reported:
    # single-run timings on this box swing ±2-3 s on identical plans
    # (GC pauses, JIT recompilation, codegen-cache churn across 60+
    # back-to-back plans) — the min is the steady-state number a
    # dedicated cluster would see, and the one that is reproducible run
    # to run. Raised 2 → 4 in round 9: the heaviest generate-loop plans
    # (basket pairs) need 3-4 executions before HotSpot C2-compiles the
    # emission loop (measured 4.2 → 1.7 s across five executions of the
    # SAME plan in a fresh session); min-of-2 was recording the
    # pre-compile number whenever the warm-up run landed cold.
    # Row-count logging is an extra full execution per query — debug aid
    # only, off by default to keep the harness wall bounded.
    log_counts = os.environ.get("SPARK_GRAFT_BENCH_COUNTS") == "1"
    N_TRIALS = int(os.environ.get("SPARK_GRAFT_BENCH_TRIALS", "4"))

    construction_timed = CONSTRUCTION_TIMED

    # Session-aging hygiene (VERDICT r12 #4): identical code measured 11%
    # apart across two long sessions, inflation concentrated in the
    # LATE-positioned dedup/ANN family. Two mechanisms accumulate in a
    # single session and are both GC-coupled: ContextCleaner only
    # releases broadcast blocks / shuffle files / cache entries when the
    # driver JVM garbage-collects their weak references (a 20 g heap can
    # run a whole bench without an old-gen GC — spark.cleaner
    # .periodicGC.interval defaults to 30 min, longer than the run), and
    # JIT code-cache/metaspace pressure from 500+ compiled plan classes
    # slows late compilation. An explicit System.gc() BEFORE EVERY QUERY
    # bounds the first mechanism at a fixed, measured cost (~0.1-0.2 s
    # per call, OUTSIDE any timed trial); the second is monitored via
    # jcmd (round-13 runs: profiled-nmethods peaked at 93/119 MB,
    # full_count=0 — no exhaustion on this box).
    #
    # Why every query and not every 25 (the first r13 cadence): measured
    # (OPTIMIZATION_r13.md; sf1 replica, the SAME plan
    # re-executed round over round in one session), a no-GC session
    # degraded MONOTONICALLY — ~12 s -> 29 s -> 76 s by round 5 on a
    # ~6 s query — while the per-round-gc session held 5.7-7.4 s flat
    # across every round AND ran 2x faster than the no-GC session's
    # FIRST round. Degradation onset is within ~5 heavy executions, so
    # a 25-query cadence leaves most of the bench in the degraded
    # regime; multi-minute outlier trials observed before the fix (a
    # 25.5 s range_join min, a 374 s dedup_minhash_lsh trial) were this
    # mechanism at full depth, not host noise. Protocol validation: two
    # consecutive full runs must agree within 3% on the dedup/ANN
    # subtotal (recorded in OPTIMIZATION_r13.md).
    def _driver_gc() -> None:
        spark.sparkContext._jvm.System.gc()

    def timed(names: list[str], *, rebuild: bool = False) -> dict[str, float]:
        out: dict[str, float] = {}
        for name in names:
            _driver_gc()
            if name not in qs:
                continue
            # Cross-query cache hygiene (ADVICE r9): operators that
            # persist() intermediates leave InMemoryRelations behind, and
            # Spark's CacheManager substitutes cached fragments into ANY
            # later plan with an identical canonicalized subtree — without
            # this, one query's cache silently warms another's timing.
            spark.catalog.clearCache()
            if rebuild or name in construction_timed:
                # REBUILD is the honest protocol for queries that persist()
                # or checkpoint at construction — and because CacheManager
                # matches by canonicalized plan, each trial must ALSO drop
                # the previous trial's cache or the freshly built DataFrame
                # is substituted with the already-materialized
                # InMemoryRelation and the trial times a warm cache read
                # (ADVICE r9, the medium finding).
                qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
                trials = []
                for _ in range(N_TRIALS):
                    spark.catalog.clearCache()
                    t0 = time.perf_counter()
                    qs[name](spark, sf_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                    trials.append(time.perf_counter() - t0)
                out[name] = round(min(trials), 3)
                print(f"# {name}: {out[name]:.3f}s (construction-timed)", file=sys.stderr)
                continue
            # Build the plan ONCE per query and time EXECUTIONS of it:
            # re-building per trial re-runs Catalyst analysis and
            # whole-stage-codegen compilation every time (fresh
            # expression ids miss the codegen cache — measured +1.1 s
            # per run on the largest plans), which is a per-query
            # CONSTANT any real deployment pays once, not per batch.
            # Trial 1 absorbs the cold compile; min-of-2 reports the
            # warm steady-state execution.
            df = qs[name](spark, sf_dir)
            trials = []
            for _ in range(N_TRIALS):
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                trials.append(time.perf_counter() - t0)
            out[name] = round(min(trials), 3)
            suffix = ""
            if log_counts:
                suffix = f" ({df.count()} rows)"
            print(f"# {name}: {out[name]:.3f}s{suffix}", file=sys.stderr)
        return out

    # Host-floor calibration (VERDICT r7 #7): a constant one-partition
    # no-op job and a constant tiny fixed-shuffle job, timed with the
    # same min-of-N protocol. These measure the box's per-action
    # scheduling floor and per-stage shuffle floor ON THIS RUN, so a
    # future reader can separate host drift from plan regressions
    # arithmetically (r7's +21% total turned out to be drift — proven
    # then by DuckDB co-movement, now measurable directly).
    def _calibration() -> dict[str, float]:
        from pyspark.sql import functions as F

        noop = spark.range(1, numPartitions=1)
        shuf = (
            spark.range(10000, numPartitions=8)
            .groupBy((F.col("id") % 97).alias("k"))
            .count()
        )
        out = {}
        for label, df in (("noop_1part", noop), ("shuffle_8part", shuf)):
            df.write.format("noop").mode("overwrite").save()  # warm
            trials = []
            for _ in range(5):
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                trials.append(time.perf_counter() - t0)
            out[label + "_min"] = round(min(trials), 4)
            out[label + "_median"] = round(sorted(trials)[2], 4)
        return out

    calibration = _calibration()
    print(f"# calibration: {calibration}", file=sys.stderr)

    timings = timed(BENCH_QUERIES)
    # Streaming-parity entries run the WHOLE micro-batch harness during
    # plan construction (readStream → drain → memory sink), so they must
    # rebuild inside the timer — plan-reuse timing would clock only the
    # final batch aggregate over the already-drained sink.
    streaming = timed(STREAMING_QUERIES, rebuild=True)
    iterative = _iterative_bench(spark, sf_dir, qs)
    layout = _layout_bench(spark, sf_dir)

    total = round(sum(timings.values()), 3)
    summary = {
        "metric": "headline_query_set_wall",
        "value": total,
        "unit": "sec",
        "streaming_parity_wall": round(sum(streaming.values()), 3),
        "calibration": calibration,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    # The driver parses the LAST stdout line (VERDICT r13 #2: the r13
    # ordering printed the full object first and a queries-free summary
    # last, so the driver's PERF per-query/scaling analyses came back
    # EMPTY). The contract line is {"metric", "value", "unit",
    # "queries", "sf", ...} — the per-query map MUST ride the final
    # line. So: headline-only summary first (human-scannable), then the
    # full object (compact separators) as the LAST line, and the same
    # object in BENCH_LOCAL.json next to this script for the record.
    full = {
        **summary,
        "queries": timings,
        "streaming_parity_queries": streaming,
        "iterative_queries": iterative,
        "layout": layout,
        "full_results": "BENCH_LOCAL.json",
    }
    # atomic write (temp + rename): a crash mid-dump must not leave the
    # committed artifact truncated/inconsistent with the printed summary
    local_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json"
    )
    tmp_path = local_path + ".tmp"
    with open(tmp_path, "w") as f:
        json.dump(full, f)
    os.replace(tmp_path, local_path)
    print(json.dumps({**summary, "full_results": "BENCH_LOCAL.json"}))
    print(json.dumps(full, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
