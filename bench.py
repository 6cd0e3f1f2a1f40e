#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": <sf>}

Each query executes its full distributed plan into the noop sink (no
driver-side collect skewing the numbers).
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from parquet_export_spark.queries import REGISTRY  # noqa: E402
from parquet_export_spark.session import get_spark  # noqa: E402

#: Headline set: one per operator family (SURVEY.md §2B/§2C).
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_revenue_by_nation",
    "q6_forecast_revenue",
    "q10_returned_items",
    "agg_distinct",
    "agg_rollup",
    "window_topk_per_group",
    "window_running_sum",
    "set_ops",
    "scalar_json_funcs",
    "sql_segment_top_spenders",
    "events_hourly_rollup",
    "event_ohlc",
    "sliding_rollup",
    "snapshot_diff",
    "incremental_rollup",
    "hll_rollup_users",
    "cogroup_user_funnel",
    "variant_json_funcs",
    "winsorize_values",
    "token_diversity",
    "q13_order_count_distribution",
    "q21_exclusive_return_suppliers",
    "asof_purchase_attribution",
    "sessionize_batch",
    "window_range_frame",
    "pivot_segment_counts",
    "stats_moments",
    "heavy_hitters_cms",
    "value_gini_by_type",
    "value_outliers",
    "salted_agg_user_value",
    "bloom_prune_orders",
    "dedup_exact",
    "neardup_jaccard_blocked",
    "neardup_ngram_jaccard",
    "neardup_minhash_lsh",
    "neardup_embedding",
    "cosine_topk",
    "label_centroid_sim",
    "ann_lsh_neighbors",
    "token_stats",
    "quality_scores",
    "fingerprints",
    "winnowing_fingerprints",
    "tfidf_top_terms",
    "multimodal_features",
    "byte_histograms",
    "corpus_quality_filter",
    "train_eval_split",
    "shard_for_training",
    "stratified_sample",
    "source_capped_sample",
    "pack_sequences",
    "decontaminate_train",
    "unigram_freq_quality",
    "repetition_ratios",
    "pii_scan",
    "bigram_lm_scores",
    "vocab_coverage",
    "next_event_examples",
    "pgm_image_features",
    "ppm_image_features",
    "wav_audio_features",
    "video_frame_features",
    "retention_cohorts",
    "semdedup_embedding",
    "quality_weighted_sample",
    "bm25_scores",
    "chunk_documents",
    "mixture_weights",
    "dup_spans",
    "event_transition_matrix",
    "pq_topk",
    "scd2_user_state",
    "fuzzy_dedup_keep",
    "label_pca",
    "approx_percentiles",
    # round-4b: iterative graph / CDC / linkage / PIT families
    "pagerank_trade_graph",
    "cc_trade_graph",
    "sssp_trade_graph",
    "apply_changefeed",
    "fuzzy_join_parts",
    "scd2_point_in_time",
    "validate_lake",
    "dedup_incremental",
    "ols_value_by_hour",
    "match_click_bursts",
    "resolve_part_entities",
    # round-5: pointer-doubling CC + the composed graph profile +
    # incremental MinHash near-dup
    "cc_doubling_trade_graph",
    "graph_all_metrics",
    "neardup_incremental",
    "interpolate_hourly_values",
    "histogram_equidepth",
    "value_mad_outliers",
    "knn_classify",
    "twap_by_type",
    "rolling_user_features",
    "salted_skew_join",
    "cc_incremental_trade",
    "curate_corpus_pipeline",
    "balance_classes",
    "remove_dup_spans",
    "self_retrieval_ranks",
    "butterfly_pairs_trade",
    "supplier_communities",
    "simjoin_prefix",
    "cusum_alarms",
    "assoc_rules_parts",
    "triangle_count_suppliers",
    "kcore_suppliers",
    "supplier_graph_suite",
    "hits_trade_graph",
    # round-6: production (sketch) gears of the two single-reducer
    # quantile stages the r5 verdict flagged
    "histogram_equidepth_approx",
    "supplier_communities_approx",
    # round-6 new operator batch
    "clustering_coeff_suppliers",
    "collocations_pmi",
    "benford_first_digit",
    "pareto_frontier_orders",
    "ewma_halflife_values",
    "dedup_canonical",
    "containment_join",
    "seasonal_decompose_hourly",
    "phash_pgm_dedup",
    "assortativity_trade_graph",
    "remove_contained_docs",
    "ks_distance_pairs",
    "sql_cohort_ltv",
    "random_walks_suppliers",
    "decile_features_events",
    "anomaly_suite_events",
    "target_encode_loo",
    "interarrival_gap_histogram",
    # round-7: stored-index ANN probes (fit-once/probe-many) + the
    # new operator batch
    "ivf_probe_incremental",
    "pq_probe_incremental",
    "robust_scale_features",
    "autocorr_hourly_counts",
    "type_affinity_jaccard",
    "user_path_topk",
    "value_clusters_1d",
    "chi2_type_decile",
    "nearest_event_join",
    "lpa_communities_suppliers",
    "rake_keyphrases",
    "funnel_time_to_convert",
    "weekly_revenue_wow",
    "session_entry_exit",
    "multitouch_attribution",
    "link_prediction_suppliers",
    "fano_burstiness",
    "rfm_segments",
    "apdex_by_type",
    "ngram_novelty_scores",
    "holt_linear_forecast",
    "novelty_incremental",
    "degree_distribution_suppliers",
    "feature_hash_vectors",
    "seasonality_strength_hourly",
    "community_modularity_suppliers",
    "wasserstein_distance_pairs",
    "hhi_concentration_by_segment",
    "local_peaks_hourly",
    "value_migration_matrix",
    "stats_higher_moments",
    "user_activity_streaks",
    "simpson_diversity_by_user",
    "pareto_share_by_segment",
    "dup_family_size_histogram",
    "odds_ratio_type_pairs",
    "order_cadence_by_customer",
    "tv_distance_pairs",
    "markov_stationary_types",
    "zipf_slope_unigrams",
    "lorenz_curve_deciles",
    "session_duration_histogram",
    "dup_rate_by_source",
    "cross_source_overlap",
    # round-9 late batch
    "dau_mau_stickiness",
    "new_returning_weekly",
    "churn_retention_monthly",
    "kaplan_meier_interorder",
    "session_concurrency_hourly",
    "cramers_v_type_decile",
    "spearman_corr_by_flag",
    "atkinson_index_by_segment",
    "mann_whitney_auc_pairs",
    "weekly_mix_drift",
    "forecast_backtest_mase",
    "readability_scores",
    "textrank_keywords",
    "quantile_transform_values",
    "lift_curve_clicks_to_purchase",
    "roc_auc_clicks_to_purchase",
    "quantile_transform_incremental",
    "hourly_value_percentiles",
    "seasonal_hour_baseline_loo",
    "harmonic_closeness_suppliers",
    # round-10: the exact centrality member + the checked sketch gear
    # that was previously unbenched
    "harmonic_closeness_exact2_suppliers",
    "agg_approx_distinct",
    "kendall_tau_qty_discount",
    "mann_kendall_trend_daily",
    "leadlag_corr_types",
    "wow_audience_overlap",
    "conversion_ztest_by_click_tier",
    "theil_sen_slope_daily",
    "runs_test_daily",
    # round-11 batch:
    "changepoint_scan_daily",
    "weighted_median_price_by_segment",
    "wow_mix_rate_decomposition",
    "share_of_parent_rollup",
    "clamped_running_balance",
    "prorate_discount_cents",
    "markov_removal_attribution",
    "interval_overlap_join",
    "key_skew_report",
    "welch_ttest_pairs",
    "anova_oneway_types",
    # round-11 second batch:
    "hellinger_pairs",
    "jensen_shannon_pairs",
    "cohens_d_pairs",
    "grubbs_test_daily",
    "nelson_aalen_interorder",
    "logrank_test_segments",
    "ols_discount_qty_by_brand",
    "decision_stump_purchase",
    "rich_club_suppliers",
    "transition_entropy_types",
    "kruskal_wallis_types",
    "permutation_entropy_daily",
    "brown_forsythe_types",
    "goertzel_weekly_power",
    "cochran_armitage_trend",
    "variance_ratio_daily",
    "mcnemar_weekly_conversion",
    "mantel_haenszel_click_purchase",
    "friedman_types_weekly",
    "uncertainty_coeff_type_decile",
    "ktruss_suppliers",
    "holt_winters_weekly",
    # round-12 batch: the checked twins / oracle conversions not
    # already headline members under their gear names
    # (neardup_minhash_lsh and fuzzy_dedup_keep were; these gears
    # were previously unbenched rows-only):
    "neardup_simhash",
    "sample_fraction",
    "neardup_clusters",
    # round-14: the fifth r13 twin conversion gets its first bench
    # record alongside its first driver verdict (pq_topk, the fourth,
    # was already a headline member under its gear name). Appended at
    # the END so earlier positions in timings_cs stay comparable
    # across rounds:
    "bpe_encode_corpus",
]


#: Per-query map chunk size. The driver/judge capture a bounded stdout
#: TAIL; a single 116-entry map line overflows it and loses the front
#: half (BENCH_r05 retained only 66/116 per-query times). 40 entries is
#: ~1.1 KB/line — small enough that all chunks plus the total trailer
#: fit comfortably inside the tail, so cross-round per-query diffing
#: always has the complete map (round-5 verdict, "What's wrong" #4).
CHUNK = 40


def _emit(timings: dict[str, float], sf, cpu_probe=None) -> None:
    """Print the per-query map in fixed-size chunks, then the total.

    The driver captures a bounded TAIL of stdout, so the LAST line must
    be a small fixed-size record with no per-query map — always inside
    the tail, always parseable (driver-tail contract). The per-query map
    precedes it as ``queries_chunk`` records of at most ``CHUNK`` entries
    each (``chunk: [i, n]`` for reassembly); chunked lines are short
    enough that the tail retains every one of them, unlike the previous
    single full-map line which lost its front half past ~80 queries.
    """
    total = round(sum(timings.values()), 3)
    items = list(timings.items())
    chunks = [items[i : i + CHUNK] for i in range(0, len(items), CHUNK)]
    for i, chunk in enumerate(chunks):
        print(
            json.dumps(
                {
                    "metric": "headline_queries_chunk",
                    "chunk": [i + 1, len(chunks)],
                    "queries": dict(chunk),
                    "sf": sf,
                }
            )
        )
    # The driver's tail is a GLOBAL ~2000-char stdout suffix (BENCH_r09
    # retained ~70/200 named entries), so no named encoding of 200+
    # queries can ever fit — 200 names alone are ~4.4 KB. What DOES fit
    # is a positional record (round-10, r9 verdict #6): per-query
    # timings as CENTISECOND INTEGERS in emission order (the HEADLINE
    # list plus the two export entries, at the stamped commit — the
    # name key is `git show <commit>:bench.py`), ~4-5 bytes/entry, so
    # the FULL map survives the tail next to slowest20 and the total.
    # Also a compact fixed-size summary of the EXPENSIVE queries (the
    # set cross-round perf diffing actually needs), durable regardless
    # of registry growth (round-6 verdict, "What's wrong" #3).
    slowest = dict(
        sorted(
            ((k, round(v, 2)) for k, v in items),
            key=lambda kv: kv[1],
            reverse=True,
        )[:20]
    )
    print(
        json.dumps(
            {
                "metric": "slowest20",
                "queries": slowest,
                "sf": sf,
            }
        )
    )
    print(
        json.dumps(
            {
                "metric": "timings_cs",
                "order": "bench.py HEADLINE + export entries @ commit",
                "n": len(items),
                "t": [int(round(v * 100)) for _, v in items],
                "sf": sf,
            },
            separators=(",", ":"),
        )
    )
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_sec",
                "value": total,
                "unit": "sec",
                "n_queries": len(timings),
                "sf": sf,
                # Fixed-work machine-speed calibration (round-12, r11
                # verdict #1): divide per-entry by jvm_sec before
                # comparing across rounds — load-band days and real
                # plan regressions become machine-distinguishable.
                "cpu_probe": cpu_probe,
                # Null-round tripwire (round-8 verdict, "What's wrong"
                # #3): the commit the bench actually ran against, so a
                # round whose artifacts were produced off an unchanged
                # HEAD is machine-distinguishable from real progress.
                "commit": _head_commit(),
            }
        )
    )


def _cpu_probe(spark) -> dict[str, float]:
    """Fixed-work machine-speed probe, reported in the bench trailer.

    Round-12 (r11 verdict #1): the r11 per-entry reading moved 0.98 ->
    1.30 s and 'external load vs regression' could not be settled
    because no run carried its own speed calibration. Two deterministic
    workloads, identical every round, timed immediately before the
    query loop:

    - ``jvm_sec``: sum(xxhash64(id)) over range(2e8) — whole-stage
      codegen, all cores; measures the JVM/parallel throughput every
      query depends on.
    - ``py_sec``: a fixed single-thread CPython hash loop; measures
      scalar speed (driver-side and scheduling overheads).

    Cross-round per-entry comparisons should be read as
    (total / n) / jvm_sec ratios: same-machine same-speed rounds
    cancel, a hypervisor-slow day shows up as a proportionally slow
    probe, and a real plan regression shows up as per-entry moving
    while the probe holds. min-of-2 each, GC'd first — the probe must
    not inherit warmup garbage."""
    import hashlib

    spark._jvm.System.gc()
    jvm = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        spark.range(200_000_000).selectExpr(
            "sum(xxhash64(id)) AS s"
        ).collect()
        jvm = min(jvm, time.perf_counter() - t0)
    py = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        h = b"spark-graft-cpu-probe"
        for _ in range(60_000):
            h = hashlib.md5(h).digest()
        py = min(py, time.perf_counter() - t0)
    return {"jvm_sec": round(jvm, 3), "py_sec": round(py, 4)}


def _head_commit() -> str:
    """Short hash of the repo HEAD this bench ran against.

    ``dirty+`` prefix marks uncommitted changes in the worktree; any
    git failure degrades to ``"unknown"`` rather than breaking the
    driver-tail contract (the last line must always be parseable).
    """
    repo = os.path.dirname(os.path.abspath(__file__))
    try:
        head = subprocess.run(
            ["git", "-C", repo, "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        ).stdout.strip()
        dirty = subprocess.run(
            ["git", "-C", repo, "status", "--porcelain"],
            capture_output=True, text=True, timeout=10, check=True,
        ).stdout.strip()
        return ("dirty+" if dirty else "") + head
    except Exception:
        return "unknown"


def main() -> None:
    # optional argv filter: `python bench.py q1_pricing_summary ...`
    # times only the named headline entries (micro-bench loop);
    # no args = the full list + export/versioned-snapshot sections.
    only = [a for a in sys.argv[1:] if not a.startswith("-")]
    unknown = sorted(set(only) - set(HEADLINE))
    if unknown:
        sys.exit(
            "unknown query name(s): "
            + ", ".join(unknown)
            + "\nvalid names are the HEADLINE entries in bench.py"
        )
    headline = [n for n in HEADLINE if not only or n in only]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None
    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warmup outside the timed region: JVM/codegen JIT, parquet footer
    # reads (table registration), zstd codec init.
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    from parquet_export_spark.sources.lake import load_tables

    for df in load_tables(spark, sf_dir).values():
        df.limit(1).write.format("noop").mode("overwrite").save()
    # One untimed full execution of the first headline query. The first
    # real query in a fresh JVM pays process-global one-time costs the
    # simple warmups above don't reach — whole-stage-codegen compiler
    # init, shuffle/AQE machinery, noop-commit setup (measured ~+1.1 s
    # at sf0.1 over the same query's per-plan JIT alone; SCALE.md
    # "Bench harness"). min-of-3 strips it on an idle machine, but
    # under external load it can leak into every rep of whichever
    # query runs first — pay it here, attributed to warm-up.
    REGISTRY[headline[0]].fn(spark, sf_dir).write.format(
        "noop"
    ).mode("overwrite").save()
    cpu_probe = _cpu_probe(spark)

    timings: dict[str, float] = {}
    for name in headline:
        fn = REGISTRY[name].fn
        # GC between queries: with a 100+ GiB heap, a collection
        # triggered mid-query charges one query for its predecessors'
        # garbage (round 2 -> 3 showed a 4x swing on one query from
        # exactly this). Explicit gc() puts the pause between timings.
        # clearCache additionally evicts any cached/checkpointed blocks
        # a previous operator pinned (localCheckpoint lineage is block-
        # manager storage), so no query is charged for a predecessor's
        # storage-memory pressure.
        spark.catalog.clearCache()
        spark._jvm.System.gc()
        best = float("inf")
        for _ in range(3):  # min-of-3: strips JIT + GC + scheduling noise
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)

    # Export throughput: the reference's own function — normalize +
    # size-bounded zstd parquet + manifest over the largest tables.
    # (skipped when an argv filter selects specific queries)
    if only:
        _emit(timings, sf, cpu_probe)
        return
    import shutil
    import tempfile

    from parquet_export_spark.export.manifest import write_manifest
    from parquet_export_spark.export.writer import write_table
    from parquet_export_spark.tables import TableSpec

    from concurrent.futures import ThreadPoolExecutor

    best = float("inf")
    for _ in range(2):  # same min-of-N policy as the queries
        out_dir = tempfile.mkdtemp(prefix="bench_export_")
        try:
            spark._jvm.System.gc()
            t0 = time.perf_counter()
            # same concurrent-table submission as export_lake: one
            # table's driver-side metadata phase overlaps another's
            # executor-side write
            tbls = [
                ("lineitem", 200_000),
                ("orders", 100_000),
                ("events", 100_000),
            ]

            def one(item):
                name, rpf = item
                spec = TableSpec(name=name, datatypes={}, rows_per_file=rpf)
                return name, write_table(
                    load_tables(spark, sf_dir)[name], out_dir, spec
                )

            with ThreadPoolExecutor(max_workers=3) as pool:
                files = dict(pool.map(one, tbls))
            write_manifest(out_dir, files, spark)
            best = min(best, time.perf_counter() - t0)
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)
    timings["export_three_tables"] = round(best, 3)

    # Versioned-snapshot cycle: full v1 snapshot of events +
    # metadata-only v2 republish + pinned v1 read-back — the snapshot
    # layer's overhead on top of the raw writer (v2 costs one JSON).
    from parquet_export_spark.export.versioned import (
        export_snapshot,
        load_versioned_table,
    )

    best = float("inf")
    for _ in range(2):
        out_dir = tempfile.mkdtemp(prefix="bench_vsnap_")
        try:
            spark._jvm.System.gc()
            ev_spec = {"events": TableSpec(name="events", datatypes={}, rows_per_file=100_000)}
            src = lambda s, spec: load_tables(s, sf_dir)["events"]  # noqa: E731
            t0 = time.perf_counter()
            v1 = export_snapshot(spark, src, out_dir, tables=ev_spec)
            export_snapshot(
                spark, src, out_dir, tables=ev_spec, changed_tables=set()
            )
            load_versioned_table(spark, out_dir, "events", version=v1).write.format(
                "noop"
            ).mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)
    timings["versioned_snapshot_cycle"] = round(best, 3)

    # Partitioned-lake export (round-12, r11 verdict #5: extend BENCH
    # beyond the two export rows with the hive-partitioned posture —
    # the data-skipping layout the reference's flat prefixes lack):
    # events at sf0.1 partitioned by day + manifest + ONE pruned
    # read-back (a single day's partition through the noop sink — the
    # read cost a partition-pruning consumer actually pays).
    from pyspark.sql import functions as F

    best = float("inf")
    for _ in range(2):
        out_dir = tempfile.mkdtemp(prefix="bench_pexport_")
        try:
            spark._jvm.System.gc()
            ev = load_tables(spark, sf_dir)["events"].withColumn(
                "day", F.to_date("ts")
            )
            spec = TableSpec(
                name="events", datatypes={}, rows_per_file=100_000
            )
            t0 = time.perf_counter()
            files = write_table(
                ev, out_dir, spec, partition_by=["day"]
            )
            write_manifest(out_dir, {"events": files}, spark)
            one_day = ev.select(F.min("day")).first()[0]
            pruned = spark.read.parquet(out_dir + "/events").filter(
                F.col("day") == F.lit(one_day)
            )
            pruned.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
            # Pruned-read ASSERTION (round-13, r12 verdict #6: driver-
            # contract depth on the partitioned posture): the day
            # filter must reach the scan as a PARTITION filter, so the
            # scan enumerates only the one day=... directory. A layout
            # or filter regression that silently fell back to a full
            # scan would still "pass" on wall-clock alone; this makes
            # it loud. Shared helper since round 14 (r13 verdict #5 +
            # advice: find-not-index so a truncated/DSv2 plan string
            # takes the 'absent' error path below instead of a bare
            # ValueError) — the same check also runs suite-side in
            # tests/test_plans.py.
            from parquet_export_spark.plans.inspect import (
                partition_filters,
            )

            seg = partition_filters(pruned)
            if "day" not in seg:
                raise RuntimeError(
                    "partition pruning regressed: the day predicate is "
                    "not a PartitionFilter on the pruned read "
                    f"(scan segment: {seg or 'absent'})"
                )
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)
    timings["partitioned_export_events"] = round(best, 3)

    _emit(timings, sf, cpu_probe)


if __name__ == "__main__":
    main()
