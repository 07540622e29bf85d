#!/usr/bin/env python
"""Benchmark runner (driver contract): run the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is materialized with a noop write (no driver collect, no
sink I/O) so the number is the engine's execution time; a query's
time is the min of two runs, and ``value`` is their sum. One warm-up
query amortizes JVM/codegen startup out of the first measurement.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

# the headline set: every operator family, scale-meaningful plans only
# (dedup_embedding_cosine is all-pairs-exact by contract — its scale
# path is dedup_minhash_lsh / sim_topk_ivf, which ARE in the set)
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "q17_small_qty_revenue",
    "q18_large_volume_customers",
    "join_range_ship_delay",
    "join_asof_last_click_before_purchase",
    "join_salted_order_revenue",
    # production skew join (round-6): threshold-detected hot keys only;
    # its manual full-replication sibling above stays as the contrast
    "join_skew_aqe_order_revenue",
    # round-12: runtime-bloom-filter join (scan-side semi-join pushdown)
    "join_runtime_bloom_revenue",
    # round-12: SCD2 point-in-time feature-backfill lookup
    "join_scd2_point_in_time",
    "subquery_scalar_small_qty",
    "agg_grouping_sets",
    "agg_rollup_flags",
    "window_top3_orders_per_customer",
    "events_sessionization",
    "events_ohlc_15min",
    "events_funnel_click_purchase",
    "pivot_event_counts",
    "cdc_orders_snapshot_diff",
    "sample_hash_orders",
    "dedup_exact",
    "dedup_incremental_new_docs",
    "dedup_incremental_minhash",
    "dedup_ngram_jaccard",
    "dedup_ngram_jaccard_dfcap",
    "dedup_minhash_lsh",
    # round-12: md5-mirrored estimator-error audit for the banding budget
    "dedup_minhash_accuracy",
    "dedup_embedding_rp_lsh",
    "dedup_embedding_rp_lsh_wide",
    "dedup_repeated_spans",
    "dedup_semantic_centroid",
    # round-11: the data-derived-k (k ~ sqrt(n)) SemDeDup scale path
    "dedup_semantic_centroid_scaled",
    "quality_gopher_rules",
    "dedup_cluster_components",
    "pipeline_corpus_prep",
    "sim_topk_bruteforce",
    "sim_topk_batch",
    "sim_topk_ivf",
    "sim_topk_ivf_kmeans_sampled",
    "sim_topk_int8_quantized",
    "sim_topk_int8_rerank",
    "text_quality_score",
    "multimodal_decode_features",
    "multimodal_png_decode_stats",
    # round-2 additions: warehouse + analytics + text/sketch families
    "merge_upsert_orders",
    "window_gaps_islands",
    "events_retention_cohorts",
    "text_tfidf_top_terms",
    "agg_hll_sketch_users",
    "quality_decontamination",
    "basket_part_pairs",
    "sim_knn_label_vote",
    "graph_triangle_count",
    # round-2 continued: time-series, packing, graph, quality families
    "timeseries_gap_fill",
    "join_range_binned",
    "pipeline_pack_sequences",
    "graph_pagerank_fixed",
    "graph_label_propagation",
    "quality_expectations",
    "dedup_substring_span",
    # round-3 additions: stats/sketch/LM/graph/warehouse families
    "stats_ab_test_ztest",
    "agg_bitmap_distinct",
    "agg_partial_state_merge",
    "sketch_countmin_heavy_hitters",
    "sketch_bloom_membership",
    "text_bigram_lm_score",
    "quality_kl_divergence_sources",
    "graph_bfs_levels",
    "window_rolling_corr",
    "dedup_containment",
    "cogroup_asof_merge",
    "timeseries_ewma",
    # round-12: robust order-statistic rolling band (exact element picks)
    "timeseries_rolling_median",
    "timeseries_anomaly_zscore",
    "stats_bootstrap_se",
    # agg_weighted_median (exact, in-group sort, sf1 slope 0.98) left
    # registered + oracled but off the headline bench — the binned
    # bracket below (slope 0.01) is the spelling you'd ship at 100 TB
    # (round-5 verdict #3); test_properties pins the bracket contains
    # the exact value.
    "pipeline_training_mix",
    "text_redact_denylist",
    "sim_topk_pq",
    # round-12: composed IVF+PQ serving path (probe prune x byte codes)
    "sim_topk_ivfpq",
    "text_shingle_novelty",
    "layout_pruning_stats",
    "udf_arrow_batch_map",
    "pipeline_vocab_coverage",
    "events_attribution_last_touch",
    "events_markov_transitions",
    "sample_balanced_classes",
    "stats_ks_test",
    "text_repetition_score",
    "multimodal_pair_align",
    "warehouse_incremental_mv",
    "events_conversion_within_hour",
    "stats_gini_revenue",
    "events_active_users_rollup",
    "quality_fk_orphan_audit",
    "text_zipf_fit",
    "events_heatmap_hour_dow",
    "timeseries_seasonal_residuals",
    "events_bounce_rate",
    "agg_skew_kurtosis_moments",
    "dedup_exact_normalized",
    "multimodal_dataset_manifest",
    "events_cohort_ltv_curve",
    "sim_knn_confusion",
    "events_user_activity_histogram",
    "sample_time_split",
    "events_session_duration_stats",
    "text_charset_stats",
    "stats_pareto_revenue_share",
    "quality_iqr_outliers",
    "orders_interpurchase_histogram",
    "quality_benford_first_digit",
    "quality_eventmix_drift",
    "text_collocation_pmi",
    "stats_hhi_market_concentration",
    "orders_yoy_revenue",
    # round-4 additions: binned (window-free) scale paths
    "agg_equidepth_histogram_binned",
    "stats_gini_revenue_binned",
    "stats_pareto_revenue_share_binned",
    "events_rfm_segments_binned",
    "agg_weighted_median_binned",
    "stats_ks_test_binned",
    # round-4 additions: salted exact top-k sample, streaks, LM filter
    "sample_reservoir_group",
    "events_streak_histogram",
    "quality_perplexity_filter",
    "events_sliding_active_users",
    "quality_dup_rate_by_source",
    "quality_iqr_outliers_approx",
    "stats_linear_regression",
    "events_anomaly_mad",
    "sql_api_pivot_order_status",
    "sql_api_lateral_topk",
    "basket_lift_rules",
    "graph_degree_distribution",
    "events_dau_wau_stickiness",
    # sql_api_recursive_bfs stays OUT of the headline set: it is the
    # declared parser-surface demo whose scale path is graph_bfs_levels
    # (walk-frontier recursion re-materializes per level — 6.9 s at
    # sf0.1 vs 1.9 s for the iterative visited-set BFS)
    "orders_open_backlog_daily",
    "timeseries_downsample_triangle",
    "sim_range_search",
    "events_time_to_convert_stats",
    "events_growth_accounting",
    "events_churn_daily",
    "quality_split_leakage_audit",
    "quality_token_budget_report",
    "supplier_leadtime_scorecard",
    # round-5 additions
    "events_user_feature_matrix",
    "agg_approx_distinct_users",
    "sample_kfold_assignment",
    "pipeline_curriculum_order",
    "quality_embedding_audit",
    "timeseries_lagged_crosscorr",
    "join_asof_nearest_event",
    "pipeline_temperature_mix",
    "text_feature_hashing",
    "timeseries_cusum_changepoint",
    # round-9 additions: observe() piggyback audit, collated grouping,
    # parameterized SQL (all single-scan group-bounded plans)
    "quality_observe_metrics",
    "scalar_collated_grouping",
    "sql_api_parameterized_revenue",
]


def _multifile_dir(spark, src_dir: str) -> tuple[str, str]:
    """Resolve the benchmark input to a multi-file layout.

    The driver fixtures are one file + one row group per table, which
    pins every scan to a single split — the bench then never exercises
    split planning or parallel-scan shuffle fan-in (SCALE.md's honesty
    caveat, round-4 verdict #4). Re-materialize the SAME rows as >=32
    part files per fact table (cached under .fixtures/, built once)
    and measure on that: the layout a real cluster reads. Set
    SPARK_GRAFT_SINGLE_FILE=1 to benchmark the raw driver layout.
    Falls back to the source dir if materialization fails.
    """
    if os.environ.get("SPARK_GRAFT_SINGLE_FILE"):
        return src_dir, "single-file"
    base = os.path.basename(src_dir.rstrip("/"))
    dst = os.path.join(REPO_ROOT, ".fixtures", "multifile", base)
    # Guard: benching a dir that IS a materialized fixture (e.g. the
    # sf1/sf10 scaleups under .fixtures/multifile) must not try to
    # re-materialize into itself — the stale-marker path would rmtree
    # the SOURCE before reading it (learned the hard way at r10).
    if os.path.realpath(dst) == os.path.realpath(src_dir):
        # label from the directory's ACTUAL fan-out, not a hardcoded
        # "32" — the fixture may have been built with another files=N
        n_parts = 0
        for t in ("orders.parquet", "lineitem.parquet", "events.parquet"):
            tdir = os.path.join(src_dir, t)
            if os.path.isdir(tdir):
                n_parts = max(
                    n_parts,
                    sum(1 for f in os.listdir(tdir) if f.endswith(".parquet")),
                )
        label = f"multifile-{n_parts}" if n_parts else "multifile-preexisting"
        return src_dir, label
    marker = os.path.join(dst, "_COMPLETE")
    # The marker records a fingerprint of the SOURCE layout (per-file
    # size+mtime) and the files parameter; a cached fixture built from
    # different source rows or a different fan-out is rebuilt instead
    # of silently measured (round-5 ADVICE).
    from tools.make_fixtures import LAYOUT_VERSION

    files = 32
    fp_parts = [f"files={files}", f"layout={LAYOUT_VERSION}"]
    for name in sorted(os.listdir(src_dir)):
        p = os.path.join(src_dir, name)
        if os.path.isfile(p):
            st = os.stat(p)
            fp_parts.append(f"{name}:{st.st_size}:{int(st.st_mtime)}")
    fingerprint = "\n".join(fp_parts) + "\n"
    stale = True
    if os.path.exists(marker):
        with open(marker) as fh:
            stale = fh.read() != fingerprint
    if stale:
        try:
            import shutil

            from tools.make_fixtures import multifile

            shutil.rmtree(dst, ignore_errors=True)
            multifile(spark, src_dir, dst, files=files)
            with open(marker, "w") as fh:
                fh.write(fingerprint)
        except Exception as exc:  # noqa: BLE001 - bench must still run
            print(f"multifile materialization failed ({exc}); "
                  f"benching single-file layout", file=sys.stderr)
            return src_dir, "single-file"
    return dst, "multifile-32"


def _testdata_fingerprint(src_dir: str) -> dict[str, str]:
    """Per-table row count + content hash of the SOURCE fixtures
    (round-9 verdict #6): when a cross-round per-query delta appears,
    "driver regenerated the data" vs "host band" becomes mechanically
    decidable by diffing this field between the two records. Row counts
    come from the parquet footer (no data read); the hash is md5 of the
    file bytes (fixtures are ~17 MB at sf0.1 — negligible)."""
    import hashlib

    import pyarrow.parquet as pq

    out: dict[str, str] = {}
    for name in sorted(os.listdir(src_dir)):
        if not name.endswith(".parquet"):
            continue
        path = os.path.join(src_dir, name)
        # scaleup fixtures store each table as a DIRECTORY of part
        # files — hash the sorted parts (an sf1/sf10 bench died here
        # at r10 after running every query; never again)
        parts = (
            sorted(
                os.path.join(path, p)
                for p in os.listdir(path)
                if p.endswith(".parquet")
            )
            if os.path.isdir(path)
            else [path]
        )
        md5 = hashlib.md5()
        rows = 0
        for part in parts:
            with open(part, "rb") as fh:
                for chunk in iter(lambda: fh.read(1 << 20), b""):
                    md5.update(chunk)
            rows += pq.ParquetFile(part).metadata.num_rows
        out[name[: -len(".parquet")]] = f"{rows}:{md5.hexdigest()[:12]}"
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from pwir_zadanie_4_mapreduce_spark.session import DEFAULT_CPUS, build_session, release_storage

    spark = build_session(
        app_name="bench",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    src_sf_dir = sf_dir
    sf_dir, layout = _multifile_dir(spark, sf_dir)
    import __spark_entry__ as entrymod

    queries = entrymod.queries()

    def materialize(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # warm-up: JVM, codegen, parquet footer caches
    materialize(queries["q1_pricing_summary"](spark, sf_dir))

    # Min of two timed runs per query, storage released before each:
    # first-touch effects (codegen, parquet footers, page cache, JIT)
    # can double a single run; the min is the steady-state plan cost.
    timings: dict[str, float] = {}
    for name in HEADLINE:
        runs: list[float] = []
        for _ in range(2):
            release_storage(spark)
            t0 = time.monotonic()
            materialize(queries[name](spark, sf_dir))
            runs.append(time.monotonic() - t0)
        timings[name] = round(min(runs), 3)

    sf = os.path.basename(sf_dir.rstrip("/")).rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    alt_master = os.environ.get("SPARK_GRAFT_MASTER")
    line = json.dumps(
        {
            "metric": "headline_queries_total",
            "value": round(sum(timings.values()), 3),
            "unit": "sec",
            "queries": timings,
            "sf": sf_val,
            "runs_per_query": 2,
            "aggregation": "min",
            "layout": layout,
            "testdata_fingerprint": _testdata_fingerprint(src_sf_dir),
            "master": alt_master or f"local[{DEFAULT_CPUS}]",
        }
    )
    print(line)
    # The file is the durable record (the driver's stdout capture has
    # truncated this long line before). Only sf0.1 on the default
    # master writes bench_out.json: a smoke run at another sf or a
    # local-cluster run gets a suffixed file, so it cannot overwrite
    # the round-over-round record.
    if alt_master:
        tag = "".join(c if c.isalnum() else "-" for c in alt_master).strip("-")
        out_name = f"bench_out.{tag}.json"
    elif sf_val == 0.1:
        out_name = "bench_out.json"
    else:
        out_name = f"bench_out.sf{sf}.json"
    if out_name != "bench_out.json":
        why = f"master={alt_master}" if alt_master else f"sf={sf_val} != canonical 0.1"
        print(f"note: {why}; writing {out_name} (bench_out.json untouched)", file=sys.stderr)
    with open(os.path.join(REPO_ROOT, out_name), "w") as fh:
        fh.write(line + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
