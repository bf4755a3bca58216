"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on local[N].

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": <scale factor>}

Each query executes fully via the `noop` sink (all computation, no write
cost), which is how you benchmark a plan rather than an output format.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark import (  # noqa: E402
    get_spark,
)
from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.queries import (  # noqa: E402
    SPARK_QUERIES,
)

# The headline set: the flagship star fact plus the operator families that
# dominate cost at scale (aggregation, window dedup, joins), plus the
# training-data extension operators (dedup / similarity / text / streaming).
HEADLINE = [
    "gold_fact_lineitem",
    "gold_dim_customers",
    "gold_dim_date",
    "order_totals",
    "window_dedup",
    "predicates",
    "date_expr_join",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_components",
    "text_analysis",
    "ann_topk",
    "ann_topk_np",
    "streaming_window_agg",
    "streaming_running_totals",
    "streaming_stream_join",
    "sessionize_batch",
    "gap_fill_ffill",
    "asof_join",
    "range_join",
    "rollup_sales",
    "window_frames",
    "merge_upsert",
    "scd2_customers",
    "top_ngrams",
    "tf_idf",
    "decontaminate",
    "source_rebalance",
    "repetition_quality",
    "embedding_quantize",
    "corpus_rarity",
    "pack_shards",
    "dedup_survivors",
    "inverted_index",
    "doc_chunking",
    "winsorize",
    "bucketed_join",
    "fuzzy_join",
    "udaf_sumsq",
    "right_join",
    "set_ops_all",
    "text_ingest",
    "quality_rank",
    "semantic_decontaminate",
    "bigram_lm_counts",
    "incremental_dedup",
    "geo_cell_join",
    "window_dedup_agg",
    "jsonl_ingest_roundtrip",
    "orc_roundtrip",
    "optimize_compact",
    "exact_quantiles",
    "time_range_window",
    "variant_extract",
    "udtf_split",
    "recursive_chain",
    "lateral_topk",
    "multimodal_phash",
    "bpe_pairs",
    "cdc_apply",
    "streaming_incremental_mv",
    "segment_dedup",
    "semantic_prune",
    "mix_temperature",
    "grouped_median",
    # round-3 additions: iterative-graph + product-analytics families
    "list_ranking",
    "pagerank_trade",
    "dedup_sorted_neighborhood",
    "funnel_conversion",
    "cohort_retention",
    "copurchase_lift",
    "triangle_count",
    "bfs_reach",
    "ols_trend",
    # "profile_table" (exact COUNT DISTINCT via the Expand rewrite) is
    # deliberately NOT a headline: it was the slowest headline (3.6 s at
    # sf0.1) purely from the exact-distinct proof it exists to give. It
    # stays in the catalog with its oracle; the HLL production twin below
    # is the benchmarked path (round-5 verdict ask #7).
    "profile_table_approx",
    "attribution_last_touch",
    "skew_profile",
    "robust_zscore",
    "robust_zscore_approx",
    "event_transitions",
    "oov_rate",
    "source_overlap",
    "pagerank_weighted",
    "global_median_select",
    "weighted_median",
    "weighted_median_approx",
    "gini_concentration",
    "mode_per_group",
    "ratio_to_report",
    "longest_streak",
    "running_totals_window",
    # round-4 CRM/product-analytics + ML-prep shapes
    "rfm_segments",
    "zipf_head_share",
    "token_diversity",
    "feature_hashing",
    "class_rebalance",
    "chi_square",
    "dau_wau",
    "target_encoding",
    "correlation_matrix",
    "ewma_smooth",
    "benford_deviation",
    "new_vs_returning",
    "interval_merge",
    "ab_test_zscore",
    "degree_assortativity",
    "shortest_path_weighted",
    "mutual_information",
    "token_entropy",
    "cusum_changepoint",
    "seasonality_dow",
    "token_drift",
    "lm_perplexity",
    "kl_divergence_sources",
    "k_anonymity_audit",
    "rank_fusion_rrf",
    "attribution_linear",
    "autocorrelation",
    "iqr_outliers",
    # TPC-H-analog analytic pack (classic star-schema plan shapes)
    "tpch_q1",
    "tpch_q3",
    "tpch_q4",
    "tpch_q9",
    "tpch_q13",
    "tpch_q21",
    "tpch_q5",
    "tpch_q6",
    "tpch_q7",
    "tpch_q8",
    "tpch_q10",
    "tpch_q14",
    "tpch_q15",
    "tpch_q17",
    "tpch_q18",
    "tpch_q19",
    "tpch_q22",
    "tpch_q2",
    "tpch_q11",
    "tpch_q12",
    "tpch_q16",
    "tpch_q20",
    # round-5 additions (appended AFTER the TPC-H block so the TPC-H
    # session position stays comparable across rounds — r04 showed late
    # placement alone drifts short queries ~1.3x)
    "corpus_silver_docs",
    "corpus_gold_survivors",
    "corpus_gold_mix",
    "corpus_expectations",
    "lm_perplexity_pruned",
    "user_paths",
    "event_entropy",
    "decile_lift",
    "pareto_customers",
    "time_weighted_avg",
    "corpus_streaming_ingest",
    "corpus_survivors_agg",
    "leakage_safe_split",
    # round-6 additions (same after-TPC-H placement rule)
    "sessionize_batch_split",
    "bpe_merges",
    "bm25_rank",
    "budget_select",
    "pq_topk",
    # round-7 additions
    "pq_topk_trained",
    "bpe_encode",
    "pii_scan",
    "containment_dedup",
    "ivfpq_topk",
    "label_propagation",
    "collocation_pmi",
    "hard_negatives",
    "embedding_outliers",
    "community_modularity",
    "ohlc_bars",
    # round-8 additions
    "ivf_nprobe_topk",
    "ivfpq_nprobe_topk",
    "ann_recall_eval",
    "mmr_select",
    "substring_dedup",
    "substring_trim",
    # round-9 additions
    "ivfpq_residual_topk",
    "substring_dedup_hashed",
    "audio_decode",
    "audio_window_energy",
    "video_decode",
    "video_frame_sample",
    "media_decode",
    # round-9 second batch
    "kcore_decompose",
    "preference_pairs",
    "bloom_prune_join",
    "keyword_textrank",
    "embedding_pca_power",
    "video_scene_cuts",
    # round-10 additions
    "jaccard_prefix_join",
    "cms_topk",
]

# Queries re-run for steady-state timing after the warmup pass. A fresh JVM
# spends the first executions on classloading + whole-stage-codegen compiles;
# one untimed pass amortizes that, so the numbers reflect plan cost (what a
# long-running cluster sees), not interpreter warmup.
WARMUP = True


def time_noop_raw(spark, fn, sf_dir: str, runs: int = 2) -> list[float]:
    """Warm once, then N timed noop-sink executions; returns the raw pass
    times (seconds, in run order) so callers can keep the min AND audit
    pass-to-pass spread."""
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    raw = []
    for _ in range(runs):
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        raw.append(time.perf_counter() - t0)
    return raw


def time_noop(spark, fn, sf_dir: str, runs: int = 2) -> float:
    """Warm once, then min-of-N timed noop-sink executions — the shared
    measurement primitive for bench.py and the scaling/skew probes."""
    return min(time_noop_raw(spark, fn, sf_dir, runs=runs))


# Fixed warm-up prologue (round-6 verdict ask #2): the r6 gate bench ran
# uniformly ~12.6% hotter than a same-code run an hour earlier — session
# state (JIT compile queue depth, heap sizing, OS page cache for the
# parquet inputs), not any plan, moved. Running a fixed, DIVERSE set of
# queries untimed before the first measurement drives the JVM to the
# steady state every timed query then sees, independent of what ran in the
# session before bench started. The set spans the cost families (star
# join, window, hash agg, text explode, ANN arithmetic, streaming) so the
# compiler/ allocator paths the headline exercises are all hot.
PROLOGUE = [
    "gold_fact_lineitem",
    "window_dedup",
    "order_totals",
    "text_analysis",
    "ann_topk",
    "dedup_minhash_lsh",
    "streaming_window_agg",
    "tpch_q1",
    "tpch_q9",
]


def release_cached_state(spark) -> None:
    """Drop dead cached state between queries: each catalog query re-builds
    its own persisted DataFrames / localCheckpoint RDDs per invocation, so
    blocks from completed runs are unreachable — but they stay in the block
    manager and the accumulated pressure (GC churn) degrades later queries
    in a 70+ query sweep. Safe between queries because nothing is shared
    across catalog entries except on-disk artifacts."""
    spark.catalog.clearCache()
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for jrdd in list(jmap.values()):
        jrdd.unpersist(False)
    # NOTE: a System.gc() here was measured COUNTERPRODUCTIVE (round 5):
    # the full GC unloads cold generated classes, evicting JIT-compiled
    # code, and later queries repay compilation — TPC-H block 14.9s with
    # the gc vs 13.5s without at the same session position. The actual
    # late-session mitigation is the enlarged code cache in session.py.


def cpu_calibration() -> dict[str, float]:
    """Fixed CPU microbenchmark recorded beside every gate bench so
    cross-BOOT totals can be normalized (round-7 verdict ask #3: recorded
    gate benches spanned 107→151 s across host reboots with uniform
    per-query ratios — shared-VM steal, not code). Two probes, min-of-3
    each: a BLAS matmul (the vectorized-throughput axis numpy/Arrow
    kernels ride) and a pure-Python arithmetic loop (the interpreter/
    steal axis driver-side code rides). Same machine+boot ⇒ stable to a
    few %; a uniformly slower boot moves BOTH probes by the same factor
    as the query totals."""
    import numpy as np

    a = np.full((1024, 1024), 1.000001, dtype=np.float64)
    b = np.full((1024, 1024), 0.999999, dtype=np.float64)
    for _ in range(2):
        a @ b  # untimed warm-up (thread-pool spin-up, page faults)
    blas = []
    for _ in range(5):
        t0 = time.perf_counter()
        for _ in range(12):
            a @ b
        blas.append(time.perf_counter() - t0)
    py = []
    for _ in range(5):
        t0 = time.perf_counter()
        acc = 0
        for i in range(4_000_000):
            acc += i * i % 7
        py.append(time.perf_counter() - t0)
    return {
        "calibration_blas_sec": round(min(blas), 4),
        "calibration_python_sec": round(min(py), 4),
    }


# Fixed cross-boot normalization ANCHOR (round-10 verdict ask #5): the
# quietest boot ever recorded for this repo — the round-8 gate boot,
# whose pre-run probes (BENCH_r08.json / BASELINE.md) were BLAS 0.0981 s
# and pure-Python 0.2504 s, the BLAS floor no later boot has matched.
# PERMANENT by contract: later rounds must NOT re-point these constants
# at a newer artifact — every round's `value_normalized_vs_anchor` then
# shares one denominator, so normalized totals compare directly across
# any number of rounds instead of compounding per-round probe noise
# through chained ratios.
CALIBRATION_ANCHOR_BLAS_SEC = 0.0981
CALIBRATION_ANCHOR_PYTHON_SEC = 0.2504


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_num = float(sf)
    except ValueError:
        sf_num = None
    # calibrate BEFORE the JVM exists (raw host CPU, no Spark interference)
    calibration = cpu_calibration()
    spark = get_spark("bench")

    names = [n for n in HEADLINE if n in SPARK_QUERIES]
    warmup = WARMUP and os.environ.get("SPARK_GRAFT_BENCH_WARMUP", "1") != "0"

    # Fixed warm-up prologue before ANY timing (see PROLOGUE above). Its
    # wall time is reported in the summary but never counted in `value`.
    prologue_sec = 0.0
    if warmup:
        t0 = time.perf_counter()
        for name in PROLOGUE:
            fn = SPARK_QUERIES.get(name)
            if fn is None:
                continue
            try:
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            except Exception:
                pass  # prologue is best-effort; the timed loop reports errors
            release_cached_state(spark)
        prologue_sec = round(time.perf_counter() - t0, 3)

    # Per query: one untimed warmup run immediately followed by two timed
    # runs, keeping the minimum. Warm-then-time back-to-back (rather than a
    # separate full warmup pass) keeps the query's generated classes hot —
    # the JVM codegen cache holds ~100 entries, so 20+ intervening plans
    # evict them and a later timed pass re-pays cold janino+JIT cost (5-8x).
    # The min of two absorbs one-off noise (GC pause, OS scheduling). The
    # result is the steady-state plan cost a long-running cluster sees.
    timings: dict[str, float] = {}
    raw_passes: dict[str, list[float]] = {}
    errors: dict[str, str] = {}
    for name in names:
        fn = SPARK_QUERIES[name]
        # Sub-second queries are the most position-sensitive (one GC pause
        # is a large relative error), and a third run costs little there —
        # min-of-3 for the TPC-H block, min-of-2 elsewhere.
        runs = 3 if name.startswith("tpch_") else 2
        try:
            if warmup:
                raw = time_noop_raw(spark, fn, sf_dir, runs=runs)
                raw_passes[name] = [round(x, 3) for x in raw]
                timings[name] = round(min(raw), 3)
            else:
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                timings[name] = round(time.perf_counter() - t0, 3)
        except Exception as exc:  # one broken query must not void the bench
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]
            print(f"bench: {name} failed: {errors[name]}", file=sys.stderr)
        release_cached_state(spark)

    total = round(sum(timings.values()), 3)
    payload = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_num,
    }
    if errors:
        payload["errors"] = errors
    print(json.dumps(payload))
    # The full per-query dict above can exceed a log tail window (round 3
    # lost `total_runtime` to truncation), so ALSO emit a compact one-line
    # summary as the LAST line of stdout and persist it to
    # bench_summary.json next to this script — both machine-readable even
    # when only the tail survives.
    # post-run calibration pair: steal that appeared MID-run shows as a
    # pre/post divergence even when the pre-run probe looked clean
    calibration_post = cpu_calibration()
    summary = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "n_queries": len(timings),
        "n_errors": len(errors),
        "prologue_sec": prologue_sec,
        "sf": sf_num,
        **calibration,
        "calibration_post_blas_sec": calibration_post["calibration_blas_sec"],
        "calibration_post_python_sec": calibration_post["calibration_python_sec"],
        # Cross-boot normalization: divide the total by this boot's
        # BLAS-probe ratio vs the FIXED anchor. vs_r8 is the legacy field
        # name (it has always pointed at the same r8 probe value the
        # anchor now names); vs_anchor is the r10-verdict-requested
        # explicit form. Both use one permanent denominator — nothing is
        # chained round-over-round, so probe noise never compounds.
        "calibration_anchor_blas_sec": CALIBRATION_ANCHOR_BLAS_SEC,
        "calibration_anchor_python_sec": CALIBRATION_ANCHOR_PYTHON_SEC,
        "value_normalized_vs_anchor": round(
            total
            / (calibration["calibration_blas_sec"] / CALIBRATION_ANCHOR_BLAS_SEC),
            3,
        ),
        "value_normalized_vs_r8": round(
            total
            / (calibration["calibration_blas_sec"] / CALIBRATION_ANCHOR_BLAS_SEC),
            3,
        ),
        # Round-11 (r10 verdict ask #2): the per-query map rides the FINAL
        # one-line summary too. The first payload line (the driver contract)
        # already carries it, but a bounded log-tail capture can truncate
        # that line away — putting the same map on the last line restores
        # per-query visibility to anything that parses only the tail.
        "per_query": timings,
    }
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_summary.json"),
            "w",
        ) as fh:
            json.dump(
                {
                    **summary,
                    "queries": timings,
                    # all raw pass times per query (run order): min is the
                    # headline, the spread is the drift audit trail
                    "raw_passes": raw_passes,
                    **({"errors": errors} if errors else {}),
                },
                fh,
            )
    except OSError as exc:  # a read-only checkout must not void the bench
        print(f"bench: could not write bench_summary.json: {exc}", file=sys.stderr)
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
