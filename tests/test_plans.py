"""Physical-plan regression guards: pushdown, pruning, codegen, join choice.

These lock in the scale properties the engine is designed around — a change
that silently drops predicate pushdown or broadcasts a fact-sized table
should fail here, not in production at 1000× the data.
"""

import re

from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.queries import (
    SPARK_QUERIES,
)

from conftest import SF_SMALL


from conftest import formatted_plan as _formatted_plan  # noqa: E402


def test_filter_pushdown_reaches_parquet_scan(spark):
    plan = _formatted_plan(SPARK_QUERIES["dedup_jaccard"](spark, SF_SMALL))
    assert re.search(r"PushedFilters:.*LessThan\(doc_id,300\)", plan)


def test_column_pruning_reads_only_needed_columns(spark):
    plan = _formatted_plan(SPARK_QUERIES["typed_projection"](spark, SF_SMALL))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    read_cols = {c.split(":")[0] for c in m.group(1).split(",")}
    # lineitem has 16 columns; the projection needs only these
    assert read_cols == {
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_shipdate",
    }


def test_fact_joins_are_hash_based_never_nested_loop(spark):
    plan = _formatted_plan(SPARK_QUERIES["gold_fact_lineitem"](spark, SF_SMALL))
    # all star joins resolve to broadcast/shuffle HASH joins; a nested-loop
    # or cartesian anywhere in the fact build would be quadratic at scale
    # (at sf0.001 everything broadcasts; sf0.1+ shows SortMergeJoin spines —
    # verified in the bench plans)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_hot_path_is_whole_stage_codegen(spark):
    # build first (the catalog entry's tune_session turns AQE on), then plan with AQE
    # off — AQE defers codegen to per-stage runtime and would hide it here
    df = SPARK_QUERIES["predicates"](spark, SF_SMALL)
    jvm = df.sparkSession._jvm
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        code = jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "codegen")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    m = re.search(r"Found (\d+) WholeStageCodegen subtrees", code)
    assert m and int(m.group(1)) >= 1, code[:300]
    plan = _formatted_plan(df)
    # no Python evaluation anywhere in a built-ins-only query
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_topk_uses_partial_topk_not_global_sort(spark):
    plan = _formatted_plan(SPARK_QUERIES["topk_orders"](spark, SF_SMALL))
    assert "TakeOrderedAndProject" in plan


def test_partition_pruning_on_partitioned_write(spark, tmp_path):
    """A write partitioned on a derived key must prune to matching
    directories at read time — the #1 scan-elimination lever at 100 TB."""
    from pyspark.sql import functions as F

    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.sources.loader import (
        load_table,
    )

    orders = load_table(spark, SF_SMALL, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    path = str(tmp_path / "orders_by_year")
    orders.write.mode("overwrite").partitionBy("order_year").parquet(path)

    pruned = spark.read.parquet(path).filter(F.col("order_year") == 1995)
    plan = _formatted_plan(pruned)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "order_year" in m.group(1), plan
    # partition filter must NOT degrade to a post-scan row filter
    assert pruned.count() == orders.filter(F.col("order_year") == 1995).count()


def test_dynamic_partition_pruning_through_join(spark, tmp_path):
    """Joining a partitioned fact to a filtered dim must inject a runtime
    partition filter (DPP) into the fact scan — without it, every partition
    of a 100 TB fact is read to serve a one-month query."""
    from pyspark.sql import functions as F

    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.sources.loader import (
        load_table,
    )

    orders = load_table(spark, SF_SMALL, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    path = str(tmp_path / "orders_part")
    orders.write.mode("overwrite").partitionBy("order_year").parquet(path)
    fact = spark.read.parquet(path)

    dim = (
        load_table(spark, SF_SMALL, "orders")
        .select(F.year("o_orderdate").alias("order_year"))
        .distinct()
        .filter(F.col("order_year").isin(1995, 1996))
    )
    joined = fact.join(dim, "order_year")
    plan = _formatted_plan(joined)
    assert "dynamicpruning" in plan.lower() or "dynamicpruningexpression" in plan.lower(), plan


def test_group_topk_uses_window_group_limit(spark):
    """The rank<=k filter over a partitioned window must be rewritten into
    WindowGroupLimit (Spark >=3.5): each shuffle partition keeps at most k
    rows per group BEFORE the window sort runs, so per-group state stays
    O(k) no matter how many rows a group has — without it, grouped top-k
    materializes every group in full."""
    plan = _formatted_plan(SPARK_QUERIES["group_topk"](spark, SF_SMALL))
    assert "WindowGroupLimit" in plan, plan[:500]


def test_runtime_bloom_filter_injected_into_selective_join(spark):
    """A shuffle join against a selectively-filtered build side must inject
    a runtime bloom filter into the probe-side scan (Spark's runtime row
    filtering): probe rows that can't match are dropped BEFORE the shuffle,
    which at 100 TB is the difference between shuffling the whole fact and
    shuffling the matching slice. Thresholds are lowered so the sf0.001
    build side qualifies; the rewrite itself is what's pinned here."""
    from pyspark.sql import functions as F

    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.sources.loader import (
        load_table,
    )

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force a shuffle join
    }
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, SF_SMALL, "lineitem")
        urgent = load_table(spark, SF_SMALL, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(urgent, li.l_orderkey == urgent.o_orderkey).select(
            "l_orderkey", "l_extendedprice", "o_orderpriority"
        )
        opt = j._jdf.queryExecution().optimizedPlan().toString()
        # build side aggregates a bloom filter; probe side filters with it
        assert "bloom_filter_agg" in opt, opt[:800]
        assert "might_contain" in opt, opt[:800]
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_decontaminate_broadcasts_benchmark_grams(spark):
    """The benchmark gram set must ship as a broadcast (probe join) — a
    shuffled join here would move the full training corpus's grams."""
    plan = _formatted_plan(SPARK_QUERIES["decontaminate"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan, plan
    assert "BroadcastExchange" in plan, plan


def test_source_rebalance_uses_window_group_limit(spark):
    """rank <= k must compile to WindowGroupLimit (per-partition partial
    top-k before the shuffle) — the property that keeps per-source capping
    O(k·sources·partitions) instead of corpus-sized."""
    plan = _formatted_plan(SPARK_QUERIES["source_rebalance"](spark, SF_SMALL))
    assert "WindowGroupLimit" in plan, plan


def test_repetition_quality_shuffles_nothing_but_the_spread(spark):
    """The quality pass is expression-only: the only Exchange allowed is the
    round-robin input spread (the local-parallelism crutch for single-file
    test inputs, a no-op on well-split data) — any hash/range exchange means
    someone added a real shuffle to a linearly-parallel scan. The split and
    bigram arrays must each be built once, in staged projects, not inlined
    per reference."""
    plan = _formatted_plan(SPARK_QUERIES["repetition_quality"](spark, SF_SMALL))
    import re as _re

    exchanges = _re.findall(r"Exchange (\w+)", plan)
    assert all(e.startswith("RoundRobinPartitioning") for e in exchanges), exchanges
    # the split expression appears once per staged projection, not ~10x
    assert plan.count("split(text") <= 2, plan.count("split(text")


def test_bucketed_join_has_no_shuffle_when_not_broadcast(spark, tmp_path):
    """With broadcast priced out (the 100 TB fact-to-fact case), the
    bucketed join must read both sides bucket-aligned: SortMergeJoin with
    ZERO ShuffleExchange and no runtime Sort (files are in-bucket sorted)."""
    from pyspark.sql import functions as F

    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.bucketed import (
        bucketed_equi_join,
    )
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.sources.loader import (
        load_table,
    )

    li = load_table(spark, SF_SMALL, "lineitem").select(
        F.col("l_orderkey").alias("okey"), "l_extendedprice"
    )
    orders = load_table(spark, SF_SMALL, "orders").select(
        F.col("o_orderkey").alias("okey"), "o_totalprice"
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_equi_join(
            spark, li, orders, "okey", buckets=8,
            table_prefix="__bkt_test", base_path=str(tmp_path),
        )
        plan = _formatted_plan(joined)
        assert "SortMergeJoin" in plan, plan
        assert "ShuffleExchange" not in plan and "Exchange hashpartitioning" not in plan, plan
        assert joined.count() == load_table(spark, SF_SMALL, "lineitem").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_inverted_index_rank_filter_uses_window_group_limit(spark):
    """The postings-head rank filter must compile to WindowGroupLimit so a
    stopword token ships at most cap rows per map task, not its full
    posting list."""
    plan = _formatted_plan(SPARK_QUERIES["inverted_index"](spark, SF_SMALL))
    assert "WindowGroupLimit" in plan, plan


def test_tpch_q6_filters_pushed_to_scan(spark):
    # Q6 is a pure filter+agg: all three scan predicates must reach parquet
    plan = _formatted_plan(SPARK_QUERIES["tpch_q6"](spark, SF_SMALL))
    assert re.search(r"PushedFilters:.*GreaterThanOrEqual\(l_discount,0.05\)", plan)
    assert re.search(r"PushedFilters:.*LessThan\(l_quantity,24.0\)", plan)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    read_cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert read_cols == {"l_quantity", "l_extendedprice", "l_discount", "l_shipdate"}


def test_tpch_q3_topk_avoids_global_sort(spark):
    plan = _formatted_plan(SPARK_QUERIES["tpch_q3"](spark, SF_SMALL))
    assert "TakeOrderedAndProject" in plan


def test_tpch_q5_dims_broadcast_no_cartesian(spark):
    plan = _formatted_plan(SPARK_QUERIES["tpch_q5"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tpch_q19_disjunction_stays_equi_hash_join(spark):
    # the OR-of-ANDs predicate must ride the l_partkey=p_partkey hash join
    # as a residual, not degrade to a nested-loop join
    plan = _formatted_plan(SPARK_QUERIES["tpch_q19"](spark, SF_SMALL))
    assert "HashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_fact_plan_shape_is_regression_locked(spark):
    """Lock the round-3 flagship plan overhaul: (a) ZERO round-robin
    exchanges — bronze no longer spreads fact tables (the repartition ran
    inside the scan tasks and only added a full-table shuffle before every
    join's exchange); (b) the exchange count stays near the audited floor
    (11 at sf0.001; cap with small headroom) — the star join order pays each
    of the two fact hash partitionings (orderkey chain, then custkey chain)
    once; (c) the two joins Catalyst's stats mispriced stay pinned by hint:
    order-cardinality dim_orders/dim_customers SHUFFLE_HASH (round-10: the
    per-partition hash build replaces both SMJ sides' sorts — same
    exchanges, build side is one row per join key so no build-side skew;
    ShuffledHashJoin present even at this tiny SF, where an unhinted plan
    would auto-broadcast a dim that is unbounded at 100 TB) while small
    dims broadcast (BHJ present)."""
    plan = _formatted_plan(SPARK_QUERIES["gold_fact_lineitem"](spark, SF_SMALL))
    assert "RoundRobinPartitioning" not in plan, "bronze spread crept back"
    n_exchanges = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchanges <= 14, f"{n_exchanges} exchanges (audited floor: 11)"
    assert "ShuffledHashJoin" in plan, (
        "dim_orders/dim_customers shuffle-hash hint lost (an unhinted plan "
        "would broadcast an unbounded dim; a MERGE hint would re-add both "
        "sides' sorts)"
    )
    assert "BroadcastHashJoin" in plan


def test_oov_vocab_probe_is_broadcast(spark):
    """The bounded top-1000 vocabulary must broadcast into the corpus-side
    membership probe (a shuffled join here would re-shuffle the whole
    exploded token stream at 100 TB) and the vocab itself must come from
    a TakeOrderedAndProject, not a global sort."""
    plan = _formatted_plan(SPARK_QUERIES["oov_rate"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_funnel_stage_filters_reach_scan(spark):
    """Each funnel stage pre-filters its event type BEFORE the shuffle —
    the predicate must reach the parquet scan, not sit above a join."""
    plan = _formatted_plan(SPARK_QUERIES["funnel_conversion"](spark, SF_SMALL))
    assert re.search(r"PushedFilters:.*EqualTo\(event_type,view\)", plan), plan
    assert re.search(r"PushedFilters:.*EqualTo\(event_type,click\)", plan), plan
    assert re.search(r"PushedFilters:.*EqualTo\(event_type,purchase\)", plan), plan


def test_graph_queries_never_nested_loop(spark):
    """The iterative-graph family must stay on hash joins: a nested-loop
    anywhere in pagerank/bfs/triangles is quadratic at scale."""
    for name in ("pagerank_trade", "pagerank_weighted", "list_ranking",
                 "bfs_reach", "triangle_count"):
        plan = _formatted_plan(SPARK_QUERIES[name](spark, SF_SMALL))
        assert "CartesianProduct" not in plan, name
        # the 1-row count-join in triangle_count is the only permitted
        # BroadcastNestedLoopJoin (joining two single-row aggregates)
        if name != "triangle_count":
            assert "BroadcastNestedLoopJoin" not in plan, name


def _sort_input_cols(plan):
    """Column-name sets of every Sort operator's Input line in a formatted plan."""
    out = []
    for m in re.finditer(r"\(\d+\) Sort(?: \[codegen[^\]]*\])?\nInput \[\d+\]: \[([^\]]*)\]", plan):
        out.append({c.strip().split("#")[0] for c in m.group(1).split(",")})
    return out

def test_histogram_sketch_twins_sort_only_buckets(spark):
    """The approx twins of weighted_median / robust_zscore exist to remove
    the per-group full-row window sort (the 3.1×/3.2× 10×-rows ratios of
    the exact twins). Guard: every Sort in their plans consumes bucket-
    histogram rows (group key + bucket id + bucket weight) — never raw
    fact rows (price/value/tie-break columns)."""
    allowed = {
        "weighted_median_approx": {"o_orderpriority", "b", "bw"},
        "robust_zscore_approx": {"event_type", "b", "bw"},
    }
    for name, cols in allowed.items():
        plan = _formatted_plan(SPARK_QUERIES[name](spark, SF_SMALL))
        sorts = _sort_input_cols(plan)
        assert sorts, f"{name}: expected bucket-cum window sorts in plan"
        for s in sorts:
            assert s <= cols, f"{name}: Sort over non-bucket columns {s - cols}"


def test_profile_table_approx_hll_aggs_present(spark):
    """The approx profiler's production path is HLL sketches (associative,
    map-side partial merge). The exact count_distinct columns are proof-
    only; both must coexist in this plan, and nothing may fall to Python."""
    plan = _formatted_plan(SPARK_QUERIES["profile_table_approx"](spark, SF_SMALL))
    assert "approx_count_distinct" in plan, plan[:500]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ivf_nprobe_plan_shape(spark):
    """The nprobe path must keep the IVF contract: since the round-10
    zero-shuffle assignment rewrite there are NO nested-loop joins at all
    (the centroid table is a literal inside a sorted-struct-array
    projection — the old plan paid one bounded 16-row BNLJ + a window
    exchange per derived side); the candidate join is an equi-join on
    centroid_id (never cartesian), and the final top-k compiles to
    WindowGroupLimit so no partition materializes more than k result rows
    before its shuffle."""
    import re as _re

    plan = _formatted_plan(SPARK_QUERIES["ivf_nprobe_topk"](spark, SF_SMALL))
    assert "CartesianProduct" not in plan, plan[:800]
    # count detail headers, not tree echoes (formatted output shows each
    # node twice)
    bnlj = _re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)
    assert len(bnlj) == 0, plan[:800]
    assert "WindowGroupLimit" in plan, plan[:500]


def test_ivfpq_residual_plan_shape(spark):
    """Residual IVF-PQ (round-9) must keep the audited IVF-family scale
    shape: the only nested-loop joins are the bounded 16-row centroid
    broadcasts of the ranked assignment (corpus side + query side — the
    cell-dependent LUTs add NO extra join, they are projections over the
    probed (query, cell) rows); the candidate join is an equi-join on
    centroid_id, never cartesian; the final top-k compiles to
    WindowGroupLimit; nothing falls to Python."""
    import re as _re

    plan = _formatted_plan(SPARK_QUERIES["ivfpq_residual_topk"](spark, SF_SMALL))
    assert "CartesianProduct" not in plan, plan[:800]
    bnlj = _re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)
    assert len(bnlj) <= 2, (len(bnlj), plan[:800])
    assert "BroadcastHashJoin" in plan, plan[:500]
    assert "WindowGroupLimit" in plan, plan[:500]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_substring_dedup_combines_map_side(spark):
    """Both aggregates (window counts, per-doc rollup) must partial-
    aggregate map-side — a 50%-hot boilerplate gram then combines inside
    each task instead of funneling one reducer — and no join may degrade
    to a nested loop."""
    plan = _formatted_plan(SPARK_QUERIES["substring_dedup"](spark, SF_SMALL))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    # two aggregates x (partial + final) = at least 4 HashAggregate nodes
    assert plan.count("HashAggregate") >= 4, plan.count("HashAggregate")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the production twin keeps the identical plan shape but shuffles
    # BIGINT gram hashes (xxhash64 BEFORE the explode — ~8x fewer exchange
    # bytes); the hash must be in the plan and the strings must NOT reach
    # the exchange
    hplan = _formatted_plan(SPARK_QUERIES["substring_dedup_hashed"](spark, SF_SMALL))
    assert "CartesianProduct" not in hplan and "BroadcastNestedLoopJoin" not in hplan
    assert hplan.count("HashAggregate") >= 4, hplan.count("HashAggregate")
    # the hash itself lives above the localCheckpoint (outside this plan);
    # what the plan must show is that every exchange/join keys on the
    # BIGINT gram_h (#..L) and the gram STRING never reaches an exchange
    assert re.search(r"hashpartitioning\(gram_h#\d+L", hplan), hplan[:800]
    assert not re.search(r"hashpartitioning\(gram#\d+(?!L)", hplan), hplan[:800]
    assert "BatchEvalPython" not in hplan and "ArrowEvalPython" not in hplan


def test_zipf_head_uses_window_group_limit(spark):
    """The per-source top-100 pick must compile to WindowGroupLimit so each
    shuffle partition keeps at most 100 cells per source before the window
    sort — without it, a source's full vocabulary materializes per task."""
    plan = _formatted_plan(SPARK_QUERIES["zipf_head_share"](spark, SF_SMALL))
    assert "WindowGroupLimit" in plan, plan[:500]


def test_rfm_scores_join_back_by_broadcast(spark):
    """RFM's three quintile score tables are bounded distribution tables
    and must broadcast into the customer-side joins (a shuffled join would
    re-shuffle the whole customer relation three times at 100 TB); no
    nested-loop anywhere despite the scalar max-date crossJoin."""
    plan = _formatted_plan(SPARK_QUERIES["rfm_segments"](spark, SF_SMALL))
    assert plan.count("BroadcastHashJoin") >= 3, plan[:800]
    assert "CartesianProduct" not in plan, plan[:500]


def test_feature_hashing_single_exchange(spark):
    """Hashing-trick featurization is map-side until the one (doc, bucket)
    hash aggregate: exactly one Exchange in the plan — tokenize, hash, and
    sign all run inside the scan stage, and nothing falls to Python."""
    plan = _formatted_plan(SPARK_QUERIES["feature_hashing"](spark, SF_SMALL))
    # count numbered plan NODES (the formatted dump names each node twice:
    # once in the tree, once in the detail section)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan[:800]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_chi_square_windows_over_bounded_cells_only(spark):
    """The chi-square marginals are windows over the contingency CELL table
    (|types|·|dayparts| rows), never over raw events: every Sort input must
    be cell-shaped (x/y/obs), and the raw-event side contributes exactly
    one hash-aggregate exchange."""
    plan = _formatted_plan(SPARK_QUERIES["chi_square"](spark, SF_SMALL))
    sorts = _sort_input_cols(plan)
    cell_cols = {"x", "y", "obs", "rt", "ct", "tot"}
    for s in sorts:
        assert s <= cell_cols, f"Sort over non-cell columns {s - cell_cols}"


def test_correlation_matrix_one_pass_one_exchange(spark):
    """All 15 sufficient statistics come from ONE aggregate over ONE scan:
    exactly one Exchange, one parquet scan, zero Sorts, nothing in Python —
    the matrix costs a single table pass regardless of column count."""
    plan = _formatted_plan(SPARK_QUERIES["correlation_matrix"](spark, SF_SMALL))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan[:800]
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert len(re.findall(r"\(\d+\) Sort", plan)) == 0
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ab_test_single_aggregate_no_join(spark):
    """Arm assignment is computed per row from the user id, so the whole
    test is one map-side-combined aggregate: one Exchange, one scan, no
    join operator of any kind."""
    plan = _formatted_plan(SPARK_QUERIES["ab_test_zscore"](spark, SF_SMALL))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan[:800]
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "Join" not in plan


def test_target_encoding_single_fact_pass(spark):
    """The global mean must come from window sums over the bounded
    per-nation table, NOT a re-aggregation of the fact subtree: orders and
    customer are each scanned exactly once (3 scans total incl. nation)."""
    plan = _formatted_plan(SPARK_QUERIES["target_encoding"](spark, SF_SMALL))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 3, plan[:800]
    assert "BroadcastHashJoin" in plan  # nation dim broadcast


def test_degree_assortativity_hash_joins_no_sort(spark):
    """The deg lookups are hash joins, never SMJ: zero Sort operators (SMJ
    would sort the E-sized edge list twice per join) and no cartesian.
    Below BROADCAST_NODE_LIMIT the per-node deg table broadcasts (the edge
    list never shuffles — forcing shuffle-hash measured 5.8× at 10× rows);
    past the gate it degrades to shuffle-hash, still sort-free."""
    plan = _formatted_plan(SPARK_QUERIES["degree_assortativity"](spark, SF_SMALL))
    assert len(re.findall(r"\(\d+\) Sort", plan)) == 0, plan[:800]
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ewma_and_benford_windows_are_bounded(spark):
    """The EWMA lag window and the Benford marginal window both run over
    aggregated cell tables (calendar-days × flags; priorities × 9 digits),
    never over raw fact rows: every Sort input is cell-shaped."""
    plan = _formatted_plan(SPARK_QUERIES["ewma_smooth"](spark, SF_SMALL))
    for s in _sort_input_cols(plan):
        assert s <= {"l_returnflag", "day", "day_cents"}, s
    plan = _formatted_plan(SPARK_QUERIES["benford_deviation"](spark, SF_SMALL))
    for s in _sort_input_cols(plan):
        assert s <= {"o_orderpriority", "digit", "n_orders", "__num", "__tot"}, s


def test_interval_merge_no_self_join(spark):
    """The interval union is the single-window sweep, not the quadratic
    overlap self-join: no join operator at all, and the 1-in-5 slice's
    modulo filter is applied before the window shuffle."""
    plan = _formatted_plan(SPARK_QUERIES["interval_merge"](spark, SF_SMALL))
    assert "Join" not in plan, plan[:800]
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1


def test_shortest_path_weighted_no_nested_loop_no_sort(spark):
    """Every Bellman-Ford round is an equi-join + min hash-agg: no
    cartesian/nested-loop anywhere, and no Sort (an SMJ spine would sort
    the edge list once per round)."""
    plan = _formatted_plan(SPARK_QUERIES["shortest_path_weighted"](spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert len(re.findall(r"\(\d+\) Sort", plan)) == 0, plan[:800]


def test_mutual_information_windows_over_bounded_cells(spark):
    """MI marginals come from windows over the nations×priorities cell
    grid, never raw orders: every Sort input is cell-shaped."""
    plan = _formatted_plan(SPARK_QUERIES["mutual_information"](spark, SF_SMALL))
    cell_cols = {"x", "y", "obs", "rt", "ct", "tot"}
    for s in _sort_input_cols(plan):
        assert s <= cell_cols, f"Sort over non-cell columns {s - cell_cols}"


def test_token_entropy_pure_hash_aggs(spark):
    """Entropy is two chained hash aggregates over one scan: zero Sorts,
    zero joins, nothing in Python."""
    plan = _formatted_plan(SPARK_QUERIES["token_entropy"](spark, SF_SMALL))
    assert len(re.findall(r"\(\d+\) Sort", plan)) == 0, plan[:800]
    assert "Join" not in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cusum_windows_over_daily_cells_only(spark):
    """The CUSUM scan and the argmax rank both window over the bounded
    (priority × day) cell table — every Sort input is cell-shaped, never
    raw order rows."""
    plan = _formatted_plan(SPARK_QUERIES["cusum_changepoint"](spark, SF_SMALL))
    # _w0 is Spark's internal alias for the abs(cusum) rank-sort expression
    cell_cols = {"priority", "day", "n_d", "n_days", "total", "cusum", "rn", "_w0"}
    sorts = _sort_input_cols(plan)
    assert sorts, "expected window sorts over the daily cell table"
    for s in sorts:
        assert s <= cell_cols, f"Sort over non-cell columns {s - cell_cols}"


def test_seasonality_windows_over_grid_only(spark):
    """The per-priority totals window over the 5×7 (priority, dow) grid —
    every Sort input is grid-shaped."""
    plan = _formatted_plan(SPARK_QUERIES["seasonality_dow"](spark, SF_SMALL))
    grid_cols = {"priority", "dow", "n_orders", "sum_cents"}
    for s in _sort_input_cols(plan):
        assert s <= grid_cols, f"Sort over non-grid columns {s - grid_cols}"


def test_token_drift_topk_is_heap_not_global_sort(spark):
    """The drift top-50 runs as TakeOrderedAndProject (per-partition heap
    + driver merge), never a rangepartitioned global sort; the epoch
    split is one broadcast 1-row aggregate."""
    plan = _formatted_plan(SPARK_QUERIES["token_drift"](spark, SF_SMALL))
    assert "TakeOrderedAndProject" in plan, plan[:800]
    assert "rangepartitioning" not in plan
    assert "CartesianProduct" not in plan  # the mx crossJoin must broadcast


def test_lm_perplexity_two_corpus_passes_no_sort(spark):
    """LM build + scoring are the only corpus passes: the vocab²-bounded
    LM table is checkpointed (each consumer must NOT re-derive the corpus
    explode), and nothing sorts or runs in Python."""
    plan = _formatted_plan(SPARK_QUERIES["lm_perplexity"](spark, SF_SMALL))
    assert len(re.findall(r"\(\d+\) Sort", plan)) == 0, plan[:800]
    # exactly ONE live parquet scan (the scoring pass); the LM side reads
    # the checkpointed RDD, not the file again
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan[:800]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_kl_divergence_single_corpus_pass(spark):
    """c_t / n_s / N re-aggregate the checkpointed (source, token) table —
    the corpus parquet is scanned ZERO times in the final plan (all
    consumers read the checkpoint) and nothing sorts."""
    plan = _formatted_plan(SPARK_QUERIES["kl_divergence_sources"](spark, SF_SMALL))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 0, plan[:800]
    assert len(re.findall(r"\(\d+\) Sort", plan)) == 0
    assert "CartesianProduct" not in plan


def test_k_anonymity_windows_over_bands_only(spark):
    """Both aggs are hash aggs and the share window runs over ≤4 band
    rows: every Sort input is band-shaped."""
    plan = _formatted_plan(SPARK_QUERIES["k_anonymity_audit"](spark, SF_SMALL))
    band_cols = {"band", "n_classes", "n_rows", "__num", "__tot"}
    for s in _sort_input_cols(plan):
        assert s <= band_cols, f"Sort over non-band columns {s - band_cols}"


def test_rank_fusion_shares_one_nation_partitioning(spark):
    """Both rankings and the final top-3 pick window over the SAME nation
    partitioning: exactly one nation hash exchange in the plan (the sorts
    differ per window, the shuffle is paid once)."""
    plan = _formatted_plan(SPARK_QUERIES["rank_fusion_rrf"](spark, SF_SMALL))
    nat_exchanges = re.findall(r"hashpartitioning\(nat\b", plan)
    assert len(nat_exchanges) == 1, plan[:1200]
    assert "CartesianProduct" not in plan


def test_attribution_linear_is_equi_join_with_residual(spark):
    """The time window must ride the user_id equi-join as a residual
    condition — a nested-loop/cartesian here is quadratic in events; and
    the credit windows partition by purchase (bounded by touches/hour),
    never by user history."""
    plan = _formatted_plan(SPARK_QUERIES["attribution_linear"](spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    ), plan[:800]


def test_autocorrelation_one_lag_window_over_cells(spark):
    """All 7 lags come from ONE window sort over the bounded daily-cell
    table (lead(x,1..7) share the sort); every Sort input is cell-shaped
    and the pair stats are plain hash aggs."""
    plan = _formatted_plan(SPARK_QUERIES["autocorrelation"](spark, SF_SMALL))
    cell_cols = {"priority", "day", "x"}
    sorts = _sort_input_cols(plan)
    assert sorts, "expected the lag window's cell sort"
    for s in sorts:
        assert s <= cell_cols, f"Sort over non-cell columns {s - cell_cols}"


def test_iqr_outliers_broadcasts_quartiles(spark):
    """The 5-row quartile table joins back to the cells as a broadcast
    (never a shuffle of the cell table for a 5-row build side), and all
    windows sort only cell-shaped rows."""
    plan = _formatted_plan(SPARK_QUERIES["iqr_outliers"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan, plan[:800]
    cell_cols = {"priority", "day", "x", "rnk", "n"}
    for s in _sort_input_cols(plan):
        assert s <= cell_cols, f"Sort over non-cell columns {s - cell_cols}"


def test_sessionize_split_two_exchanges_only(spark):
    """The skew-safe sessionize twin moves event-volume data through
    exactly ONE exchange — hash(user, time-bucket), the partitioning that
    breaks a hyperactive key apart — and session-volume data through ONE
    more (the per-user stitch). Both downstream groupBys run exchange-free
    because their keys are supersets of the window partitioning Spark
    already has (HashPartitioning(user, bucket) satisfies grouping on
    (user, bucket, local_seq); same for the final merge on user)."""
    plan = _formatted_plan(SPARK_QUERIES["sessionize_batch_split"](spark, SF_SMALL))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2, plan[:1200]
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_kcore_plan_rounds_materialize_no_python(spark):
    """Each peel round materializes its O(V) evaluation (localCheckpoint)
    so the final union reads checkpoint scans instead of replaying every
    prior round (the lazy form measured O(rounds²) exchanges — 141 at
    rounds=3). The returned plan must therefore be tiny — union of
    checkpoint-scan filters, no joins, no Python — while the per-round
    semi-join shape is pinned on the operator's own restriction step."""
    import re as _re

    plan = _formatted_plan(SPARK_QUERIES["kcore_decompose"](spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert len(_re.findall(r"\(\d+\) Exchange", plan)) == 0, plan[:1200]
    assert len(_re.findall(r"\(\d+\) Scan ExistingRDD", plan)) == 4
    # the survivor restriction itself: one round of the operator's edge
    # filter must plan as two LeftSemi hash joins, never nested-loop
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.operators.graph import (
        kcore_peel,
    )
    from pyspark.sql import functions as F

    half = [(i, i + 1) for i in range(200)]
    e = half + [(b, a) for a, b in half]
    edges = spark.createDataFrame(e, "src long, dst long").localCheckpoint()
    alive = edges.select(F.col("src").alias("node")).distinct()
    cur = edges.join(
        F.broadcast(alive).withColumnRenamed("node", "src"), "src", "left_semi"
    ).join(F.broadcast(alive).withColumnRenamed("node", "dst"), "dst", "left_semi")
    rplan = _formatted_plan(cur)
    assert rplan.count("LeftSemi") >= 2 and "NestedLoop" not in rplan


def test_preference_pairs_is_window_free_single_exchange(spark):
    """The chosen/rejected selection is an AGGREGATE argmax, not a
    window: a 100 TB stratum must combine map-side, never funnel through
    one window task. One data exchange (the stratum aggregate)."""
    plan = _formatted_plan(SPARK_QUERIES["preference_pairs"](spark, SF_SMALL))
    assert "Window" not in plan
    # exactly two exchanges: the loader's small-file spread repartition +
    # the stratum aggregate; struct min/max plans as SortAggregate, whose
    # partial still combines map-side (two SortAggregate nodes)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2, plan[:1200]
    assert len(re.findall(r"\(\d+\) SortAggregate", plan)) == 2, plan[:1200]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bloom_prune_probe_is_codegen_single_exchange(spark):
    """The bloom test rides the probe scan inside whole-stage codegen:
    no Python, the exact-truth side is a broadcast hash join, and the
    only data exchange is the final 3-group telemetry aggregate."""
    plan = _formatted_plan(SPARK_QUERIES["bloom_prune_join"](spark, SF_SMALL))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # two exchanges only: one inside the bounded build-side distinct (the
    # broadcast truth table), one for the final 3-group telemetry
    # aggregate — the PROBE rows reach their partial aggregate unshuffled
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2, plan[:1200]
    # the bit-test filter compiles into a whole-stage codegen subtree
    # (plan with AQE off — AQE defers codegen to per-stage runtime)
    df = SPARK_QUERIES["bloom_prune_join"](spark, SF_SMALL)
    jvm = df.sparkSession._jvm
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        code = jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "codegen"
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    m = re.search(r"Found (\d+) WholeStageCodegen subtrees", code)
    assert m and int(m.group(1)) >= 1, code[:300]


def test_jaccard_prefix_join_plan_keyed_joins_no_cartesian(spark):
    """The exact similarity self-join must never fall back to a product:
    the candidate generator is an equi-join on the int64 shingle key,
    verification and expansion are keyed hash/sort-merge joins, the
    per-set rank window partitions by set id (never a global sort), and
    no Python appears anywhere in the plan."""
    plan = _formatted_plan(SPARK_QUERIES["jaccard_prefix_join"](spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the collapse phase ran into eager checkpoints — the visible plan
    # reads their scans, so every window is the per-set prefix rank
    # (partitionBy gid), never an unpartitioned global window
    assert "Window" not in plan or "gid" in plan


def test_cms_topk_probe_is_broadcast_min_no_python(spark):
    """The sketch probe must read the bounded cell table via broadcast
    hash join (<= depth*width rows — shuffling the probe against it
    would defeat the sketch), with zero Python anywhere."""
    plan = _formatted_plan(SPARK_QUERIES["cms_topk"](spark, SF_SMALL))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan, plan[:1200]


def test_keyword_textrank_topk_is_group_limit(spark):
    """The global top-25 over the word graph must be a WindowGroupLimit
    (per-partition partial top-k before the single-partition rank), and
    the pagerank rounds stay hash-join/aggregate shaped."""
    plan = _formatted_plan(SPARK_QUERIES["keyword_textrank"](spark, SF_SMALL))
    # the global top-25 plans as TakeOrderedAndProject (per-partition heap
    # + driver merge of 25 rows) feeding the rank window — never a
    # range-partitioned global sort of the vocabulary
    assert "TakeOrderedAndProject" in plan, plan[:1200]
    assert "rangepartitioning" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_video_scene_cuts_zero_shuffle(spark):
    """Attach + scene-cut kernels are two chained mapInPandas stages over
    the document scan — no exchange anywhere (per-payload work only)."""
    plan = _formatted_plan(SPARK_QUERIES["video_scene_cuts"](spark, SF_SMALL))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0, plan[:1200]
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 2, plan[:1200]
