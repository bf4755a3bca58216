"""Unit tests for the pipeline engine: registry, DAG, expectations, run()."""

import os

import pytest
from pyspark.sql import functions as F

from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.plans.expectations import (
    Expectation,
    apply_expectations,
    enforce_fail,
    expectation_metrics,
)
from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.plans.registry import (
    DatasetDef,
    ExpectationViolation,
    Pipeline,
)
from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.queries import (
    SPARK_QUERIES as _ALL_QUERIES,
)


@pytest.fixture
def sample_df(spark):
    return spark.createDataFrame(
        [(1, "a", 10.0), (2, None, -5.0), (3, "c", 7.5), (None, "d", 0.0)],
        "id INT, name STRING, score DOUBLE",
    )


def test_expectation_warn_metrics(sample_df):
    exps = [
        Expectation("id_not_null", "id IS NOT NULL"),
        Expectation("score_non_negative", "score >= 0"),
        Expectation("name_not_null", "name IS NOT NULL"),
    ]
    m = expectation_metrics(sample_df, exps)
    assert m == {"id_not_null": 1, "score_non_negative": 1, "name_not_null": 1}


def test_expectation_drop(sample_df):
    exps = [Expectation("score_non_negative", "score >= 0", "drop")]
    out = apply_expectations(sample_df, exps)
    assert out.count() == 3
    assert out.filter(F.col("score") < 0).count() == 0


def test_expectation_fail_raises(sample_df):
    exps = [Expectation("id_not_null", "id IS NOT NULL", "fail")]
    with pytest.raises(ExpectationViolation) as ei:
        enforce_fail("ds", expectation_metrics(sample_df, exps), exps)
    assert ("id_not_null", 1) in ei.value.failed


def test_expectation_fail_passes_clean(sample_df):
    clean = sample_df.filter(F.col("id").isNotNull())
    exps = [Expectation("id_not_null", "id IS NOT NULL", "fail")]
    enforce_fail("ds", expectation_metrics(clean, exps), exps)


def test_registry_dag_and_live_resolution(spark):
    p = Pipeline("t")

    @p.table(name="silver.base")
    def base(ctx):
        return ctx.spark_session.range(5).withColumnRenamed("id", "v")

    p.materialized_view(
        "gold.doubled", sql="SELECT v * 2 AS d FROM LIVE.base"
    )
    p.materialized_view(
        "gold.sum_all", sql="SELECT CAST(SUM(d) AS BIGINT) AS s FROM gold.doubled"
    )
    out = p.dataframe(spark, "gold.sum_all").collect()
    assert out[0].s == 20


def test_registry_cycle_detection(spark):
    p = Pipeline("t")
    p.materialized_view("a.x", sql="SELECT * FROM a.y")
    p.materialized_view("a.y", sql="SELECT * FROM a.x")
    with pytest.raises(ValueError, match="cycle"):
        p.dataframe(spark, "a.x")


def test_registry_unknown_dataset(spark):
    p = Pipeline("t")
    with pytest.raises(KeyError):
        p.dataframe(spark, "nope.missing")


def test_registry_duplicate_rejected(spark):
    p = Pipeline("t")

    @p.table(name="s.t1")
    def t1(ctx):  # pragma: no cover
        return None

    with pytest.raises(ValueError, match="duplicate"):

        @p.table(name="s.t1")
        def t1b(ctx):  # pragma: no cover
            return None


def test_run_materializes_tables(spark, tmp_path):
    p = Pipeline("t")

    @p.table(name="silver.nums", table_properties={"quality": "silver"})
    @p.expect_all({"v_non_negative": "v >= 0"})
    def nums(ctx):
        return ctx.spark_session.range(10).withColumnRenamed("id", "v")

    p.materialized_view("gold.total", sql="SELECT SUM(v) AS total FROM LIVE.nums")
    report = p.run(spark)
    assert report["silver.nums"]["rows"] == 10
    assert report["silver.nums"]["expectations"] == {"v_non_negative": 0}
    assert report["gold.total"]["rows"] == 1
    assert spark.table("`gold`.`total`").collect()[0].total == 45
    spark.sql("DROP TABLE `gold`.`total`")
    spark.sql("DROP TABLE `silver`.`nums`")


@pytest.mark.parametrize("cluster_by", [("k",), ("k", "v")])
def test_run_counts_clustered_rows_once(spark, tmp_path, cluster_by):
    """The row and warn counts come from the Observation riding the write;
    the range-clustered write's sampling pass must not count rows again."""
    p = Pipeline("t")

    @p.table(name="silver.clustered", cluster_by=cluster_by)
    @p.expect("v_small", "v < 6")
    def clustered(ctx):
        return ctx.spark_session.range(1000).selectExpr("id AS k", "id % 7 AS v")

    report = p.run(spark, warehouse=str(tmp_path / "wh"))
    try:
        assert report["silver.clustered"]["rows"] == 1000
        assert report["silver.clustered"]["expectations"] == {"v_small": 142}
        assert spark.table("silver.clustered").count() == 1000
    finally:
        spark.sql("DROP TABLE `silver`.`clustered`")


def test_run_fail_expectation_aborts(spark):
    p = Pipeline("t")

    @p.table(name="silver.bad")
    @p.expect_all_or_fail({"v_small": "v < 5"})
    def bad(ctx):
        return ctx.spark_session.range(10).withColumnRenamed("id", "v")

    with pytest.raises(ExpectationViolation):
        p.run(spark)


def test_run_reports_each_fail_expectation_count(spark, tmp_path):
    """A failed gate names every violated fail expectation with its own
    exact count, in declaration order, and writes nothing."""
    p = Pipeline("t")

    @p.table(name="silver.two_fails")
    @p.expect_all_or_fail({"v_below_7": "v < 7", "v_even": "v % 2 = 0", "v_known": "v >= 0"})
    def two_fails(ctx):
        return ctx.spark_session.range(10).withColumnRenamed("id", "v")

    with pytest.raises(ExpectationViolation) as ei:
        p.run(spark, warehouse=str(tmp_path / "wh"))
    assert ei.value.dataset == "silver.two_fails"
    assert ei.value.failed == [("v_below_7", 3), ("v_even", 5)]
    assert not spark.catalog.tableExists("silver.two_fails")


def test_run_builds_fail_gated_table_once(spark, tmp_path):
    """A FAIL-gated table's build runs once per refresh: the gate judges the
    counts of the pass that materializes the rows, and the write reads
    those rows instead of running the build again."""
    from pyspark.sql.types import LongType

    built = spark.sparkContext.accumulator(0)

    def tick(v):
        built.add(1)
        return v

    p = Pipeline("t")

    @p.table(name="silver.gated_once")
    @p.expect_all_or_fail({"v_small": "v < 1000"})
    def gated_once(ctx):
        tagged = F.udf(tick, LongType()).asNondeterministic()
        return ctx.spark_session.range(100).select(tagged("id").alias("v"))

    try:
        report = p.run(spark, warehouse=str(tmp_path / "wh"))
        assert report["silver.gated_once"]["rows"] == 100
        assert spark.table("silver.gated_once").count() == 100
    finally:
        spark.sql("DROP TABLE IF EXISTS `silver`.`gated_once`")
    assert built.value == 100


def test_failed_gate_leaves_previous_table_unchanged(spark, tmp_path):
    """DLT's FAIL UPDATE leaves the table as it was: a refresh whose gate
    fails writes nothing over the previous clean refresh."""

    def build(n, limit):
        p = Pipeline("keep")

        @p.table(name="silver.kept")
        @p.expect_all_or_fail({"v_small": f"v < {limit}"})
        def kept(ctx):
            return ctx.spark_session.range(n).withColumnRenamed("id", "v")

        return p

    warehouse = str(tmp_path / "wh")
    try:
        build(n=5, limit=100).run(spark, warehouse=warehouse)
        with pytest.raises(ExpectationViolation):
            build(n=10, limit=8).run(spark, warehouse=warehouse)
        rows = sorted(r.v for r in spark.table("silver.kept").collect())
        assert rows == [0, 1, 2, 3, 4]
    finally:
        spark.sql("DROP TABLE IF EXISTS `silver`.`kept`")


def test_table_rejects_cluster_by_with_bucket_by():
    """A table gets one storage layout: cluster_by with bucket_by is refused
    at registration, not silently reduced to the bucketing."""
    p = Pipeline("t")
    with pytest.raises(ValueError, match="cluster_by"):

        @p.table(name="silver.both", cluster_by=("k",), bucket_by=(4, "k"))
        def both(ctx):  # pragma: no cover
            return None


def test_pipeline_and_stream_apply_one_expectation_contract(spark, tmp_path):
    """Pipeline.run and the streaming runner judge rows by one rule: DROP
    filters first, WARN and FAIL see the rows that are written. Row 2
    violates DROP and FAIL, row 4 violates DROP and WARN: both are dropped,
    neither fails nor is counted."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.streaming.incremental import (
        run_incremental_with_expectations,
        stream_source,
    )

    rows = spark.createDataFrame(
        [(1, 5.0, 1), (2, -3.0, 1), (3, 4.0, None), (4, -1.0, None)],
        "id int, v double, w int",
    )
    p = Pipeline("contract")

    @p.table(name="silver.contract")
    @p.expect_all_or_drop({"v_non_negative": "v >= 0"})
    @p.expect_all_or_fail({"v_above_floor": "v > -2"})
    @p.expect("w_not_null", "w IS NOT NULL")
    def contract(ctx):
        return rows

    report = p.run(spark, warehouse=str(tmp_path / "wh"))["silver.contract"]
    try:
        table_ids = sorted(r.id for r in spark.table("silver.contract").collect())
    finally:
        spark.sql("DROP TABLE IF EXISTS `silver`.`contract`")

    src, tgt = str(tmp_path / "in"), str(tmp_path / "out")
    rows.coalesce(1).write.parquet(src)
    batches = run_incremental_with_expectations(
        stream_source(spark, src), tgt, str(tmp_path / "ck"),
        p.datasets()[0].expectations,
    )
    stream_ids = sorted(r.id for r in spark.read.parquet(tgt).collect())

    assert table_ids == stream_ids == [1, 3]
    assert report["rows"] == 2
    assert report["expectations"] == {"w_not_null": 1}
    assert batches == [{"batch_id": 0, "w_not_null": 1}]


def test_expectation_metrics_query_counts_null_predicate_as_violation(spark, tmp_path):
    """A NULL o_totalprice violates positive_total and reasonable_total, in
    the catalog query and in its DuckDB oracle alike."""
    import duckdb

    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.queries import (
        ORACLES,
    )
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.sources.loader import (
        load_table,
    )

    from conftest import SF_SMALL

    def counts(sf_dir):
        out = _ALL_QUERIES["expectation_metrics"](spark, sf_dir).collect()
        return {r.expectation: (r.violations, r.n_rows) for r in out}

    orders = load_table(spark, SF_SMALL, "orders")
    first = orders.agg(F.min("o_orderkey")).first()[0]
    orders.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") != first, F.col("o_totalprice")),
    ).write.parquet(str(tmp_path / "orders.parquet"))

    clean, nulled = counts(SF_SMALL), counts(str(tmp_path))
    for name, (v, n) in clean.items():
        bump = 1 if name in ("positive_total", "reasonable_total") else 0
        assert nulled[name] == (v + bump, n), name
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW orders AS SELECT * FROM "
            f"read_parquet('{tmp_path / 'orders.parquet'}/*.parquet')"
        )
        oracle = {
            r[0]: (r[1], r[2]) for r in con.execute(ORACLES["expectation_metrics"]).fetchall()
        }
    finally:
        con.close()
    assert oracle == nulled


def test_trace_seams_see_fail_gate_and_write(spark, tmp_path, monkeypatch):
    """The benchmark tracer wraps ``registry.enforce_fail`` (dataset name
    first) and ``sinks.write_table`` (DatasetDef third); a refresh must call
    both through those module attributes, or traced fail-gate and write
    spans silently read zero."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.plans import (
        registry,
    )
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.sources import (
        sinks,
    )

    seen: dict[str, list] = {"enforce_fail": [], "write_table": []}

    def recording(module, name):
        real = getattr(module, name)

        def stub(*args, **kwargs):
            seen[name].append(args)
            return real(*args, **kwargs)

        monkeypatch.setattr(module, name, stub)

    recording(registry, "enforce_fail")
    recording(sinks, "write_table")
    p = Pipeline("seams")

    @p.table(name="silver.seams")
    @p.expect_all_or_fail({"v_small": "v < 100"})
    def seams(ctx):
        return ctx.spark_session.range(10).withColumnRenamed("id", "v")

    try:
        p.run(spark, warehouse=str(tmp_path / "wh"))
    finally:
        spark.sql("DROP TABLE IF EXISTS `silver`.`seams`")
    assert [args[0] for args in seen["enforce_fail"]] == ["silver.seams"]
    (write_args,) = seen["write_table"]
    assert isinstance(write_args[2], DatasetDef) and write_args[2].name == "silver.seams"


def test_side_artifact_dir_changes_on_same_second_overwrite(tmp_path):
    """A source overwritten within the same second gets a new artifact dir."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.queries import (
        _side_artifact_dir,
    )

    src = tmp_path / "orders.parquet"
    src.write_bytes(b"a" * 10)
    second = os.stat(src).st_mtime_ns // 10**9 * 10**9
    os.utime(src, ns=(second, second + 100))
    first = _side_artifact_dir(str(tmp_path), "orders", "csv")
    src.write_bytes(b"b" * 20)
    os.utime(src, ns=(second, second + 900_000_000))
    assert _side_artifact_dir(str(tmp_path), "orders", "csv") != first


def test_ann_recall_eval_passes_session_to_pool_threads(spark):
    """The four concurrent builds inherit the caller's tags: constructing
    the query gives no "Spark session is not provided" warning."""
    import warnings

    from conftest import SF_SMALL

    with warnings.catch_warnings(record=True) as seen:
        warnings.simplefilter("always")
        _ALL_QUERIES["ann_recall_eval"](spark, SF_SMALL)
    assert not [w for w in seen if "Spark session is not provided" in str(w.message)]


def test_run_writes_upstream_tables_first_and_stops_after_failure(spark):
    """run() writes a table only after every table it reads (seen through
    views), whatever the registration order; when an upstream fails its
    fail gate, the downstream table is never written."""

    def build(limit):
        p = Pipeline("dag")

        # registered downstream-first on purpose
        @p.table(name="gold.dag_total")
        def total(ctx):
            return ctx.read("dag_stage").groupBy().sum("v")

        @p.view(name="dag_stage")
        def stage(ctx):
            return ctx.read("silver.dag_nums")

        @p.table(name="silver.dag_nums")
        @p.expect_all_or_fail({"v_small": f"v < {limit}"})
        def nums(ctx):
            return ctx.read("bronze.dag_src").withColumnRenamed("id", "v")

        @p.table(name="bronze.dag_src")
        def src(ctx):
            return ctx.spark_session.range(10)

        return p

    upstream = {
        "gold.dag_total": ["silver.dag_nums"],
        "silver.dag_nums": ["bronze.dag_src"],
        "bronze.dag_src": [],
    }
    drop = [f"DROP TABLE IF EXISTS {name}" for name in upstream]
    for stmt in drop:
        spark.sql(stmt)
    try:
        with pytest.raises(ExpectationViolation):
            build(limit=5).run(spark)
        assert not spark.catalog.tableExists("gold.dag_total")

        report = build(limit=100).run(spark)
        assert list(report) == list(upstream)  # registration order
        for name, ups in upstream.items():
            for up in ups:
                assert report[name]["start_s"] >= report[up]["end_s"], report
        assert spark.table("gold.dag_total").collect()[0][0] == 45
    finally:
        for stmt in drop:
            spark.sql(stmt)


def test_full_medallion_run_materializes_warehouse(spark):
    """Production (tables) mode over the full flagship pipeline at sf0.001:
    every bronze/silver/gold dataset lands in the warehouse, counts line up
    with views-mode, and warn metrics report zero violations."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.plans.medallion import (
        build_pipeline,
    )

    from conftest import SF_SMALL

    p = build_pipeline(SF_SMALL)
    expected_fact = p.dataframe(spark, "gold.fact_lineitem").count()
    try:
        report = p.run(spark)
        names = set(report)
        assert "bronze.bronze_orders" in names
        # nine landing datasets, matching the reference's 9-dataset factory
        assert sum(1 for n in names if n.startswith("bronze.")) == 9
        assert "silver.silver_documents" in names
        assert "silver.silver_orders" in names
        assert "gold.fact_lineitem" in names
        assert all(entry["rows"] > 0 for entry in report.values())
        assert report["gold.fact_lineitem"]["rows"] == expected_fact
        # the fact's fail-level constraints passed (run would have raised);
        # warn metrics flow through: the synthetic corpus prices exceed the
        # "reasonable price" cap for some rows, and those are counted while
        # the rows are kept (warn semantics)
        metrics = {
            k: v
            for entry in report.values()
            for k, v in entry.get("expectations", {}).items()
        }
        assert metrics["positive_reasonable_price"] > 0
        assert metrics["order_key_not_null"] == 0
        # materialized tables are queryable through the catalog afterwards
        assert (
            spark.table("gold.fact_lineitem").count() == expected_fact
        )
    finally:
        for db in ("bronze", "silver", "gold"):
            spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_mv_cluster_by_layout_prunes_nonleading_column(spark, tmp_path):
    """CLUSTER BY on the fact MV must reach the WRITTEN FILES as a real
    multi-dimensional (Morton) layout: parquet footer min/max on
    order_date_key — the THIRD clustering column — must bound each file to
    a fraction of the global range. A linear sort on the leading column (or
    a plain hash write) leaves every file covering ~the whole date range,
    so a date-filtered scan prunes nothing; liquid-clustering semantics
    (reference fact_order_items.sql:9) require pruning on any clustered
    column, not just the first."""
    import glob as globmod

    import pyarrow.parquet as pq

    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.plans.medallion import (
        build_pipeline,
    )

    from conftest import SF_SMALL

    p = build_pipeline(SF_SMALL)
    # tiny corpus: shrink AQE's advisory partition size so the
    # range-clustered write keeps multiple files (at real scale the 64 MB
    # advisory target sizes the files; here it would merge everything into
    # one file and leave nothing to measure)
    confs = {
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        # the 1 MB minPartitionSize floor otherwise overrides the advisory
        # target and still merges the tiny corpus into one file
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "16KB",
        # the clustered write yields one file per shuffle partition; pin the
        # count so the test does not depend on the cores. At 8 files the
        # date-key span sits near the 0.8 bound (0.73-0.81); 16 gives ~0.62
        "spark.sql.shuffle.partitions": "16",
    }
    prior = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        p.run(spark, warehouse=str(tmp_path / "wh"))
        files = sorted(
            globmod.glob(str(tmp_path / "wh" / "gold" / "fact_lineitem" / "*.parquet"))
        )
        assert len(files) > 4, files

        spans, glo, ghi = [], None, None
        for f in files:
            md = pq.ParquetFile(f).metadata
            idx = md.schema.names.index("order_date_key")
            los, his = [], []
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                los.append(st.min)
                his.append(st.max)
            lo, hi = min(los), max(his)
            spans.append(hi - lo)
            glo = lo if glo is None else min(glo, lo)
            ghi = hi if ghi is None else max(ghi, hi)
        avg_span_frac = (sum(spans) / len(spans)) / max(ghi - glo, 1)
        # morton interleave constrains every lane's top bits per z-range:
        # each file must cover well under the full date-key range
        assert avg_span_frac < 0.8, (avg_span_frac, spans, (glo, ghi))
    finally:
        for k, v in prior.items():
            spark.conf.set(k, v)
        for db in ("bronze", "silver", "gold"):
            spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_bucketed_tables_join_without_exchange(spark):
    """Two tables bucketed the same way on the join key: Spark's bucketed
    scan satisfies the join's distribution requirement, so the query plan
    has NO shuffle (Exchange) — the co-located star-join layout at scale."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.sources.loader import (
        load_table,
    )

    from conftest import SF_SMALL

    p = Pipeline("bkt")

    @p.table(name="wh.lineitem_b", bucket_by=(8, "l_orderkey"))
    def lineitem_b(ctx):
        return load_table(ctx.spark_session, SF_SMALL, "lineitem").select(
            "l_orderkey", "l_extendedprice"
        )

    @p.table(name="wh.orders_b", bucket_by=(8, "o_orderkey"))
    def orders_b(ctx):
        return load_table(ctx.spark_session, SF_SMALL, "orders").select(
            "o_orderkey", "o_totalprice"
        )

    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        p.run(spark)
        joined = spark.table("wh.lineitem_b").join(
            spark.table("wh.orders_b"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # bucketed layout replaced the shuffle
        # and the join result is still correct
        assert joined.count() == spark.table("wh.lineitem_b").count()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP DATABASE IF EXISTS wh CASCADE")


def test_run_isolated_warehouse_and_rerun_stability(spark, tmp_path):
    """`warehouse=` must actually place the tables (external, caller-owned
    location) and repeated runs — same or different warehouse — must give
    identical full-refresh results, never append/double."""
    import os

    def build():
        p = Pipeline("iso")

        @p.table(name="silver.iso_nums")
        def nums(ctx):
            return ctx.spark_session.range(10).withColumnRenamed("id", "v")

        p.materialized_view(
            "gold.iso_total", sql="SELECT SUM(v) AS total FROM LIVE.iso_nums"
        )
        return p

    wh1 = str(tmp_path / "wh1")
    r1 = build().run(spark, warehouse=wh1)
    assert r1["silver.iso_nums"]["rows"] == 10
    assert os.path.isdir(os.path.join(wh1, "silver", "iso_nums"))
    # re-run into the SAME warehouse: full refresh, not append
    r2 = build().run(spark, warehouse=wh1)
    assert r2["silver.iso_nums"]["rows"] == 10
    assert spark.table("`gold`.`iso_total`").collect()[0].total == 45
    # re-run into a DIFFERENT warehouse: catalog entry relocates cleanly
    wh2 = str(tmp_path / "wh2")
    r3 = build().run(spark, warehouse=wh2)
    assert r3["gold.iso_total"]["rows"] == 1
    assert os.path.isdir(os.path.join(wh2, "gold", "iso_total"))
    spark.sql("DROP TABLE `gold`.`iso_total`")
    spark.sql("DROP TABLE `silver`.`iso_nums`")


def test_run_recovers_from_stale_managed_location(spark):
    """A managed-table directory left behind by a dead session (catalog
    entry gone, files present) must not break the next run's saveAsTable —
    full-refresh semantics make the leftover safe to clear."""
    import os
    import shutil

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    stale = os.path.join(wh, "silver.db", "stale_nums")
    os.makedirs(stale, exist_ok=True)
    with open(os.path.join(stale, "leftover.parquet"), "w") as fh:
        fh.write("junk")
    spark.sql("DROP TABLE IF EXISTS `silver`.`stale_nums`")

    p = Pipeline("stale")

    @p.table(name="silver.stale_nums")
    def nums(ctx):
        return ctx.spark_session.range(7).withColumnRenamed("id", "v")

    report = p.run(spark)
    assert report["silver.stale_nums"]["rows"] == 7
    assert spark.table("`silver`.`stale_nums`").count() == 7
    spark.sql("DROP TABLE `silver`.`stale_nums`")
    shutil.rmtree(stale, ignore_errors=True)


def test_driver_priority_registry_integrity():
    """The driver tests a 50-slot prefix of the catalog dict, ordered by
    _DRIVER_PRIORITY — a typo'd name there silently forfeits a
    verification slot. Every entry must resolve, the prefix must be
    duplicate-free, and every catalog query must carry an oracle."""
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.queries import (
        ORACLES,
        SPARK_QUERIES,
        _DRIVER_PRIORITY,
    )

    unknown = [n for n in _DRIVER_PRIORITY if n not in SPARK_QUERIES]
    assert not unknown, f"priority entries not in catalog: {unknown}"
    assert len(set(_DRIVER_PRIORITY)) == len(_DRIVER_PRIORITY)
    no_oracle = [n for n in SPARK_QUERIES if n not in ORACLES]
    assert not no_oracle, f"catalog queries without oracles: {no_oracle}"


def test_catalog_keys_oracles_and_headline_are_pinned():
    """The catalog's keys and order, its oracle names and the bench headline
    are pinned by hash: a refactor of how the catalog is built must not
    add, drop, rename or reorder a query."""
    import hashlib

    import bench
    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.queries import (
        ORACLES,
        SPARK_QUERIES,
    )

    def sha(names):
        return hashlib.sha256("\n".join(names).encode()).hexdigest()

    assert (len(SPARK_QUERIES), len(ORACLES), len(bench.HEADLINE)) == (255, 255, 191)
    assert sha(SPARK_QUERIES) == "6afa3c19f4f004b84f4387d1b2f65609b238ebcfb5269119eb2bb0d498659990"
    assert sha(sorted(ORACLES)) == "e753ef054cc54cd228ea7eb3e82b2d9e5247fc4040e4ec190e94d33bed34fc73"
    assert sha(bench.HEADLINE) == "630dd94038053594dfad405ff9a9981b11490e2de4460b55b33df699ba211426"


def test_catalog_entry_restores_session_contract(spark):
    """Every catalog value applies the runtime session contract on entry
    (tuning.catalog_entry): a session drifted away from it — another
    caller's time zone, nanos reads off, AQE off, a raised recursion cap —
    is restored by constructing any catalog query, TPC-H or pipeline."""
    from conftest import SF_SMALL

    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.tuning import (
        _RUNTIME_CONF,
        tune_session,
    )

    for name, fn in _ALL_QUERIES.items():
        assert fn.__wrapped__.__name__ == fn.__name__, name
    assert _ALL_QUERIES["tpch_q6"].__name__ == "q_tpch_q6"

    drift = {
        "spark.sql.session.timeZone": "America/Los_Angeles",
        "spark.sql.legacy.parquet.nanosAsLong": "false",
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.cteRecursionRowLimit": "200000000",
    }
    try:
        for name in ("tpch_q6", "gold_dim_date", "gold_dim_customers"):
            for k, v in drift.items():
                spark.conf.set(k, v)
            _ALL_QUERIES[name](spark, SF_SMALL)
            got = {k: spark.conf.get(k) for k in _RUNTIME_CONF}
            assert got == _RUNTIME_CONF, (name, got)
    finally:
        tune_session(spark)


@pytest.fixture(scope="session")
def empty_sf(tmp_path_factory):
    """Schema-only (zero-row) replicas of the ten testdata tables."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from conftest import SF_SMALL

    dst = str(tmp_path_factory.mktemp("empty_sf"))
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        sch = pq.read_schema(f"{SF_SMALL}/{t}.parquet")
        sch = pa.schema([f.remove_metadata() for f in sch]).remove_metadata()
        pq.write_table(sch.empty_table(), f"{dst}/{t}.parquet")
    return dst


@pytest.mark.parametrize("name", sorted(_ALL_QUERIES))
def test_catalog_tolerates_empty_tables(spark, empty_sf, name):
    """Every catalog query must run (returning zero rows is fine) against
    EMPTY schema-only tables. At 100 TB, empty inputs are routine — a
    filter matching nothing, an empty partition, a fresh ingest — and the
    round-4 probe found eight latent crashes here: driver-side
    ZeroDivisionError in pagerank's scale div n, an untyped map() literal
    in the minhash bitmap path, JSON schema inference collapsing to
    _rescued_data, int(None) from a MAX over zero groups, None snapshots
    from zero foreachBatch invocations, and a 1-D numpy array hitting
    norm(axis=1). `global_median_select`'s raise on no values is a
    documented contract, asserted as such. Parametrized per query so a
    failure is attributed to its query and the sweep can be sharded."""
    try:
        _ALL_QUERIES[name](spark, empty_sf).count()
    except ValueError as exc:
        if name == "global_median_select" and "no non-null" in str(exc):
            return  # documented empty-input contract
        raise


def test_empty_path_fallbacks_match_nonempty_schema(spark, empty_sf):
    """The queries with an explicit empty-input guard must return the SAME
    schema from the guard as from the real path — a rename/retype on one
    side must not silently diverge the other (round-4 advice)."""
    from conftest import SF_SMALL

    for name in (
        "ann_topk_np",
        "cdc_apply",
        "streaming_incremental_mv",
        "jsonl_ingest_roundtrip",
        "pq_topk",
        "pq_topk_trained",
        "ivfpq_topk",
    ):
        s_empty = _ALL_QUERIES[name](spark, empty_sf).schema
        s_full = _ALL_QUERIES[name](spark, SF_SMALL).schema
        # compare (name, type) — nullability legitimately differs (e.g. a
        # row_number column is non-nullable on the real path while
        # createDataFrame([]) defaults every field nullable), and the
        # driver's comparison is nullability-blind too
        empty_cols = [(f.name, f.dataType) for f in s_empty.fields]
        full_cols = [(f.name, f.dataType) for f in s_full.fields]
        assert empty_cols == full_cols, (
            f"{name}: empty-path schema {empty_cols} != non-empty {full_cols}"
        )


def test_tool_imports_resolve():
    """Every ``from <package>... import name`` and ``from bench import name``
    in ``tools/*.py``, ``tests/*.py``, ``bench.py`` and ``__spark_entry__.py``
    names a module or attribute that exists, so deleting or renaming a
    package name breaks this test rather than a tool run or a whole test
    module's collection. Parses with ``ast``; starts no Spark."""
    import ast
    import glob
    import importlib

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = Pipeline.__module__.split(".")[0]
    paths = sorted(glob.glob(os.path.join(root, "tools", "*.py")))
    paths += sorted(glob.glob(os.path.join(root, "tests", "*.py")))
    paths += [os.path.join(root, f) for f in ("bench.py", "__spark_entry__.py")]
    checked, missing = 0, []
    for path in paths:
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        for node in ast.walk(tree):
            if not isinstance(node, ast.ImportFrom) or node.level:
                continue
            if node.module.split(".")[0] not in (pkg, "bench"):
                continue
            mod = importlib.import_module(node.module)
            for alias in node.names:
                checked += 1
                if hasattr(mod, alias.name):
                    continue
                try:
                    importlib.import_module(f"{node.module}.{alias.name}")
                except ModuleNotFoundError:
                    where = f"{os.path.relpath(path, root)}:{node.lineno}"
                    missing.append(f"{where} {node.module}.{alias.name}")
    assert checked > 20
    assert not missing, missing


def test_kernel_queries_run_from_outside_the_repository(spark, tmp_path):
    """Python-worker kernels ship by value: a driver started in another
    working directory, with ``PYTHONPATH`` unset and the repository only
    on its own ``sys.path``, runs the media kernels, the
    ``applyInPandasWithState`` query and a numpy-only control with the
    in-process row counts. A kernel whose pickle referenced a package
    helper by name would raise ``ModuleNotFoundError`` on the workers."""
    import json
    import subprocess
    import sys
    import textwrap

    from conftest import SF_SMALL

    names = [
        "multimodal_decode", "multimodal_resize", "audio_decode",
        "audio_window_energy", "video_decode", "video_frame_sample",
        "video_scene_cuts", "media_decode", "streaming_running_totals",
        "ann_topk",
    ]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = Pipeline.__module__.split(".")[0]
    script = tmp_path / "drive.py"
    script.write_text(textwrap.dedent(f"""
        import json, sys
        sys.path.insert(0, {root!r})
        from {pkg} import get_spark
        from {pkg}.queries import SPARK_QUERIES
        spark = get_spark("outside-repo")
        counts = {{n: SPARK_QUERIES[n](spark, {SF_SMALL!r}).count() for n in {names!r}}}
        print("COUNTS " + json.dumps(counts))
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEMORY="2g")
    proc = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    line = [s for s in proc.stdout.splitlines() if s.startswith("COUNTS ")][-1]
    want = {n: _ALL_QUERIES[n](spark, SF_SMALL).count() for n in names}
    assert json.loads(line[len("COUNTS "):]) == want
