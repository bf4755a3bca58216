"""MV DDL wrapper parsing + pipeline registration (reference gold-layer shape)."""

import pytest

from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.plans.expectations import (
    DROP,
    FAIL,
    WARN,
    ExpectationViolation,
)
from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.plans.registry import (
    Pipeline,
)
from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.plans.sqlmv import (
    parse_mv_ddl,
    register_mv_sql,
)

FACT_DDL = """
CREATE OR REFRESH MATERIALIZED VIEW gold.fact_items
(
  CONSTRAINT fk_part          EXPECT (part_key IS NOT NULL)                 ON VIOLATION FAIL UPDATE,
  CONSTRAINT valid_price      EXPECT (price IS NOT NULL AND price >= 0)     ON VIOLATION FAIL UPDATE,
  CONSTRAINT valid_total      EXPECT (total_value IS NOT NULL),
  CONSTRAINT no_negatives     EXPECT (qty >= 0)                             ON VIOLATION DROP ROW
)
CLUSTER BY (part_key, supp_key)
COMMENT "Fact table for item transactions."
TBLPROPERTIES (
  'quality' = 'gold',
  'delta.autoOptimize.optimizeWrite' = 'true',
  'delta.targetFileSize' = '268435456'
)
AS
SELECT * FROM LIVE.silver_items
"""


def test_parse_full_wrapper():
    spec = parse_mv_ddl(FACT_DDL)
    assert spec.name == "gold.fact_items"
    assert spec.comment == "Fact table for item transactions."
    assert spec.cluster_by == ("part_key", "supp_key")
    assert spec.table_properties["quality"] == "gold"
    assert spec.table_properties["delta.targetFileSize"] == "268435456"
    actions = {e.name: e.action for e in spec.expectations}
    assert actions == {
        "fk_part": FAIL,
        "valid_price": FAIL,
        "valid_total": WARN,
        "no_negatives": DROP,
    }
    preds = {e.name: e.predicate for e in spec.expectations}
    assert preds["valid_price"] == "price IS NOT NULL AND price >= 0"
    assert spec.select_sql.strip().startswith("SELECT * FROM LIVE.silver_items")


def test_parse_minimal_wrapper_with_cte_body():
    ddl = """
    CREATE OR REFRESH MATERIALIZED VIEW gold.dim_d

    COMMENT "Date dim."
    AS
    WITH r AS (SELECT 1 AS x) SELECT x FROM r
    """
    spec = parse_mv_ddl(ddl)
    assert spec.name == "gold.dim_d"
    assert spec.expectations == []
    assert spec.cluster_by == ()
    assert spec.select_sql.startswith("WITH r AS")


def test_parse_rejects_non_mv():
    with pytest.raises(ValueError):
        parse_mv_ddl("CREATE TABLE t AS SELECT 1")
    with pytest.raises(ValueError):
        parse_mv_ddl("CREATE OR REFRESH MATERIALIZED VIEW g.t (CONSTRAINT c EXPECT (1=1))")


def test_parse_rejects_partitioned_by_instead_of_dropping_it():
    """The engine writes MVs by CLUSTER BY only: a PARTITIONED BY clause
    must fail the parse by name, not register an unpartitioned MV."""
    p = Pipeline("part")
    ddl = "CREATE OR REFRESH MATERIALIZED VIEW gold.x PARTITIONED BY (d) AS SELECT 1 AS d"
    with pytest.raises(ValueError, match="PARTITIONED BY"):
        register_mv_sql(p, ddl)
    assert p.datasets() == []
    # the words inside a COMMENT string are not the clause
    spec = parse_mv_ddl(
        "CREATE OR REFRESH MATERIALIZED VIEW gold.y COMMENT 'partitioned by day upstream' "
        "AS SELECT 1 AS d"
    )
    assert spec.name == "gold.y"


def test_registered_mv_resolves_live_refs_and_drops_rows(spark):
    p = Pipeline("t")

    @p.table(name="silver.silver_items")
    def silver_items(ctx):
        return ctx.spark_session.createDataFrame(
            [(1, 10.0, 2), (2, 20.0, -1), (3, None, 1)],
            "part_key int, price double, qty int",
        ).selectExpr("part_key", "price", "qty", "part_key AS supp_key", "price * qty AS total_value")

    register_mv_sql(p, FACT_DDL)
    # DROP ROW filters qty<0; FAIL on null price raises at enforce time.
    df = p.dataframe(spark, "gold.fact_items")
    rows = df.orderBy("part_key").collect()
    assert [r.part_key for r in rows] == [1, 3]  # qty=-1 row dropped

    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.plans.expectations import (
        enforce_fail,
        expectation_metrics,
    )

    d = {x.name: x for x in p.datasets()}["gold.fact_items"]
    with pytest.raises(ExpectationViolation) as ei:
        enforce_fail(d.name, expectation_metrics(df, d.expectations), d.expectations)
    assert "valid_price" in str(ei.value)


def test_table_properties_survive_to_sink_call(spark, tmp_path):
    """The parsed TBLPROPERTIES dict must reach the write_table sink call
    intact (delta.* write tuning included), and under the parquet fallback
    the sink must warn-and-skip the delta.* entries rather than pass them
    as bogus parquet writer options."""
    import warnings

    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.sources import (
        sinks,
    )

    p = Pipeline("tp")

    @p.table(name="silver.silver_items")
    def silver_items(ctx):
        return ctx.spark_session.createDataFrame(
            [(1, 10.0, 2)], "part_key int, price double, qty int"
        ).selectExpr(
            "part_key", "price", "qty", "part_key AS supp_key",
            "price * qty AS total_value",
        )

    spec = register_mv_sql(p, FACT_DDL.replace("fact_items", "tp_fact"))
    assert spec.table_properties == {
        "quality": "gold",
        "delta.autoOptimize.optimizeWrite": "true",
        "delta.targetFileSize": "268435456",
    }

    seen: dict[str, dict] = {}
    real = sinks.write_table

    def spy(sp, df, dataset, **kw):
        seen[dataset.name] = dict(dataset.table_properties)
        return real(sp, df, dataset, **kw)

    sinks.write_table = spy
    try:
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            p.run(spark, warehouse=str(tmp_path))
    finally:
        sinks.write_table = real

    # the full parsed dict reached the sink call
    assert seen["gold.tp_fact"] == spec.table_properties
    msgs = [str(w.message) for w in caught]
    assert any(
        "delta.autoOptimize.optimizeWrite" in m and "parquet fallback" in m
        for m in msgs
    ), msgs


def test_gold_ddl_files_carry_reference_delta_properties():
    """Parity: every gold MV file sets the reference's four delta.* write
    properties (fact_order_items.sql:11-18) so a Delta-equipped deployment
    gets the reference's tuning without edits."""
    import glob
    import os

    from azure_databricks_etl_pipeline_medallion_architecture_olist_e_commerce_analytics_spark.plans import (
        sqlmv,
    )

    gold_dir = os.path.join(
        os.path.dirname(sqlmv.__file__), "gold_sql"
    )
    files = sorted(glob.glob(os.path.join(gold_dir, "*.sql")))
    assert len(files) == 6
    want = {
        "delta.autoOptimize.optimizeWrite": "true",
        "delta.autoOptimize.autoCompact": "true",
        "delta.enableDeletionVectors": "true",
        "delta.targetFileSize": "268435456",
    }
    for f in files:
        spec = parse_mv_ddl(open(f).read())
        for k, v in want.items():
            assert spec.table_properties.get(k) == v, (f, k)
        assert spec.table_properties.get("quality") == "gold"
