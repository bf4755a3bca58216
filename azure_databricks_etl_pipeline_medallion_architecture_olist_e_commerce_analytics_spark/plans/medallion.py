"""The Olist-equivalent medallion pipeline, expressed over the driver testdata.

This is the engine's flagship plan: a bronze → silver → gold star-schema
pipeline that re-expresses every operator of the reference DLT pipeline
(SURVEY.md §2) on the driver's synthetic TPC-H-ish tables, using the role
mapping from FIXTURES.md §B:

    orders → orders           customers → customer      sellers → supplier
    order_items → lineitem    products → part           geolocations → events
    payments → lineitem-per-order aggregates            reviews → events

Layer structure mirrors the reference:
- bronze: raw landing reads (bronze_ingestion.py:35-53's table factory).
- silver: typed, validated Python-API tables — casts, imputation, literal-map
  lookups, broadcast joins, dedup, expectations (scripts/silver/*.py).
- gold: SQL materialized views with ``LIVE.`` references — surrogate-keyed
  dims, a generated date dimension, and a multi-way star fact with
  fail-level constraints (scripts/gold/*.sql).

Determinism: every gold column is reproducible (no current_timestamp in gold;
silver audit columns are not propagated), so the whole pipeline is verifiable
against a DuckDB oracle.

Scale notes: dims join the fact via broadcast (they are orders of magnitude
smaller than the fact at any SF); per-order aggregates shuffle once on the
join key they are later joined on; window dedup partitions by the dedup key
(no global windows except the tiny date dimension's ordinal).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ..functions.maps import mapping_column
from .registry import Pipeline, shared_dataframe

# Literal lookup map, same pattern as the reference's 27-state expansion
# (silver_customers.py:20-49,64-72): map literal instead of nested WHENs.
SEGMENT_DISPLAY = {
    "AUTOMOBILE": "Automobile & Parts",
    "BUILDING": "Building & Construction",
    "FURNITURE": "Furniture & Home",
    "MACHINERY": "Machinery & Industrial",
    "HOUSEHOLD": "Household Goods",
}

# Nine landing datasets, matching the reference's 9-dataset factory loop
# (bronze_ingestion.py:7-9,52-53).
BRONZE_TABLES = (
    "orders",
    "lineitem",
    "customer",
    "supplier",
    "part",
    "nation",
    "region",
    "events",
    "documents",
)

# NOTE on partition spreading: bronze deliberately does NOT call
# spread_partitions. A round-robin repartition cannot raise SCAN parallelism
# (the repartition's shuffle-write runs inside the same scan tasks, whose
# count is fixed by the file's row-group splits) — it only parallelizes
# narrow CPU work placed after it, and every bronze→silver stage here is a
# cheap filter/projection that flows straight into a hash shuffle (join or
# aggregate) which re-distributes to full parallelism anyway. Spreading the
# fact tables was measured to ADD one full-table shuffle per source ahead of
# each join's exchange (sf1 plan audit, round 3) for zero downstream benefit.
# spread_partitions remains the right tool directly inside CPU-heavy
# operators (fingerprinting, signature computation, Arrow-batch scoring) —
# see operators/dedup.py, similarity.py, textops.py.


def build_pipeline(sf_dir: str) -> Pipeline:
    """Construct the full medallion pipeline bound to a testdata directory."""
    from ..sources.loader import load_table

    p = Pipeline("olist_analog_medallion")

    # ---------------- bronze: parameterized landing-table factory ----------
    # Reference: metaprogrammed @dlt.table loop over 9 datasets
    # (bronze_ingestion.py:35-53). Same factory pattern, parquet source.
    def _make_bronze(tbl: str):
        @p.table(
            name=f"bronze.bronze_{tbl}",
            comment=f"Raw {tbl} landed from source (incremental at ingest).",
            table_properties={"quality": "bronze"},
        )
        def _bronze(ctx, _tbl=tbl):
            return load_table(ctx.spark_session, sf_dir, _tbl)

    for t in BRONZE_TABLES:
        _make_bronze(t)

    # ---------------- silver ----------------------------------------------
    @p.view(name="stage_orders", comment="Staged bronze orders stream.")
    def stage_orders(ctx):
        return ctx.read_stream("bronze.bronze_orders")

    @p.table(
        name="silver.silver_orders",
        comment="Typed, validated orders.",
        table_properties={"quality": "silver"},
    )
    @p.expect_all(
        {
            "order_key_not_null": "o_orderkey IS NOT NULL",
            "cust_key_not_null": "o_custkey IS NOT NULL",
        }
    )
    def silver_orders(ctx):
        # Cast + conditional imputation with interval arithmetic — the
        # order_approved_at pattern (Silver_orders.py:27-40).
        df = ctx.read_stream("stage_orders")
        return (
            df.withColumns(
                {
                    "o_orderdate": F.col("o_orderdate").cast("timestamp"),
                    "o_totalprice": F.col("o_totalprice").cast("double"),
                }
            )
            .withColumn(
                "o_approved_at",
                F.when(
                    F.col("o_orderstatus") == "F",
                    F.col("o_orderdate") + F.expr("INTERVAL 18 MINUTES"),
                ).otherwise(F.lit(None).cast("timestamp")),
            )
            .withColumn("o_is_urgent", F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
            # Audit column, as every reference silver table (Silver_orders.py:41).
            .withColumn("processed_at", F.current_timestamp())
        )

    @p.table(
        name="silver.silver_lineitem",
        comment="Typed, validated line items (order_items analog).",
        table_properties={"quality": "silver"},
    )
    @p.expect_all(
        {
            "order_key_not_null": "l_orderkey IS NOT NULL",
            "positive_reasonable_price": "l_extendedprice >= 0 AND l_extendedprice <= 100000",
            "non_negative_qty": "l_quantity >= 0",
        }
    )
    def silver_lineitem(ctx):
        # Explicit typed projection, as Silver_order_items.py:48-60.
        df = ctx.read_stream("bronze.bronze_lineitem")
        return df.select(
            F.col("l_orderkey"),
            F.col("l_linenumber").cast("int").alias("l_linenumber"),
            F.col("l_partkey"),
            F.col("l_suppkey"),
            F.col("l_quantity").cast("double").alias("l_quantity"),
            F.col("l_extendedprice").cast("double").alias("l_extendedprice"),
            F.col("l_discount").cast("double").alias("l_discount"),
            F.col("l_tax").cast("double").alias("l_tax"),
            F.col("l_returnflag"),
            F.col("l_linestatus"),
            F.col("l_shipdate").cast("timestamp").alias("l_shipdate"),
        )

    @p.table(
        name="silver.silver_customer",
        comment="Customers with literal-map segment expansion and broadcast nation join.",
        table_properties={"quality": "silver"},
    )
    @p.expect_all(
        {
            "customer_key_not_null": "c_custkey IS NOT NULL",
            "nation_key_not_null": "c_nationkey IS NOT NULL",
        }
    )
    def silver_customer(ctx):
        # Map-literal lookup with fallback (silver_customers.py:64-78) +
        # broadcast left join to a small static dim (silver_products.py:66-71).
        cust = ctx.read_stream("bronze.bronze_customer")
        nation = ctx.read("bronze.bronze_nation").select(
            F.col("n_nationkey").alias("c_nationkey"), F.col("n_name").alias("c_nation_name")
        )
        return (
            cust.withColumn("c_nationkey", F.col("c_nationkey").cast("int"))
            .withColumn(
                "c_segment_display",
                mapping_column(
                    SEGMENT_DISPLAY, F.col("c_mktsegment"), default=F.col("c_mktsegment")
                ),
            )
            .join(F.broadcast(nation), on="c_nationkey", how="left")
        )

    @p.table(
        name="silver.silver_supplier",
        comment="Suppliers with string cleanup (sellers analog).",
        table_properties={"quality": "silver"},
    )
    @p.expect("supplier_name_nonempty", "LENGTH(s_name) >= 2")
    def silver_supplier(ctx):
        # trim/upper cleanup, as silver_sellers.py:96-109.
        df = ctx.read_stream("bronze.bronze_supplier")
        nation = ctx.read("bronze.bronze_nation").select(
            F.col("n_nationkey").alias("s_nationkey"), F.col("n_name").alias("s_nation_name")
        )
        return (
            df.withColumn("s_name", F.upper(F.trim(F.col("s_name"))))
            .withColumn("s_nationkey", F.col("s_nationkey").cast("int"))
            .join(F.broadcast(nation), on="s_nationkey", how="left")
        )

    @p.table(
        name="silver.silver_part",
        comment="Parts with derived metrics, null-defaults, dedup (products analog).",
        table_properties={"quality": "silver"},
    )
    @p.expect_all({"part_key_not_null": "p_partkey IS NOT NULL", "size_non_negative": "p_size >= 0"})
    def silver_part(ctx):
        # Derived metrics + fillna + boolean flags + dedup
        # (silver_products.py:76-119).
        df = ctx.read_stream("bronze.bronze_part")
        return (
            df.withColumn("p_size", F.col("p_size").cast("int"))
            .fillna(0, subset=["p_size"])
            .withColumn("p_category", F.coalesce(F.col("p_type"), F.lit("N/A")))
            .withColumn("p_volume_index", F.col("p_size") * F.col("p_size") * F.col("p_size"))
            .withColumn("p_is_premium", F.col("p_retailprice") > F.lit(1500.0))
            .dropDuplicates(["p_partkey"])
        )

    @p.view(name="stage_events", comment="Staged bronze events stream.")
    def stage_events(ctx):
        return ctx.read_stream("bronze.bronze_events")

    @p.table(
        name="silver.silver_events",
        comment="Deduplicated, imputed user events (order_reviews analog).",
        table_properties={"quality": "silver"},
    )
    @p.expect_all(
        {
            "event_id_not_null": "event_id IS NOT NULL",
            "valid_value": "value IS NOT NULL",
        }
    )
    def silver_events(ctx):
        # Stream-stream join + dedup + coalesce-chain imputation + interval
        # arithmetic — the order_reviews pattern (order_reviews.py:39-78).
        events = ctx.read_stream("stage_events")
        last_order = (
            ctx.read_stream("silver.silver_orders")
            .groupBy("o_custkey")
            .agg(F.max("o_orderdate").alias("last_order_date"))
        )
        return (
            events.join(last_order, events.user_id == last_order.o_custkey, "inner")
            .dropDuplicates(["event_id"])
            .select(
                "event_id",
                F.col("ts").cast("timestamp").alias("ts"),
                "user_id",
                F.coalesce(F.col("event_type"), F.lit("N/A")).alias("event_type"),
                F.col("value").cast("double").alias("value"),
                F.coalesce(
                    F.col("ts"), F.col("last_order_date") + F.expr("INTERVAL 1 DAY")
                ).alias("event_time_imputed"),
                (F.col("ts") + F.expr("INTERVAL 3 DAY")).alias("followup_deadline"),
            )
        )

    @p.table(
        name="silver.silver_nation",
        comment="Passthrough nation reference (geolocations-analog passthrough).",
        table_properties={"quality": "silver"},
    )
    def silver_nation(ctx):
        # Passthrough table, as silver_geolocations.py:3-11.
        return ctx.read("bronze.bronze_nation")

    @p.table(
        name="silver.silver_region",
        comment="Passthrough region reference (category-translation analog).",
        table_properties={"quality": "silver"},
    )
    def silver_region(ctx):
        return ctx.read("bronze.bronze_region")

    @p.table(
        name="silver.silver_documents",
        comment="Passthrough document corpus (ninth dataset of the landing "
        "factory; the LLM-pipeline operators read it).",
        table_properties={"quality": "silver"},
    )
    @p.expect_all({"doc_id_not_null": "doc_id IS NOT NULL"})
    def silver_documents(ctx):
        return ctx.read("bronze.bronze_documents")

    # ---------------- gold: SQL materialized views -------------------------
    _register_gold(p)
    return p


def pipeline_dataframe(spark, sf_dir: str, dataset: str):
    """Resolve ``dataset`` against the shared per-session medallion
    resolution (plans/registry.py ``shared_dataframe``)."""
    return shared_dataframe(spark, build_pipeline, sf_dir, dataset)


def _register_gold(p: Pipeline) -> None:
    """Register the gold layer from SQL DDL files, exactly as the reference
    ships its gold layer (scripts/gold/*.sql): each file is a
    ``CREATE OR REFRESH MATERIALIZED VIEW`` wrapper (constraints, CLUSTER BY,
    COMMENT, TBLPROPERTIES) over a SELECT with ``LIVE.`` references, parsed by
    plans/sqlmv.py and executed as a full-refresh Spark SQL dataset."""
    from .sqlmv import register_mv_file

    gold_dir = os.path.join(os.path.dirname(__file__), "gold_sql")
    for fname in (
        "dim_orders.sql",
        "dim_customers.sql",
        "dim_suppliers.sql",
        "dim_parts.sql",
        "dim_date.sql",
        "fact_lineitem.sql",
    ):
        register_mv_file(p, os.path.join(gold_dir, fname))
