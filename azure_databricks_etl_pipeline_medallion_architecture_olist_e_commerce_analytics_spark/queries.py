"""Operator-query catalog: every SURVEY.md §2 operator as a named query with
a DuckDB oracle.

Each entry pairs a PySpark callable ``(spark, sf_dir) -> DataFrame`` with an
ANSI-SQL string DuckDB runs over the same parquet tables (views
``region nation customer supplier part orders lineitem events documents
embeddings`` are pre-registered by the driver). Column names and (where
practical) types are aligned on both sides because the driver's compare
hashes values after sorting columns by name.

Determinism rules used throughout (so value hashes match bit-for-bit):
- Raw doubles pass through untouched (identical bits in both engines).
- SUM over doubles goes through DECIMAL(18,2) (exact, order-independent)
  and is cast back to DOUBLE.
- Engine-specific function spellings differ between Spark and DuckDB
  (sha2/sha256, datediff/date_diff, dayofweek base) — oracles use the DuckDB
  spelling of the SAME semantics.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators.textops import LANG_MARKERS
from .plans.medallion import SEGMENT_DISPLAY, pipeline_dataframe
from .sources.loader import load_table, spread_partitions
from .tpch import TPCH_ORACLES as _TPCH_ORACLES
from .tpch import TPCH_QUERIES as _TPCH_QUERIES
from .tuning import catalog_entry

_LANG_SCORE_SQL = ", ".join(
    f"len(list_intersect(toks, {words!r})) AS s_{lang}"
    for lang, words in LANG_MARKERS.items()
)

# DuckDB twin of operators/textops.lang_id_col's deterministic argmax
# (first language in declaration order whose score >= all later and > all
# earlier) — shared by every oracle that replicates the language-ID column.
_PRED_LANG_CASE_SQL = """CASE
               WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de AND s_en >= s_zh THEN 'en'
               WHEN s_es >= s_fr AND s_es >= s_de AND s_es >= s_zh AND s_es > s_en THEN 'es'
               WHEN s_fr >= s_de AND s_fr >= s_zh AND s_fr > s_en AND s_fr > s_es THEN 'fr'
               WHEN s_de >= s_zh AND s_de > s_en AND s_de > s_es AND s_de > s_fr THEN 'de'
               WHEN s_zh > s_en AND s_zh > s_es AND s_zh > s_fr AND s_zh > s_de THEN 'zh'
               ELSE 'en'
             END"""

# --------------------------------------------------------------------------
# DuckDB oracle fragments replicating the silver layer (shared by gold oracles)
# --------------------------------------------------------------------------

_SILVER_ORDERS = """
  SELECT o.*,
         CASE WHEN o_orderstatus = 'F'
              THEN o_orderdate + INTERVAL 18 MINUTE
              ELSE NULL END AS o_approved_at,
         o_orderpriority IN ('1-URGENT', '2-HIGH') AS o_is_urgent
  FROM orders o
"""

_SILVER_CUSTOMER = f"""
  SELECT c.*,
         COALESCE(CASE c_mktsegment
            {' '.join(f"WHEN '{k}' THEN '{v}'" for k, v in SEGMENT_DISPLAY.items())}
         END, c_mktsegment) AS c_segment_display,
         n.n_name AS c_nation_name
  FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
"""

_SILVER_SUPPLIER = """
  SELECT s.s_suppkey, UPPER(TRIM(s.s_name)) AS s_name, s.s_nationkey,
         s.s_acctbal, n.n_name AS s_nation_name
  FROM supplier s LEFT JOIN nation n ON s.s_nationkey = n.n_nationkey
"""

_SILVER_PART = """
  SELECT p.*, COALESCE(p_type, 'N/A') AS p_category,
         p_size * p_size * p_size AS p_volume_index,
         p_retailprice > 1500.0 AS p_is_premium
  FROM part p
"""

_SILVER_EVENTS = """
  SELECT e.event_id, e.ts, e.user_id,
         COALESCE(e.event_type, 'N/A') AS event_type,
         e.value,
         COALESCE(e.ts, lo.last_order_date + INTERVAL 1 DAY) AS event_time_imputed,
         e.ts + INTERVAL 3 DAY AS followup_deadline
  FROM events e
  INNER JOIN (
    SELECT o_custkey, MAX(o_orderdate) AS last_order_date
    FROM orders GROUP BY o_custkey
  ) lo ON e.user_id = lo.o_custkey
"""

_DIM_ORDERS = f"""
  SELECT sha256(CAST(o_orderkey AS VARCHAR)) AS order_key,
         o_orderkey AS order_natural_key,
         o_orderstatus, o_orderpriority, o_is_urgent,
         CAST(o_orderdate AS DATE) AS order_date,
         CASE WHEN o_approved_at IS NOT NULL
              THEN CAST(date_diff('day', CAST(o_orderdate AS DATE), CAST(o_approved_at AS DATE)) AS INTEGER)
              ELSE NULL END AS approval_lag_days,
         CASE WHEN o_orderstatus = 'F' THEN TRUE ELSE FALSE END AS is_fulfilled
  FROM ({_SILVER_ORDERS}) so
"""

_FIRST_EVENT = f"""
  SELECT user_id,
         ANY_VALUE(value) AS first_event_value,
         ANY_VALUE(event_type) AS first_event_type
  FROM (
    SELECT user_id, value, event_type,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
    FROM ({_SILVER_EVENTS}) se
  ) r WHERE rn = 1 GROUP BY user_id
"""

_DIM_CUSTOMERS = f"""
  SELECT sha256(CAST(c.c_custkey AS VARCHAR)) AS customer_key,
         c.c_custkey AS customer_natural_key,
         c.c_name, c.c_mktsegment, c.c_segment_display, c.c_nation_name,
         c.c_acctbal, fe.first_event_value, fe.first_event_type
  FROM ({_SILVER_CUSTOMER}) c
  LEFT JOIN ({_FIRST_EVENT}) fe ON c.c_custkey = fe.user_id
"""

_DIM_SUPPLIERS = f"""
  SELECT sha256(CAST(s.s_suppkey AS VARCHAR)) AS supplier_key,
         s.s_suppkey AS supplier_natural_key,
         s.s_name, s.s_nation_name, s.s_acctbal, fe.first_event_value
  FROM ({_SILVER_SUPPLIER}) s
  LEFT JOIN ({_FIRST_EVENT}) fe ON s.s_suppkey = fe.user_id
"""

_DIM_PARTS = f"""
  SELECT sha256(CAST(p_partkey AS VARCHAR)) AS part_key,
         p_partkey AS part_natural_key,
         p_name, p_brand, p_category, p_size, p_volume_index, p_is_premium,
         p_retailprice
  FROM ({_SILVER_PART}) sp
"""

_DIM_DATE = f"""
  WITH date_range AS (
    SELECT MIN(CAST(o_orderdate AS DATE)) AS min_date,
           MAX(CAST(COALESCE(o_approved_at, o_orderdate) AS DATE)) AS max_date
    FROM ({_SILVER_ORDERS}) so
  ),
  date_series AS (
    SELECT CAST(unnest(generate_series(min_date, max_date, INTERVAL 1 DAY)) AS DATE) AS date_day
    FROM date_range
  )
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY date_day) AS INTEGER) AS date_key,
         date_day AS date_actual,
         CAST(EXTRACT(YEAR FROM date_day) AS INTEGER) AS year,
         CAST(EXTRACT(QUARTER FROM date_day) AS INTEGER) AS quarter,
         CAST(EXTRACT(MONTH FROM date_day) AS INTEGER) AS month,
         CAST(EXTRACT(DAY FROM date_day) AS INTEGER) AS day,
         CAST(dayofweek(date_day) + 1 AS INTEGER) AS day_of_week,
         dayname(date_day) AS day_name,
         monthname(date_day) AS month_name,
         CAST(weekofyear(date_day) AS INTEGER) AS week_of_year,
         CASE WHEN dayofweek(date_day) + 1 IN (1, 7) THEN TRUE ELSE FALSE END AS is_weekend
  FROM date_series
"""

_FACT_LINEITEM = f"""
  WITH order_totals AS (
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_order_value,
           COUNT(DISTINCT l_returnflag) AS return_flag_count,
           MAX(l_quantity) AS max_item_quantity,
           string_agg(DISTINCT l_returnflag, ', ' ORDER BY l_returnflag) AS return_flags
    FROM lineitem GROUP BY l_orderkey
  ),
  event_summary AS (
    SELECT user_id, MAX(value) AS last_event_value, MAX(ts) AS last_event_ts
    FROM ({_SILVER_EVENTS}) se GROUP BY user_id
  )
  SELECT
    sha256(CAST(li.l_orderkey AS VARCHAR) || '|' || CAST(li.l_linenumber AS VARCHAR)) AS lineitem_key,
    do_.order_key,
    dc.customer_key,
    dp.part_key,
    ds.supplier_key,
    dd.date_key AS order_date_key,
    dd_ship.date_key AS ship_date_key,
    li.l_orderkey AS order_natural_key,
    li.l_linenumber,
    li.l_extendedprice AS item_price,
    li.l_extendedprice * li.l_discount AS item_discount_value,
    (COALESCE(li.l_extendedprice, 0) + COALESCE(li.l_tax, 0)) AS item_total_value,
    ot.total_order_value,
    ot.return_flag_count,
    ot.max_item_quantity,
    ot.return_flags,
    es.last_event_value,
    CASE WHEN es.last_event_value IS NOT NULL AND es.last_event_value >= 50 THEN TRUE ELSE FALSE END AS is_high_value_user,
    CASE WHEN li.l_shipdate IS NOT NULL
         THEN CAST(date_diff('day', CAST(o.o_orderdate AS DATE), CAST(li.l_shipdate AS DATE)) AS INTEGER)
         ELSE NULL END AS ship_lag_days,
    CASE WHEN o.o_approved_at IS NOT NULL
         THEN CAST(date_diff('day', CAST(o.o_orderdate AS DATE), CAST(o.o_approved_at AS DATE)) AS INTEGER)
         ELSE NULL END AS approval_lag_days,
    li.l_shipdate,
    o.o_orderdate AS order_purchase_timestamp
  FROM lineitem li
  INNER JOIN ({_SILVER_ORDERS}) o ON li.l_orderkey = o.o_orderkey
  INNER JOIN ({_SILVER_CUSTOMER}) c ON o.o_custkey = c.c_custkey
  INNER JOIN ({_DIM_ORDERS}) do_ ON o.o_orderkey = do_.order_natural_key
  INNER JOIN ({_DIM_CUSTOMERS}) dc ON c.c_custkey = dc.customer_natural_key
  INNER JOIN ({_DIM_PARTS}) dp ON li.l_partkey = dp.part_natural_key
  INNER JOIN ({_DIM_SUPPLIERS}) ds ON li.l_suppkey = ds.supplier_natural_key
  INNER JOIN ({_DIM_DATE}) dd ON CAST(o.o_orderdate AS DATE) = dd.date_actual
  LEFT JOIN ({_DIM_DATE}) dd_ship ON CAST(li.l_shipdate AS DATE) = dd_ship.date_actual
  LEFT JOIN order_totals ot ON li.l_orderkey = ot.l_orderkey
  LEFT JOIN event_summary es ON o.o_custkey = es.user_id
  WHERE li.l_orderkey IS NOT NULL
"""


# --------------------------------------------------------------------------
# Pipeline-dataset queries
# --------------------------------------------------------------------------

def _pipeline_q(dataset: str, drop: tuple[str, ...] = ()) -> Callable:
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = pipeline_dataframe(spark, sf_dir, dataset)
        return df.drop(*drop) if drop else df

    q.__name__ = f"q_{dataset.replace('.', '_')}"
    q.__doc__ = (
        f"Medallion pipeline dataset `{dataset}`: runs the full registry DAG "
        "(bronze ingestion -> silver typed/cleansed -> gold SQL MVs with "
        "expectations) and returns this dataset's DataFrame — the reference's "
        "DLT surface re-expressed on the engine's registry/medallion planner."
    )
    return q


def _cast_dim_date_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Medallion pipeline dataset `gold.dim_date`: the scale-safe calendar
    dimension (sequence()+explode generator, W2/W3 date_key windows) from
    the registry DAG; oracle casts its BIGINT date_key to INTEGER to match
    Spark's ROW_NUMBER int."""
    return pipeline_dataframe(spark, sf_dir, "gold.dim_date")


# --------------------------------------------------------------------------
# Corpus pipeline-dataset queries (plans/corpus.py — the LLM-data medallion)
# --------------------------------------------------------------------------

def _corpus_q(dataset: str, drop: tuple[str, ...] = ()) -> Callable:
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        from .plans.corpus import corpus_dataframe

        df = corpus_dataframe(spark, sf_dir, dataset)
        return df.drop(*drop) if drop else df

    q.__name__ = f"q_corpus_{dataset.rpartition('.')[2]}"
    q.__doc__ = (
        f"Corpus medallion pipeline dataset `{dataset}`: runs the engine's "
        "corpus registry DAG (bronze document ingest -> silver text-analysis "
        "columns with warn expectations -> gold dedup-survivor + mixture SQL "
        "MVs with LIVE. references) and returns this dataset's DataFrame — "
        "the DLT surface applied to LLM training-data prep."
    )
    return q


def q_corpus_survivors_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-immune aggregation twin of `gold.corpus_survivors` (the
    window_dedup / window_dedup_agg precedent applied to the corpus): the
    best-quality-doc-per-fingerprint decision as ONE `max_by` aggregate
    ordered by (quality_score, -doc_id) instead of a ROW_NUMBER window.

    Why it exists: a dup-heavy crawl is the REALISTIC hostile input for a
    dedup pipeline — at web scale one boilerplate page can be 50% of a
    shard. The MV's window formulation funnels that hot fingerprint group
    into one task; this twin's partial aggregation collapses it to one
    (best, count) pair per input partition BEFORE the exchange, so the hot
    key costs map-side-combine time, not a single-task timeline
    (tools/skew_probe.py::probe_corpus_hot_fingerprint measures both).
    Identical result contract — same oracle as the MV."""
    from .plans.corpus import corpus_dataframe

    silver = corpus_dataframe(spark, sf_dir, "silver.corpus_docs")
    grouped = silver.groupBy("fingerprint").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_copies"),
        F.expr(
            "max_by(named_struct("
            "'doc_id', doc_id, 'source', source,"
            " 'predicted_lang', predicted_lang,"
            " 'quality_score', quality_score, 'bpe_tokens', bpe_tokens),"
            " named_struct('q', quality_score, 'neg_id', -doc_id))"
        ).alias("best"),
    )
    return grouped.select(
        F.sha2(F.col("best.doc_id").cast("string"), 256).alias("doc_key"),
        F.col("best.doc_id").alias("doc_id"),
        F.col("best.source").alias("source"),
        F.col("best.predicted_lang").alias("predicted_lang"),
        F.col("best.quality_score").alias("quality_score"),
        F.col("best.bpe_tokens").alias("bpe_tokens"),
        "fingerprint",
        "n_copies",
    )


def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split (~90/5/5): the split key is the
    DEDUP FINGERPRINT, not the document id, so near-duplicate documents
    (same fingerprint group) land in the SAME split by construction — the
    classic eval-leakage bug (a val doc whose near-dup sits in train) is
    structurally impossible. Buckets come from the first two hex chars of
    md5(fingerprint) (256 deterministic buckets: <'e6' train ≈ 89.8%,
    <'f3' val ≈ 5.1%, else test), the engine-portable seed-free hashing
    family every sampling oracle here uses.

    Scale: a pure projection over the silver corpus — zero shuffles, no
    split table to join; any executor can compute any doc's split
    independently, which is what makes the assignment reproducible across
    reshards and incremental ingests (a re-crawled duplicate lands in its
    group's split forever)."""
    from .plans.corpus import corpus_dataframe

    silver = corpus_dataframe(spark, sf_dir, "silver.corpus_docs")
    b = F.substring(F.md5(F.col("fingerprint")), 1, 2)
    return silver.select(
        "doc_id",
        "source",
        "fingerprint",
        F.when(b < "e6", "train").when(b < "f3", "val").otherwise("test").alias("split"),
    )


def q_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus selection: greedily keep the highest-quality
    documents until a token budget (¼ of the corpus's BPE tokens) is
    spent — the standard "best data under a compute budget" curation step
    of an LLM training pipeline.

    The greedy order is a TOTAL order (quality_score DESC, doc_id ASC;
    quality is rounded to 6 dp so ties are real and the doc_id break
    matters), and the decision for each doc is `tokens_before < budget`
    where tokens_before is the EXCLUSIVE running token total in that
    order — the last selected doc may overrun the budget, matching the
    usual "stop after crossing" contract.

    Scale shape (100 TB): the running total is the two-phase distributed
    prefix scan (operators/prefix.py — per-partition partials to the
    driver, O(partitions) rows, broadcast offsets back), NOT a
    single-partition global window; the budget is a one-row aggregate
    broadcast-cross-joined. NULL quality (null text) orders first in BOTH
    engines (Spark ASC on the negated key = NULLS FIRST; oracle pins
    DESC NULLS FIRST)."""
    from .operators.prefix import with_running_total
    from .plans.corpus import corpus_dataframe

    silver = corpus_dataframe(spark, sf_dir, "silver.corpus_docs").select(
        "doc_id", "quality_score", F.col("bpe_tokens").alias("n_tokens")
    )
    ordered = silver.withColumn("__neg_q", -F.col("quality_score"))
    ranked = with_running_total(
        ordered, ["__neg_q", "doc_id"], "n_tokens", out="tokens_before"
    )
    # exact BIGINT division (div), not double-floor: past 2^53 total tokens
    # a double /4 rounds and the two engines could disagree on the budget —
    # the precision trap prefix.py's own comment warns about
    budget = silver.agg(
        F.expr("sum(cast(n_tokens as bigint)) div 4").cast("long").alias("budget")
    )
    return ranked.crossJoin(F.broadcast(budget)).select(
        "doc_id",
        "quality_score",
        "n_tokens",
        "tokens_before",
        "budget",
        (F.col("tokens_before") < F.col("budget")).alias("selected"),
    )


def q_corpus_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus pipeline's warn-level expectation metrics as a
    driver-checkable query: one row per REGISTRY-registered expectation on
    `silver.corpus_docs` with its violation count — the engine's own
    report (plans/expectations.py: a NULL predicate is a violation)."""
    from .plans.corpus import corpus_dataframe, corpus_silver_expectations
    from .plans.expectations import expectation_report

    silver = corpus_dataframe(spark, sf_dir, "silver.corpus_docs")
    return expectation_report(silver, corpus_silver_expectations())


# --------------------------------------------------------------------------
# Operator-level queries (SURVEY §2 ids in comments)
# --------------------------------------------------------------------------

def q_typed_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P2/F1: select with cast+rename, column drop."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.drop("l_tax")
        .select(
            F.col("l_orderkey").alias("order_key"),
            F.col("l_linenumber").cast("bigint").alias("line_no"),
            F.col("l_quantity").cast("double").alias("qty"),
            F.col("l_extendedprice").alias("price"),
            F.col("l_shipdate").cast("date").alias("ship_date"),
        )
    )


def q_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4-P9: where / between / isin / null / length / date-cast predicates."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey, "inner")
        .filter(F.col("l_orderkey").isNotNull())
        .filter(F.col("l_quantity").between(5, 45))
        .filter(F.col("l_returnflag").isin("A", "R"))
        .filter(F.length(F.col("o_orderpriority")) >= 5)
        .filter(F.to_date(F.col("l_shipdate")) >= F.to_date(F.col("o_orderdate")))
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            "l_returnflag",
            "o_orderpriority",
        )
    )


def q_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1-A4: groupBy sum / countDistinct / max / collect_set→sort→join."""
    # Single-row-group input ⇒ one scan task; the ObjectHashAggregate
    # (collect_set is object-based, no codegen) would run single-threaded.
    # Aggregate results are partitioning-independent, so spreading is safe.
    li = spread_partitions(load_table(spark, sf_dir, "lineitem"))
    # COUNT(DISTINCT) is derived from the collect_set this aggregate already
    # builds (size of the distinct set == count distinct, both null-skipping):
    # a standalone countDistinct would add Spark's distinct-rewrite (Expand +
    # extra aggregation phase) for a value the set aggregation has computed.
    # The standalone operator form stays exercised by skew.two_stage_distinct.
    g = li.groupBy("l_orderkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_order_value"),
        F.max("l_quantity").alias("max_item_quantity"),
        F.sort_array(F.collect_set("l_returnflag")).alias("_flags"),
    )
    return g.select(
        "l_orderkey",
        "total_order_value",
        F.size("_flags").cast("long").alias("return_flag_count"),
        "max_item_quantity",
        F.array_join("_flags", ", ").alias("return_flags"),
    )


def q_global_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: ungrouped global aggregate over date expressions."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.agg(
        F.min(F.to_date("o_orderdate")).alias("min_order_date"),
        F.max(F.to_date("o_orderdate")).alias("max_order_date"),
        F.count(F.lit(1)).alias("n_orders"),
    )


def q_window_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/P5/A5: row_number partitioned dedup, rn=1 filter, any_value."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy("user_id")
        .agg(
            F.any_value(F.col("value")).alias("first_value"),
            F.any_value(F.col("event_type")).alias("first_type"),
        )
    )


def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8: left-semi referential check (the reference's disabled expectation,
    Silver_order_items.py:36)."""
    orders = load_table(spark, sf_dir, "orders")
    big_items = load_table(spark, sf_dir, "lineitem").filter(F.col("l_extendedprice") > 50000)
    return orders.join(
        big_items, orders.o_orderkey == big_items.l_orderkey, "left_semi"
    ).select("o_orderkey", "o_orderstatus", "o_totalprice")


def q_scalar_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1-F13 sweep: cast, case-when, coalesce, interval, map-literal lookup,
    trim/upper/length/concat, sha2, datediff/date_add/extract, arithmetic,
    boolean flags, fillna, lit defaults."""
    from .functions.keys import surrogate_key
    from .functions.maps import mapping_column

    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        F.col("o_orderkey"),
        surrogate_key("o_orderkey", "o_custkey").alias("surrogate"),
        F.col("o_totalprice").cast("double").alias("total_price"),
        F.when(F.col("o_orderstatus") == "F", F.lit("FULFILLED"))
        .otherwise(F.lit("PENDING"))
        .alias("status_label"),
        F.coalesce(F.col("o_orderpriority"), F.lit("N/A")).alias("priority"),
        (F.col("o_orderdate") + F.expr("INTERVAL 18 MINUTES")).alias("approved_estimate"),
        mapping_column(
            {"1-URGENT": "urgent", "2-HIGH": "high"},
            F.col("o_orderpriority"),
            default=F.lit("normal"),
        ).alias("priority_class"),
        F.upper(F.trim(F.col("o_orderstatus"))).alias("status_upper"),
        F.length(F.col("o_orderpriority")).alias("priority_len"),
        F.concat(F.col("o_orderstatus"), F.lit("|"), F.col("o_orderpriority")).alias("status_concat"),
        F.datediff(F.current_date(), F.to_date("o_orderdate")).alias("age_days"),
        F.date_add(F.to_date("o_orderdate"), 30).alias("due_date"),
        F.year("o_orderdate").alias("order_year"),
        F.quarter("o_orderdate").alias("order_quarter"),
        (F.col("o_totalprice") * 0.1).alias("fee"),
        (F.col("o_totalprice") > 100000).alias("is_large"),
    ).drop("age_days")  # non-deterministic vs oracle (current_date); kept out


def q_date_expr_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4/J5: equi-join on derived date expression, inner + left."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    per_day = orders.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.count(F.lit(1)).alias("orders_that_day")
    )
    return (
        li.join(per_day, F.to_date(li.l_shipdate) == per_day.d, "left")
        .select(
            "l_orderkey",
            "l_linenumber",
            F.to_date("l_shipdate").alias("ship_day"),
            F.coalesce("orders_that_day", F.lit(0)).alias("orders_that_day"),
        )
    )


# --------------------------------------------------------------------------
# Extension operators: dedup / similarity / text analysis / multimodal
# --------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on the full text."""
    from .operators.dedup import exact_dedup

    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup(docs, ["text"], "doc_id")


def q_dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-fingerprint dedup (order-insensitive near-dup groups)."""
    from .operators.dedup import fingerprint_dedup

    docs = load_table(spark, sf_dir, "documents")
    return fingerprint_dedup(docs)


def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (bounded brute-force baseline)."""
    from .operators.dedup import jaccard_pairs

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return jaccard_pairs(docs, threshold=0.8)


def q_jaccard_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 3-shingle Jaccard ≥ 0.8 near-dup pairs over the FULL
    documents table via prefix filtering (round-10, operators/dedup.py::
    jaccard_prefix_join — the SSJoin/AllPairs/PPJoin family). Completes
    the dedup-family triangle: `dedup_jaccard` is brute force and
    therefore BOUNDED to doc_id < 300; `dedup_minhash_lsh` covers the
    full table but is probabilistic (banding can miss); this one covers
    the full table AND is provably complete: exact-duplicate sets first
    collapse to one representative per sorted-set fingerprint (the
    c-identical-docs cluster that would otherwise push p·c²/2 candidate
    rows through every prefix token costs ONE set), then candidates
    come from an equi-join of rare-first shingle PREFIXES
    (p = |d| − ⌈0.8·|d|⌉ + 1 elements per set), which the prefix-filter
    lemma guarantees loses no ≥-threshold pair, then exact integer-ppm
    verification and output-time pair re-expansion.

    3-SHINGLES, not unigrams, deliberately: this corpus's vocabulary is
    small, so unigram "rare" tokens are shared by thousands of docs and
    the lemma has nothing to bite on (measured at sf0.1: 3.8 M candidate
    set-pairs from 3 935 sets). Shingling restores the discriminative
    tail — 24 151 distinct shingles, 9 122 candidates, 420× fewer — and
    matches what production near-dup pipelines hash.

    The DuckDB oracle deliberately runs the NAIVE all-pairs form over
    the same shingle sets — a value match therefore pins the
    completeness claim itself (collapse + prefix filter), not just the
    arithmetic.

    Scale: every join/aggregate is keyed (fingerprint, shingle, or set
    id); candidate count is driven by RARE-shingle frequencies (hot
    shingles are exactly the ones prefixes exclude), and the per-set
    window never sorts globally. The 100-TB posture is
    LSH-for-recall-tuning vs prefix-join-for-exactness, same verify
    kernel."""
    from .operators.dedup import jaccard_prefix_join

    # spread: documents parquet arrives in O(1) partitions at small SF;
    # the per-row shingle construction is the dominant map cost and must
    # parallelize across cores
    docs = spread_partitions(load_table(spark, sf_dir, "documents"))
    return jaccard_prefix_join(docs, threshold_ppm=800000, ngram=3)


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → duplicate clusters → canonical-doc decision:
    connected components (large-star/small-star contraction) over the exact
    Jaccard pair graph, one keep/drop flag per document."""
    from .operators.dedup import jaccard_pairs
    from .operators.graph import dedup_clusters

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    pairs = jaccard_pairs(docs, threshold=0.8)
    return dedup_clusters(docs, pairs)


def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end of the dedup pipeline: quality-based canonical selection —
    within each duplicate cluster keep the LONGEST document (ties break on
    doc_id), emitting a keep/drop verdict per doc. Composition of the pair
    graph, connected components, and a per-component WindowGroupLimit-shaped
    rank — the decision an LLM corpus dedup actually ships."""
    from .operators.dedup import jaccard_pairs
    from .operators.graph import dedup_clusters

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    comp = dedup_clusters(docs, jaccard_pairs(docs, threshold=0.8))
    joined = comp.select("doc_id", "component_id").join(
        docs.select("doc_id", "n_chars"), "doc_id"
    )
    w = Window.partitionBy("component_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return joined.select(
        "doc_id",
        "component_id",
        "n_chars",
        (F.row_number().over(w) == 1).alias("keep"),
    )


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs — the full LSH output (signature →
    banding → exactly-once candidates → exact-Jaccard verify) is
    value-verified against a DuckDB oracle that replicates the md5
    signature byte-for-byte."""
    from .operators.dedup import minhash_lsh_pairs

    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, threshold=0.8)


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banded near-dup pairs — 60-bit md5 fingerprints a DuckDB
    oracle reproduces bit-for-bit, so banding + hamming verify are
    value-checked end-to-end."""
    from .operators.dedup import simhash_pairs

    docs = load_table(spark, sf_dir, "documents")
    return simhash_pairs(docs, max_hamming=8)


def q_text_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID, quality score, token counts, fingerprint in one pass."""
    from .operators.textops import analyze_documents

    # spread: the one-pass analysis projection is the dominant per-row
    # cost and the single-row-group scan would run it on one task
    docs = spread_partitions(load_table(spark, sf_dir, "documents"))
    return analyze_documents(docs)


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k neighbors (exact ANN baseline)."""
    from .operators.similarity import brute_force_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, k=3, query_filter=F.col("vec_id") < 100)


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor
    vector, the top-3 most-similar corpus vectors of a DIFFERENT label —
    the highest-loss negatives that make embedding models actually learn
    (random negatives are trivially separable; the hard ones carry the
    gradient). The label-inequality predicate rides the same bounded
    query-batch × corpus join as ann_topk (operators/similarity.py::
    brute_force_topk, ``exclude_group_col``), so the plan shape — and the
    100 TB story (ship the bounded anchor batch to the corpus, never
    self-join it) — is unchanged; NULL labels pair with nothing under SQL
    inequality semantics, identically in both engines.
    """
    from .operators.similarity import brute_force_topk

    emb = load_table(spark, sf_dir, "embeddings")
    out = brute_force_topk(
        emb,
        k=3,
        query_filter=F.col("vec_id") < 100,
        exclude_group_col="label",
    )
    return out.select(
        "query_id",
        F.col("query_group").cast("int").alias("query_label"),
        "nbr_id",
        F.col("nbr_group").cast("int").alias("nbr_label"),
        "cosine",
        "rank",
    )


def q_ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate top-k (scale path; no oracle — approximate)."""
    from .operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    out = ivf_topk(emb, k=3, n_centroids=16, query_filter=F.col("vec_id") < 100)
    return out.withColumn("rank", F.col("rank").cast("int"))


def q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN top-3 (ADC): 8 one-byte codes per corpus
    vector instead of 256 bytes of floats — the memory-bounded index tier
    for 100-TB embedding stores. Deterministic first-16 codebook seeding,
    literal-codebook projection encode (zero shuffles), per-query distance
    LUTs built once on the broadcast side, micro-integer ADC sums
    (order-independent), WindowGroupLimit top-k. Fully value-oracled."""
    from .operators.similarity import pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_topk(emb, k=3, query_filter=F.col("vec_id") < 100)


def q_pq_topk_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ADC top-3 with Lloyd-TRAINED codebooks (2 fixed k-means rounds per
    subspace) — the production upgrade of `pq_topk`'s first-16 seeding.
    Training is engine-exact: vectors quantize once to integer micro-units
    and every distance/centroid-sum/centroid-division is exact integer
    arithmetic (truncating div matches DuckDB `//` bit-for-bit), so the
    oracle replays the identical training trajectory. Per round: one
    zero-shuffle literal-codebook assignment pass + one map-side-combined
    128-group aggregate collected to the driver (O(codebook), never
    O(corpus))."""
    from .operators.similarity import pq_topk_trained

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_topk_trained(emb, k=3, rounds=2, query_filter=F.col("vec_id") < 100)


def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed ANN top-3 (round-7): coarse cells route each query
    to ~1/16 of the corpus, PQ/ADC scores the probed cell over 8 one-byte
    codes — the full production index tier, completing the catalog's ANN
    trade matrix (brute → IVF-flat → PQ-exhaustive → IVF-PQ). Broadcast
    assignment, zero-shuffle literal-codebook encode, equi-join on
    centroid_id against the bounded broadcast query side, micro-integer
    order-independent ADC, WindowGroupLimit top-k. Fully value-oracled
    (DuckDB replays assignment, codes, LUT terms, and ranks)."""
    from .operators.similarity import ivfpq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivfpq_topk(emb, k=3, query_filter=F.col("vec_id") < 100)


def q_ivf_nprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-3 with nprobe=4 multi-cell probing (round-8): the recall
    knob a production IVF index turns — each query probes its 4 nearest
    coarse cells instead of 1, candidates grow ~4/16 of the corpus, recall
    climbs monotonically toward exact (nprobe=n_centroids IS brute force —
    pinned bitwise by the equivalence unit). The corpus stays
    single-assigned so a candidate pair can never duplicate; ONE ranked
    assignment pass serves both sides; the candidate join stays an
    equi-join on centroid_id. Fully value-oracled: DuckDB replays the
    deterministic first-16 centroids, the per-query cell ranking, and the
    4-cell probe list."""
    from .operators.similarity import ivf_topk

    emb = load_table(spark, sf_dir, "embeddings")
    out = ivf_topk(
        emb, k=3, n_centroids=16, nprobe=4, query_filter=F.col("vec_id") < 100
    )
    return out.withColumn("rank", F.col("rank").cast("int"))


def q_ivfpq_nprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-3 with nprobe=4 (round-8): the composed production index
    with its recall knob turned — 4 probed cells × PQ/ADC integer scoring
    over 8 one-byte codes. recall(IVF-PQ) ≈ recall(IVF@nprobe) ·
    recall(PQ); nprobe=n_centroids collapses the IVF tier and must equal
    plain pq_topk (unit-pinned). Same 100-TB shape as ivfpq_topk: broadcast
    assignment, zero-shuffle literal-codebook encode, equi-join on
    centroid_id, order-independent micro-integer ADC, WindowGroupLimit."""
    from .operators.similarity import ivfpq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivfpq_topk(emb, k=3, nprobe=4, query_filter=F.col("vec_id") < 100)


def q_ivfpq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESIDUAL IVF-PQ top-3 at nprobe=4 (round-9): the true FAISS IVF-PQ
    formulation — each corpus vector is PQ-coded as the residual
    ``v − centroid(cell)`` rather than the raw vector, so the same 8×16
    code budget quantizes the much smaller residual ball and ADC error
    drops (planted-cluster unit: recall@3 0.61 vs 0.49 for vector coding).
    The extra cost over ivfpq_topk is exactly the residual formulation's
    defining term: the query's distance LUT is PER PROBED CELL (its
    residual depends on the cell), built on the bounded broadcast query
    side and riding the same equi-join on centroid_id.

    Engine-exact: vectors and centroids quantize once to integer
    micro-units (floor(1e6·x)); residual subtraction, per-subspace L2²,
    codebook argmin, and ADC all run in BIGINT, so DuckDB replays the
    whole trajectory bit-for-bit — centroids = first 16 valid vectors by
    id, codebook = the engine residuals of the NEXT 16 vectors (disjoint
    from the centroid seeds; seeding from the centroids themselves yields
    the all-zero codebook the round-8 ADVICE flagged). 100-TB shape:
    broadcast assignment, O(n_codes) driver rows for the codebook,
    zero-shuffle literal-codebook corpus encode, WindowGroupLimit top-k."""
    from .operators.similarity import ivfpq_residual_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivfpq_residual_topk(
        emb, k=3, nprobe=4, query_filter=F.col("vec_id") < 100
    )


def q_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index-quality evaluation as a first-class operator (round-8,
    WIDENED round-9 to the full index matrix): recall@3 of the IVF-flat,
    vector-coded IVF-PQ, and RESIDUAL IVF-PQ tiers at nprobe ∈ {1, 2, 4}
    against the exact brute-force ground truth — the production tuning
    question (what does quantization cost at each probe budget, and what
    does residual coding buy back) computed IN-ENGINE so index
    regressions surface in the data pipeline itself.

    Output: one row per (index_tier, nprobe) — (index_tier, nprobe,
    n_exact, n_hits, recall_ppm), recall in exact integer ppm (hits·1e6
    div exact-pair count; both engines truncate non-negative division
    identically). The IVF tier is monotone in nprobe by construction
    (candidate cells only grow; units pin full-probe == exact); the PQ
    tiers are monotone vs their exhaustive-ADC ground truth (unit-pinned)
    and, on clustered corpora, residual ≥ vector-coded at each nprobe
    (the planted-cluster unit).

    MATRIX GEOMETRY (why no cell saturates): every tier indexes with
    ``n_centroids=16`` while the sweep stops at nprobe=4, so even the
    widest cell probes only 1/4 of the cells and its recall stays
    strictly informative (observed at sf0.01: IVF climbs 316666 →
    396666 → 563333 ppm across the sweep — a real tuning curve, not a
    pinned 10⁶ endpoint). nprobe=n_centroids is deliberately EXCLUDED
    from the sweep: at full probe the IVF tier is bitwise brute force
    (that identity is already unit-pinned on the operator), so the cell
    would measure the harness, not the index. Because 16 cells ≫ the
    4-probe cap at EVERY sf, the curve keeps this shape as the corpus
    grows — no per-SF n_centroids scaling is needed for the eval to
    stay informative.

    Shape: the exact top-3 pair set is one bounded brute-force pass
    (localCheckpointed — reused by the total and the hit join); each tier
    runs ONE index build via the operators' nprobes sweep mode (scoring
    once at max nprobe, per-tier WindowGroupLimit re-rank over the
    pre-scored candidates — bitwise equal to the single-nprobe calls,
    unit-pinned); the hit check is a broadcast-sized join on
    (query_id, nbr_id). An eval harness at 100 TB runs exactly this on a
    sampled query set — the ground-truth side is bounded by the sample,
    never the corpus."""
    from .operators.similarity import (
        brute_force_topk,
        ivf_topk,
        ivfpq_residual_topk,
        ivfpq_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    qf = F.col("vec_id") < 100
    sweep = (1, 2, 4)
    # The ground truth and the three index tiers are INDEPENDENT until the
    # final union, but each build runs eager driver jobs (seed collects,
    # the sweep's scored-candidate localCheckpoint, the ground-truth
    # checkpoint) — serially they dominated the query (measured ~6.6 s of
    # construction vs ~1.5 s execution at sf0.1). Submit them from a small
    # thread pool so the four builds' jobs back-fill each other's idle
    # cores (optimization guide §2.6 — Spark's scheduler runs concurrent
    # jobs fine; each build is deterministic and shares no state).
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    def _exact():
        return (
            brute_force_topk(emb, k=3, query_filter=qf)
            .select("query_id", "nbr_id")
            .localCheckpoint()
        )

    # inheritable_thread_target copies the CALLER's JVM thread-local
    # properties (job group/description, cancellation scope) onto each
    # worker invocation, so a driver-side cancel or bench label set on the
    # main thread reaches the four concurrent builds (plain pool threads
    # would not inherit them).
    inherit = inheritable_thread_target(spark)
    with ThreadPoolExecutor(max_workers=4) as pool:
        f_exact = pool.submit(inherit(_exact))
        f_ivf = pool.submit(
            inherit(ivf_topk), emb, k=3, n_centroids=16, nprobes=sweep, query_filter=qf
        )
        f_pq = pool.submit(inherit(ivfpq_topk), emb, k=3, nprobes=sweep, query_filter=qf)
        f_res = pool.submit(
            inherit(ivfpq_residual_topk), emb, k=3, nprobes=sweep, query_filter=qf
        )
        exact = f_exact.result()
        tiers = [
            ("ivf", f_ivf.result()),
            ("ivfpq", f_pq.result()),
            ("ivfpq_residual", f_res.result()),
        ]
    tot = exact.agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    parts = [
        t.select(
            F.lit(name).alias("index_tier"), "nprobe", "query_id", "nbr_id"
        )
        for name, t in tiers
    ]
    approx = parts[0].unionByName(parts[1]).unionByName(parts[2])
    # the ground-truth pair set is bounded by the query sample (~k·|sample|
    # rows) — broadcast it so the hit check never sorts the approx side
    hit = F.broadcast(exact.withColumn("hit", F.lit(1)))
    return (
        approx.join(hit, ["query_id", "nbr_id"], "left")
        .crossJoin(F.broadcast(tot))
        .groupBy("index_tier", "nprobe", "n_exact")
        .agg(
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("bigint").alias("n_hits")
        )
        .select(
            "index_tier",
            "nprobe",
            "n_exact",
            "n_hits",
            F.expr("CAST((n_hits * 1000000) div n_exact AS BIGINT)").alias(
                "recall_ppm"
            ),
        )
    )


def q_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair mining (round-9) — the RLHF/DPO data-prep
    primitive: within each (lang, source) stratum, pair the
    highest-quality document (the "chosen" response) with the
    lowest-quality one (the "rejected") and report the quality margin.
    Real pipelines mine millions of such pairs from scored candidate
    pools; the quality signal here is lexical diversity in exact integer
    ppm (1e6·distinct_tokens div n_tokens — the token_diversity metric),
    so the whole selection is deterministic and value-oracled.

    Scale shape: ONE map-side-combined aggregate per stratum — chosen is
    ``max(struct(score, -doc_id))``, rejected ``min(struct(score,
    -doc_id))`` (aggregate argmax/argmin, NOT a window: a 100 TB stratum
    combines map-side instead of funneling through one window task; ties
    break to the smallest doc_id for chosen, largest for rejected, so
    2-doc equal-score strata still yield distinct pair members). Strata
    with < 2 docs drop — no pair exists. Zero Python, one shuffle.
    """
    docs = spread_partitions(load_table(spark, sf_dir, "documents"))
    scored = docs.select(
        "doc_id",
        "lang",
        "source",
        # the distinct-token count widens to BIGINT BEFORE the 1e6
        # product: size() is INT, and 1e6·size overflows 32 bits at
        # ≥2148 distinct tokens — ANSI Spark throws, non-ANSI silently
        # wraps while the oracle's BIGINT len() stays exact
        F.expr(
            "CAST((1000000 * cast(size(array_distinct(split(trim(coalesce("
            "text, '')), '\\\\s+'))) as bigint)) div"
            " size(split(trim(coalesce(text, '')), '\\\\s+')) AS BIGINT)"
        ).alias("score_ppm"),
    )
    agg = scored.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.max(
            F.struct(F.col("score_ppm").alias("s"), (-F.col("doc_id")).alias("ni"))
        ).alias("__c"),
        F.min(
            F.struct(F.col("score_ppm").alias("s"), (-F.col("doc_id")).alias("ni"))
        ).alias("__r"),
    )
    return agg.filter(F.col("n_docs") >= 2).select(
        "lang",
        "source",
        "n_docs",
        (-F.col("__c.ni")).cast("bigint").alias("chosen_doc_id"),
        (-F.col("__r.ni")).cast("bigint").alias("rejected_doc_id"),
        F.col("__c.s").alias("chosen_ppm"),
        F.col("__r.s").alias("rejected_ppm"),
        (F.col("__c.s") - F.col("__r.s")).cast("bigint").alias("margin_ppm"),
    )


def q_bloom_prune_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter join pruning (round-9, operators/bloom.py) — the
    runtime-filter semi-join every 100-TB engine leans on (and Spark
    injects itself via runtimeFilter.bloomFilter): build a 8192-bit / 2-
    hash bloom over the selective build side (suppliers of nation 7),
    embed it as ONE int64-word array literal in the probe scan's filter
    expression, and tag every lineitem row with the verdict — pure JVM
    bit arithmetic in whole-stage codegen, zero Python, zero probe-side
    shuffle before the aggregate.

    Output is the pruning TELEMETRY per returnflag: probe rows, bloom
    passes, true matches (exact broadcast semi-check), false positives,
    and the FP share of passed rows in integer ppm. The no-false-negative
    contract is value-pinned: n_false_pos = n_pass − n_true only equals
    the oracle's count if the bloom admitted every true match. The hash
    family is md5 because DuckDB replays it exactly (``('0x' ||
    substr(md5(k || '#i'), 1, 15))::BIGINT % 8192``), so the oracle
    recomputes every bit.

    Scale: build aggregates to ≤ m distinct positions map-side and
    collects BOUNDED BY m (codebook discipline); probe cost is two md5s
    + two bit tests per row at the scan. At sf1 the 400-supplier build
    half-fills the filter and real false positives appear in the
    telemetry — the FP-vs-bits trade measured in-engine.
    """
    from .operators.bloom import bloom_build_positions, bloom_prune

    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    build = supp.filter(F.col("s_nationkey") == 7).select("s_suppkey")
    # the returned BloomFilter carries (m_bits, k_hashes) so the probe
    # can't drift from the build parameters
    bloom = bloom_build_positions(build, "s_suppkey", m_bits=8192, k_hashes=2)
    probe = li.select("l_returnflag", "l_suppkey")
    tagged = bloom_prune(probe, bloom, "l_suppkey")
    truth = F.broadcast(
        build.select(F.col("s_suppkey").alias("__true_k")).distinct()
    )
    return (
        tagged.join(truth, tagged["l_suppkey"] == truth["__true_k"], "left")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_probe"),
            F.sum(F.when(F.col("passes_bloom"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_pass_bloom"),
            F.sum(F.when(F.col("__true_k").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_true"),
        )
        .select(
            "l_returnflag",
            "n_probe",
            "n_pass_bloom",
            "n_true",
            (F.col("n_pass_bloom") - F.col("n_true"))
            .cast("bigint")
            .alias("n_false_pos"),
            F.expr(
                "CAST(CASE WHEN n_pass_bloom = 0 THEN 0"
                " ELSE (1000000 * (n_pass_bloom - n_true)) div n_pass_bloom"
                " END AS BIGINT)"
            ).alias("fp_ppm"),
        )
    )


def q_keyword_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004, round-9) —
    the text×graph COMPOSITION the catalog's families were built for:
    tokenize the corpus, build the word co-occurrence graph (adjacent
    content words, length ≥ 4, weight = corpus-wide adjacency count,
    symmetrized), run integer-arithmetic PageRank over the WORD graph
    (operators/graph.py::pagerank_integer, weighted path, 3 rounds), and
    emit the top-25 keywords by rank — the unsupervised keyword/topic
    surfacing step of corpus curation.

    Deterministic end-to-end: integer edge weights, floor-division rank
    updates, ties broken (rank DESC, word ASC) — the oracle unrolls the
    same 3 weighted rounds as CTEs over STRING node keys (PageRank
    doesn't care that nodes are words, and neither does SQL).

    Scale: adjacency explode is O(tokens) with map-side-combined weight
    aggregation; the word graph is tiny relative to the corpus (Heaps'
    law — vocabulary grows sublinearly), so per-round joins run against
    an O(distinct-bigrams) checkpointed edge list and the final top-25
    is a WindowGroupLimit over O(vocabulary) rows, not O(corpus).
    """
    from .operators.graph import pagerank_integer

    docs = spread_partitions(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        F.expr(
            "filter(split(lower(trim(coalesce(text, ''))), '\\\\s+'),"
            " t -> length(t) >= 4)"
        ).alias("w")
    ).filter(F.size("w") >= 2)
    pairs = (
        toks.select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 1),"
                    " i -> struct(element_at(w, i) as a,"
                    "             element_at(w, i + 1) as b))"
                )
            ).alias("p")
        )
        .select("p.a", "p.b")
        .filter(F.col("a") != F.col("b"))
    )
    wpairs = (
        pairs.groupBy(F.col("a").alias("src"), F.col("b").alias("dst"))
        .agg(F.count(F.lit(1)).alias("w"))
        .localCheckpoint()
    )
    edges = wpairs.union(
        wpairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    )
    ranks = pagerank_integer(
        edges, iterations=3, weight_col="w", materialized=True, symmetric=True
    )
    top = ranks.select(
        F.col("node").alias("keyword"),
        F.col("rank").alias("rank_micro"),
        F.row_number()
        .over(Window.orderBy(F.col("rank").desc(), F.col("node").asc()))
        .alias("rn"),
    ).filter(F.col("rn") <= 25)
    return top


def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication profile (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" signal,
    windowed form): per document, how many of its rolling 8-token windows
    also occur ANYWHERE else in the corpus (including repeats inside one
    doc). Corpora carry boilerplate and near-copies that fingerprint
    dedup misses when the rest of the doc differs; span-level duplication
    is the curation signal that catches it (docs above a dup-ppm
    threshold get span-trimmed or dropped).

    Shape: one tokenize pass → rolling-window explode (sequence/slice —
    zero Python), ONE map-side-combined count per distinct window string,
    one equi-join back on the window, one per-doc aggregate. At 100 TB
    the window strings hash to int64 (xxhash64) before the shuffle to cut
    exchange bytes ~8× — :func:`q_substring_dedup_hashed`; this form keeps
    the strings, which DuckDB replays directly. Output is O(docs); dup
    share in exact integer ppm."""
    docs = spread_partitions(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("w")
    ).filter(F.size("w") >= 8)
    grams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 7),"
                " i -> array_join(slice(w, i, 8), ' '))"
            )
        ).alias("gram"),
    ).localCheckpoint()
    counts = grams.groupBy("gram").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total")
    )
    return (
        grams.join(counts, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_windows"),
            F.sum(F.when(F.col("n_total") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_windows"),
        )
        .select(
            "doc_id",
            "n_windows",
            "n_dup_windows",
            F.expr(
                "CAST((n_dup_windows * 1000000) div n_windows AS BIGINT)"
            ).alias("dup_ppm"),
        )
    )


def q_substring_dedup_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION twin of :func:`q_substring_dedup` (round-9): the
    rolling 8-token windows hash to int64 via ``xxhash64`` BEFORE the
    explode and shuffle, so the exchange carries 8 bytes per window
    instead of the ~60-byte gram string (~8× fewer exchange bytes — the
    dominant linear cost of the string form, whose 10× ratio sits at 3.2×
    in the text explode+join band). DuckDB cannot replay xxhash64, but
    the OUTPUT does not depend on it —
    (doc_id, n_windows, n_dup_windows, dup_ppm) equals the string form
    exactly unless two distinct grams collide at 64 bits (probability
    ~n²/2⁶⁵; empirically zero on the testdata, pinned by a unit asserting
    bitwise output equality with substring_dedup), so the string form's
    DuckDB oracle value-oracles this twin too.

    Plan shape is byte-identical to the string form — one tokenize pass,
    rolling-window hash+explode (zero Python), ONE map-side-combined
    count per distinct hash, equi-join back, per-doc aggregate — only the
    join/shuffle key type narrows to BIGINT."""
    docs = spread_partitions(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("w")
    ).filter(F.size("w") >= 8)
    grams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 7),"
                " i -> xxhash64(array_join(slice(w, i, 8), ' ')))"
            )
        ).alias("gram_h"),
    ).localCheckpoint()
    counts = grams.groupBy("gram_h").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total")
    )
    return (
        grams.join(counts, "gram_h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_windows"),
            F.sum(F.when(F.col("n_total") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_windows"),
        )
        .select(
            "doc_id",
            "n_windows",
            "n_dup_windows",
            F.expr(
                "CAST((n_dup_windows * 1000000) div n_windows AS BIGINT)"
            ).alias("dup_ppm"),
        )
    )


def q_substring_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ACTION step of exact-substring dedup (Lee et al. 2022's actual
    output): rebuild each document with every corpus-duplicated 8-token
    span removed. A token is dropped when ANY of the rolling 8-gram
    windows covering it occurs ≥2 times in the corpus; the trimmed text
    is the surviving tokens re-joined — boilerplate and copied passages
    vanish while unique prose stays.

    Shape: reuses substring_dedup's window counts (one tokenize pass, one
    map-side-combined count, one equi-join back); duplicated windows then
    explode to their 8 covered token positions — output volume is
    O(dup windows · 8), bounded by the dup share, not the corpus — and a
    per-doc collect_set of positions drives a JVM-side filter-by-index
    rebuild (no Python anywhere). Deterministic: position membership is
    order-independent, the rebuild preserves original token order."""
    docs = spread_partitions(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("w")
    ).filter(F.size("w") >= 8).localCheckpoint()
    grams = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                "transform(sequence(1, size(w) - 7),"
                " i -> array_join(slice(w, i, 8), ' '))"
            )
        ).alias("win0", "gram"),
    )
    counts = grams.groupBy("gram").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total")
    )
    dup_pos = (
        grams.join(counts.filter(F.col("n_total") >= 2), "gram")
        .select(
            "doc_id",
            F.explode(F.expr("sequence(win0 + 1, win0 + 8)")).alias("pos"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("pos").alias("dup_pos"))
    )
    return (
        toks.join(dup_pos, "doc_id", "left")
        .select(
            "doc_id",
            F.size("w").cast("int").alias("n_tokens"),
            F.coalesce(F.size("dup_pos"), F.lit(0)).cast("int").alias("n_dup_tokens"),
            F.when(
                F.col("dup_pos").isNull(), F.array_join(F.col("w"), " ")
            )
            .otherwise(
                F.expr(
                    "array_join(transform(filter(sequence(1, size(w)),"
                    " i -> NOT array_contains(dup_pos, i)),"
                    " i -> element_at(w, i)), ' ')"
                )
            )
            .alias("trimmed_text"),
        )
    )


def q_mmr_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance selection (Carbonell & Goldstein 1998):
    pick 5 corpus vectors that are RELEVANT to the query (vec_id 0's
    embedding) yet mutually DIVERSE — the reranking step between retrieval
    and context assembly in every RAG/eval pipeline, and the diversity
    sampler for training-data curation. λ = 0.5, so the round-r objective
    argmax(0.5·sim(q,d) − 0.5·max_{s∈S} sim(d,s)) reduces to
    argmax(rel − redundancy) in integer micro-units.

    Determinism/exactness: cosines floor to 1e-6 micro BIGINTs (the
    bm25/PQ idiom — both engines run the identical IEEE sequence), the
    per-round argmax is max(struct(score, -vec_id)) — ties to the
    smallest id — and the oracle replays the same 5 unrolled rounds as
    chained CTEs (the pagerank/LPA fixed-round discipline).

    Scale shape: 5 fixed rounds; each is ONE map-side-combined argmax
    aggregate over the corpus with the ≤4 already-selected vectors
    shipped as literals (O(1) driver rows per round — the documented
    bpe_merges driver-loop caveat applies). No pairwise corpus join
    anywhere: redundancy is greatest() over ≤4 literal-vector folds, so
    the pass stays O(corpus · k · d) with zero shuffles beyond the
    argmax combine."""
    from .operators.similarity import (
        _valid_vectors,
        norm_col,
        sql_array_lit,
    )

    emb = _valid_vectors(load_table(spark, sf_dir, "embeddings"), "embedding", 64)
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").collect()
    if not qrow:
        return spark.createDataFrame(
            [],
            "sel_rank int, vec_id long, relevance_micro bigint, "
            "redundancy_micro bigint, score_micro bigint",
        )
    pool = spread_partitions(
        emb.filter(F.col("vec_id") != 0).select(
            "vec_id",
            F.col("embedding").alias("v"),
            norm_col(F.col("embedding")).alias("nv"),
        )
    ).localCheckpoint()
    import math

    from .operators.similarity import _sql_scalar_lit

    # math.sqrt IS the IEEE sqrt (x ** 0.5 would be libm pow, not
    # guaranteed identical); the left-to-right sum matches norm_col's
    # fold order and DuckDB's list_sum
    qn = math.sqrt(sum(float(x) * float(x) for x in qrow[0][0]))

    # Round-11: each round's relevance/redundancy folds are generated as
    # ONE SQL string per term (the ivf_assign_ranked discipline) — the
    # Column-built zip_with/aggregate lambdas cost ~0.03-0.05 s of py4j
    # round-trips EACH, ~0.9 s of pure driver time across the 5 rounds'
    # up-to-4-term redundancy expressions. The SQL spelling is the exact
    # expression tree dot_col builds, so every double is bit-identical.
    def _score_sql(vec: list[float], norm: float) -> str:
        return (
            "CAST(FLOOR(1000000.0D * ("
            f"aggregate(zip_with(`v`, {sql_array_lit(vec)},"
            " (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D,"
            " (acc, v) -> acc + v)"
            f" / (`nv` * {_sql_scalar_lit(norm, 'double')}))) AS BIGINT)"
        )

    rel = F.expr(_score_sql([float(x) for x in qrow[0][0]], qn))
    scored = pool.select("vec_id", "v", "nv", rel.alias("rel_micro"))

    selected: list[tuple[int, int, list[float], int, int]] = []
    sel_ids: list[int] = []
    sel_score_sqls: list[str] = []
    for rank in range(1, 6):
        cand = scored.filter(~F.col("vec_id").isin(sel_ids) if sel_ids else F.lit(True))
        if len(sel_score_sqls) > 1:
            red = F.expr("greatest(" + ", ".join(sel_score_sqls) + ")")
        elif sel_score_sqls:
            red = F.expr(sel_score_sqls[0])
        else:
            red = F.lit(0).cast("long")
        pick = (
            cand.select(
                "vec_id", "v", "rel_micro", red.alias("red_micro")
            )
            .agg(
                F.max(
                    F.struct(
                        (F.col("rel_micro") - F.col("red_micro")).alias("score"),
                        (-F.col("vec_id")).alias("nid"),
                        F.col("rel_micro").alias("rel"),
                        F.col("red_micro").alias("red"),
                        F.col("v").alias("vec"),
                    )
                ).alias("m")
            )
            .select("m.*")
            .collect()[0]
        )
        if pick["nid"] is None:  # pool exhausted before 5 picks
            break
        vid = -int(pick["nid"])
        vec = [float(x) for x in pick["vec"]]
        selected.append(
            (rank, vid, int(pick["rel"]), int(pick["red"]), int(pick["score"]))
        )
        sel_ids.append(vid)
        sel_score_sqls.append(_score_sql(vec, math.sqrt(sum(x * x for x in vec))))
    return spark.createDataFrame(
        [(r, i, rl, rd, sc) for r, i, rl, rd, sc in selected],
        "sel_rank int, vec_id long, relevance_micro bigint, "
        "redundancy_micro bigint, score_micro bigint",
    )


def q_embedding_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (threshold tuned to the synthetic
    corpus — random vectors top out near 0.44 cosine)."""
    from .operators.similarity import embedding_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_dup_pairs(emb, threshold=0.4, query_filter=F.col("vec_id") < 200)


def q_embedding_dup_pairs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH bucketed near-dup pairs (scale path; no oracle — approximate
    recall, exact precision). 4 bits × 24 bands puts the S-curve low enough
    for the corpus's 0.4-threshold regime (recall ≈ 0.98 at s = 0.4)."""
    from .operators.similarity import srp_lsh_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return srp_lsh_dup_pairs(
        emb,
        threshold=0.4,
        bits_per_band=4,
        num_bands=24,
        query_filter=F.col("vec_id") < 200,
    )


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL mixed-format image decode (round-7 BMP + round-8 PNG): even
    doc ids get a genuine 24-bit BMP, odd ids a real 8-bit RGB PNG
    (stdlib-zlib stored-deflate, filter-0 rows) — both carrying the same
    deterministic position/channel-dependent pixels — then the decode
    kernel routes each payload by MAGIC BYTES to the vendored numpy BMP
    parser or the vendored PNG parser (chunk walk, inflate, full
    unfiltering). No stub values and no PIL: the Spark path round-trips
    true bytes through mapInPandas Arrow batches; the DuckDB oracle
    recomputes both containers' output from closed form — the shared
    pixel-sum formula plus per-format byte lengths (BMP stride/padding
    vs PNG's 68 + h*(3w+1) stored-block size) — so a parser that
    miscounts stride, padding, vertical flip, scanline filters, or chunk
    framing fails the value match."""
    from .operators.multimodal import attach_media_payload, decode_media_meta

    docs = load_table(spark, sf_dir, "documents")
    payloads = attach_media_payload(docs, formats=("image/bmp", "image/png"))
    return decode_media_meta(payloads).select(
        "doc_id", "n_bytes", "format", "width", "height", "channels", "pixel_sum"
    )


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling fan-out over binary payloads (explode of a
    sequence of stride offsets, no Python worker)."""
    from .operators.multimodal import attach_binary_payload, sample_frames

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return sample_frames(attach_binary_payload(docs))


def q_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode (round-9): every doc gets a genuine RIFF/WAVE
    16-bit PCM payload (deterministic id-dependent samples, canonical
    44-byte header) and the vendored pure-stdlib chunk walker parses it
    back — sample_rate, channels, n_samples, and the exact Σ sample²
    energy as int64. A second REAL modality beside the BMP/PNG images:
    true bytes through mapInPandas Arrow batches, no torchaudio, no
    stubs. The DuckDB oracle recomputes everything from closed form
    (n_bytes = 44 + n·ch·2; energy over the same integer sample formula),
    so a parser that miscounts the data offset, chunk framing, RIFF
    padding, or sample width fails the value match. Lossy audio
    (MP3/AAC) has no vendored codec, like JPEG for images."""
    from .operators.multimodal import attach_media_payload, decode_media_meta

    docs = load_table(spark, sf_dir, "documents")
    payloads = attach_media_payload(docs, formats=("audio/wav",))
    return decode_media_meta(payloads).select(
        "doc_id", "n_bytes", "sample_rate", "channels", "n_samples", "energy"
    )


def q_audio_window_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed audio feature extraction (round-9) — the audio analogue
    of frame sampling: per payload, the exact energy (Σ sample², int64)
    of every consecutive 128-frame window of the interleaved PCM stream;
    the final partial window keeps its true count. One numpy reduceat per
    payload inside the Arrow batch — never per-sample Python; fan-out is
    O(n_samples/window) rows per doc, bounded by payload length. The
    oracle replays each window's sum from the closed-form sample
    formula, so window boundary arithmetic (offsets, partial tails) is
    value-pinned."""
    from .operators.audio import audio_window_energy
    from .operators.multimodal import attach_media_payload

    docs = load_table(spark, sf_dir, "documents")
    return audio_window_energy(
        attach_media_payload(docs, formats=("audio/wav",)), window=128
    )


def q_video_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video decode (round-9): every doc gets a genuine Y4M
    (YUV4MPEG2) stream — ASCII parameter line + FRAME-delimited raw C420
    planes, the codec-free video interchange container — and the vendored
    pure-stdlib parser re-derives width/height/frame-rate/frame-count
    plus the exact total luma sum. With BMP/PNG images and WAV audio this
    completes the REAL modality triple; compressed video (H.264/VP9)
    has no vendored codec. The oracle
    rebuilds the variable-length header STRING to count its bytes and
    replays the per-frame luma formula, so header tokenization, frame
    framing, and plane-size arithmetic are all value-pinned."""
    from .operators.multimodal import attach_media_payload, decode_media_meta

    docs = load_table(spark, sf_dir, "documents")
    payloads = attach_media_payload(docs, formats=("video/y4m",))
    return decode_media_meta(payloads).select(
        "doc_id", "n_bytes", "width", "height", "fps_num", "fps_den",
        "n_frames", "luma_sum",
    )


def q_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE video frame sampling (round-9) — the vision-training curation
    primitive: extract every 2nd frame's exact luma sum and truncating
    integer luma mean from the raw C420 planes. One numpy pass per
    sampled frame inside the Arrow batch; fan-out O(n_frames/stride)
    rows per payload; corrupt payloads emit zero rows. The oracle
    replays the sampled frame indices and the closed-form per-frame
    luma, pinning the stride arithmetic and plane offsets."""
    from .operators.multimodal import attach_media_payload
    from .operators.video import sample_video_frames

    docs = load_table(spark, sf_dir, "documents")
    return sample_video_frames(
        attach_media_payload(docs, formats=("video/y4m",)), stride=2
    )


def q_video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scene-cut detection (round-9) — shot-boundary analysis over REAL
    decoded Y4M frames (operators/video.py::video_scene_cuts): per
    consecutive frame pair, the exact int64 SAD of the luma planes and
    the per-pixel mean absolute difference in milli-units, flagged as a
    cut at MAD ≥ 24700 (the synthetic corpus' inter-frame delta sits
    near 24.7/pixel, so the flag splits on genuine per-payload
    variation). The curation step between decode and frame sampling:
    shots, not raw strides, are what vision pipelines sample from.

    The oracle replays every pixel: frame f's luma at index i is
    (doc_id + 13f + 5i) % 256, so |Δ| to frame f+1 is 13 unless the
    value wraps (≥ 243), where it is 243 — summed per pair in SQL.
    """
    from .operators.multimodal import attach_media_payload
    from .operators.video import video_scene_cuts

    docs = load_table(spark, sf_dir, "documents")
    return video_scene_cuts(
        attach_media_payload(docs, formats=("video/y4m",)), threshold_milli=24700
    )


def q_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNIFIED mixed-modality decode (round-9) — the realistic
    heterogeneous-blob-column case: ``doc_id % 4`` lands a genuine 24-bit
    BMP, 8-bit RGB PNG, 16-bit PCM WAV, or Y4M C420 video in ONE binary
    column, and the decode kernel routes each payload by MAGIC BYTES
    across all four vendored parsers into one wide nullable schema
    (image fields NULL on audio rows and vice versa). Unknown/corrupt
    containers yield NULL metadata, never job aborts. The oracle
    replays every modality's closed form CASEd on the same parity — so
    the router itself (magic dispatch + per-format field placement) is
    value-pinned, not just the individual codecs."""
    from .operators.multimodal import attach_media_payload, decode_media_meta

    docs = load_table(spark, sf_dir, "documents")
    return decode_media_meta(attach_media_payload(docs)).select(
        "doc_id", "n_bytes", "format", "width", "height", "channels",
        "pixel_sum", "sample_rate", "n_samples", "energy", "fps_num",
        "n_frames", "luma_sum",
    )


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aspect-preserving resize plumbing over decoded metadata (stub
    Column expressions, integer-exact geometry — oracle-able)."""
    from .operators.multimodal import (
        attach_binary_payload,
        decode_image_meta,
        resize_image_meta,
    )

    docs = load_table(spark, sf_dir, "documents")
    return resize_image_meta(decode_image_meta(attach_binary_payload(docs)), target=256)


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL byte-histogram feature extraction over binary payloads, with a
    full value-level oracle: the 16-bin histogram is emitted as exact
    parts-per-million integers (count*1e6 div n_bytes — pure integer math a
    SQL engine reproduces bit-for-bit; float normalization would hit
    banker's-rounding knife edges) joined to a comma string (driver-side
    row hashers can't hash array cells). The payloads are the UTF-8 bytes
    of the text column (ASCII corpus), so the oracle recomputes the same
    histogram from character codepoints."""
    from .operators.multimodal import attach_binary_payload, extract_byte_features

    docs = load_table(spark, sf_dir, "documents")
    feats = extract_byte_features(attach_binary_payload(docs), bins=16)
    nb = F.col("n_bytes").cast("double")
    return feats.select(
        "doc_id",
        "n_bytes",
        F.array_join(
            F.transform(
                "byte_hist_counts",
                lambda c: F.floor(c.cast("double") * F.lit(1000000.0) / nb).cast(
                    "long"
                ).cast("string"),
            ),
            ",",
        ).alias("byte_histogram_ppm"),
    )


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (rolling k-gram hash + window-min) document fingerprints —
    md5 gram hashes and window selection value-verified against a DuckDB
    oracle, which replays md5."""
    from .operators.textops import winnow_fingerprints

    docs = load_table(spark, sf_dir, "documents")
    return winnow_fingerprints(docs, k=5, w=4)


def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scan + redaction rollup (round-7): the compliance pass a corpus
    runs before training. The testdata text is PII-free, so deterministic
    synthetic PII is injected first (doc_id % 4 picks an email / phone /
    IPv4 built from doc_id — the same synthesize-then-verify pattern as the
    BMP decode), then `operators/textops.scan_pii` counts matches per
    pattern family and measures the redacted text, and one hash aggregate
    rolls it up per source.

    Scale shape: injection + scan are ONE projection (all three regexes in
    the same codegen stage, no Python), the rollup is a map-side-combined
    groupBy over O(sources) keys. Engine parity: the patterns avoid
    lookarounds/backrefs so Java regex and RE2 agree; NULL text yields
    NULL counts (missing ≠ clean) and SUM skips them in both engines."""
    from .operators.textops import scan_pii

    docs = spread_partitions(load_table(spark, sf_dir, "documents"))
    did = F.col("doc_id")
    injected = docs.select(
        "doc_id",
        "source",
        F.when(
            did % 4 == 0,
            F.concat(
                F.col("text"), F.lit(" contact user"), did.cast("string"),
                F.lit("@example"), (did % 7).cast("string"), F.lit(".com"),
            ),
        )
        .when(
            did % 4 == 1,
            F.concat(
                F.col("text"), F.lit(" call 555-"),
                F.lpad((did % 10000).cast("string"), 4, "0"),
            ),
        )
        .when(
            did % 4 == 2,
            F.concat(
                F.col("text"), F.lit(" from 10."), (did % 256).cast("string"),
                F.lit("."), ((did * 7) % 256).cast("string"),
                F.lit("."), ((did * 13) % 256).cast("string"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    scanned = scan_pii(injected, keep_cols=("source",))
    has_pii = (
        F.coalesce(F.col("n_email"), F.lit(0))
        + F.coalesce(F.col("n_phone"), F.lit(0))
        + F.coalesce(F.col("n_ipv4"), F.lit(0))
    ) > 0
    return scanned.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(has_pii, 1).otherwise(0)).cast("long").alias("docs_with_pii"),
        F.sum("n_email").cast("long").alias("n_emails"),
        F.sum("n_phone").cast("long").alias("n_phones"),
        F.sum("n_ipv4").cast("long").alias("n_ipv4s"),
        F.sum("redacted_len").cast("long").alias("redacted_chars"),
    )


def q_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional near-containment dedup (round-7): doc A mostly-inside
    doc B via the winnowing fingerprint inverted index — the superset/
    subset pass symmetric Jaccard misses (a short doc quoted inside a long
    one has low Jaccard but containment ≈ 1). The fingerprints are md5
    gram hashes, which DuckDB replays, so they are value-oracle-able; containment emitted as exact
    integer ppm. Stop-fingerprints (df > 256) are dropped BEFORE the
    self-join (the inverted-index twin of the LSH bucket cap)."""
    from .operators.textops import containment_pairs

    docs = load_table(spark, sf_dir, "documents")
    return containment_pairs(docs, k=5, w=4, threshold_ppm=600_000, max_df=256)


def q_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1: global ORDER BY + LIMIT top-k (deterministic tie-break on key).

    Spark executes this as TakeOrderedAndProject — a per-partition top-k heap
    plus a k-row merge on the driver — so the cost is O(n) scan + O(k) result
    regardless of data size; no global sort materializes.
    """
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each event picks up the user's latest order day at-or-before
    the event (union + last_value window — one shuffle, no pair explosion)."""
    from .operators.asof import as_of_join

    events = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = load_table(spark, sf_dir, "orders")
    per_day = orders.groupBy(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").alias("order_ts"),
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.max("o_totalprice").alias("max_order_price"),
    )
    return as_of_join(
        events, per_day, ["user_id"], "ts", "order_ts", ["n_orders", "max_order_price"]
    )


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: pairs of same-user events within one hour, via bucket
    decomposition (equi-shuffle on (user, hour-bucket), never a nested loop)."""
    from .operators.rangejoin import point_in_interval_join

    ev = load_table(spark, sf_dir, "events")
    points = ev.select(
        "user_id", F.col("event_id").alias("dst_event"), F.col("ts").alias("dst_ts")
    )
    intervals = ev.select(
        "user_id",
        F.col("event_id").alias("src_event"),
        F.col("ts").alias("src_ts"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("src_end"),
    )
    joined = point_in_interval_join(
        points, intervals, ["user_id"], "dst_ts", "src_ts", "src_end", 3600
    )
    return joined.filter(F.col("src_event") != F.col("dst_event")).select(
        "user_id", "src_event", "dst_event", "src_ts", "dst_ts"
    )


def q_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order counts per year × status as columns (explicit value list
    keeps the plan one-pass — no distinct-values pre-scan)."""
    orders = load_table(spark, sf_dir, "orders")
    pv = (
        orders.withColumn("order_year", F.year("o_orderdate"))
        .groupBy("order_year")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
    )
    return pv.select(
        "order_year",
        *[F.coalesce(F.col(s), F.lit(0)).alias(f"n_{s.lower()}") for s in ("O", "F", "P")],
    )


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION: event users with orders vs customers
    without orders, tagged and unioned."""
    events = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    order_users = orders.select(F.col("o_custkey").alias("id"))
    active = events.select(F.col("user_id").alias("id")).intersect(order_users)
    dormant = customer.select(F.col("c_custkey").alias("id")).exceptAll(
        order_users
    ).distinct()
    return active.withColumn("kind", F.lit("active_with_orders")).unionByName(
        dormant.withColumn("kind", F.lit("no_orders"))
    )


def q_ntile_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE quartiles of order value within status (deterministic order)."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return orders.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.ntile(4).over(w).alias("value_quartile"),
    )


def q_rollup_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation: per (year, status) with subtotals + grand total."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.withColumn("order_year", F.year("o_orderdate"))
        .rollup("order_year", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
            F.grouping_id().cast("int").alias("gid"),
        )
    )


def q_stat_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate matrix: stddev/variance/corr/covar/exact median
    per group. All second-moment aggregates are numerically partition-order
    sensitive at the ulp level, so results round to 6dp (the engine's
    cross-engine comparison convention)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.stddev_samp("l_quantity"), 6).alias("qty_stddev"),
        F.round(F.var_samp("l_quantity"), 6).alias("qty_var"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 6).alias("qty_price_covar"),
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 6).alias("price_median"),
        F.round(F.expr("percentile(l_extendedprice, 0.9)"), 6).alias("price_p90"),
    )


def q_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array-function matrix (transform/filter/aggregate/
    sequence/slice/reverse/contains) — all JVM-side lambda expressions,
    whole-stage-codegen friendly; no UDFs."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 2000)
    seq = F.sequence(F.lit(1), F.col("l_linenumber").cast("int"))
    return li.select(
        "l_orderkey",
        F.col("l_linenumber").cast("int").alias("l_linenumber"),
        # arrays are emitted joined-to-string: the comparison harness
        # canonicalizes cells via str(), and numpy-array vs list reprs differ.
        F.array_join(seq, ",").alias("seq"),
        F.array_join(F.transform(seq, lambda x: x * 2), ",").alias("doubled"),
        F.array_join(F.filter(seq, lambda x: x % 2 == 0), ",").alias("evens"),
        F.aggregate(seq, F.lit(0), lambda acc, x: acc + x).alias("seq_sum"),
        F.array_join(F.slice(F.reverse(seq), 1, 2), ",").alias("last_two_desc"),
        F.array_contains(seq, 3).alias("has_three"),
        F.size(seq).alias("seq_len"),
    )


# --------------------------------------------------------------------------
# Breadth: analytic window frames, multi-dim aggregates, join/subquery forms,
# lateral explode, string-function matrix, skew-safe physical variants
# --------------------------------------------------------------------------

def q_window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic frames: lag/lead, running total (ROWS UNBOUNDED), moving
    average (ROWS 2 PRECEDING), value-range count (RANGE 1000 PRECEDING).

    Sums/averages accumulate in DECIMAL(18,2) so the result is independent
    of row order within the frame (bit-exact vs the oracle). The RANGE frame
    orders by value only — frame membership depends on values, not tie
    order, so it is deterministic by construction.
    """
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    dec = F.col("o_totalprice").cast("decimal(18,2)")
    run = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    mov = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey").rowsBetween(-2, 0)
    rng = Window.partitionBy("o_custkey").orderBy("o_totalprice").rangeBetween(-1000, 0)
    return orders.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.sum(dec).over(run).cast("double").alias("running_total"),
        (F.sum(dec).over(mov).cast("double") / F.count(F.lit(1)).over(mov)).alias("moving_avg3"),
        F.count(F.lit(1)).over(rng).alias("n_within_1000"),
    )


def q_cube_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation: all 4 grouping combinations of (year, status)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.withColumn("order_year", F.year("o_orderdate"))
        .cube("order_year", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
            F.grouping_id().cast("int").alias("gid"),
        )
    )


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS: per-year and per-status marginals in one pass (no
    grand total, no cross cells — the two cube slices a report actually
    wants, at half the aggregate rows)."""
    orders = load_table(spark, sf_dir, "orders")
    orders.withColumn("order_year", F.year("o_orderdate")).createOrReplaceTempView(
        "__gs_orders"
    )
    return spark.sql(
        """
        SELECT order_year, o_orderstatus,
               COUNT(1) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
               CAST(grouping_id() AS INT) AS gid
        FROM __gs_orders
        GROUP BY GROUPING SETS ((order_year), (o_orderstatus))
        """
    )


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: orders with no line items (referential orphans)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return orders.join(
        li, orders.o_orderkey == li.l_orderkey, "left_anti"
    ).select("o_orderkey", "o_orderstatus", "o_totalprice")


def q_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross join: the (region × order-status) reporting scaffold."""
    region = load_table(spark, sf_dir, "region")
    orders = load_table(spark, sf_dir, "orders")
    statuses = orders.select(F.col("o_orderstatus").alias("status")).distinct()
    return region.crossJoin(statuses).select("r_regionkey", "r_name", "status")


def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-subquery filter: orders above the global average price.

    The one-row global aggregate is broadcast (Catalyst turns the crossJoin
    into BroadcastNestedLoopJoin with a 1-row build side) — no shuffle of the
    probe side. The average is computed identically on both engines
    (exact DECIMAL sum ÷ count, then one double division).
    """
    orders = load_table(spark, sf_dir, "orders")
    avg_df = orders.agg(
        (
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("global_avg")
    )
    return (
        orders.crossJoin(F.broadcast(avg_df))
        .filter(F.col("o_totalprice") > F.col("global_avg"))
        .select("o_orderkey", "o_totalprice", "global_avg")
    )


def q_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral fan-out: posexplode of the per-document token array.

    The array is sorted before exploding so positions are deterministic —
    Spark's array_distinct keeps first-occurrence order while other engines
    don't guarantee any order for distinct.
    """
    from .operators.dedup import tokens_col

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return docs.select(
        "doc_id", F.posexplode(F.array_sort(tokens_col("text"))).alias("pos", "token")
    )


def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function matrix beyond the reference's trim/upper/concat:
    regexp_extract, substring, split→join, lpad, reverse, strpos,
    levenshtein (fuzzy-match primitive for entity resolution)."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.regexp_extract("p_name", r"([a-z]+)", 1).alias("first_word"),
        F.substring("p_name", 1, 5).alias("prefix5"),
        F.array_join(F.split("p_name", " "), "_").alias("snake_name"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.reverse("p_brand").alias("brand_rev"),
        F.instr("p_name", "a").alias("first_a"),
        F.levenshtein("p_brand", "p_type").alias("brand_type_dist"),
    )


def q_skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join (operators/skew.py): result is identical to the plain
    equi-join — the oracle IS the plain join — only the shuffle key space is
    16× wider so a hot order key cannot straggle one reducer."""
    from .operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"), "l_linenumber", "l_extendedprice"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"), "o_totalprice"
    )
    return salted_join(li, orders, ["okey"], salt=16)


# --------------------------------------------------------------------------
# Corpus analytics: n-gram frequencies, TF-IDF, quality filtering, sampling
# --------------------------------------------------------------------------

def q_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-50 bigrams (explode → hash agg → TakeOrdered top-k)."""
    from .operators.textops import top_ngrams

    docs = load_table(spark, sf_dir, "documents")
    return top_ngrams(docs, n=2, k=50)


def q_tf_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF per (document, term) on a bounded slice (value-level oracle)."""
    from .operators.textops import tf_idf

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") < 200)
    return tf_idf(corpus).filter(F.col("doc_id") < 50)


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining filter chain: quality ≥ 0.5 AND predicted English."""
    from .operators.textops import quality_filter

    docs = load_table(spark, sf_dir, "documents")
    return quality_filter(docs, min_score=0.5, lang="en")


def q_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible ~1/8 sample via md5 bucket of the key — the same rows on
    every engine and every run (unlike rand()-based sampling), and the same
    rows for a key across tables, which is what makes joins of samples line
    up at 100 TB."""
    orders = load_table(spark, sf_dir, "orders")
    bucket = F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1)
    return orders.filter(bucket.isin("0", "1")).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


# --------------------------------------------------------------------------
# Warehouse maintenance: MERGE upsert, SCD Type-2, JSON extraction, sketches
# --------------------------------------------------------------------------

def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed MERGE/upsert: a deterministic change-batch (every 10th order
    re-priced and flagged) merged into the orders table — matched rows
    replaced, the rest untouched."""
    from .operators.merge import merge_upsert

    orders = load_table(spark, sf_dir, "orders")
    source = (
        orders.filter(F.col("o_orderkey") % 10 == 0)
        .withColumn("o_orderstatus", F.lit("U"))
        .withColumn("o_totalprice", F.col("o_totalprice") + 100.0)
    )
    return merge_upsert(orders, source, ["o_orderkey"])


def q_scd2_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2: a segment-change batch applied to a customer dimension —
    changed keys get their open row closed out and a new current version;
    update rows whose tracked attributes match are no-ops."""
    from .operators.merge import scd2_apply

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    t0 = F.lit("1995-01-01 00:00:00").cast("timestamp")
    current = (
        cust.withColumn("valid_from", t0)
        .withColumn("valid_to", F.lit(None).cast("timestamp"))
        .withColumn("is_current", F.lit(True))
    )
    updates = cust.filter(
        (F.col("c_custkey") % 7 == 0) | (F.col("c_custkey") % 11 == 0)
    ).withColumn(
        "c_mktsegment",
        F.when(F.col("c_custkey") % 7 == 0, F.lit("MOVED")).otherwise(
            F.col("c_mktsegment")
        ),
    )
    return scd2_apply(
        current,
        updates,
        ["c_custkey"],
        ["c_mktsegment"],
        F.lit("1996-06-01 00:00:00").cast("timestamp"),
    )


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON round-trip: to_json(struct) → get_json_object path extraction +
    from_json typed parse (semi-structured payload handling, all JVM-side)."""
    orders = load_table(spark, sf_dir, "orders")
    payload = F.to_json(
        F.struct("o_orderkey", "o_orderstatus", "o_orderpriority")
    ).alias("j")
    j = F.from_json(
        F.col("j"), "o_orderkey BIGINT, o_orderstatus STRING, o_orderpriority STRING"
    )
    return (
        orders.select("o_orderkey", payload)
        .select(
            "o_orderkey",
            F.get_json_object("j", "$.o_orderstatus").alias("status_json"),
            j.getField("o_orderpriority").alias("priority_json"),
            j.getField("o_orderkey").alias("key_roundtrip"),
        )
    )


def q_sketch_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ sketch with an in-query error-bound proof: per-status exact
    distinct customers, row counts, and a ``within_bound`` flag asserting the
    sketch estimate sits within 5σ of exact (rsd=0.02 → 10%).

    The raw sketch value is Spark-internal (no DuckDB twin), but the BOUND
    is oracle-checkable: the oracle computes the same exact counts and
    expects ``within_bound = TRUE`` everywhere — a value-level correctness
    gate on the approximation itself, not just a row count.
    """
    orders = load_table(spark, sf_dir, "orders")
    exact = F.countDistinct("o_custkey")
    approx = F.approx_count_distinct("o_custkey", rsd=0.02)
    return orders.groupBy("o_orderstatus").agg(
        exact.alias("exact_nd"),
        F.count(F.lit(1)).alias("n_rows"),
        (F.abs(approx - exact) <= 0.10 * exact).alias("within_bound"),
    )


def q_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles (Greenwald-Khanna sketch): single-pass,
    mergeable across partitions — the scale path for quantiles.

    Emits rank-error bound proofs instead of the interpolated values: the GK
    guarantee is on RANK (accuracy 10000 → ε=1e-4), so each approximate
    percentile must lie between the exact percentiles at p±0.02 (generous
    tolerance absorbing interpolation between duplicate-heavy values).
    Booleans + the row count are engine-portable; interpolated doubles are
    not (banker's-rounding knife edges between engines), hence no raw
    values in the contract output.
    """
    orders = load_table(spark, sf_dir, "orders")
    val = F.col("o_totalprice").cast("double")
    probes = [0.5, 0.9, 0.99]
    approx = F.percentile_approx(val, probes, 10000)
    lo = F.percentile(val, F.array(*[F.lit(max(p - 0.02, 0.0)) for p in probes]))
    hi = F.percentile(val, F.array(*[F.lit(min(p + 0.02, 1.0)) for p in probes]))
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for i, p in enumerate(probes):
        name = f"p{int(p * 100)}_in_bound"
        aggs.append(
            ((approx.getItem(i) >= lo.getItem(i)) & (approx.getItem(i) <= hi.getItem(i))).alias(name)
        )
    return orders.agg(*aggs)


def q_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: gap-based session assignment via lag + running
    sum (the batch twin of ``session_window``; A7/W1 composition).

    A new session starts when the per-user gap exceeds 30 minutes. The
    running SUM over the session-start flags is the classic "islands"
    construction — one shuffle on user_id serves both windows and the final
    aggregate. Gaps compare in integer microseconds (exact in both engines);
    session totals accumulate in DECIMAL so they are order-independent.
    """
    return _q_sessionize_frame(load_table(spark, sf_dir, "events"))


def _q_sessionize_frame(events: DataFrame) -> DataFrame:
    """The window-form sessionization on an arbitrary events frame (shared
    by the catalog query and the split-twin equivalence tests)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    is_new = F.when(
        prev_ts.isNull()
        | (F.unix_micros(F.col("ts")) - F.unix_micros(prev_ts) > 1_800_000_000),
        1,
    ).otherwise(0)
    tagged = events.withColumn("is_new", is_new).withColumn(
        "session_seq", F.sum("is_new").over(w)
    )
    return tagged.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("session_value"),
    )


def q_sessionize_batch_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe sessionization twin of ``sessionize_batch`` — same output
    contract, same oracle, different physical shape.

    The window form funnels each user's whole lag/cumsum chain through one
    task (2.1× on the hostile-skew probe's 50%-hot user; a 10⁹-event bot at
    100 TB is a stuck executor). This form pre-splits by 6-hour time range,
    sessionizes per (user, range) in parallel, and stitches boundary
    sessions over the per-user SESSION summaries — O(sessions), not
    O(events), in the sequential per-user step. See
    operators/sessionize.py for the equivalence argument.
    """
    from .operators.sessionize import sessionize_split

    events = load_table(spark, sf_dir, "events")
    return sessionize_split(events)


def q_gap_fill_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap-fill + forward fill: per-user daily calendar from
    ``sequence()``/explode, left-joined to observed daily totals, missing
    days filled with ``last(..., ignorenulls)`` (LOCF).

    The calendar generation is distributed (one array per user, exploded on
    executors — no driver-side date loop), and the forward fill is a single
    window pass over the same user_id partitioning the join already
    shuffled on. Standard feature-engineering primitive for training
    pipelines (regular time grids from irregular event data).
    """
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(F.sum(F.col("value").cast("decimal(18,6)")).alias("day_value_dec"))
    cal = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    ).select("user_id", F.explode(F.sequence("d0", "d1")).alias("day"))
    wff = Window.partitionBy("user_id").orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return cal.join(daily, ["user_id", "day"], "left").select(
        "user_id",
        "day",
        F.col("day_value_dec").isNotNull().alias("is_observed"),
        F.last("day_value_dec", ignorenulls=True).over(wff).cast("double").alias(
            "day_value_ffill"
        ),
    )


def q_rank_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-function matrix: dense_rank / percent_rank / cume_dist /
    first_value / nth_value over one fully-ordered window (W1 family).

    The ORDER BY includes the unique o_orderkey tie-break, so every rank is
    deterministic; percent_rank and cume_dist are integer ratios computed in
    double — bit-identical across engines for identical orderings.
    """
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return orders.select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.dense_rank().over(w).alias("price_dense_rank"),
        F.percent_rank().over(w).alias("price_percent_rank"),
        F.cume_dist().over(w).alias("price_cume_dist"),
        F.first("o_totalprice").over(w).alias("status_min_price"),
        F.nth_value("o_totalprice", 3).over(wfull).alias("status_third_price"),
    )


def q_not_in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-aware NOT IN subquery: orders with no high-quantity line item.

    ``NOT IN (subquery)`` has three-valued-logic semantics (one NULL in the
    subquery empties the result), so Catalyst plans it as a null-aware anti
    join rather than a plain left-anti — the one anti-join variant the
    catalog didn't yet exercise.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("__nin_orders")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("__nin_lineitem")
    return spark.sql(
        """
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM __nin_orders
        WHERE o_orderkey NOT IN (
          SELECT l_orderkey FROM __nin_lineitem WHERE l_quantity >= 45
        )
        """
    )


def q_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-aligning union: two differently-shaped activity feeds merged
    by column NAME with missing columns null-filled
    (``unionByName(allowMissingColumns=True)``).

    The position-based UNION of the set-ops query breaks the moment one side
    adds a column; by-name union is the schema-evolution-safe way to merge
    heterogeneous sources into one training feed.
    """
    purchases = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("value").alias("metric"),
            F.col("event_type").alias("kind"),
            F.lit("events").alias("src"),
        )
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        F.col("o_totalprice").alias("metric"),
        F.col("o_orderstatus").alias("status"),
        F.lit("orders").alias("src"),
    )
    return purchases.unionByName(orders, allowMissingColumns=True)


def q_histogram_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width histogram: 20 bins over the global [min, max] price range.

    The 1-row min/max aggregate broadcasts into the binning pass (same
    pattern as the scalar-subquery query), so the whole histogram is one
    scan + one 20-group aggregate — no second pass over the data and no
    driver round-trip for the range. Bin edges are computed with identical
    IEEE double arithmetic in both engines.
    """
    orders = load_table(spark, sf_dir, "orders")
    stats = orders.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    width = (F.col("hi") - F.col("lo")) / F.lit(20.0)
    bin_idx = F.least(
        F.floor((F.col("o_totalprice") - F.col("lo")) / width), F.lit(19)
    ).cast("int")
    return (
        orders.join(F.broadcast(stats))
        .groupBy(bin_idx.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("bin_value"),
        )
    )


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC between two keyed snapshots: a deterministic "next-day" customer
    snapshot (every 97th key deleted, every 13th re-balanced, every 101st
    re-inserted under a new key) diffed against the original — one
    insert/update/delete row per changed key."""
    from .operators.merge import snapshot_diff

    customer = load_table(spark, sf_dir, "customer")
    survivors = customer.filter(F.col("c_custkey") % 97 != 0).withColumn(
        "c_acctbal",
        F.when(
            F.col("c_custkey") % 13 == 0, F.col("c_acctbal") + 10.0
        ).otherwise(F.col("c_acctbal")),
    )
    inserts = customer.filter(F.col("c_custkey") % 101 == 0).withColumn(
        "c_custkey", F.col("c_custkey") + 1_000_000
    )
    new_snap = survivors.unionByName(inserts)
    return snapshot_diff(customer, new_snap, ["c_custkey"], ["c_acctbal"])


def q_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery: per-order last ship date pulled from
    lineitem inside the select list. Catalyst de-correlates it into an
    aggregate + left outer join — the rewrite this entry pins down."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("__cs_orders")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("__cs_lineitem")
    return spark.sql(
        """
        SELECT o.o_orderkey, o.o_totalprice,
               (SELECT MAX(l.l_shipdate) FROM __cs_lineitem l
                WHERE l.l_orderkey = o.o_orderkey) AS last_shipdate
        FROM __cs_orders o
        """
    )


def q_group_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group feature scaling through the grouped-map Pandas UDF path
    (applyInPandas): min-max normalize event values within each event type."""
    from .operators.grouped import group_minmax_normalize

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    ).filter(F.col("event_type").isNotNull() & F.col("value").isNotNull())
    return group_minmax_normalize(events, ["event_type"], "value")


# --------------------------------------------------------------------------
# Structured Streaming operators (S4, SURVEY.md §2.8)
# --------------------------------------------------------------------------

def _stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as a file-source stream, ts normalized to TimestampType.

    Streaming analogue of sources/loader.py: under ``nanosAsLong`` the
    TIMESTAMP(NANOS) column arrives as long (integer-div to microseconds);
    naive ``timestamp[us]`` arrives as TIMESTAMP_NTZ, which ``withWatermark``
    rejects — cast to TIMESTAMP (UTC session, value-identical to the batch
    loader and the DuckDB oracle).
    """
    import os

    from .sources.loader import normalize_ntz, raw_parquet_schema
    from .streaming.incremental import stream_source

    path = os.path.join(sf_dir, "events.parquet")
    schema = raw_parquet_schema(spark, path)
    if os.path.isdir(path):
        # directory-of-part-files layout (Spark-written): stream the table
        # directory itself — a pathGlobFilter of "events.parquet" would
        # match no part file and silently stream zero rows
        stream = stream_source(spark, path, schema=schema)
    else:
        # single-file layout (driver testdata): FileStreamSource needs a
        # directory path, so stream the parent with a file filter
        stream = stream_source(
            spark, sf_dir, schema=schema, path_glob_filter="events.parquet"
        )
    if dict(stream.dtypes).get("ts") == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return normalize_ntz(stream)


def q_streaming_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window agg, run as a real availableNow stream."""
    from .streaming.incremental import run_to_memory, windowed_event_counts

    agg = windowed_event_counts(_stream_events(spark, sf_dir))
    # complete mode so windows still open at end-of-input are emitted too
    # (append mode would hold back the final watermark-uncommitted windows).
    return run_to_memory(agg, "mem_stream_window_agg", output_mode="complete")


def q_streaming_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream x broadcast-static dimension join as a REAL availableNow
    stream — the true-stream form of J1 (the reference's products-stream x
    category-translation broadcast join, silver_products.py:67-71).

    Per microbatch the dim side ships as a broadcast (no stream-side state,
    no watermark needed — static joins are stateless), so the streaming plan
    is the same BroadcastHashJoin the batch twin gets. Events are enriched
    with the matching order's customer segment; inner join on user_id
    against the customer dim."""
    from .streaming.incremental import run_to_memory

    customers = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment")
    )
    events = _stream_events(spark, sf_dir)
    enriched = (
        events.join(F.broadcast(customers), events.user_id == customers.c_custkey)
        .select(
            "event_id",
            "user_id",
            "event_type",
            "c_mktsegment",
            F.col("value").alias("event_value"),
        )
    )
    return run_to_memory(enriched, "mem_stream_enrich", output_mode="append")


def q_corpus_streaming_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True-streaming twin of the corpus pipeline's silver layer: the
    document corpus as a file-source availableNow stream, projected through
    the SAME column list the batch pipeline table uses
    (plans/corpus.corpus_silver_columns — one definition, two execution
    modes), proving the §2.8 incremental contract holds for the corpus
    medallion exactly as it does for the Olist-analog one. Stateless
    projection stream: no watermark, no state store — per microbatch the
    plan is the batch plan."""
    import os as _os

    from .plans.corpus import corpus_silver_columns
    from .sources.loader import raw_parquet_schema
    from .streaming.incremental import run_to_memory, stream_source

    path = _os.path.join(sf_dir, "documents.parquet")
    schema = raw_parquet_schema(spark, path)
    if _os.path.isdir(path):
        # directory-of-part-files layout: stream the table directory itself
        stream = stream_source(spark, path, schema=schema)
    else:
        # single-file driver-testdata layout: FileStreamSource needs a
        # directory, so stream the parent with a file filter
        stream = stream_source(
            spark, sf_dir, schema=schema, path_glob_filter="documents.parquet"
        )
    silver = stream.select(*corpus_silver_columns())
    return run_to_memory(silver, "mem_corpus_stream_silver", output_mode="append")


def q_streaming_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked sliding-window agg (1h window / 30m slide) as a real
    availableNow stream — each event lands in two overlapping windows."""
    from .streaming.incremental import run_to_memory, sliding_event_counts

    agg = sliding_event_counts(_stream_events(spark, sf_dir))
    return run_to_memory(agg, "mem_stream_sliding_agg", output_mode="complete")


def q_streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-window (30 min gap) per-user aggregation on a stream."""
    from .streaming.incremental import run_to_memory, sessionized_event_counts

    agg = sessionized_event_counts(_stream_events(spark, sf_dir), gap="30 minutes")
    return run_to_memory(agg, "mem_stream_sessionize", output_mode="complete")


def q_streaming_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator: per-user running totals via
    applyInPandasWithState (exact integer-micro accumulation).

    Twin: ``running_totals_window`` computes the SAME contract as a pure
    JVM window over the batch table — that is the hot path whenever the
    data is at rest (no Python round-trip, whole-stage codegen). This
    streaming form exists for the unbounded case the window can't serve:
    state is one (sum, count) pair per user in the checkpoint, so totals
    survive restarts and each microbatch costs O(batch), not O(history).
    The per-user state is MERGEABLE (sum/count are commutative monoids), so
    a skewed user can be pre-aggregated per partition and folded — the
    two-phase design the 10x scaling probe's Python-state ratio motivates.
    """
    from .streaming.incremental import run_to_memory
    from .streaming.stateful import running_user_totals

    out = running_user_totals(_stream_events(spark, sf_dir))
    return run_to_memory(out, "mem_stream_running_totals")


def q_running_totals_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JVM hot-path twin of ``streaming_running_totals`` (twinned the way
    window_dedup/window_dedup_agg are): the identical per-user running
    value/count contract as one whole-stage-codegen'd window over the batch
    table — one hash shuffle on user_id, one in-partition sort, zero Python.
    Use this form for data at rest; the applyInPandasWithState form is for
    unbounded streams where only checkpointed per-key state can carry
    totals across microbatches. Decimal accumulation keeps the sum exact
    and bitwise-equal to both the oracle and the streaming twin."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        F.sum(F.col("value").cast("decimal(18,6)")).over(w).cast("double").alias(
            "running_value"
        ),
        F.count(F.lit(1)).over(w).alias("running_events"),
    )


def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state streaming dedup (dropDuplicatesWithinWatermark).

    The 60-day watermark exceeds the test corpus's 30-day span, so the output
    equals a global DISTINCT (the oracle); on an unbounded production stream
    the same operator expires state instead of growing forever — unlike the
    reference's unwatermarked stream dedup (silver_products.py:119).
    """
    from .streaming.incremental import dedup_stream, run_to_memory

    deduped = dedup_stream(
        _stream_events(spark, sf_dir), ["user_id", "event_type"], watermark="60 days"
    )
    return run_to_memory(deduped.select("user_id", "event_type"), "mem_stream_dedup")


def q_streaming_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True watermarked stream-stream inner join (J2 in streaming mode):
    click→purchase attribution — for each purchase, the same user's clicks
    in the preceding hour.

    The reference's stream-stream join runs unwatermarked
    (order_reviews.py:39-53); here both sides carry watermarks and the join
    condition time-bounds the two event times, so Spark evicts join state
    once the watermark passes the range — bounded memory on an unbounded
    stream. Two independent file-stream sources (a genuine self-join of the
    stream, not a cached batch).
    """
    from .streaming.incremental import run_to_memory, stream_interval_join

    clicks = (
        _stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("click_user"),
            F.col("ts").alias("click_ts"),
        )
    )
    purchases = (
        _stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("user_id"),
            F.col("ts").alias("purchase_ts"),
        )
    )
    cond = (
        (F.col("click_user") == F.col("user_id"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("click_ts") <= F.col("purchase_ts"))
    )
    joined = stream_interval_join(
        clicks, purchases, cond, "click_ts", "purchase_ts", watermark="2 hours"
    ).select(
        "purchase_id",
        "user_id",
        "purchase_ts",
        "click_id",
        "click_ts",
        (F.unix_micros(F.col("purchase_ts")) - F.unix_micros(F.col("click_ts"))).alias(
            "gap_us"
        ),
    )
    return run_to_memory(joined, "mem_stream_stream_join")


def q_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer equi-join: per-customer order totals vs event totals —
    keys present on either side survive with nulls opposite (the join form
    snapshot_diff builds on, exposed as a first-class operator)."""
    orders = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    events = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.col("user_id").alias("custkey"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return orders.join(events, "custkey", "full_outer").select(
        "custkey", "n_orders", "n_events"
    )


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over a text corpus — emails, E.164-ish phone numbers,
    and IPv4 addresses replaced with typed placeholder tags. The mandatory
    scrub step of a training-data pipeline, all JVM regexp_replace (no
    Python in the hot path); patterns are RE2-compatible so the oracle runs
    the identical expressions. Each doc gets a synthetic contact line
    appended so the redaction path is actually exercised by the fixture."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    dirty = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1555"),
        F.lpad(F.col("doc_id").cast("string"), 7, "0"),
        F.lit(" at 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".1"),
    )
    scrubbed = dirty
    for pat, tag in [
        (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
        (r"\+[0-9]{7,15}", "<PHONE>"),
        (r"\b([0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>"),
    ]:
        scrubbed = F.regexp_replace(scrubbed, pat, tag)
    return docs.select(
        "doc_id",
        scrubbed.alias("clean_text"),
        (F.length(dirty) - F.length(scrubbed)).alias("chars_redacted"),
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing 5-word n-grams with
    the benchmark split (source = 'src1' plays the eval suite). The standard
    n-gram-overlap scrub every LLM pretraining pipeline runs before
    training. See operators/textops.py::benchmark_overlap for the
    broadcast-probe scale shape (one shuffle, benchmark side broadcast,
    per-doc grams deduped map-side)."""
    docs = spread_partitions(load_table(spark, sf_dir, "documents"))
    from .operators.textops import benchmark_overlap

    return benchmark_overlap(docs, F.col("source") == "src1", n=5, min_overlap=3)


def q_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document (duplicate-word
    and duplicate-bigram fractions + pass flag) — zero-shuffle expression
    pipeline; see operators/textops.py::repetition_signals."""
    docs = spread_partitions(load_table(spark, sf_dir, "documents"))
    from .operators.textops import repetition_signals

    return repetition_signals(docs)


def q_source_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source sampling cap (corpus mix rebalancing): keep at most 20
    deterministically-chosen docs per source — md5-ordered row_number, so
    the 'random' sample is stable across engines and runs.

    Scale shape: rank <= k over a window compiles to WindowGroupLimit —
    per-partition partial top-k BEFORE the shuffle, so the exchange carries
    O(k · sources · partitions) rows, not the corpus. Over-represented-
    source downweighting at 100 TB is exactly this plan."""
    docs = spread_partitions(load_table(spark, sf_dir, "documents"))
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select("doc_id", "source")
        .withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= 20)
    )


def q_pack_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard packing: documents assigned to fixed-token-budget
    shards in deterministic doc_id order — the corpus-export step of a
    training-data pipeline, built on the scale-safe two-phase prefix scan
    (operators/prefix.py; a plain SQL running window would execute on ONE
    partition). Token counts are whitespace tokens; shard budget 5000.
    Integer arithmetic throughout, so the SQL window twin matches exactly."""
    from .operators.prefix import pack_shards

    docs = load_table(spark, sf_dir, "documents")
    staged = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    return pack_shards(staged, budget=5000, order_cols=["doc_id"], token_col="n_tokens")


def _side_artifact_dir(sf_dir: str, source_table: str, kind: str) -> str:
    """Cache dir for a per-corpus side artifact (CSV/JSONL landing copy),
    keyed by the ABSOLUTE source path and its stamp (nanosecond mtime and
    size, ``sources/loader.py::_file_stamp``) — a different corpus with the
    same basename, or a regenerated corpus, gets a fresh dir instead of
    silently round-tripping stale data, even within the same second."""
    import hashlib
    import tempfile

    from .sources.loader import _file_stamp

    src = os.path.join(os.path.abspath(sf_dir), f"{source_table}.parquet")
    key = hashlib.md5(f"{src}|{_file_stamp(src)}".encode()).hexdigest()[:12]
    return os.path.join(tempfile.gettempdir(), f"spark_graft_{kind}_{key}")


def q_csv_ingest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Auto-Loader-equivalent ingestion path (S1-S3) end-to-end,
    driver-checkable: orders lands as header CSV once per sf_dir (cached
    side artifact under /tmp), then CsvIngestor infers-and-pins the schema
    and reads it back with PERMISSIVE ``_rescued_data`` capture. The typed
    round-trip must value-match the original parquet — proving inference,
    type pinning, and the rescued-column plumbing lose nothing on clean
    data. Dates ride as ISO strings (CSV date inference is config-dependent
    across Spark versions; pinning strings keeps the contract exact); the
    ingest ledger lives in a temp state dir removed when ``ingest()``
    returns, so the query is idempotent and leaves nothing behind."""
    import tempfile

    from .sources.csv_ingest import CsvIngestor

    csv_dir = _side_artifact_dir(sf_dir, "orders", "csv")
    marker = os.path.join(csv_dir, "_READY")
    if not os.path.exists(marker):
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            F.col("o_orderdate").cast("string").alias("o_orderdate_str"),
        )
        orders.coalesce(4).write.mode("overwrite").option("header", True).csv(csv_dir)
        with open(marker, "w", encoding="utf-8") as fh:
            fh.write("ok")
    with tempfile.TemporaryDirectory(prefix="spark_graft_csv_state_") as state:
        df = CsvIngestor(csv_dir, state).ingest(spark).df
    return df.select(
        F.col("o_orderkey").cast("long"),
        F.col("o_custkey").cast("long"),
        "o_orderstatus",
        F.col("o_totalprice").cast("double"),
        # CSV inference may re-type the ISO string as timestamp; pin the
        # contract to a date-only string either way
        F.date_format(F.col("o_orderdate_str").cast("timestamp"), "yyyy-MM-dd").alias(
            "o_orderdate_str"
        ),
        F.col("_rescued_data").isNotNull().alias("was_rescued"),
    )


def q_expectation_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quality-expectation surface (Q1-Q4) as a driver-checkable query:
    the reference's warn-level predicates evaluated over orders, emitting
    one row per expectation with its violation count — the engine's own
    report, one scan for all predicates (plans/expectations.py: a NULL
    predicate is a violation)."""
    from .plans.expectations import Expectation, expectation_report

    preds = {
        "order_key_not_null": "o_orderkey IS NOT NULL",
        "valid_status": "o_orderstatus IN ('O', 'F', 'P')",
        "positive_total": "o_totalprice > 0",
        "reasonable_total": "o_totalprice <= 400000",
        "date_in_range": "o_orderdate >= DATE '1992-01-01'",
    }
    return expectation_report(
        load_table(spark, sf_dir, "orders"),
        [Expectation(name, p) for name, p in preds.items()],
    )


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column (per-vector
    absmax scale) — the standard compression step before shipping vectors
    to an ANN index or serving store; 4x smaller than float32 on the wire.

    Zero-shuffle expression pipeline (transform/array_max per row). The
    contract output is exact: quantized codes via floor(x*127/scale + 0.5)
    and a ppm-floored scale — float32 inputs widen to double identically in
    both engines, so every operation is bit-reproducible; emitting raw
    float scales would compare float32 repr against float64 repr."""
    emb = spread_partitions(load_table(spark, sf_dir, "embeddings"))
    staged = emb.select(
        "vec_id",
        "embedding",
        F.array_max(
            F.transform("embedding", lambda v: F.abs(v.cast("double")))
        ).alias("scale"),
    )
    code = lambda v: F.when(  # noqa: E731
        F.col("scale") > 0,
        F.floor(v.cast("double") * F.lit(127.0) / F.col("scale") + F.lit(0.5)),
    ).otherwise(F.lit(0)).cast("long").cast("string")
    return staged.select(
        "vec_id",
        F.floor(F.col("scale") * F.lit(1000000.0)).cast("long").alias("scale_ppm"),
        F.array_join(F.transform("embedding", code), ",").alias("q_int8"),
    )


def q_embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding corpus via distributed
    POWER ITERATION (round-9) — the PCA/whitening primitive embedding
    pipelines run before indexing (decorrelate, reduce, or sanity-check
    anisotropy; the first step of the OPQ rotation the PQ docstrings
    reference): 3 fixed rounds of v ← Xᵀ(Xv), max-abs-normalized to
    integer micro-units each round, over milli-quantized vectors —
    converging on the dominant right-singular vector of the (uncentered)
    embedding matrix at rate (λ₂/λ₁)^rounds: exact on any corpus, a
    converged DIRECTION wherever a spectral gap exists (the planted-gap
    unit pins |cos| > 0.99 to numpy SVD in 3 rounds; a near-isotropic
    corpus needs more rounds, same plan per round).

    Engine-exact by the fixed-round integer discipline (pagerank /
    trained-PQ): quantization is FLOOR on bitwise-identical doubles;
    Xv is a per-row JVM zip_with fold against the current v as an array
    LITERAL (rescaled by v's 1e6 unit with truncating div — both engines
    truncate toward zero); Xᵀ(Xv) is ONE map-side-combined aggregate of
    64 sums; normalization runs driver-side on the collected 64-value
    row with ``_tdiv`` (Python // floors — the documented trap), and the
    oracle replays it in HUGEINT (1e6·s overflows int64 by design there;
    every in-plan Spark value stays provably under 2^63: |vm|≤~2e3,
    |xv|≤1.3e5 after rescale, so s_j ≤ 2.6e8·rows — safe past 10⁹ rows).

    Scale: per round ONE scan of the checkpointed quantized vectors +
    one 64-column hash aggregate collapsing to a SINGLE driver row (the
    O(1)-rows-per-round BPE/MMR collect discipline — never O(corpus));
    no shuffle wider than 64 partial sums per partition.
    """
    from .operators.similarity import _tdiv, _valid_vectors

    emb = _valid_vectors(
        spread_partitions(load_table(spark, sf_dir, "embeddings")),
        "embedding",
        64,
    )
    vm = emb.select(
        F.expr(
            "transform(embedding, v -> cast(floor(cast(v as double) * 1000)"
            " as bigint))"
        ).alias("vm")
    ).localCheckpoint()
    v = [1_000_000] * 64
    for _ in range(3):
        vlit = "array(" + ",".join(f"{x}L" for x in v) + ")"
        row = (
            vm.select(
                "vm",
                F.expr(
                    f"aggregate(zip_with(vm, {vlit}, (x, y) -> x * y),"
                    " 0L, (a, x) -> a + x) div 1000000"
                ).alias("xv"),
            )
            # one selectExpr call = one py4j round-trip for all 64 global
            # aggregates (64 F.sum(F.expr(...)) Column builds cost ~0.2 s
            # of driver time per round); the plan is the identical global
            # hash aggregate
            .selectExpr(
                *[f"sum(element_at(vm, {j}) * xv) AS s{j}" for j in range(1, 65)]
            )
            .collect()[0]
        )
        s = [row[f"s{j}"] for j in range(1, 65)]
        if s[0] is None:
            # empty valid-vector set: no principal direction exists
            return spark.createDataFrame([], "dim int, v_micro long")
        m = max(abs(x) for x in s)
        if m == 0:
            return spark.createDataFrame([], "dim int, v_micro long")
        v = [_tdiv(1_000_000 * x, m) for x in s]
    return spark.createDataFrame(
        [(j + 1, v[j]) for j in range(64)], "dim int, v_micro long"
    )


def q_corpus_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram inverse-frequency rarity score per document — the cheap
    corpus-statistics quality signal (CCNet-style LM filtering's integer
    cousin): rare-word-heavy docs score high, boilerplate scores low.

    Two aggregations: corpus vocabulary counts (one shuffle on word, with
    map-side partial combine), then per-doc scoring through a broadcast
    vocabulary join (test-scale vocab; a web-scale vocab drops the hint and
    Catalyst shuffles both sides on the word key — same plan shape). All
    arithmetic is integer division (ppm rarity = 1e6*N div cnt), so the
    score is bit-reproducible across engines — float log-prob averages
    would hash-diverge on summation order."""
    docs = spread_partitions(load_table(spark, sf_dir, "documents"))
    words = docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    vocab = words.groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("n_total"))
    rarity = vocab.crossJoin(F.broadcast(total)).select(
        "word", F.expr("(1000000 * n_total) div cnt").alias("rarity_ppm")
    )
    return (
        words.join(F.broadcast(rarity), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.expr("sum(rarity_ppm) div count(1)").alias("rarity_score"),
        )
    )


def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (element-wise vector mean) — the core
    of IVF training, cluster summarization, and class prototypes — as pure
    JVM ops: posexplode to (label, dim, value), then one aggregation.

    Scale shape: the explode is map-side; hash aggregation's partial combine
    collapses each partition to (labels × dims) rows before the shuffle, so
    the exchange carries O(partitions × labels × dims) regardless of corpus
    size. Element sums accumulate in DECIMAL (order-independent), the mean
    is rounded to 6dp for cross-engine determinism."""
    emb = spread_partitions(load_table(spark, sf_dir, "embeddings"))
    ex = emb.select("label", F.posexplode("embedding").alias("dim", "val"))
    dec = F.col("val").cast("double").cast("decimal(28,12)")
    return ex.groupBy("label", "dim").agg(
        F.round(
            F.sum(dec).cast("double") / F.count(F.lit(1)), 6
        ).alias("centroid"),
        F.count(F.lit(1)).alias("n_vectors"),
    )


def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-quality outlier detection: the 20 vectors per label
    farthest (squared L2) from their label's centroid — the standard
    mislabeled-sample / noisy-embedding filter a training-data pipeline
    runs before contrastive training (centroid-distance pruning).

    Cross-engine exactness without a float in sight: vectors quantize
    once to integer MILLI-units (floor(v·1000) on bitwise-identical
    doubles), the centroid is the explicit integer FLOOR-division
    (s − ((s%n)+n)%n) div n — both engines' integer division truncates
    toward zero identically (DuckDB `-7//2 = -3`, same as Spark `div`),
    and the adjustment pins mathematical floor semantics for the
    possibly-negative sum rather than either engine's truncation — and
    the distance is an exact int64 fold, so every score is
    bitwise-reproducible in any summation order.

    Scale: one explode feeds a map-side-combined (label, dim) aggregate
    (the exchange carries O(partitions × labels × dims), never corpus
    rows); the per-label centroid ARRAYS broadcast back (labels are a
    bounded class vocabulary) and scoring is a single zip_with fold per
    vector — no second explode, no per-vector shuffle beyond the final
    per-label top-20 WindowGroupLimit.
    """
    from .operators.similarity import _valid_vectors

    # the PQ family's validity guard (non-NULL, exactly 64-d, no NULL
    # elements): a NULL element would NULL the whole Spark fold while the
    # oracle's per-dim SUM skips it — they must never reach the aggregate
    emb = _valid_vectors(
        spread_partitions(load_table(spark, sf_dir, "embeddings")), "embedding", 64
    ).filter(F.col("label").isNotNull())
    q = emb.select(
        "vec_id",
        "label",
        F.expr(
            "transform(embedding, v -> cast(floor(cast(v as double) * 1000) as bigint))"
        ).alias("vm"),
    ).localCheckpoint()  # quantized vectors feed BOTH the centroid pass and scoring
    ex = q.select("label", F.posexplode("vm").alias("dim", "v"))
    cent = (
        ex.groupBy("label", "dim")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
        .select(
            "label",
            "dim",
            F.expr("(s - (((s % n) + n) % n)) div n").alias("c"),
        )
    )
    carr = cent.groupBy("label").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(dim, c))), x -> x.c)"
        ).alias("carr")
    )
    scored = q.join(F.broadcast(carr), "label").select(
        "label",
        "vec_id",
        F.expr(
            "aggregate(zip_with(vm, carr, (x, y) -> (x - y) * (x - y)),"
            " 0L, (acc, t) -> acc + t)"
        ).alias("d2_milli"),
    )
    w = Window.partitionBy("label").orderBy(F.desc("d2_milli"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 20)
        .select(
            F.col("label").cast("int").alias("label"),
            "vec_id",
            "d2_milli",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitter tokens (frequency > n/60) over the document corpus via
    Misra-Gries sketch + exact candidates-only recount — same rows as a full
    groupBy + HAVING, but aggregation state bounded by O(k × partitions)
    instead of O(distinct tokens) (see operators/sketches.py)."""
    from .operators.sketches import heavy_hitters

    docs = spread_partitions(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("token")
    ).filter(F.col("token") != "")
    return heavy_hitters(toks, "token", k=60).withColumnRenamed("item", "token")


def q_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch point-frequency estimates (round-10,
    operators/sketches.py::cms_sketch/cms_estimate — Cormode &
    Muthukrishnan 2005), completing the sketch trio: Misra-Gries finds
    WHO is frequent (`heavy_hitters`), HLL++ counts HOW MANY distinct
    (`sketch_distinct`), CMS answers "how often is KEY x?" for any key,
    after the fact, from depth×width bounded state — the mergeable
    per-shard counter a 100 TB telemetry/token pipeline keeps where an
    exact per-key aggregate would hold O(distinct) state.

    Shape: sketch build is ONE map-side-combined aggregate over
    (row, cell) pairs (≤ 4×2048 cells regardless of corpus size;
    shard-local sketches union by cell-sum); the probe side takes the
    exact top-25 tokens (deterministic ties by token) and reads each
    one's min-over-rows cell count from the BROADCAST cell table.

    Output (token, exact_freq, cms_est, over_ppm) value-pins the CMS
    contract itself: the md5 hash family is replayed cell-for-cell in
    DuckDB, so `cms_est` must match EXACTLY, and the one-sided error
    guarantee (cms_est ≥ exact_freq, always) plus the collision
    overshoot in integer ppm are checked as VALUES, not narrative."""
    from .operators.sketches import cms_estimate, cms_sketch

    docs = spread_partitions(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("token")
    ).filter(F.col("token") != "")
    sketch = cms_sketch(toks, "token", depth=4, width=2048)
    top = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_freq"))
        .orderBy(F.desc("exact_freq"), F.asc("token"))
        .limit(25)
    )
    est = cms_estimate(top, sketch, "token")
    return est.select(
        "token",
        "exact_freq",
        "cms_est",
        F.expr(
            "CAST(((cms_est - exact_freq) * 1000000) div exact_freq AS BIGINT)"
        ).alias("over_ppm"),
    )


def q_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): wide per-part metric columns rotated into long
    (part, metric, value) rows — the inverse of pivot_status, and the
    standard long-form prep for per-metric aggregation/feature tables.
    ``DataFrame.unpivot`` compiles to an Expand node: each input row fans
    out map-side with NO shuffle and no Python."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.col("p_size").cast("double").alias("size"),
        F.col("p_retailprice").cast("double").alias("retailprice"),
    ).unpivot("p_partkey", ["size", "retailprice"], "metric", "metric_value")


def q_streaming_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained stateful streaming: watermarked dedup on (hour, user, type)
    feeding an event-time tumbling-window count in the same query — exact
    streaming COUNT(DISTINCT) with bounded state (see
    streaming/incremental.py::windowed_distinct_users)."""
    from .streaming.incremental import run_to_memory, windowed_distinct_users

    agg = windowed_distinct_users(_stream_events(spark, sf_dir))
    return run_to_memory(agg, "mem_stream_distinct_users", output_mode="complete")


def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: lineitem is split into a standing
    history and a new batch; the history's aggregate *state* (per
    returnflag/linestatus count, exact decimal sum, min, max) is merged with
    the batch's partial state and finalized — without rescanning history.

    The oracle recomputes the same aggregate over the full table, proving
    merge(state(history), state(batch)) == aggregate(history ∪ batch) —
    the invariant that makes O(batch) refreshes sound at 100 TB (the
    reference's full-refresh MVs are O(history) per run,
    /root/reference/scripts/gold/fact_order_items.sql:1)."""
    from .operators.incremental_agg import aggregate_state, finalize, merge_states

    li = load_table(spark, sf_dir, "lineitem")
    keys = ["l_returnflag", "l_linestatus"]
    history = li.filter(F.col("l_orderkey") % 10 != 0)
    batch = li.filter(F.col("l_orderkey") % 10 == 0)
    state = aggregate_state(history, keys, "l_extendedprice")
    merged = merge_states(state, aggregate_state(batch, keys, "l_extendedprice"), keys)
    return finalize(merged)


def q_group_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped top-k: the 5 highest-balance customers per nation, rank filter
    over a partitioned window. Spark ≥3.5 rewrites the post-window rank
    predicate into WindowGroupLimit — each shuffle partition keeps only k
    rows per group *before* the full sort/window evaluation, so the window
    state never materializes beyond k per group (the plan guard in
    tests/test_plans.py pins the rewrite). The per-group limit is what makes
    grouped top-k viable on billions of rows per group."""
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"), "c_custkey")
    return (
        cust.withColumn("rank_in_nation", F.row_number().over(w))
        .filter(F.col("rank_in_nation") <= 5)
        .select("c_nationkey", "rank_in_nation", "c_custkey", "c_name", "c_acctbal")
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (``sampleBy`` semantics, md5-bucket
    mechanics): per-status sampling fractions — 'F' keeps 4/16, 'O' keeps
    2/16, everything else passes — decided by the first hex digit of
    md5(key), so the sample is identical on every engine/run/partitioning
    (rand()-based sampleBy is not), and a key samples consistently across
    tables. Pure map-side filter: no shuffle, prunes at the scan."""
    orders = load_table(spark, sf_dir, "orders")
    h = F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1)
    keep = (
        F.when(F.col("o_orderstatus") == "F", h.isin("0", "1", "2", "3"))
        .when(F.col("o_orderstatus") == "O", h.isin("0", "1"))
        .otherwise(F.lit(True))
    )
    return orders.filter(keep).select(
        "o_orderkey", "o_orderstatus", "o_custkey", "o_totalprice"
    )


def q_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS with an extra correlated inequality: customers
    holding at least one urgent order above 100k. Catalyst plans it as a
    left-semi hash join with the non-equi conjunct folded into the join
    condition — no subquery re-execution per row."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("__ex_customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("__ex_orders")
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_name, c.c_acctbal
        FROM __ex_customer c
        WHERE EXISTS (
          SELECT 1 FROM __ex_orders o
          WHERE o.o_custkey = c.c_custkey
            AND o.o_orderpriority = '1-URGENT'
            AND o.o_totalprice > c.c_acctbal
        )
        """
    )


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated-postings inverted index: token -> (full df, first-50
    postings). The rank filter compiles to WindowGroupLimit so hot
    stopword tokens ship ≤ 50×partitions rows, never the full postings
    (operators/textops.py)."""
    from .operators.textops import inverted_index

    docs = load_table(spark, sf_dir, "documents")
    return inverted_index(docs, postings_cap=50)


def q_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (64-token windows, stride 48) —
    pretraining/RAG chunk shape, zero-shuffle narrow fan-out."""
    from .operators.textops import chunk_documents

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, chunk_size=64, stride=48)


def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located bucketed join: both sides written hash-bucketed on the
    join key, then joined with ZERO runtime exchange (operators/bucketed.py)
    — the write-once/join-forever-shuffle-free layout a 100 TB fact table
    wants. Result is identical to the plain equi-join (the oracle)."""
    import tempfile

    from .operators.bucketed import bucketed_equi_join

    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("okey"), "l_linenumber", "l_extendedprice"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"), "o_totalprice", "o_orderpriority"
    )
    # keyed by applicationId: two concurrent sessions on one host must not
    # race on the side artifact (same keying discipline as the CSV/JSONL
    # ingest artifacts, which key by source path+mtime)
    base = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_bucketed_{spark.sparkContext.applicationId}",
    )
    return bucketed_equi_join(
        spark, li, orders, "okey", buckets=16, base_path=base
    )


def q_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type percentile clipping (5th/95th), exact percentiles via
    one agg + broadcast clip join — no full-table window sort."""
    from .operators.grouped import winsorize

    events = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return winsorize(
        events.select("event_id", "event_type", "value"),
        ["event_type"],
        "value",
    )


def q_udaf_sumsq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pandas UDAF (GROUPED_AGG) — completing the user-function surface
    (§2.10: scalar pandas UDF, UDTF, and now a true vectorized aggregate):
    per event type, the sum of squared bucketed ids computed by an
    Arrow-batched numpy reduction. Integer math end-to-end, so the oracle
    reproduces the aggregate exactly.

    Scale note: unlike built-in aggregates, a grouped-agg pandas UDAF gets
    NO map-side partial aggregation — every group's rows shuffle to its
    reducer. That (plus the Python round-trip) is why built-in SUM(x*x)
    is the hot path for this exact computation; the UDAF form exists for
    aggregations built-ins can't express (custom sketches, exotic
    statistics), and skewed group keys need pre-salting with a mergeable
    two-phase design."""
    from .operators.udaf import sum_of_squares as sumsq

    ev = load_table(spark, sf_dir, "events").withColumn(
        "k", F.pmod("event_id", F.lit(1000))
    )
    # a grouped-agg pandas UDF cannot share an agg() with built-in
    # aggregates (INVALID_PANDAS_UDF_PLACEMENT) — two aggregates over the
    # tiny group domain, joined on the key
    squared = ev.groupBy("event_type").agg(sumsq("k").alias("sum_sq"))
    counts = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    return squared.join(counts, "event_type")


def q_right_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT OUTER join (completing the join-type matrix): large-order
    lineitems right-joined to customers' orders — order rows with no
    qualifying lineitem survive with nulls. Catalyst plans it as the
    mirrored left join; the preserved side drives the build/stream choice."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_extendedprice") > 80000
    ).select("l_orderkey", "l_linenumber", "l_extendedprice")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2001-01-01")
    ).select("o_orderkey", "o_orderstatus", "o_totalprice")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey, "right")
        .select(
            "o_orderkey",
            "o_orderstatus",
            "o_totalprice",
            "l_linenumber",
            "l_extendedprice",
        )
    )


def q_set_ops_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-semantics set operations (INTERSECT ALL / EXCEPT ALL — the
    multiplicity-preserving twins of the distinct set ops in `set_ops`):
    order-priority multisets of two customer segments compared with
    duplicates retained. Spark plans both as aggregate-with-count
    rewrites — no row-pairing join."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        "c_mktsegment", "o_orderpriority", "o_orderstatus"
    )
    a = j.filter(F.col("c_mktsegment") == "BUILDING").select(
        "o_orderpriority", "o_orderstatus"
    )
    b = j.filter(F.col("c_mktsegment") == "MACHINERY").select(
        "o_orderpriority", "o_orderstatus"
    )
    inter = a.intersectAll(b).groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n")
    ).withColumn("op", F.lit("intersect_all"))
    exc = a.exceptAll(b).groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n")
    ).withColumn("op", F.lit("except_all"))
    return inter.unionByName(exc)


def q_text_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw text-file corpus ingestion (.txt, one document per line — the
    third corpus interchange format after parquet and JSONL): documents
    land as plain text once per corpus, spark.read.text reads them back,
    and the line-level aggregate must match the source exactly (count,
    distinct count, total characters — exact integer sums)."""
    import shutil

    txt_dir = _side_artifact_dir(sf_dir, "documents", "txt")
    marker = os.path.join(txt_dir, "_READY")
    if not os.path.exists(marker):
        shutil.rmtree(txt_dir, ignore_errors=True)
        load_table(spark, sf_dir, "documents").select("text").coalesce(4).write.text(
            txt_dir
        )
        with open(marker, "w", encoding="utf-8") as fh:
            fh.write("ok")
    lines = spark.read.text(txt_dir)
    return lines.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.countDistinct("value").alias("n_distinct_lines"),
        F.sum(F.length("value")).alias("total_chars"),
    )


def q_quality_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation capstone: the quality/repetition signals composed into one
    integer score and per-source quality deciles — the final ranked-select
    step of a data-curation pipeline (keep the top half of every source).

    Score is a deterministic integer: floor(quality*1e6) minus halved /
    quartered repetition penalties in ppm, so the composition is bitwise
    reproducible. Deciles are PER SOURCE (a partitioned window — a global
    ntile would funnel the corpus through one task at scale; per-source
    ranking is also the curation-correct choice, since quality scales
    differ across sources)."""
    from .operators.textops import analyze_documents, repetition_signals

    docs = spread_partitions(load_table(spark, sf_dir, "documents"))
    qa = analyze_documents(docs).select("doc_id", "quality_score")
    rep = repetition_signals(docs).select(
        "doc_id", "dup_word_frac", "dup_bigram_frac"
    )
    j = (
        docs.select("doc_id", "source")
        .join(qa, "doc_id")
        .join(rep, "doc_id")
    )
    score = (
        F.floor(F.col("quality_score") * 1e6)
        - F.expr("floor(dup_word_frac * 1000000) div 2")
        - F.expr("floor(dup_bigram_frac * 1000000) div 4")
    ).cast("long")
    w = Window.partitionBy("source").orderBy(F.desc("score_ppm"), F.asc("doc_id"))
    return (
        j.withColumn("score_ppm", score)
        .withColumn("source_decile", F.ntile(10).over(w))
        .withColumn("selected", F.col("source_decile") <= 5)
        .select("doc_id", "source", "score_ppm", "source_decile", "selected")
    )


def q_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space leakage detection: every EVAL item (vec_id < 100)
    checked for a TRAIN-set neighbor above a cosine threshold — the
    semantic complement of the n-gram `decontaminate` probe (paraphrased
    leakage that shares no 5-gram still lands nearby in embedding space).
    Emits per-eval-item contamination flags with the nearest train id.

    Scale: eval sets are small — the eval side broadcasts and the train
    corpus streams through one pass (no shuffle of train); the SRP-LSH
    bucketed path (srp_lsh_dup_pairs) is the composition when the eval set
    itself is too large to broadcast.
    """
    from .operators.similarity import dot_col, norm_col

    emb = load_table(spark, sf_dir, "embeddings")
    # spread BEFORE the pair scoring: the single-row-group scan otherwise
    # streams every (train x broadcast-eval) cosine fold through ONE task
    # (~2 s single-threaded at sf0.1); per-pair results are independent and
    # the downstream aggregate is order-free, so the round-robin is safe
    t = spread_partitions(emb).select(
        "vec_id", F.col("embedding").alias("v"), norm_col(F.col("embedding")).alias("n")
    )
    ev, tr = t.filter(F.col("vec_id") < 100).alias("e"), t.filter(
        F.col("vec_id") >= 100
    ).alias("t")
    cos = F.round(
        dot_col(F.col("e.v"), F.col("t.v")) / (F.col("e.n") * F.col("t.n")), 6
    )
    pairs = (
        tr.join(F.broadcast(ev))
        .select(
            F.col("e.vec_id").alias("eval_id"),
            F.col("t.vec_id").alias("train_id"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.35)
    )
    best = pairs.groupBy("eval_id").agg(
        F.max(F.struct("cosine", F.col("train_id"))).alias("b"),
        F.count(F.lit(1)).alias("n_hits"),
    )
    evals = emb.filter(F.col("vec_id") < 100).select(F.col("vec_id").alias("eval_id"))
    return evals.join(best, "eval_id", "left").select(
        "eval_id",
        F.col("b.cosine").alias("max_cosine"),
        F.col("b.train_id").alias("nearest_train_id"),
        F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
        F.col("b").isNotNull().alias("is_contaminated"),
    )


def q_bigram_lm_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional bigram statistics for n-gram language modeling: for each
    head word, its top-3 continuations with integer parts-per-million
    conditional probability — count tables are THE classic LM/quality
    artifact, and integer ppm keeps the oracle exact (a float P(w2|w1)
    would be division-order-dependent).

    Scale: corpus collapses to bigram counts in one explode + hash-agg
    pass; the per-head top-3 is WindowGroupLimit-bounded.
    """
    docs = spread_partitions(load_table(spark, sf_dir, "documents"))
    # single-token/empty docs have no bigram — and sequence(1, 0) would run
    # DESCENDING and index out of bounds, so the guard is load-bearing
    toks = docs.select(F.split(F.trim("text"), r"\s+").alias("w")).filter(
        F.size("w") >= 2
    )
    bigrams = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 1), i -> struct(w[i-1] AS w1, w[i] AS w2))"
            )
        ).alias("b")
    ).select("b.w1", "b.w2")
    counts = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n12"))
    head = Window.partitionBy("w1")
    rank_w = Window.partitionBy("w1").orderBy(F.desc("n12"), F.asc("w2"))
    return (
        counts.withColumn("n1", F.sum("n12").over(head))
        .withColumn("rn", F.row_number().over(rank_w))
        .filter(F.col("rn") <= 3)
        .select(
            "w1",
            "w2",
            "n12",
            F.expr("n12 * 1000000 div n1").alias("cond_ppm"),
            F.col("rn").alias("rank"),
        )
    )


def q_collocation_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram collocation mining by pointwise mutual information: the
    top-100 adjacent word pairs whose co-occurrence most exceeds the
    independence expectation — lift = N·c(w1,w2) / (c(w1,·)·c(·,w2)),
    pmi = ln(lift) — the classic corpus-linguistics collocation statistic
    and the phrase-detection signal tokenizer-vocab curation uses
    (word2vec-era phrase merging scores bigrams exactly this way).

    Cross-engine exactness: every count is an exact integer; lift is ONE
    IEEE division of two exactly-representable double products
    (n12·N and n1·n2 both ≪ 2^53 at any realistic corpus), written as
    the identical operation sequence on both sides → bitwise-equal
    doubles; pmi_micro floors 1e6·LN(lift) the same way bm25_rank's
    contribution does. Selection is deterministic: lift DESC with the
    full (w1, w2) tie-break before LIMIT 100.

    Scale: the corpus collapses to the bigram count table in one
    explode + map-side-combined hash aggregate, localCheckpoint-ed so
    the two vocab-bounded marginal re-aggregations and the candidate
    scan read materialized blocks instead of re-tokenizing (the
    bm25_rank one-tokenization discipline). Marginal joins are plain
    equi-joins — the left marginal reuses the groupBy(w1) partitioning,
    and AQE broadcasts vocab-sized sides when they fit (no unconditional
    hint: a 100 TB corpus's vocabulary outgrows a broadcast). The grand
    total attaches as a 1-row broadcast scalar; top-100 is a
    TakeOrderedAndProject, never a global sort.
    """
    docs = spread_partitions(load_table(spark, sf_dir, "documents"))
    # single-token/empty docs have no bigram — and sequence(1, 0) would
    # run DESCENDING and index out of bounds, so the guard is load-bearing
    toks = docs.select(F.split(F.trim("text"), r"\s+").alias("w")).filter(
        F.size("w") >= 2
    )
    bigrams = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 1), i -> struct(w[i-1] AS w1, w[i] AS w2))"
            )
        ).alias("b")
    ).select("b.w1", "b.w2")
    counts = (
        bigrams.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n12"))
        .localCheckpoint()
    )
    left = counts.groupBy("w1").agg(F.sum("n12").alias("n1"))
    right = counts.groupBy("w2").agg(F.sum("n12").alias("n2"))
    total = counts.agg(F.sum("n12").alias("n_total"))
    scored = (
        counts.filter(F.col("n12") >= 20)
        .join(left, "w1")
        .join(right, "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1",
            "w2",
            "n12",
            "n1",
            "n2",
            (
                (F.col("n12").cast("double") * F.col("n_total").cast("double"))
                / (F.col("n1").cast("double") * F.col("n2").cast("double"))
            ).alias("lift"),
        )
        .withColumn(
            # FLOOR(1e6*ln) assumes JVM Math.log and DuckDB ln agree to the
            # bit on these inputs (they do here and in bm25_rank — both call
            # the platform libm on exactly-representable ratios); a 1-ulp
            # divergence AT a floor boundary would fail value-match. Known,
            # accepted: selection/order is by exact-integer lift components,
            # so only the reported score is exposed to the assumption.
            "pmi_micro",
            F.floor(F.lit(1000000.0) * F.log("lift")).cast("long"),
        )
    )
    return scored.orderBy(F.desc("lift"), F.asc("w1"), F.asc("w2")).limit(100)


def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series downsampling to OHLC bars: per (event_type, hour)
    bucket, the open/high/low/close of ``value`` plus event count and
    exact volume — the telemetry/market-data compaction every monitoring
    pipeline runs before charting or long-horizon modeling (raw events
    are unqueryable at 100 TB; bars are O(types × hours)).

    Open/close are the classic "first/last by time" hazard: FIRST() is
    partition-order-dependent and a window sort funnels hot buckets.
    Here they are ONE aggregate each — min/max over (ts, event_id,
    value) structs, lexicographic with the event_id tie-break — so the
    result is deterministic and partial aggregation absorbs a hot
    bucket map-side (the corpus_survivors_agg discipline). Volume
    accumulates in DECIMAL (order-independent) before the double cast;
    rows with NULL ts/event_id/value are filtered identically on both
    engines (struct comparison with NULL fields is where engines
    disagree, so they never reach the aggregate).

    Scale: ONE map-side-combined hash aggregate over the event stream;
    output is bounded by types × hours, never event rows.
    """
    ev = spread_partitions(load_table(spark, sf_dir, "events")).filter(
        F.col("ts").isNotNull()
        & F.col("event_id").isNotNull()
        & F.col("value").isNotNull()
    )
    b = ev.select(
        "event_type",
        F.date_trunc("hour", "ts").alias("bar_start"),
        "ts",
        "event_id",
        F.col("value").cast("double").alias("v"),
    )
    return b.groupBy("event_type", "bar_start").agg(
        F.expr("min(struct(ts, event_id, v)).v").alias("open"),
        F.max("v").alias("high"),
        F.min("v").alias("low"),
        F.expr("max(struct(ts, event_id, v)).v").alias("close"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("v").cast("decimal(18,6)")).cast("double").alias("volume"),
    )


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-growth dedup: a NEW document batch deduplicated against the
    HISTORICAL corpus by fingerprint — the incremental form every
    continuously-crawled training corpus needs (whole-corpus re-dedup per
    ingest is O(history); this is O(batch + matched keys)).

    Split is simulated on doc_id (history < 250, batch >= 250). The
    decision is a LEFT join against the historical fingerprint index
    (at production scale that index is a bucketed table on the fingerprint
    — co-located probe, no shuffle of history per ingest); each new doc
    emits is_novel plus the id of the historical doc it duplicates.
    """
    from .operators.dedup import fingerprint_col

    docs = load_table(spark, sf_dir, "documents")
    history = (
        docs.filter(F.col("doc_id") < 250)
        .select(fingerprint_col().alias("fingerprint"), F.col("doc_id").alias("dup_of"))
        .groupBy("fingerprint")
        .agg(F.min("dup_of").alias("dup_of"))
    )
    batch = docs.filter(F.col("doc_id") >= 250).select(
        "doc_id", fingerprint_col().alias("fingerprint")
    )
    return (
        batch.join(history, "fingerprint", "left")
        .select(
            "doc_id",
            "fingerprint",
            F.col("dup_of").isNull().alias("is_novel"),
            "dup_of",
        )
    )


def q_geo_cell_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-bucketed spatial join — the reference's geolocation enrichment
    (silver_geolocations + dim_customers geo join) generalized to a true
    proximity join, expressed the Spark-native way: bucket points into
    1-degree grid cells, replicate one side to its 3x3 neighbor cells, join
    on cell equality, verify with an exact distance predicate.

    The testdata has no coordinate columns, so both sides get
    DETERMINISTIC synthetic coordinates (integer micro-degrees from a
    multiplicative key hash) and the distance check is squared-euclidean in
    integer micro-degrees — every step is integer-exact, so the oracle
    reproduces the full output bit-for-bit (a haversine double would vary
    between libm implementations at the filter knife-edge).

    Scale: the classic decomposition of a theta (distance) join into an
    equi-shuffle — candidates are bounded by 9 cells x local density, never
    all-pairs; the same plan family as the range join's bucket
    decomposition (operators/rangejoin.py).
    """
    CELL = 1_000_000  # 1 degree in micro-degrees
    R2 = 1_000_000 * 1_000_000  # 1-degree squared radius (== cell size,
    # the largest radius the 3x3 neighborhood provably covers)

    def coords(df, key, prefix, m_lat, m_lon):
        # cast the int32 key to long BEFORE the multiply: with an int
        # literal multiplier the arithmetic stays 32-bit and silently
        # wraps (ANSI off) once key * m exceeds 2^31, diverging from the
        # oracle's wider-int arithmetic — both sides must compute in 64-bit
        k = F.col(key).cast("long")
        lat = F.pmod(k * F.lit(m_lat), F.lit(180_000_000)) - F.lit(90_000_000)
        lon = F.pmod(k * F.lit(m_lon), F.lit(360_000_000)) - F.lit(180_000_000)
        return df.select(
            F.col(key),
            lat.alias(f"{prefix}_lat"),
            lon.alias(f"{prefix}_lon"),
        )

    def cell(col):
        # floor division via exact double floor — Spark's `div` truncates
        # toward zero while DuckDB's `//` floors; floor() agrees everywhere
        return F.floor(col / F.lit(CELL)).cast("long")

    cust = coords(
        load_table(spark, sf_dir, "customer"), "c_custkey", "c", 2654435761, 2246822519
    ).withColumn("cell_lat", cell(F.col("c_lat"))).withColumn(
        "cell_lon", cell(F.col("c_lon"))
    )
    supp = coords(
        load_table(spark, sf_dir, "supplier"), "s_suppkey", "s", 40503, 65171
    )
    # replicate suppliers to their 3x3 neighbor cells
    supp9 = supp.select(
        "*",
        F.explode(F.sequence(F.lit(-1), F.lit(1))).alias("dlat"),
    ).select(
        "*",
        F.explode(F.sequence(F.lit(-1), F.lit(1))).alias("dlon"),
    ).select(
        "s_suppkey",
        "s_lat",
        "s_lon",
        (cell(F.col("s_lat")) + F.col("dlat")).alias("cell_lat"),
        (cell(F.col("s_lon")) + F.col("dlon")).alias("cell_lon"),
    )
    d2 = (
        (F.col("c_lat") - F.col("s_lat")) * (F.col("c_lat") - F.col("s_lat"))
        + (F.col("c_lon") - F.col("s_lon")) * (F.col("c_lon") - F.col("s_lon"))
    )
    return (
        cust.join(supp9, ["cell_lat", "cell_lon"])
        .withColumn("dist2", d2)
        .filter(F.col("dist2") <= R2)
        .select("c_custkey", "s_suppkey", "dist2")
    )


def q_window_dedup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe twin of `window_dedup`: first-event-per-user computed as
    MIN(struct(ts, event_id, ...)) — a hash aggregate with MAP-SIDE partial
    combining, so a hot key costs one comparison per input partition
    instead of funneling its entire group through one window-sort task.
    Identical output contract (same oracle shape as window_dedup); this is
    the formulation to reach for when the dedup key is skewed — the window
    form remains the general one when rank > 1 or ties must be enumerated.
    """
    ev = load_table(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.min(F.struct("ts", "event_id", "value", "event_type")).alias("f")
    )
    return first.select(
        "user_id",
        F.col("f.value").alias("first_value"),
        F.col("f.event_type").alias("first_type"),
    )


def q_jsonl_ingest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL corpus ingestion end-to-end, driver-checkable: documents land
    as JSON-lines once per sf_dir (the canonical LLM-corpus interchange
    format), then JsonlIngestor infers-and-pins the schema, tracks the
    processed-file ledger, and reads the corpus back — the typed round-trip
    must value-match the parquet source exactly. A temp state dir, removed
    when ``ingest()`` returns, keeps the query idempotent."""
    import tempfile

    from .sources.json_ingest import JsonlIngestor

    jsonl_dir = _side_artifact_dir(sf_dir, "documents", "jsonl")
    marker = os.path.join(jsonl_dir, "_READY")
    if not os.path.exists(marker):
        docs = load_table(spark, sf_dir, "documents")
        docs.coalesce(4).write.mode("overwrite").json(jsonl_dir)
        with open(marker, "w", encoding="utf-8") as fh:
            fh.write("ok")
    with tempfile.TemporaryDirectory(prefix="spark_graft_jsonl_state_") as state:
        result = JsonlIngestor(jsonl_dir, state).ingest(spark)
    if "doc_id" not in result.df.columns:
        # empty corpus: JSON schema inference sees zero records and yields
        # only _rescued_data — return the typed empty frame instead of an
        # unresolved-column failure
        return spark.createDataFrame(
            [], "doc_id long, text string, lang string, source string, n_chars long"
        )
    return result.df.select(
        F.col("doc_id").cast("long"),
        "text",
        "lang",
        "source",
        F.col("n_chars").cast("long"),
    )


def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar-format interchange: orders round-trip through ORC (the
    other Spark-native columnar format) and the read-back aggregate must
    match the parquet-source oracle exactly — proving the engine's sink
    and scan paths are format-agnostic (same DataFrame plan, different
    FileFormat; ORC carries its own min/max indexes for pushdown)."""
    import shutil
    import tempfile

    base = os.path.join(tempfile.gettempdir(), "spark_graft_orc")
    shutil.rmtree(base, ignore_errors=True)
    path = os.path.join(base, "orders_orc")
    load_table(spark, sf_dir, "orders").write.orc(path)
    back = spark.read.orc(path)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("sum_total"),
        F.min(F.to_date("o_orderdate")).alias("first_day"),
        F.max(F.to_date("o_orderdate")).alias("last_day"),
    )


def q_optimize_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE analog as a driver-checkable query: the events table is
    deliberately shattered into small files, compacted back to the byte
    target (operators/maintenance.py — the parquet-native equivalent of
    delta.autoCompact), and the compacted table's per-type aggregate is
    returned. Matching the oracle's direct aggregate over the source
    PROVES the rewrite is content-preserving; the returned
    ``n_files_shrunk`` flag proves compaction actually ran.
    """
    import shutil
    import tempfile

    from .operators.maintenance import compact_parquet, parquet_file_stats

    base = os.path.join(tempfile.gettempdir(), "spark_graft_optimize")
    shutil.rmtree(base, ignore_errors=True)
    small = os.path.join(base, "events_small_files")
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    ev.repartition(64).write.parquet(small)
    compact_parquet(spark, small, target_bytes=256 * 1024 * 1024)
    after = parquet_file_stats(spark, small)
    return (
        spark.read.parquet(small)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,6)"))
            .cast("double")
            .alias("sum_value"),
        )
        .withColumn("n_files_shrunk", F.lit(after["n_files"] < 64))
    )


def q_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group quantile VECTOR (p25/p50/p75/p90) by rank selection:
    one window sort per group assigns ranks, one conditional aggregate
    picks the value at rank floor((n-1)*p)+1 (lower-value semantics — no
    interpolation, so the float math is engine-identical by construction).

    Scale: the honest cost of exact quantiles is the per-group sort; all
    four quantiles ride ONE window pass + ONE aggregate (not one pass per
    quantile). approx_quantiles (GK sketch) is the documented scale path
    when bounded error is acceptable."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    cnt = Window.partitionBy("event_type")
    ranked = ev.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(cnt).alias("n"),
    )

    def at(p: float):
        k = F.floor((F.col("n") - 1) * F.lit(p)) + 1
        return F.max(F.when(F.col("rn") == k, F.col("value")))

    return ranked.groupBy("event_type").agg(
        at(0.25).alias("q25"),
        at(0.50).alias("q50"),
        at(0.75).alias("q75"),
        at(0.90).alias("q90"),
        F.any_value("n").alias("n_values"),
    )


def q_time_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-interval RANGE frame: per user, the trailing-1-hour event sum
    and count at every event — the time-series rolling aggregate a
    timestamp-RANGE window expresses declaratively (no self-join, no
    explode of time buckets). Sums accumulate in DECIMAL so the trailing
    totals are bitwise engine-independent.

    Scale: one shuffle on the partition key; within each partition the
    frame is a sliding two-pointer over the sorted events — O(rows), not
    O(rows · window span)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    ev = ev.withColumn("ts_sec", F.col("ts").cast("long"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_sec")
        .rangeBetween(-3600, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        F.sum(F.col("value").cast("decimal(38,6)")).over(w).cast("double").alias(
            "trailing_1h_value"
        ),
        F.count(F.lit(1)).over(w).alias("trailing_1h_events"),
    )


def q_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT type: parse the semi-structured props column once
    into a variant and extract typed paths (the modern replacement for
    per-path get_json_object re-parsing — the variant binary encodes the
    parsed tree, so N path extractions cost one parse).
    """
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_id",
        F.parse_json(F.col("props")).alias("v"),
    ).select(
        "event_id",
        F.expr("variant_get(v, '$.k', 'int')").alias("k"),
    )
    # explicit floor() on BOTH sides, not integer division: Spark's div
    # AND DuckDB's integer // both truncate toward zero, which diverges
    # from floor-bucketing on negative k — so the bucketing is pinned to
    # FLOOR(k/10) written identically in both engines
    return v.groupBy(F.floor(F.col("k") / 10).cast("int").alias("k_bucket")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
    )


def q_udtf_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (table function) surface: a word-splitting UDTF applied
    via LATERAL over documents, aggregated to the top-20 word lengths.

    This is the API-surface demonstration for user table functions
    (SURVEY.md §2.10) — the hot path for this exact computation is the JVM
    explode(split(...)) in `explode_tokens`/`top_ngrams`; a row-path Python
    UDTF costs 10-100x more and belongs only where logic can't be
    expressed in built-ins.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="word: string, wlen: int")
    class SplitWords:
        def eval(self, text: str):
            for w in (text or "").split():
                yield (w, len(w))

    spark.udtf.register("split_words", SplitWords)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("__udtf_docs")
    return spark.sql(
        """
        SELECT w.word, CAST(COUNT(*) AS BIGINT) AS n
        FROM __udtf_docs d, LATERAL split_words(d.text) w
        GROUP BY w.word
        ORDER BY n DESC, w.word
        LIMIT 20
        """
    )


def q_recursive_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4 WITH RECURSIVE) with K-STEP EDGES — the
    path-doubling trick folded into the edge build: walk each customer's
    order chain assigning sequence positions, but jump K=8 positions per
    recursion round instead of 1. The K-step successor is free —
    ``lead(o_orderkey, K)`` rides the SAME window pass that builds the
    1-step edges — and the seed covers positions 1..K (``rn <= K``), so
    every position p has the unique decomposition p = s + m·K (s ≤ K) and
    is emitted exactly once. Rounds drop from max-chain-depth to
    ceil(depth/K): ~25 levels → 4, and each round is still one equi-join of
    the live frontier against the edge list. The recursion is executed by
    Catalyst's recursion operator (UNION ALL semantics, depth-capped by
    spark.sql.cteRecursionLevelLimit); chains are acyclic. The oracle
    states the same contract declaratively as a ROW_NUMBER window —
    recursion and ranking must agree exactly.

    Scale: per-round cost is O(live rows); with K-step jumps the dominant
    cost — per-round job/shuffle latency × rounds — shrinks by K while
    total joined rows stay O(rows). Raising K further trades a wider seed
    scan for fewer rounds; K=8 puts the round count near the floor for
    order-per-customer chain depths (sf1: 15.1s → ~6s measured).
    """
    # the recursion emits one row per order; Spark guards runaway recursion
    # with a total-output row cap (default 1e6) — size it to the data like
    # any other admission limit. The override is scoped, not leaked:
    # tuning.catalog_entry (run on every catalog call) resets it to the
    # default, so the weakened guard lasts only for this query's execution —
    # and because the returned frame is localCheckpoint-ed (executed HERE,
    # under the raised cap), a caller that builds this query, runs another,
    # and only then collects cannot trip the re-armed 1e6 cap at action time.
    try:
        spark.conf.set("spark.sql.cteRecursionRowLimit", str(200_000_000))
    except Exception:
        pass  # conf absent on this Spark build; default cap applies
    K = 8
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    # materialize the edge table ONCE — a CTE reference inside the
    # recursion would re-evaluate the window at every level (O(rounds) full
    # window sorts); localCheckpoint makes each round a join against a
    # cached edge list instead
    nxt = (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.lead("o_orderkey", K).over(w).alias("jump_key"),
            F.row_number().over(w).alias("rn"),
        )
        .localCheckpoint()
    )
    nxt.createOrReplaceTempView("__rc_nxt")
    return spark.sql(
        f"""
        WITH RECURSIVE chain(o_custkey, o_orderkey, seq_pos) AS (
          SELECT o_custkey, o_orderkey, rn FROM __rc_nxt WHERE rn <= {K}
          UNION ALL
          SELECT n.o_custkey, n.jump_key, c.seq_pos + {K}
          FROM chain c
          JOIN __rc_nxt n ON n.o_orderkey = c.o_orderkey
          WHERE n.jump_key IS NOT NULL
        )
        SELECT o_custkey, o_orderkey, CAST(seq_pos AS INT) AS seq_pos
        FROM chain
        """
    ).localCheckpoint()


def q_list_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parallel list ranking by pointer jumping (operators/listrank.py) —
    the log-rounds fallback the recursive chain walk names for degenerate
    chain depths: ceil(log2(depth)) self-joins instead of depth/K recursion
    rounds, so a corpus where one customer owns half the orders (a
    750k-deep chain) still finishes in ~20 rounds. Same contract as
    ``recursive_chain`` and the same declarative ROW_NUMBER oracle —
    recursion, ranking, and pointer jumping must agree exactly.

    Scale: each round is one hash self-join on the node id +
    localCheckpoint (O(n) per round); the round count is bounded by the
    measured max orders-per-customer, one cheap aggregate.
    """
    from .operators.listrank import list_rank

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    nodes = orders.select(
        "o_custkey",
        "o_orderkey",
        F.lag("o_orderkey").over(w).alias("prev_key"),
    ).localCheckpoint()
    # The depth probe reads the already-materialized checkpoint (a cheap
    # in-memory aggregate). An overlapped variant that re-aggregated the
    # BASE table concurrently with the checkpoint (guide §2.6) was A/B'd
    # in round 11 and measured *slower* (min-of-3 1.59 -> 1.85 s): it
    # duplicates an O(|orders|) scan+aggregate to hide ~0.1 s of latency.
    depth = (
        nodes.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n"))
        .first()[0]
    )
    # MAX over zero groups is NULL (empty orders slice): one round ranks
    # the empty node table fine; int(None) would not
    ranked = list_rank(
        nodes, "o_orderkey", "prev_key", rank_col="__r",
        max_depth=int(depth) if depth is not None else 1,
    )
    return nodes.select("o_custkey", "o_orderkey").join(ranked, "o_orderkey").select(
        "o_custkey",
        "o_orderkey",
        (F.col("__r") + 1).cast("int").alias("seq_pos"),
    )


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bidirectional supplier↔customer trade graph shared by the graph
    family (pagerank_trade, bfs_reach): distinct lineitem⋈orders pairs,
    node id = key*2 for suppliers / key*2+1 for customers (disjoint
    integer namespaces, 64-bit safe via the explicit long cast).

    Only the DIRECTED half is materialized (localCheckpoint): the
    symmetric union is a lazy map-only swap over those blocks, so every
    consumer re-scan reads half the bytes a materialized bidirectional
    list would — callers must NOT re-checkpoint the result (and pagerank
    takes it with ``materialized=True``)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    pairs = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            (F.col("l_suppkey").cast("long") * 2).alias("src"),
            (F.col("o_custkey").cast("long") * 2 + 1).alias("dst"),
        )
        .distinct()
        .localCheckpoint()
    )
    return pairs.union(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def q_pagerank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the supplier↔customer trade graph
    (operators/graph.py::pagerank_integer): distinct lineitem⋈orders
    supplier–customer pairs become bidirectional edges (node id = key*2
    for suppliers, key*2+1 for customers — disjoint integer namespaces),
    then 5 power iterations in integer micro-unit arithmetic. The
    Pregel-showcase iterative algorithm joining connected components and
    list ranking in the graph family; importance scoring like this drives
    crawl-corpus curation (rank sources by link structure, keep the head).

    Integer ranks (floor-division update rule) make the fixpoint exactly
    order-independent, so the oracle is the same 5 iterations unrolled as
    chained CTEs in DuckDB — bitwise equality, no float tolerance.

    Scale: edge build is one equi-join + distinct (hash shuffles on
    orderkey then the pair); each iteration one join on src (partitioning
    reused from the localCheckpoint-ed degree-annotated edge list) + one
    map-side-combined hash aggregate on dst. O(E) per round, no driver
    state, no collect.
    """
    from .operators.graph import pagerank_integer

    edges = _trade_edges(spark, sf_dir)  # directed half checkpointed inside
    ranks = pagerank_integer(edges, iterations=5, materialized=True, symmetric=True)
    return ranks.select(
        F.when(F.col("node") % 2 == 0, F.lit("supplier"))
        .otherwise(F.lit("customer"))
        .alias("entity_type"),
        F.expr("node div 2").alias("entity_key"),
        F.col("rank").alias("rank_micro"),
    )


def q_dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood near-dup candidates (Hernández & Stolfo 1995)
    — the classic record-linkage blocking family the catalog's other
    dedup paths (MinHash-LSH, SimHash, n-gram Jaccard) don't cover: sort
    documents by a normalized key and compare each only to its w=3
    predecessors in sort order, so candidate generation is O(n·w) instead
    of O(n²), with edit distance as the verifier.

    Scale twist vs the textbook: the textbook's single GLOBAL sort would
    funnel 100 TB through one window task. Here the window partitions by a
    2-char blocking prefix of the key (near-identical texts share it) and
    sorts within the block — fully parallel, at the standard blocking
    cost of missing pairs that straddle a block boundary. The key is
    truncated to 80 chars AT PROJECTION (before the shuffle), so the
    window exchange carries at most 80 chars + 3 lagged copies per row —
    never the full document text; the sort key caps at 64 and the
    Levenshtein DP at 80 on top of that.

    Oracle: identical lag-window + levenshtein construction in DuckDB
    (its substr(…,1,80)/substr(…,1,64) compose identically over the
    pre-truncated key).
    """
    docs = load_table(spark, sf_dir, "documents")
    key = F.lower(F.trim(F.col("text")))
    base = docs.select(
        "doc_id",
        # 80-char cap here bounds the shuffle payload; every downstream
        # substring (sort 64, DP 80) composes identically with the cap
        F.substring(key, 1, 80).alias("__key"),
        F.substring(key, 1, 2).alias("__blk"),
    )
    w = Window.partitionBy("__blk").orderBy(F.substring(F.col("__key"), 1, 64), "doc_id")
    lagged = base.select(
        "doc_id",
        "__key",
        *[F.lag("doc_id", i).over(w).alias(f"__p{i}_id") for i in (1, 2, 3)],
        *[F.lag("__key", i).over(w).alias(f"__p{i}_key") for i in (1, 2, 3)],
    )
    probes = [
        lagged.select(
            F.col(f"__p{i}_id").alias("doc_a"),
            F.col("doc_id").alias("doc_b"),
            F.levenshtein(
                F.substring(F.col("__key"), 1, 80),
                F.substring(F.col(f"__p{i}_key"), 1, 80),
            ).alias("edit_dist"),
        ).where(F.col(f"__p{i}_id").isNotNull())
        for i in (1, 2, 3)
    ]
    out = probes[0].union(probes[1]).union(probes[2])
    return out.where(F.col("edit_dist") <= 10).select(
        F.least("doc_a", "doc_b").alias("doc_a"),
        F.greatest("doc_a", "doc_b").alias("doc_b"),
        "edit_dist",
    )


def q_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank over the trade graph: edge weight = number of
    distinct orders linking the supplier and customer, so rank mass flows
    proportionally to trade VOLUME, not mere adjacency —
    contrib(e) = rank(src)·w(e) div Σw(src), still floor-per-edge integer
    arithmetic, so the weighted fixpoint is as bitwise-reproducible as the
    unweighted one (operators/graph.py::pagerank_integer, weight_col
    path; the unweighted query is the w=1 special case of the same code).

    Scale shape identical to pagerank_trade: one weighted-degree join per
    iteration against the localCheckpoint-ed edge list + one
    map-side-combined aggregate on dst.
    """
    from .operators.graph import pagerank_integer

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    # each order has exactly ONE customer, so "distinct orders linking the
    # pair" ≡ distinct (supplier, orderkey) — dedup BEFORE the join, on the
    # narrow 2-column projection (map-side partial dedup shrinks the
    # shuffle), then the join output is already order-unique per supplier
    # and the weight is a plain COUNT: one agg exchange on (src, dst)
    # instead of countDistinct's two-phase (src, dst, orderkey) rewrite
    # over the full joined width
    so = li.select("l_suppkey", "l_orderkey").distinct()
    wpairs = (
        so.join(orders, so["l_orderkey"] == orders["o_orderkey"])
        .groupBy(
            (F.col("l_suppkey").cast("long") * 2).alias("src"),
            (F.col("o_custkey").cast("long") * 2 + 1).alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
        # directed half materialized once; the symmetric union below is a
        # lazy map-only swap over these blocks (same shape as _trade_edges)
        .localCheckpoint()
    )
    edges = wpairs.union(
        wpairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    )
    ranks = pagerank_integer(
        edges, iterations=5, weight_col="w", materialized=True, symmetric=True
    )
    return ranks.select(
        F.when(F.col("node") % 2 == 0, F.lit("supplier"))
        .otherwise(F.lit("customer"))
        .alias("entity_type"),
        F.expr("node div 2").alias("entity_key"),
        F.col("rank").alias("rank_micro"),
    )


def q_bfs_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-hop BFS / shortest hop distance over the trade graph:
    minimum hops (≤3) from the seed set (suppliers of nation 1) to every
    reachable node — the frontier-expansion primitive completing the
    graph family (components, PageRank, list ranking, triangles).

    The hop bound is a FIXED unroll — each level is one equi-join of the
    previous frontier against the edge list (hash on the node key, reused
    partitioning) + distinct; the final distance is MIN over the leveled
    union, so re-visits resolve to the earliest level without per-level
    visited-set state. Unbounded-diameter BFS would iterate the same step
    with a fixpoint probe (the connected-components loop shape); bounded
    unrolls keep the oracle expressible as plain chained SQL.
    """
    from .operators.graph import BROADCAST_NODE_LIMIT

    edges = _trade_edges(spark, sf_dir)  # directed half checkpointed inside
    supplier = load_table(spark, sf_dir, "supplier")
    l0 = (
        supplier.where(F.col("s_nationkey") == 1)
        .select((F.col("s_suppkey").cast("long") * 2).alias("node"))
        .distinct()
    )
    # Each frontier is checkpointed and counted, and the count gates a
    # per-level broadcast: a frontier under the node limit probes the edge
    # list in place (map-only join — without the hint AQE sees a stats-less
    # checkpoint scan and re-exchanges + sorts the edge list EVERY level),
    # while an explosive frontier at scale falls back to the SMJ path on
    # its own level only. The checkpoint also keeps each level's join
    # reading the previous level's materialized rows instead of re-deriving
    # the whole unrolled lineage.
    levels = [l0.localCheckpoint()]
    for _ in range(3):
        frontier = (
            F.broadcast(levels[-1])
            if levels[-1].count() <= BROADCAST_NODE_LIMIT
            else levels[-1]
        )
        levels.append(
            edges.join(frontier, edges["src"] == frontier["node"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .localCheckpoint()
        )
    leveled = None
    for hops, lv in enumerate(levels):
        tagged = lv.select("node", F.lit(hops).alias("hops"))
        leveled = tagged if leveled is None else leveled.union(tagged)
    return (
        leveled.groupBy("node")
        .agg(F.min("hops").alias("hops"))
        .select(
            F.when(F.col("node") % 2 == 0, F.lit("supplier"))
            .otherwise(F.lit("customer"))
            .alias("entity_type"),
            F.expr("node div 2").alias("entity_key"),
            F.col("hops").cast("int").alias("hops"),
        )
    )


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection over the supplier↔customer trade graph via
    fixed-round deterministic label propagation
    (operators/graph.py::label_propagation): 3 synchronous rounds of
    "adopt the most frequent neighbor label, ties to the smallest" from
    an identity labeling. Completes the graph family's question set —
    components (connectivity), PageRank (centrality), BFS (distance),
    triangles (cohesion), LPA (community) — the curation primitive for
    grouping sources/entities that trade in the same cluster.

    Min-label tie-breaking derandomizes classic LPA, so the oracle is
    the same 3 rounds unrolled as chained CTEs in DuckDB — bitwise
    integer equality. Scale shape = pagerank_trade: O(E) join + two
    map-side-combined aggregates per round against the
    localCheckpoint-ed edge list; the O(V) label vector broadcasts only
    under BROADCAST_NODE_LIMIT.
    """
    from .operators.graph import label_propagation

    edges = _trade_edges(spark, sf_dir)  # directed half checkpointed inside
    labels = label_propagation(edges, rounds=3)
    return labels.select(
        F.when(F.col("node") % 2 == 0, F.lit("supplier"))
        .otherwise(F.lit("customer"))
        .alias("entity_type"),
        F.expr("node div 2").alias("entity_key"),
        F.when(F.col("label") % 2 == 0, F.lit("supplier"))
        .otherwise(F.lit("customer"))
        .alias("community_type"),
        F.expr("label div 2").alias("community_key"),
    )


def q_community_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity scoring of the LPA partition — the detect→score
    composition every community pipeline runs (is the clustering better
    than random?): per community c over the symmetric trade graph,
    q_c = a_c/2m − (d_c/2m)² with a_c = intra-community directed edges,
    d_c = community degree sum, 2m = total directed edges.

    Exactness: NESTED integer ppm — q_ppm = (1e6·a_c) div 2m −
    ((1e6·d_c) div 2m)² div 1e6. Spark's `div` and DuckDB's integer `//`
    both truncate toward zero (and every operand here is non-negative,
    where truncation and floor coincide anyway); the nesting keeps
    intermediates under 2^63 (a plain 1e6·d_c² overflows at ~3M-edge
    communities). Deterministic, bitwise-reproducible.

    Scale: the labeling localCheckpoints once; intra-edge counting is
    two equi-joins of the edge list against the O(V) label vector
    (broadcast under BROADCAST_NODE_LIMIT — the bfs/pagerank gate),
    each aggregate map-side-combines to O(communities) rows, and 2m is
    a driver-known count off the checkpointed half. Output is one row
    per community.
    """
    from .operators.graph import BROADCAST_NODE_LIMIT, label_propagation

    edges = _trade_edges(spark, sf_dir)  # directed half checkpointed inside
    labels = label_propagation(edges, rounds=3).localCheckpoint()
    t2m = edges.count()
    small = labels.count() <= BROADCAST_NODE_LIMIT
    ls = labels.select(F.col("node").alias("src"), "label")
    ld = labels.select(
        F.col("node").alias("__dst_n"), F.col("label").alias("__label_d")
    )
    if small:
        ls, ld = F.broadcast(ls), F.broadcast(ld)
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("n_nodes"))
    # degree_sum and intra_deg in ONE pass over the edge list (round-11):
    # the former two-subtree form (edges⋈ls → count; edges⋈ls⋈ld → filter →
    # count) scanned and joined the E-row edge list twice. Both are counts
    # over the SAME src-label join — annotate each edge with both endpoint
    # labels once and take degree_sum = count(*), intra_deg = count of
    # label-equal rows, in a single map-side-combined aggregate. The ld join
    # stays inner: under the symmetric-edges contract every dst appears as a
    # src, so every edge row keeps exactly one match and counts are
    # unchanged; labels with zero intra edges now aggregate to 0 directly
    # (the old LEFT join + coalesce handled their absence).
    stats = (
        edges.join(ls, "src")
        .join(ld, F.col("dst") == F.col("__dst_n"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("degree_sum"),
            F.sum(
                F.when(F.col("label") == F.col("__label_d"), 1).otherwise(0)
            ).cast("long").alias("intra_deg"),
        )
    )
    out = (
        sizes.join(stats, "label")
        .select(
            F.when(F.col("label") % 2 == 0, F.lit("supplier"))
            .otherwise(F.lit("customer"))
            .alias("community_type"),
            F.expr("label div 2").alias("community_key"),
            "n_nodes",
            F.coalesce(F.col("intra_deg"), F.lit(0).cast("long")).alias("intra_deg"),
            "degree_sum",
            F.expr(
                f"cast((1000000 * coalesce(intra_deg, 0L)) div {t2m}L"
                f" - (((1000000 * degree_sum) div {t2m}L)"
                f"    * ((1000000 * degree_sum) div {t2m}L)) div 1000000"
                " as bigint)"
            ).alias("q_ppm"),
        )
    )
    return out


def q_kcore_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-core peeling of the supplier↔customer trade graph
    (operators/graph.py::kcore_peel, k=20, 3 synchronous rounds): round r
    simultaneously removes every surviving node whose degree in the
    current surviving subgraph is < 20, then restricts the edges to
    survivors. Output = every node with the round that peeled it (0 =
    still in the 20-core candidate set after 3 rounds) and the degree
    that decided it — the graph-density primitive completing the family
    (components/PageRank/BFS/triangles/LPA/assortativity), and the
    standard way to split a 100 TB source graph into a dense
    mutually-linked head and a sparse periphery.

    Deterministic by construction (synchronous rounds, integer degrees —
    no tie-breaking needed at all), so the oracle is the same 3 rounds
    unrolled as chained CTEs in DuckDB: exact integer equality (the
    round count is fixed because a static SQL oracle cannot unroll a
    data-dependent convergence depth).

    Scale shape: one map-side-combined degree aggregate + two left-semi
    survivor joins per round against the localCheckpoint-ed edge list;
    the O(V) survivor vector broadcasts only under BROADCAST_NODE_LIMIT.
    """
    from .operators.graph import kcore_peel

    edges = _trade_edges(spark, sf_dir)  # directed half checkpointed inside
    cores = kcore_peel(edges, k=20, rounds=3)
    return cores.select(
        F.when(F.col("node") % 2 == 0, F.lit("supplier"))
        .otherwise(F.lit("customer"))
        .alias("entity_type"),
        F.expr("node div 2").alias("entity_key"),
        "peeled_round",
        "degree",
    )


def q_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand ordinary-least-squares fit of extended price on quantity
    (REGR_SLOPE / REGR_INTERCEPT analog) via the closed-form sufficient
    statistics — the aggregate-only regression every SQL engine's REGR_*
    family hides: slope = (n·Σxy − Σx·Σy) / (n·Σxx − Σx²).

    Cross-engine exactness: each Σ accumulates in DECIMAL (exact,
    order-independent — raw double SUM differs in ulps across shuffle
    orders), then the slope/intercept arithmetic runs in DOUBLE with the
    expression written identically on both sides, so the IEEE operation
    sequence — and therefore every bit of the result — matches. One
    map-side-combined hash aggregate; no second pass, no window.

    The decimal→double hop routes through exact int64 units (×100 for the
    2-dp sums; the qty sums are integral) because a direct
    CAST(decimal AS DOUBLE) diverges across engines past ~15 significant
    digits (Spark rounds the full decimal, DuckDB divides the scaled
    integer) — the sf1 shuffle-stress sweep caught Σxy crossing 2^53
    scaled units. int64→double is round-to-nearest-even in both engines.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
    sums = j.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        # qty is integer-valued: the decimal sum casts to bigint exactly
        F.sum(F.col("l_quantity").cast("decimal(20,6)"))
        .cast("bigint")
        .cast("double")
        .alias("sx"),
        # price is 2-dp: ×100 is the exact integer form
        (
            (F.sum(F.col("l_extendedprice").cast("decimal(20,6)")) * F.lit(100))
            .cast("bigint")
            .cast("double")
            / F.lit(100.0)
        ).alias("sy"),
        (
            (
                F.sum(
                    (F.col("l_quantity") * F.col("l_extendedprice")).cast(
                        "decimal(30,6)"
                    )
                )
                * F.lit(100)
            )
            .cast("bigint")
            .cast("double")
            / F.lit(100.0)
        ).alias("sxy"),
        F.sum((F.col("l_quantity") * F.col("l_quantity")).cast("decimal(30,6)"))
        .cast("bigint")
        .cast("double")
        .alias("sxx"),
    )
    # zero-variance guard: a degenerate group (single row / all-equal x)
    # makes the denominator exactly 0.0, where Spark's non-ANSI division
    # yields NULL but DuckDB's IEEE mode yields ±inf/nan — divergent.
    # Both sides NULL the fit explicitly instead.
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = F.when(
        den != 0,
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / den,
    )
    return sums.select(
        "p_brand",
        F.col("n").cast("bigint").alias("n_rows"),
        slope.alias("slope"),
        F.when(den != 0, (F.col("sy") - slope * F.col("sx")) / F.col("n")).alias(
            "intercept"
        ),
    )


def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-level data profiling of ``orders`` (the Deequ / DLT
    expectations-profiling surface): one output row per column with row
    count, null count, distinct count, and min/max rendered as strings —
    the stats a quality layer computes before proposing constraints.

    Shape: ONE pass — every per-column stat is a conditional aggregate in
    a single groupBy-less agg (count_distinct expands per column but
    map-side-dedups), then the wide 1-row result unpivots to one row per
    column via a stack/VALUES expression on the driver-side-free plan. No
    per-column scans: profiling N columns costs one table read. Min/max
    stringification uses ISO date rendering so both engines agree.
    """
    orders = load_table(spark, sf_dir, "orders")
    # (column, SQL rendering of an aggregated min/max to string) — min/max
    # aggregate on the NATIVE type (numeric/date order, not lexicographic),
    # rendering happens after the aggregate so both engines stringify the
    # same canonical value
    cols = [
        ("o_orderkey", "CAST({v} AS STRING)"),
        ("o_custkey", "CAST({v} AS STRING)"),
        ("o_orderstatus", "{v}"),
        ("o_totalprice", "CAST(CAST({v} AS DECIMAL(18,2)) AS STRING)"),
        ("o_orderdate", "date_format({v}, 'yyyy-MM-dd')"),
        ("o_orderpriority", "{v}"),
    ]
    aggs = [F.count(F.lit(1)).alias("__n")]
    for name, _ in cols:
        aggs += [
            F.sum(F.when(F.col(name).isNull(), 1).otherwise(0)).alias(f"__null_{name}"),
            F.countDistinct(name).alias(f"__dist_{name}"),
            F.min(name).alias(f"__min_{name}"),
            F.max(name).alias(f"__max_{name}"),
        ]
    wide = orders.agg(*aggs)
    stack = ", ".join(
        "'{n}', __null_{n}, __dist_{n}, {mn}, {mx}".format(
            n=name,
            mn=render.format(v=f"__min_{name}"),
            mx=render.format(v=f"__max_{name}"),
        )
        for name, render in cols
    )
    return wide.selectExpr(
        "__n as n_rows",
        f"stack({len(cols)}, {stack}) as (column_name, n_nulls, n_distinct, min_value, max_value)",
    ).select(
        "column_name",
        "n_rows",
        F.col("n_nulls").cast("bigint").alias("n_nulls"),
        F.col("n_distinct").cast("bigint").alias("n_distinct"),
        "min_value",
        "max_value",
    )


def q_profile_table_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch twin of ``profile_table``: distinct counts via HLL++
    (``approx_count_distinct``, rsd=0.02) — the production profiling path
    at 100 TB. The exact ``count_distinct`` path (its Expand rewrite
    multiplies rows by the number of distinct-agg columns before the
    exchange) is retained HERE ONLY as the in-query error-bound proof:
    each column emits ``nd_within_bound`` = |HLL − exact| ≤
    max(3·rsd·exact, 2). Production form = this query minus the exact
    columns: one pass, one ordinary exchange, HLL sketches merge
    associatively (map-side partials), no Expand.

    The HLL estimate is deterministic for a fixed dataset (register
    merge is an elementwise max — order-independent), so the boolean is
    stable across runs/partitionings; the raw estimate is still engine-
    local (DuckDB's HLL differs), hence bounds, not values, in the
    contract output (the ``approx_quantiles`` pattern).
    """
    orders = load_table(spark, sf_dir, "orders")
    cols = [
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    ]
    # production pass: count + nulls + HLL sketches in ONE agg over
    # UNEXPANDED rows. Keeping the exact count_distinct columns in a
    # SEPARATE agg matters: mixing them would put the HLL updates above
    # the Expand rewrite, multiplying per-row sketch work by the number
    # of distinct-agg columns (measured 3x slower at sf0.1).
    apx_aggs = [F.count(F.lit(1)).alias("__n")]
    exact_aggs = []
    for name in cols:
        apx_aggs += [
            F.sum(F.when(F.col(name).isNull(), 1).otherwise(0)).alias(f"__null_{name}"),
            F.approx_count_distinct(name, 0.02).alias(f"__apx_{name}"),
        ]
        # proof-only (see docstring): drop in the production form
        exact_aggs.append(F.countDistinct(name).alias(f"__dist_{name}"))
    wide = orders.agg(*apx_aggs).crossJoin(orders.agg(*exact_aggs))
    stack = ", ".join(
        "'{n}', __null_{n}, "
        "abs(__apx_{n} - __dist_{n}) <= greatest(0.06 * __dist_{n}, 2.0)".format(n=n)
        for n in cols
    )
    return wide.selectExpr(
        "__n as n_rows",
        f"stack({len(cols)}, {stack}) as (column_name, n_nulls, nd_within_bound)",
    ).select(
        "column_name",
        "n_rows",
        F.col("n_nulls").cast("bigint").alias("n_nulls"),
        "nd_within_bound",
    )


def q_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: each purchase attributes to the
    same user's most recent click at-or-before it, within a 7-day
    lookback — the as-of join (operators/asof.py) composed into the
    product-analytics shape it exists for. Clicks are pre-aggregated to
    unique (user, ts) (max event_id wins a same-microsecond tie) per the
    operator's determinism contract; the lookback is a post-filter on the
    carried click timestamp, so out-of-window purchases keep a NULL
    attribution instead of silently dropping.

    Gap arithmetic is integer microseconds (exact both engines). One
    shuffle on user_id serves the union+window carry — no pair explosion
    on hyperactive users.
    """
    from .operators.asof import as_of_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
        .select(
            "user_id",
            F.col("ts").alias("click_ts"),
            "click_id",
            F.col("ts").alias("click_ts_at"),
        )
    )
    joined = as_of_join(
        purchases, clicks, ["user_id"], "ts", "click_ts", ["click_id", "click_ts_at"]
    )
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.col("click_ts_at"))
    ok = F.col("click_ts_at").isNotNull() & (gap_us <= F.lit(7 * 86400 * 1000000))
    return joined.select(
        "purchase_id",
        "user_id",
        F.when(ok, F.col("click_id")).alias("click_id"),
        F.when(ok, gap_us).cast("bigint").alias("gap_us"),
    )


def q_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic (the pre-flight a 100 TB join plan needs
    before choosing salt/broadcast/AQE-skew strategies): for each fact
    join key, the distinct-key count, the hottest key's row count, and its
    corpus share in integer ppm — top1_share_ppm ≥ ~30000 (3%) on a
    1000-partition cluster means one reducer owns 30× its fair share and
    the salted-join path (skew_salted_join) applies.

    Shape: one hash aggregate per key column (map-side combined) feeding a
    3-row union — profiling K keys costs K aggregates, no window, no
    sort. Share arithmetic is floor-division ppm, bitwise across engines.
    """
    li = load_table(spark, sf_dir, "lineitem")
    outs = []
    for key in ("l_orderkey", "l_partkey", "l_suppkey"):
        per_key = li.groupBy(key).agg(F.count(F.lit(1)).alias("__c"))
        outs.append(
            per_key.agg(
                F.lit(key).alias("key_col"),
                F.count(F.lit(1)).alias("n_keys"),
                F.max("__c").alias("top1_cnt"),
                F.expr("(max(__c) * 1000000) div sum(__c)").alias("top1_share_ppm"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.union(o)
    return out


def q_robust_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per event type: exact median + exact MAD
    (median absolute deviation) via rank selection, then the 3σ-equivalent
    cutoff |x − med| > 3·1.4826·MAD — the robust-statistics twin of
    z-score filtering that survives the heavy tails that break mean/stddev
    (grouped_median's recipe applied twice).

    Exactness: both medians use explicit middle-rank selection ((lo+hi)/2
    — no interpolation ambiguity) and the cutoff multiply is one IEEE
    double expression written identically on both engines. Cost: two
    window sorts per group (the honest price of exact percentiles; the
    sketch path is approx_quantiles).
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w1 = Window.partitionBy("event_type").orderBy("value", "event_id")
    cnt = Window.partitionBy("event_type")
    ranked = ev.select(
        "event_type",
        "value",
        "event_id",
        F.row_number().over(w1).alias("rn"),
        F.count(F.lit(1)).over(cnt).alias("n"),
    )
    med = (
        ranked.filter(
            (F.col("rn") == F.floor((F.col("n") + 1) / 2))
            | (F.col("rn") == F.floor((F.col("n") + 2) / 2))
        )
        .groupBy("event_type")
        .agg(((F.min("value") + F.max("value")) / 2).alias("med"))
    )
    dev = ev.join(med, "event_type").select(
        "event_type",
        "value",
        "event_id",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    )
    w2 = Window.partitionBy("event_type").orderBy("adev", "event_id")
    dranked = dev.select(
        "event_type",
        "adev",
        F.row_number().over(w2).alias("rn"),
        F.count(F.lit(1)).over(cnt).alias("n"),
    )
    mad = (
        dranked.filter(
            (F.col("rn") == F.floor((F.col("n") + 1) / 2))
            | (F.col("rn") == F.floor((F.col("n") + 2) / 2))
        )
        .groupBy("event_type")
        .agg(((F.min("adev") + F.max("adev")) / 2).alias("mad"))
    )
    return (
        dev.join(mad, "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_values"),
            F.any_value("med").alias("median_value"),
            F.any_value("mad").alias("mad"),
            F.sum(
                F.when(
                    F.col("adev") > F.lit(3.0) * F.lit(1.4826) * F.col("mad"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
    )


def q_robust_zscore_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch twin of ``robust_zscore``: the scale path replaces both
    exact rank-selection medians (each a full per-group window SORT —
    the 3.2× 10×-rows ratio SCALING.md documents for the exact twin)
    with deterministic fixed-width HISTOGRAM medians: bucket the value
    (width 1.0), hash-aggregate counts per (group, bucket) with map-side
    combine, take a cumulative sum over the ≤~600 buckets per group (a
    window over BUCKETS, not rows), and pick the first bucket whose
    cumulative count reaches half — provably the bucket containing the
    exact lower median (any earlier bucket's cumulative mass is a strict
    prefix of the rows below the median). Approx median := that bucket's
    midpoint, so |approx − exact_lower_median| < width. Applied twice
    (value, then absolute deviation), then outliers count against the
    cutoff 3·1.4826·approx_MAD.

    Unlike percentile_approx (GK — deterministic only per insertion
    order), the histogram is a pure hash-agg: the whole query is
    engine-reproducible, so the oracle is VALUE-level (DuckDB runs the
    identical construction), not bound-booleans. Three stateless scans
    of events (hist1, hist2, outlier count) — recomputation beats
    materializing the fact at 100 TB, and no scan carries a per-group
    row sort.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    grp = Window.partitionBy("event_type")
    wb = grp.orderBy("b")

    def hist_median_bucket(df: DataFrame, value_col: str) -> DataFrame:
        hist = df.groupBy("event_type", F.floor(F.col(value_col)).alias("b")).agg(
            F.count(F.lit(1)).alias("bw")
        )
        cum = hist.select(
            "event_type",
            "b",
            F.sum("bw").over(wb).alias("cumn"),
            F.sum("bw").over(grp).alias("n"),
        )
        return (
            cum.where(2 * F.col("cumn") >= F.col("n"))
            .groupBy("event_type")
            .agg(F.min("b").alias("mb"), F.any_value("n").alias("n_values"))
        )

    med = hist_median_bucket(ev, "value").select(
        "event_type",
        "n_values",
        (F.col("mb").cast("double") + F.lit(0.5)).alias("approx_median"),
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        "approx_median",
        F.abs(F.col("value") - F.col("approx_median")).alias("adev"),
    )
    mad = hist_median_bucket(dev, "adev").select(
        "event_type",
        (F.col("mb").cast("double") + F.lit(0.5)).alias("approx_mad"),
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_values"),
            F.any_value("approx_median").alias("approx_median"),
            F.any_value("approx_mad").alias("approx_mad"),
            F.sum(
                F.when(
                    F.col("adev") > F.lit(3.0) * F.lit(1.4826) * F.col("approx_mad"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
    )


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event journeys:
    for each (previous event type → event type) pair, the transition count
    and row-normalized probability in integer ppm — the user-journey
    analysis behind funnel design, and the event-sequence twin of the text
    bigram LM counts (same lag-window → hash-agg shape).

    One shuffle on user_id for the lag window, one map-side-combined
    aggregate on the 25-cell transition matrix, one tiny self-join for the
    per-source normalizer. Integer ppm floor division keeps the oracle
    bitwise.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (
        ev.select("user_id", "event_type", "ts", "event_id")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "event_type")
        .agg(F.count(F.lit(1)).alias("n_trans"))
    )
    totals = trans.groupBy("prev_type").agg(F.sum("n_trans").alias("__tot"))
    return trans.join(totals, "prev_type").select(
        "prev_type",
        F.col("event_type").alias("next_type"),
        "n_trans",
        F.expr("(n_trans * 1000000) div __tot").alias("prob_ppm"),
    )


def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage / out-of-vocabulary rate per source: build the
    corpus top-1000 token vocabulary (frequency-ranked, token-lexical
    tie-break — deterministic), then measure each source's share of token
    occurrences falling outside it, in integer ppm. The tokenizer-health
    metric an LLM data pipeline runs before committing a vocab: rising OOV
    on a new source means the tokenizer fragments it.

    Scale: tokens explode map-side; the vocabulary is a bounded top-k
    (TakeOrderedAndProject, no global sort) broadcast into the membership
    probe, so the corpus-side pass stays one explode + one aggregate.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok"),
    ).where(F.col("tok") != "")
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("__c"))
        .orderBy(F.desc("__c"), "tok")
        .limit(1000)
        .select("tok", F.lit(1).alias("__in_vocab"))
    )
    probed = toks.join(F.broadcast(vocab), "tok", "left")
    return probed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("__in_vocab").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_oov"),
        F.expr(
            "(sum(case when __in_vocab is null then 1 else 0 end) * 1000000)"
            " div count(1)"
        ).alias("oov_ppm"),
    )


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary overlap between corpus sources (Jaccard over
    distinct-token sets, integer ppm): the corpus-diagnostics matrix that
    flags two "different" sources as near-mirrors before they double-feed
    a training mix — the source-level complement of the per-document dedup
    family.

    Shape: tokens dedup per source map-side (one distinct on
    (source, token)), then the intersection counts come from a token-level
    self-join — each token contributes its source-pair combinations, so
    the shuffle carries (token → pairs), never materializing per-source
    token sets on one node; union sizes derive from the same distinct
    relation (|A|+|B|−|A∩B|). With S sources the output is S·(S−1)/2
    rows; token-frequency skew is bounded because a token contributes at
    most S·(S−1)/2 pairs regardless of its document frequency.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.select(
            "source",
            F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok"),
        )
        .where(F.col("tok") != "")
        .distinct()
    )
    sizes = tok.groupBy("source").agg(F.count(F.lit(1)).alias("__n"))
    a = tok.select(F.col("source").alias("source_a"), "tok")
    b = tok.select(F.col("source").alias("source_b"), "tok")
    inter = (
        a.join(b, "tok")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        inter.join(
            sizes.select(F.col("source").alias("source_a"), F.col("__n").alias("__na")),
            "source_a",
        )
        .join(
            sizes.select(F.col("source").alias("source_b"), F.col("__n").alias("__nb")),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "n_common",
            F.expr("(n_common * 1000000) div (__na + __nb - n_common)").alias(
                "jaccard_ppm"
            ),
        )
    )


def q_global_median_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT global median of a 100 TB-wide column with NO global sort:
    distributed selection (histogram-pruned quickselect). A global window
    over all rows would funnel everything through one task — the
    per-group trick grouped_median uses has no partition key here.
    Instead each round buckets the candidate range into 1024 histogram
    bins (one map-side-combined aggregate), the driver picks the bin
    containing the target rank from the 1024-row histogram, and the next
    round recurses into that bin. The range shrinks 1024× per round, so
    doubles converge in ≤5 rounds; the final bounded remnant (≤64k rows)
    or a degenerate single-value bin resolves exactly.

    Driver traffic is O(1024) rows per round — the same bounded-collect
    class as the IVF centroids, documented. Median contract matches
    grouped_median: (lo + hi) / 2 of the explicit middle ranks, so the
    float math is engine-identical; the oracle states it declaratively as
    a ROW_NUMBER window (fine at oracle scale, not at 100 TB).
    """
    from .operators.selection import global_exact_median

    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_extendedprice").alias("v"))
        .localCheckpoint()
    )
    n, med = global_exact_median(li, "v")
    return spark.createDataFrame([(n, med)], "n_values long, median_value double")


def q_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median order price per order priority: the smallest price
    whose cumulative quantity weight reaches half the group's total — the
    weighted-percentile family (inventory-weighted price points, effective
    training-mix midpoints) the unweighted medians can't express.

    Exactness: weights are integer quantities, so the half-total test is
    the integer comparison 2·cumw ≥ totw — no float division anywhere;
    the selected value is an actual data value. One window pass per group
    for the cumulative weight (cast to long — l_quantity arrives as
    double) + one rank-1 pick via min over the qualifying rows.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    j = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
        "o_orderpriority",
        F.col("l_extendedprice").alias("price"),
        F.col("l_quantity").cast("long").alias("w"),
        "l_orderkey",
        "l_linenumber",
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        "price", "l_orderkey", "l_linenumber"
    )
    cum = j.select(
        "o_orderpriority",
        "price",
        F.sum("w").over(w).alias("cumw"),
        F.sum("w").over(Window.partitionBy("o_orderpriority")).alias("totw"),
    )
    return (
        cum.where(2 * F.col("cumw") >= F.col("totw"))
        .groupBy("o_orderpriority")
        .agg(
            F.min("price").alias("weighted_median_price"),
            F.any_value("totw").alias("total_weight"),
        )
    )


def q_weighted_median_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch twin of ``weighted_median``: the scale path replaces the
    per-group cumulative-weight window over ROWS (a full partition sort —
    the 3.1× 10×-rows ratio SCALING.md documents for the exact twin) with
    a deterministic fixed-width histogram: hash-aggregate the integer
    weight per (group, price bucket of width 100.0) with map-side
    combine, cumulative-sum over the ≤~1,050 BUCKETS per group, and pick
    the first bucket whose doubled cumulative weight reaches the total.

    Provable bound: that bucket IS the exact weighted median's bucket —
    rows in earlier buckets are a strict prefix of the rows strictly
    below the exact median (their doubled weight < total), and the
    median's own bucket qualifies by construction — so
    |approx − exact| ≤ width/2 with approx := bucket midpoint. The
    oracle checks the containment EMPIRICALLY: DuckDB computes the exact
    weighted median (its own window sort — oracle-side cost) and emits
    ``floor(exact/width) == bucket``, while the Spark side claims it by
    construction (``TRUE``); a broken claim surfaces as a value
    mismatch. Everything else (bucket id, bounds, total weight) is
    exact-integer / identical-IEEE and value-compared.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    j = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).select(
        "o_orderpriority",
        F.floor(F.col("l_extendedprice") / F.lit(100.0)).alias("b"),
        F.col("l_quantity").cast("long").alias("w"),
    )
    hist = j.groupBy("o_orderpriority", "b").agg(F.sum("w").alias("bw"))
    grp = Window.partitionBy("o_orderpriority")
    cum = hist.select(
        "o_orderpriority",
        "b",
        F.sum("bw").over(grp.orderBy("b")).alias("cumw"),
        F.sum("bw").over(grp).alias("totw"),
    )
    return (
        cum.where(2 * F.col("cumw") >= F.col("totw"))
        .groupBy("o_orderpriority")
        .agg(F.min("b").alias("bucket"), F.any_value("totw").alias("total_weight"))
        .select(
            "o_orderpriority",
            "bucket",
            (F.col("bucket").cast("double") * 100.0).alias("bucket_lo"),
            ((F.col("bucket").cast("double") + 1.0) * 100.0).alias("bucket_hi"),
            ((F.col("bucket").cast("double") + 0.5) * 100.0).alias(
                "approx_weighted_median_price"
            ),
            "total_weight",
            F.lit(True).alias("exact_in_bucket"),
        )
    )


def q_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini concentration of document volume across sources per language —
    the corpus-diagnostics inequality index (a Gini near 1 means one
    source dominates a language's data; near 0 means even coverage), the
    continuous complement of skew_profile's hottest-key share.

    Formula (discrete, ascending sort): G = (2·Σᵢ i·xᵢ) / (n·Σx) −
    (n+1)/n over per-source char counts ranked within language. Σᵢ i·xᵢ
    and Σx accumulate as exact integers (one rank window over n ≤ sources
    rows per language — tiny); the final G is one double expression
    written identically on both engines.
    """
    docs = load_table(spark, sf_dir, "documents")
    per_source = docs.groupBy("lang", "source").agg(
        F.sum(F.col("n_chars").cast("long")).alias("x")
    )
    w = Window.partitionBy("lang").orderBy("x", "source")
    ranked = per_source.select(
        "lang",
        "x",
        F.row_number().over(w).alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy("lang")).alias("n"),
    )
    agg = ranked.groupBy("lang").agg(
        F.any_value("n").alias("n_sources"),
        F.sum(F.col("i") * F.col("x")).alias("__ix"),
        F.sum("x").alias("__sx"),
    )
    return agg.select(
        "lang",
        F.col("n_sources").cast("int").alias("n_sources"),
        F.col("__sx").alias("total_chars"),
        (
            (2.0 * F.col("__ix")) / (F.col("n_sources") * F.col("__sx"))
            - (F.col("n_sources") + 1.0) / F.col("n_sources")
        ).alias("gini"),
    )


def q_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical MODE per group with a deterministic tie-break: the most
    frequent order priority within each market segment (count desc, then
    value asc — without the tie-break, mode is nondeterministic and
    un-oracle-able). The aggregate family median/MAD/quantiles don't
    cover: categorical central tendency.

    Shape: one hash aggregate on (segment, priority) — map-side combined
    — then a WindowGroupLimit-able rank-1 pick over the tiny
    (segments × priorities) grid; the window never sees raw rows.
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    counts = (
        orders.join(customer, orders["o_custkey"] == customer["c_custkey"])
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("n_orders"), "o_orderpriority"
    )
    return (
        counts.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            "c_mktsegment",
            F.col("o_orderpriority").alias("modal_priority"),
            "n_orders",
        )
    )


def q_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RATIO_TO_REPORT analog: each nation's share of its region's
    revenue — the percent-of-parent OLAP shape dashboards are built on.
    Revenue accumulates in DECIMAL (exact, order-independent), and the
    share is one double division of exactly-equal operands on both
    engines, so the ratio is bitwise.

    Shape: one aggregate to nation grain, then a window SUM over the
    ~25-row nation grid partitioned by region — the partial-then-window
    pattern that never re-shuffles fact rows for the parent total.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    rev = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .groupBy(
            F.col("r_name").alias("region_name"),
            F.col("n_name").alias("nation_name"),
        )
        .agg(
            # keep the nation revenue DECIMAL through the window: summing
            # the doubles over the region partition would re-introduce
            # shuffle-order ulp drift — the parent total must be exact too
            F.sum(F.col("l_extendedprice").cast("decimal(20,6)")).alias("__rev")
        )
    )
    w = Window.partitionBy("region_name")
    return rev.select(
        "region_name",
        "nation_name",
        F.col("__rev").cast("double").alias("revenue"),
        (
            F.col("__rev").cast("double")
            / F.sum("__rev").over(w).cast("double")
        ).alias("region_share"),
    )


def q_longest_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest run of consecutive active DAYS per user — the classic
    gaps-and-islands query (engagement streaks). Island key =
    day-number − dense activity rank: constant exactly across a
    consecutive run, so one groupBy collapses each island and a max picks
    the longest. All arithmetic is integer days — bitwise across engines.

    Shape: distinct (user, day) map-side, one user-partitioned window for
    the rank (already shuffled on user), two hash aggregates on keys no
    wider than (user, island). The anti-pattern this replaces is a
    per-user self-join over day offsets — quadratic in streak length.
    """
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.to_date("ts").alias("d")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    islands = days.select(
        "user_id",
        (F.datediff(F.col("d"), F.lit("1970-01-01")) - F.row_number().over(w)).alias(
            "__island"
        ),
    )
    streaks = islands.groupBy("user_id", "__island").agg(
        F.count(F.lit(1)).alias("__len")
    )
    return streaks.groupBy("user_id").agg(
        F.max("__len").cast("int").alias("longest_streak_days"),
        F.sum("__len").cast("bigint").alias("n_active_days"),
    )


def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered event funnel (view → click → purchase): how many users
    complete each stage IN ORDER — the canonical product-analytics query.
    Stage k counts users whose first stage-k event strictly follows their
    first stage-(k-1) event, so out-of-order activity doesn't count.

    Shape: three per-user MIN aggregates chained by equi-joins, all on the
    same user_id key, so one hash partitioning serves every step; each
    stage input is pre-filtered to its event type before the shuffle
    (predicate reaches the scan). Timestamps compare exactly in both
    engines (µs precision after the loader's ns fixup).
    """
    events = load_table(spark, sf_dir, "events")
    s1 = (
        events.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    s2 = (
        events.where(F.col("event_type") == "click")
        .join(s1, "user_id")
        .where(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    s3 = (
        events.where(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .where(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        s1.join(s2, "user_id", "left")
        .join(s3, "user_id", "left")
        .agg(
            F.count("user_id").alias("n_view"),
            F.count("t_click").alias("n_click"),
            F.count("t_purchase").alias("n_purchase"),
        )
    )


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: users grouped by first-seen week,
    activity bucketed into week offsets from that cohort — the classic
    retention triangle. cohort = date_trunc(week, first event); offset =
    floor(days between activity week and cohort week / 7).

    Shape: one per-user MIN aggregate, one join back to events on the same
    user_id partitioning, one COUNT(DISTINCT user_id) per (cohort, offset)
    cell — distinct-aggregate expands then map-side-dedups, standard
    two-stage. Week truncation (Monday) and day arithmetic are identical
    in both engines, so the oracle is exact.
    """
    events = load_table(spark, sf_dir, "events")
    firsts = events.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    joined = events.join(firsts, "user_id")
    return (
        joined.select(
            "user_id",
            F.date_trunc("week", F.col("first_ts")).cast("date").alias("cohort_week"),
            F.floor(
                F.datediff(
                    F.date_trunc("week", F.col("ts")).cast("date"),
                    F.date_trunc("week", F.col("first_ts")).cast("date"),
                )
                / 7
            )
            .cast("int")
            .alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("active_users"))
    )


def _copurchase_edges(li: DataFrame, min_support: int = 2):
    """Distinct co-purchased part pairs (oriented part_a < part_b) with
    their order counts; the market-basket pair graph shared by
    ``copurchase_lift`` and ``triangle_count``. Pair expansion is bounded
    by basket size (≤7 lines/order in TPC-H shape), so the self-join on
    orderkey is linear-ish, not quadratic in the table."""
    op = li.select("l_orderkey", "l_partkey").distinct()
    a = op.select(
        F.col("l_orderkey").alias("__ok"), F.col("l_partkey").alias("part_a")
    )
    b = op.select(
        F.col("l_orderkey").alias("__ok"), F.col("l_partkey").alias("part_b")
    )
    return (
        a.join(b, "__ok")
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("pair_orders"))
        .where(F.col("pair_orders") >= min_support)
    )


def q_copurchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over co-purchased parts: support,
    confidence, and lift per oriented pair — the A-priori 2-itemset pass
    re-expressed as joins. All three metrics are integer ppm via floor
    division (lift_ppm = conf_ppm·N div cnt_b, floored stepwise so the
    numerator stays inside int64 at any corpus scale), so the oracle is
    bitwise like the curation score — no float division anywhere.

    Shape: per-order pair expansion bounded by basket size, one hash
    aggregate on the pair, two joins to the per-part order counts (the
    smaller side at any scale once support-filtered), one broadcast of the
    1-row global order count. Support threshold ≥2 prunes the long tail
    before the metric joins.
    """
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    n_orders = op.select("l_orderkey").distinct().agg(
        F.count(F.lit(1)).alias("__n")
    )
    part_cnt = op.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("__cnt"))
    pairs = _copurchase_edges(li, min_support=2)
    return (
        pairs.join(
            part_cnt.select(
                F.col("l_partkey").alias("part_a"), F.col("__cnt").alias("__ca")
            ),
            "part_a",
        )
        .join(
            part_cnt.select(
                F.col("l_partkey").alias("part_b"), F.col("__cnt").alias("__cb")
            ),
            "part_b",
        )
        .join(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "pair_orders",
            F.expr("(pair_orders * 1000000) div __ca").alias("conf_ppm"),
            # lift as confidence × inverse base rate, floored stepwise:
            # the naive pair·N·10⁶ numerator exceeds int64 once N ~ 1e11
            # (the 100 TB story) — Spark would wrap silently (ANSI off)
            # while DuckDB errors. conf_ppm·N caps at 1e6·N, in range.
            F.expr("(((pair_orders * 1000000) div __ca) * __n) div __cb").alias(
                "lift_ppm"
            ),
        )
    )


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count on the co-purchase graph (edges = part pairs
    co-occurring in ≥2 orders): the canonical two-join distributed
    triangle algorithm. Edges carry a consistent orientation (part_a <
    part_b), so each triangle a<b<c matches exactly once as
    e(a,b)⋈e(b,c)⋈e(a,c) — no per-triangle dedup needed.

    Shape: the execution uses DEGREE orientation (Suri & Vassilvitskii's
    MR triangle counting): every edge points from its lower-(degree, id)
    endpoint to the higher one, so each vertex's out-degree is bounded by
    O(√m) and the wedge self-join cannot explode on a hub vertex — an
    id-oriented wedge join is O(d²) on the hub (a 500k-degree node means
    1.25e11 wedges; degree orientation caps it at the √m fringe). The
    triangle TOTAL is orientation-invariant (each triangle is counted at
    exactly one vertex — its orientation-source), which is why the oracle
    can stay in natural id orientation and still match bitwise.
    """
    from .operators.graph import count_triangles

    li = load_table(spark, sf_dir, "lineitem")
    und = _copurchase_edges(li, min_support=2).select("part_a", "part_b")
    return count_triangles(und, "part_a", "part_b")


def q_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with ORDER BY + LIMIT: per order, the
    top-priced line item. Catalyst decorrelates the lateral into a
    window/aggregate plan rather than a per-row probe — the declarative
    per-group-top-1 the reference's window-dedup subqueries approximate
    (dim_customers.sql:29-36)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("__lt_orders")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("__lt_lineitem")
    return spark.sql(
        """
        SELECT o.o_orderkey, o.o_totalprice, l.l_linenumber, l.l_extendedprice
        FROM __lt_orders o,
        LATERAL (
          SELECT l_linenumber, l_extendedprice
          FROM __lt_lineitem
          WHERE l_orderkey = o.o_orderkey
          ORDER BY l_extendedprice DESC, l_linenumber
          LIMIT 1
        ) l
        """
    )


def q_multimodal_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup bucketing for binary payloads: a gradient
    hash over the 16-bin byte histogram (bit i = bin i+1 count exceeds bin
    i's — the aHash/pHash adjacent-comparison trick on the universal
    byte-content fingerprint), then hash-equality buckets with a canonical
    member. Integer comparisons end-to-end — bit-exact on any engine.

    Scale: feature extraction is the Arrow mapInPandas pass (one scan);
    bucketing is ONE shuffle on the 15-bit hash; within-bucket refinement
    (true hamming verify) composes with simhash_pairs when payloads need
    graded similarity rather than exact-signature grouping.
    """
    from .operators.multimodal import attach_binary_payload, extract_byte_features

    docs = load_table(spark, sf_dir, "documents")
    feats = extract_byte_features(attach_binary_payload(docs), bins=16)
    phash = F.expr(
        "aggregate(transform(sequence(0, 14), i -> "
        "IF(element_at(byte_hist_counts, i + 2) > element_at(byte_hist_counts, i + 1), "
        "shiftleft(1L, i), 0L)), 0L, (acc, v) -> acc + v)"
    )
    w = Window.partitionBy("phash")
    return (
        feats.select("doc_id", phash.alias("phash"))
        .withColumn("bucket_size", F.count(F.lit(1)).over(w))
        .withColumn("is_canonical", F.col("doc_id") == F.min("doc_id").over(w))
    )


def q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-training support: the BPE inner loop's pair statistics —
    adjacent character-pair counts weighted by word frequency, top 50.

    Scale shape: one shuffle builds the word-frequency vocabulary (corpus
    scale collapses to vocabulary scale immediately), the bigram fan-out
    runs over DISTINCT words only, and the final count is a hash aggregate
    over O(alphabet²) keys + TakeOrdered — the exact per-iteration cost
    profile of distributed BPE training.
    """
    docs = spread_partitions(load_table(spark, sf_dir, "documents"))
    words = (
        docs.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # substring with a dynamic start needs the expr form (the DSL signature
    # takes literal ints only)
    pairs = words.select(
        "freq",
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substr(w, i, 2))")
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").alias("pair_count"))
        .orderBy(F.desc("pair_count"), F.asc("pair"))
        .limit(50)
    )


_BPE_SEP = "\x01"
_BPE_ROUNDS = 8


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Actual BPE tokenizer TRAINING: K unrolled merge iterations, not just
    one pair-stat pass. Each round counts adjacent symbol pairs over the
    vocabulary (weighted by word frequency), picks the argmax pair with a
    deterministic tie-break (count DESC, symbol pair ASC), applies the
    merge to every word left-to-right non-overlapping (Sennrich BPE scan
    semantics), and repeats on the merged vocabulary. Returns the learned
    merge table: (round, sym_a, sym_b, pair_count).

    Engine-portable formulation: words are SEP-delimited symbol strings
    (``·c·h·a·t·``) and a merge is a literal ``replace(w, ·a·b·, ·ab·)`` —
    both engines' replace() scans left-to-right and continues after each
    replacement, which is exactly the BPE non-overlapping merge order
    (``aaa`` under merge (a,a) → ``[aa, a]``).

    Scale shape (100 TB): corpus scale collapses to vocabulary scale in
    the first map-side-combined shuffle; every round after that is a
    vocab-bounded pair aggregate + a ONE-row TakeOrdered to the driver
    (the merge choice is inherently sequential — the same fixed-round,
    bounded-driver-traffic shape as pagerank_integer/bellman_ford) + a
    narrow map applying the merge. localCheckpoint per round truncates
    the K-deep lineage.
    """
    docs = spread_partitions(load_table(spark, sf_dir, "documents"))
    return _bpe_merges_frame(docs)


def _bpe_merges_frame(docs: DataFrame, rounds: int = _BPE_ROUNDS) -> DataFrame:
    """BPE merge training over an arbitrary documents frame (shared by the
    catalog query and the merge-scan semantics tests)."""
    return docs.sparkSession.createDataFrame(
        _bpe_train(docs, rounds),
        "round int, sym_a string, sym_b string, pair_count bigint",
    )


def _bpe_train(docs: DataFrame, rounds: int = _BPE_ROUNDS) -> list[tuple]:
    """The K-round BPE training loop; returns the learned merge table as
    driver-held rows (round, sym_a, sym_b, pair_count) — shared by
    bpe_merges (which just tabulates it) and bpe_encode (which applies it
    to re-tokenize the corpus)."""
    words = (
        docs.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # Each symbol is wrapped in its OWN separator pair (·a··b··c·), so a
    # merge is replace(w, ·a··b·, ·ab·). With single shared separators
    # (·a·b·c·) the match would consume the next pair's leading separator
    # and 'aaaa' under merge (a,a) would come out [aa,a,a] instead of the
    # Sennrich scan's [aa,aa] — caught by
    # test_bpe_merges_sennrich_scan_semantics.
    vocab = words.select(
        F.regexp_replace("w", "(.)", _BPE_SEP + "$1" + _BPE_SEP).alias("w"),
        "freq",
    ).localCheckpoint()
    syms = F.filter(F.split("w", _BPE_SEP), lambda x: x != "")
    merges: list[tuple] = []
    for rnd in range(1, rounds + 1):
        pairs = (
            vocab.select("freq", syms.alias("syms"))
            # sequence(1, 0) DESCENDS in Spark — guard 1-symbol words out
            .filter(F.size("syms") >= 2)
            .select(
                "freq",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1),"
                        " i -> struct(element_at(syms, i) AS a,"
                        "             element_at(syms, i + 1) AS b))"
                    )
                ).alias("p"),
            )
        )
        top = (
            pairs.groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, cnt = top[0].a, top[0].b, int(top[0].cnt)
        merges.append((rnd, a, b, cnt))
        # literal (non-regex) replace via call_function: symbols may contain
        # regex/quote metacharacters from adversarial text.
        # LAZY chaining (round-10): round r's aggregate replays the ≤K
        # chained replaces over the ONE initial vocabulary checkpoint —
        # a replace is a linear string scan over the vocab-bounded table,
        # so the O(K²/2) replay is microseconds-per-row while the former
        # per-round localCheckpoint cost one eager materialization JOB per
        # round (~0.1 s of fixed per-job latency × K rounds × the two
        # training consumers, pure driver overhead at any scale).
        vocab = vocab.select(
            F.call_function(
                "replace",
                F.col("w"),
                F.lit(f"{_BPE_SEP}{a}{_BPE_SEP}{_BPE_SEP}{b}{_BPE_SEP}"),
                F.lit(f"{_BPE_SEP}{a}{b}{_BPE_SEP}"),
            ).alias("w"),
            "freq",
        )
    return merges


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODE (round-7): train the merge table (the same K rounds as
    `bpe_merges`), then apply it to re-tokenize the whole corpus — the
    train→encode loop of a real tokenizer. Returns one row per document:
    (doc_id, n_words, n_tokens) where n_tokens counts the BPE symbols of
    every word after all learned merges; with an empty merge table this
    degrades to the per-character base vocabulary (unit-pinned).

    Merge application is the same engine-portable scan: each word wraps
    every char in its own separator pair, each merge is one literal
    left-to-right `replace` — K chained JVM string expressions, no Python
    row path. Scale shape: the encode pass is ONE projection over word
    occurrences (the merge table is ≤K driver-held literals baked into the
    expression — nothing joins, nothing broadcasts) followed by ONE
    map-side-combined groupBy(doc_id); cost is K linear scans per word,
    the same O(corpus) a production tokenizer pays."""
    docs = spread_partitions(load_table(spark, sf_dir, "documents"))
    return _bpe_encode_frame(docs)


def _bpe_encode_frame(docs: DataFrame, rounds: int = _BPE_ROUNDS) -> DataFrame:
    """Encode over an arbitrary documents frame (shared by the catalog
    query and the rounds=0 base-case unit: zero merges ⇒ n_tokens equals
    the per-character base vocabulary)."""
    merges = _bpe_train(docs, rounds) if rounds else []
    words = (
        docs.filter(F.col("text").isNotNull())
        .select("doc_id", F.explode(F.split(F.trim("text"), r"\s+")).alias("w"))
        .filter(F.col("w") != "")
    )
    sym = F.regexp_replace("w", "(.)", _BPE_SEP + "$1" + _BPE_SEP)
    for _rnd, a, b, _cnt in merges:
        sym = F.call_function(
            "replace",
            sym,
            F.lit(f"{_BPE_SEP}{a}{_BPE_SEP}{_BPE_SEP}{b}{_BPE_SEP}"),
            F.lit(f"{_BPE_SEP}{a}{b}{_BPE_SEP}"),
        )
    n_syms = F.size(F.filter(F.split(sym, _BPE_SEP), lambda x: x != ""))
    return (
        words.select("doc_id", n_syms.alias("n_syms"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_syms").alias("n_tokens"),
        )
    )


def _bpe_train_ctes(k: int = _BPE_ROUNDS) -> str:
    """The shared unrolled K-round training CTE block (words, v0, then per
    round: pair counts p{i}, 1-row argmax m{i}, merged vocabulary v{i}) —
    the common prefix of the bpe_merges and bpe_encode oracles."""
    sql = [
        r"""
  WITH words AS MATERIALIZED (
    SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM (
      SELECT unnest(regexp_split_to_array(trim(text, ' '), '\s+')) AS w
      FROM documents
    ) WHERE length(w) >= 2 GROUP BY w
  ),
  v0 AS MATERIALIZED (
    SELECT regexp_replace(w, '(.)', e'\x01\\1\x01', 'g') AS w, freq
    FROM words
  )"""
    ]
    for i in range(1, k + 1):
        sql.append(
            f"""
  , p{i} AS MATERIALIZED (
    SELECT syms[CAST(t.i AS INT)] AS a, syms[CAST(t.i AS INT) + 1] AS b,
           CAST(SUM(freq) AS BIGINT) AS cnt
    FROM (SELECT list_filter(string_split(w, e'\x01'), x -> x <> '') AS syms,
                 freq
          FROM v{i - 1}),
         UNNEST(range(1, len(syms))) AS t(i)
    GROUP BY 1, 2
  ),
  m{i} AS MATERIALIZED (SELECT a, b, cnt FROM p{i} ORDER BY cnt DESC, a ASC, b ASC LIMIT 1),
  v{i} AS MATERIALIZED (
    SELECT replace(w,
             e'\x01' || (SELECT a FROM m{i}) || e'\x01\x01'
                     || (SELECT b FROM m{i}) || e'\x01',
             e'\x01' || (SELECT a FROM m{i}) || (SELECT b FROM m{i}) || e'\x01'
           ) AS w, freq
    FROM v{i - 1}
  )"""
        )
    return "".join(sql)


def _bpe_merges_oracle(k: int = _BPE_ROUNDS) -> str:
    """Unrolled K-round DuckDB twin of :func:`q_bpe_merges`."""
    rows = "\n  UNION ALL ".join(
        f"SELECT {i} AS round, a AS sym_a, b AS sym_b, cnt AS pair_count FROM m{i}"
        for i in range(1, k + 1)
    )
    return f"{_bpe_train_ctes(k)}\n  {rows}"


def _bpe_encode_oracle(k: int = _BPE_ROUNDS) -> str:
    """DuckDB twin of :func:`q_bpe_encode`: the shared training CTEs, then
    the corpus re-tokenization — per word occurrence, wrap chars in
    separator pairs and apply each learned merge as the same literal
    left-to-right replace (guarded per round: an empty m{i} — training
    exhausted — leaves words untouched, mirroring Spark's loop break)."""
    steps = ["""
  , e0 AS (
    SELECT doc_id, regexp_replace(w, '(.)', e'\\x01\\\\1\\x01', 'g') AS w FROM (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text, ' '), '\\s+')) AS w
      FROM documents WHERE text IS NOT NULL
    ) WHERE w <> ''
  )"""]
    for i in range(1, k + 1):
        steps.append(f"""
  , e{i} AS (
    SELECT doc_id,
           CASE WHEN (SELECT a FROM m{i}) IS NULL THEN w
                ELSE replace(w,
                  e'\\x01' || (SELECT a FROM m{i}) || e'\\x01\\x01'
                           || (SELECT b FROM m{i}) || e'\\x01',
                  e'\\x01' || (SELECT a FROM m{i}) || (SELECT b FROM m{i}) || e'\\x01')
           END AS w
    FROM e{i - 1}
  )""")
    final = (
        f"\n  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,"
        f"\n         CAST(SUM(len(list_filter(string_split(w, e'\\x01'),"
        f" x -> x <> ''))) AS BIGINT) AS n_tokens"
        f"\n  FROM e{k} GROUP BY doc_id"
    )
    return _bpe_train_ctes(k) + "".join(steps) + final


_BM25_TERMS = ["hash", "join", "vector", "filter", "scan", "merge"]


def q_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 document ranking for a fixed query-term set, top 50 —
    the retrieval scorer a data-curation pipeline uses for query-targeted
    corpus selection.

    Engine-exactness: every per-(doc, term) contribution is floored to
    integer micro-units BEFORE summing (the catalog's standard LN idiom),
    so the per-doc score is an order-independent BIGINT sum; both engines
    build the identical expression tree (idf and the length-normalized
    denominator computed as named intermediates, left-associative final
    product) from identical integer inputs.

    Scale shape: term frequencies come from a lambda filter over the
    token array (no explode of all tokens — only |terms| rows per doc);
    N/avgdl is a one-row broadcast; df is a |terms|-row broadcast; the
    final top-50 is TakeOrderedAndProject, never a global sort.
    """
    docs = spread_partitions(load_table(spark, sf_dir, "documents"))
    k1, b = 1.2, 0.75
    base = (
        docs.filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            F.split(F.lower(F.trim("text")), r"\s+").alias("toks"),
        )
        .select("doc_id", "toks", F.size("toks").alias("dl"))
    )
    # All term frequencies in ONE projection over the token array, then
    # explode only (term, tf) structs — exploding the terms first would
    # materialize the token array |terms|× per doc before the tf filter.
    def _tf(term: str):
        # closure, not a default arg: a 2-parameter lambda would make
        # F.filter pass (element, index) and bind the index to `t`
        return F.size(F.filter("toks", lambda x: x == F.lit(term)))

    tf_structs = F.array(
        *[
            F.struct(F.lit(t).alias("term"), _tf(t).alias("tf"))
            for t in _BM25_TERMS
        ]
    )
    # One corpus scan total: the per-doc (dl, tf-vector) row is tiny, and
    # stats / df / scoring all derive from it — without the checkpoint the
    # three consumer branches would each re-tokenize the corpus.
    doc_tf = base.select(
        "doc_id", "dl", tf_structs.alias("tfs")
    ).localCheckpoint()
    per_term = (
        doc_tf.select("doc_id", "dl", F.explode("tfs").alias("p"))
        .select("doc_id", "dl", F.col("p.term").alias("term"), F.col("p.tf").alias("tf"))
        .filter(F.col("tf") > 0)
    )
    stats = doc_tf.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("dl").cast("long")).alias("sum_dl"),
    )
    dfreq = per_term.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = F.col("n_docs").cast("double")
    avgdl = F.col("sum_dl").cast("double") / n_docs
    idf = F.log(
        (n_docs - F.col("df").cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
        + F.lit(1.0)
    )
    tfd = F.col("tf").cast("double")
    denom = tfd + F.lit(k1) * (
        F.lit(1.0 - b) + (F.lit(b) * F.col("dl").cast("double")) / avgdl
    )
    c_micro = F.floor(
        F.lit(1000000.0) * idf * (tfd * F.lit(k1 + 1.0)) / denom
    ).cast("long")
    scored = (
        per_term.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", "term", c_micro.alias("c_micro"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_hit_terms"),
            F.sum("c_micro").alias("score_micro"),
        )
        .orderBy(F.desc("score_micro"), F.asc("doc_id"))
        .limit(50)
    )


def q_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy string self-match over part names: candidate pairs
    share a head-noun block, verified at levenshtein <= 2 (entity
    resolution's blocking decomposition — no all-pairs comparison)."""
    from .operators.fuzzy import fuzzy_pairs

    part = load_table(spark, sf_dir, "part")
    return fuzzy_pairs(part, part, "p_name", max_dist=2)


def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply as a driver-checkable query: the events stream is
    treated as a change feed keyed by user (latest change wins by (ts,
    event_id)), folded through foreachBatch MERGE into a versioned snapshot
    table (streaming/cdc.py), and the final snapshot is returned. The oracle
    is the declarative form of the same contract: each user's latest row.
    """
    import shutil
    import tempfile

    from .streaming.cdc import read_current, run_cdc_apply

    base = os.path.join(tempfile.gettempdir(), "spark_graft_cdc_apply")
    shutil.rmtree(base, ignore_errors=True)
    table, ckpt = os.path.join(base, "table"), os.path.join(base, "ckpt")
    changes = _stream_events(spark, sf_dir).withColumn(
        "seq", F.struct(F.col("ts"), F.col("event_id"))
    )
    run_cdc_apply(changes, table, ckpt, keys=["user_id"], sequence_by="seq")
    snap = read_current(spark, table)
    if snap is None:
        # zero input batches (empty change feed): no snapshot version was
        # ever committed — the CDC state of nothing is an empty table
        return spark.createDataFrame(
            [], "user_id long, event_id long, ts timestamp, event_type string,"
            " value double"
        )
    return snap.select("user_id", "event_id", "ts", "event_type", "value")


def q_streaming_incremental_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MV maintenance (Enzyme analog) as a driver-checkable
    query: the events stream folds per-microbatch partial aggregates into a
    versioned standing state (streaming/incremental_mv.py); the returned MV
    is the finalized per-event-type aggregate. DECIMAL accumulation makes
    the incremental result bit-identical to the oracle's full recompute.
    """
    import shutil
    import tempfile

    from .streaming.incremental_mv import maintain_aggregate_mv, read_mv

    base = os.path.join(tempfile.gettempdir(), "spark_graft_inc_mv")
    shutil.rmtree(base, ignore_errors=True)
    mv, ckpt = os.path.join(base, "mv"), os.path.join(base, "ckpt")
    source = _stream_events(spark, sf_dir).select("event_type", "value")
    maintain_aggregate_mv(source, mv, ckpt, keys=["event_type"], value="value")
    out = read_mv(spark, mv)
    if out is None:
        # zero input batches (empty stream): no MV state version exists —
        # the aggregate of nothing is an empty table
        return spark.createDataFrame(
            [], "event_type string, n_rows bigint, n_values bigint,"
            " min_value double, max_value double, sum_value_d double,"
            " avg_value double"
        )
    return out


def q_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aligned-segment exact dedup + document rewrite (the corpus-dedup
    step between doc-level exact dedup and suffix-array substring dedup)."""
    from .operators.dedup import segment_dedup

    docs = spread_partitions(load_table(spark, sf_dir, "documents"))
    return segment_dedup(docs, id_col="doc_id", text_col="text", seg_len=2)


def q_semantic_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: within-cluster cosine pairs ->
    connected components -> canonical survivor per semantic-dup group."""
    from .operators.similarity import semantic_prune

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_prune(emb, threshold=0.3)


def q_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted corpus mixing (alpha = 0.5): per-source keep
    probability proportional to sqrt(source size), i.e. small sources are
    up-weighted relative to proportional sampling — the standard
    multi-corpus rebalance for pretraining mixes.

    Every arithmetic step is integer-exact so the SAME rows are kept on any
    engine/run: sqrt weights are floored to integer micro-units (sqrt is
    IEEE correctly-rounded, so identical everywhere), the keep decision
    compares ``bucket * U < N * u_s * 2^31`` in DECIMAL(38,0) (no division,
    no float), and the per-row bucket is a multiplicative integer hash of
    the doc id. The decision is a map-side broadcast join against a
    20-row weight table — one tiny shuffle for the source counts, zero for
    the decision itself.
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("c"))
    weights = counts.select(
        "source",
        "c",
        F.floor(F.sqrt(F.col("c").cast("double")) * 1e6).cast("long").alias("u"),
    )
    tot = weights.agg(
        F.sum("u").alias("big_u"),
    )
    n_target = docs.agg(F.floor(F.count(F.lit(1)) / 2).cast("long").alias("n_target"))
    w = weights.crossJoin(F.broadcast(tot)).crossJoin(F.broadcast(n_target))
    # multiplicative integer hash -> bucket in [0, 2^31); exact in int64 at
    # test-scale ids, and DuckDB replays it (it could not replay xxhash64)
    bucket = F.pmod(F.col("doc_id") * F.lit(2654435761), F.lit(2147483648))
    # keep probability p_s = min(1, N * u_s / (U * c_s)); decided as the
    # division-free integer comparison  bucket·U·c_s < N·u_s·2^31
    dec = "decimal(38,0)"
    keep = (bucket.cast(dec) * F.col("big_u").cast(dec) * F.col("c").cast(dec)) < (
        F.col("n_target").cast(dec)
        * F.col("u").cast(dec)
        * F.lit(2147483648).cast(dec)
    )
    return (
        docs.join(F.broadcast(w), "source")
        .select("doc_id", "source", keep.alias("kept"))
    )


def q_grouped_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group median via rank selection (no interpolation
    ambiguity: the median is (lo + hi) / 2 of the explicit middle ranks, so
    the float math is identical on every engine).

    Scale notes: one window sort per group for the ranks plus a count — the
    honest cost of an EXACT percentile; approx_quantiles is the sketch-based
    scale path when 1e-2 relative error is acceptable.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    cnt = Window.partitionBy("event_type")
    ranked = ev.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(cnt).alias("n"),
    )
    mid = ranked.filter(
        (F.col("rn") == F.floor((F.col("n") + 1) / 2))
        | (F.col("rn") == F.floor((F.col("n") + 2) / 2))
    )
    return mid.groupBy("event_type").agg(
        ((F.min("value") + F.max("value")) / 2).alias("median_value"),
        F.any_value(F.col("n")).alias("n_values"),
    )


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — recency/frequency/monetary quintile
    scores (the classic CRM grid: r=5 bought most recently, f=5 orders
    most often, m=5 spends the most), output as segment cells with
    customer counts. The canonical marketing-analytics shape the catalog's
    cohort/funnel/attribution family doesn't cover.

    Scale + exactness: NO global NTILE window over customers (that is a
    single-task funnel at 100 TB). Instead each metric's quintile cut is
    computed on its BOUNDED value-distribution table — recency is integer
    days (~date range), frequency is small integers, monetary is floored
    to $100 buckets — with one cumulative window over those few thousand
    rows; the score is the division-free integer rank test
    ``(5 * customers_strictly_below) div n`` and joins back by broadcast.
    Monetary accumulates ``floor(price*100)`` cents (one IEEE multiply +
    floor per row, bigint sum) — never a double sum, so shuffle order
    cannot move a cent.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = orders.groupBy("o_custkey").agg(
        F.max(F.to_date("o_orderdate")).alias("last_d"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("mon_cents"),
    )
    gmax = orders.agg(F.max(F.to_date("o_orderdate")).alias("gmax"))
    cust = cust.crossJoin(F.broadcast(gmax)).select(
        "o_custkey",
        F.datediff(F.col("gmax"), F.col("last_d")).cast("long").alias("recency"),
        "freq",
        "mon_cents",
        F.expr("mon_cents div 10000").alias("m_bucket"),
    )

    def _quintile(col: str) -> DataFrame:
        # bounded distribution table: one row per distinct metric value;
        # the cumulative window runs over those rows only (the histogram-
        # twin discipline), never over the customer table
        dist = cust.groupBy(F.col(col).alias("v")).agg(
            F.count(F.lit(1)).alias("c")
        )
        w_lt = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
        w_all = Window.orderBy("v").rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        return (
            dist.select(
                "v",
                (F.coalesce(F.sum("c").over(w_lt), F.lit(0)) * 5).alias("__lt5"),
                F.sum("c").over(w_all).alias("__n"),
            ).select("v", F.expr("__lt5 div __n").alias("raw"))
        )

    r_d = _quintile("recency").select(
        F.col("v").alias("recency"), (5 - F.col("raw")).cast("int").alias("r_score")
    )
    f_d = _quintile("freq").select(
        F.col("v").alias("freq"), (1 + F.col("raw")).cast("int").alias("f_score")
    )
    m_d = _quintile("m_bucket").select(
        F.col("v").alias("m_bucket"), (1 + F.col("raw")).cast("int").alias("m_score")
    )
    scored = (
        cust.join(F.broadcast(r_d), "recency")
        .join(F.broadcast(f_d), "freq")
        .join(F.broadcast(m_d), "m_bucket")
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("mon_cents").cast("bigint").alias("segment_cents"),
    )


def q_zipf_head_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf head coverage per corpus source: the share of all token
    occurrences captured by the source's top-100 tokens (integer ppm) —
    the corpus-diagnostics complement of ``oov_rate`` (which probes a
    corpus-GLOBAL vocabulary; this measures each source's own head
    concentration, the empirical Zipf mass a stopword list would strip).

    Shape: tokens count map-side into (source, token) cells; the top-100
    pick is a rank-filtered window over per-source cells
    (WindowGroupLimit pushes the limit into the sort), and the totals
    come from the same cell relation — one explode pass, everything
    after it aggregates cells, all integer arithmetic.
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(
            "source",
            F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok"),
        )
        .where(F.col("tok") != "")
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("source").orderBy(F.desc("c"), "tok")
    head = (
        counts.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 100)
        .groupBy("source")
        .agg(F.sum("c").alias("head_mass"))
    )
    totals = counts.groupBy("source").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("distinct_tokens"),
    )
    return totals.join(head, "source").select(
        "source",
        F.col("n_tokens").cast("bigint"),
        F.col("distinct_tokens").cast("bigint"),
        F.col("head_mass").cast("bigint"),
        F.expr("(head_mass * 1000000) div n_tokens").alias("head_share_ppm"),
    )


def q_token_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical diversity per corpus source via the Simpson family:
    Gini-Simpson diversity (1 − Σp², the probability two random token
    draws differ) in integer ppm, and the participation ratio N²/Σc²
    (\"effective vocabulary size\" — how many tokens the source behaves
    as if it had, were they uniform). The log-free diversity pair: both
    are RATIONAL in the token counts, so they verify bitwise across
    engines — Shannon entropy's per-token log2 sits on cross-libm ulp
    boundaries and is deliberately not summed here.

    Exactness: Σc² accumulates exact bigints; the ppm is the two-step
    integer division ``((Σc²·1000) div N · 1000) div N`` (identical
    truncation on both engines, stays in int64 where a single-step
    ``·10⁶`` could not); the participation ratio is ONE identically
    written IEEE double expression on the final per-source row.
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(
            "source",
            F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok"),
        )
        .where(F.col("tok") != "")
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per_src = counts.groupBy("source").agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("distinct_tokens"),
        F.sum(F.col("c") * F.col("c")).alias("sum_c2"),
    )
    return per_src.select(
        "source",
        F.col("n_tokens").cast("bigint"),
        F.col("distinct_tokens").cast("bigint"),
        F.expr(
            "1000000 - ((sum_c2 * 1000) div n_tokens * 1000) div n_tokens"
        ).alias("simpson_ppm"),
        F.expr(
            "(cast(n_tokens as double) * cast(n_tokens as double))"
            " / cast(sum_c2 as double)"
        ).alias("effective_vocab"),
    )


def q_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick text features (Weinberger et al. 2009): each token
    hashes to one of 64 buckets with a ±1 sign from an independent hash
    bit, and a document's feature vector is the signed count per bucket —
    the fixed-width, vocabulary-free featurization used when a learner
    needs stable dimensionality over an unbounded token stream. Output is
    the sparse (doc, bucket, value) triple form for a deterministic
    1-in-20 document slice (bounded value-level oracle).

    Scale: everything before the final hash aggregate is map-side — the
    slice filter pushes to the scan, tokens explode and hash per row
    (md5, because DuckDB replays it and so verifies every bucket), and
    the (doc, bucket) aggregate is the only shuffle.
    The 64-bucket width is a parameter, not a plan property.
    """
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 20 == 0
    )
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok"),
    ).where(F.col("tok") != "")
    hashed = toks.select(
        "doc_id",
        F.expr("cast(conv(substr(md5(tok), 1, 4), 16, 10) as bigint) % 64").alias(
            "bucket"
        ),
        F.expr(
            "1 - 2 * (cast(conv(substr(md5(tok), 5, 1), 16, 10) as bigint) % 2)"
        ).alias("sign"),
    )
    return hashed.groupBy("doc_id", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        F.sum("sign").cast("bigint").alias("feature_value"),
    )


def q_class_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-set class balancing: every embedding label class is
    downsampled to the MINORITY class's size, deterministically (rank by
    md5 of the row id within each class — the same rows survive on every
    engine and run, unlike rand()-based undersampling). The standard
    label-skew correction before training a classifier; output is the
    per-class audit (original size, kept size, kept-row checksum).

    Scale: one aggregate finds class sizes, the min broadcasts as a
    1-row literal; the keep decision is a per-class rank window — the
    honest per-class sort; for classes too large to window-sort,
    ``operators/selection.py``'s distributed k-th selection on the hash
    would find the rank-m threshold without a global sort (same contract
    as the exact-median path).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    sizes = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_total"))
    m = sizes.agg(F.min("n_total").alias("m"))
    w = Window.partitionBy("label").orderBy(
        F.md5(F.col("vec_id").cast("string")), "vec_id"
    )
    kept = (
        emb.select("label", "vec_id", F.row_number().over(w).alias("__rn"))
        .crossJoin(F.broadcast(m))
        .filter(F.col("__rn") <= F.col("m"))
    )
    audit = kept.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept"),
        F.sum("vec_id").cast("bigint").alias("kept_id_sum"),
    )
    return sizes.join(audit, "label").select(
        "label",
        F.col("n_total").cast("bigint"),
        "n_kept",
        "kept_id_sum",
    )


def q_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between event type and daypart
    (hour div 6): the categorical-association statistic behind every
    \"is this feature correlated with that label\" screen. Output is one
    row: dimensions, degrees of freedom, N, and the chi-square statistic
    in integer micro-units.

    Exactness: the contingency table is exact integer counts; marginals
    come from windows over the BOUNDED cell table (|types|·4 rows); each
    cell's term (o·N − rt·ct)² / (N·rt·ct) is one identically written
    IEEE expression — pure +−*/ on integer-valued doubles, NO
    transcendental functions, so it is bit-deterministic across engines —
    floored to micro-units so the final sum is an order-independent
    bigint sum, never a float accumulation.
    """
    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.col("event_type").alias("x"),
        F.expr("hour(ts) div 6").alias("y"),
    ).agg(F.count(F.lit(1)).alias("obs"))
    wx = Window.partitionBy("x")
    wy = Window.partitionBy("y")
    wn = Window.partitionBy()
    terms = cells.select(
        "x",
        "y",
        "obs",
        F.sum("obs").over(wx).alias("rt"),
        F.sum("obs").over(wy).alias("ct"),
        F.sum("obs").over(wn).alias("tot"),
    ).select(
        "x",
        "y",
        F.expr(
            "cast(floor((1000000.0 * ((cast(obs as double) * cast(tot as double)"
            " - cast(rt as double) * cast(ct as double)) * (cast(obs as double)"
            " * cast(tot as double) - cast(rt as double) * cast(ct as double))))"
            " / (cast(tot as double) * cast(rt as double) * cast(ct as double)))"
            " as bigint)"
        ).alias("term_micro"),
        "tot",
    )
    return terms.agg(
        F.countDistinct("x").cast("int").alias("n_types"),
        F.countDistinct("y").cast("int").alias("n_dayparts"),
        (
            (F.countDistinct("x") - 1) * (F.countDistinct("y") - 1)
        ).cast("int").alias("dof"),
        F.any_value("tot").cast("bigint").alias("n_events"),
        F.sum("term_micro").cast("bigint").alias("chi2_micro"),
    )


def q_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU engagement stickiness per ISO week — the product-analytics
    headline ratio (what fraction of a week's active users show up on an
    average day). Integer ppm: Σ(daily actives) · 10⁶ div
    (days observed · weekly actives). Week granularity because the events
    table spans ~a month; the month/MAU variant is the same plan with a
    coarser truncation.

    Shape: one distinct on (week, day, user) feeds the daily counts
    (map-side partial dedup), one distinct on (week, user) feeds WAU —
    two hash aggregates joined on the tiny week key; no windows, no
    per-user state.
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.trunc(F.to_date("ts"), "week").alias("week"),
        F.to_date("ts").alias("day"),
        "user_id",
    )
    daily = (
        ev.select("week", "day", "user_id")
        .distinct()
        .groupBy("week", "day")
        .agg(F.count(F.lit(1)).alias("d_users"))
    )
    per_week = daily.groupBy("week").agg(
        F.count(F.lit(1)).cast("int").alias("days_observed"),
        F.sum("d_users").cast("bigint").alias("sum_dau"),
    )
    wau = (
        ev.select("week", "user_id")
        .distinct()
        .groupBy("week")
        .agg(F.count(F.lit(1)).cast("bigint").alias("wau"))
    )
    return per_week.join(wau, "week").select(
        "week",
        "days_observed",
        "wau",
        "sum_dau",
        F.expr("(sum_dau * 1000000) div (days_observed * wau)").alias(
            "stickiness_ppm"
        ),
    )

def q_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed mean target encoding of customer nation by order value
    (the category→number featurization used when a tree/linear model
    can't take high-cardinality categoricals raw): enc = (Σ_target +
    m·global_mean) / (n + m) with prior weight m=20, so rare nations
    shrink toward the global mean instead of memorizing noise.

    Cross-engine exactness: targets accumulate as exact integer cents
    (decimal×100→bigint per row, bigint hash-agg sums — a double sum
    never exists); the global aggregate re-aggregates the 25-row
    per-nation table rather than rescanning orders; the final smoothed
    mean runs in DOUBLE with every int64 cast explicit and the
    expression written identically on both sides (int64→double is
    round-to-nearest-even in both engines), output floored to exact
    micro-dollar units.

    Scale: one orders⋈customer hash join (fact-sized), one hash agg to
    25 nation rows; the global totals are WINDOW sums over that bounded
    25-row table (not a crossJoin to a re-aggregated copy, which would
    recompute the fact subtree — a second full pass the plan guard
    forbids); nation names broadcast-join.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    per_nation = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .select(
            "c_nationkey",
            F.expr(
                "cast(cast(o_totalprice as decimal(20,6)) * 100 as bigint)"
            ).alias("cents"),
        )
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
    )
    wall = Window.partitionBy()
    with_glob = per_nation.select(
        "c_nationkey",
        "n_orders",
        "sum_cents",
        F.sum("n_orders").over(wall).cast("bigint").alias("g_n"),
        F.sum("sum_cents").over(wall).cast("bigint").alias("g_sum"),
    )
    enc = F.expr(
        "cast(floor((cast(sum_cents as double) * cast(g_n as double)"
        " + 20.0 * cast(g_sum as double)) * 10000.0"
        " / ((cast(n_orders as double) + 20.0) * cast(g_n as double)))"
        " as bigint)"
    )
    return with_glob.join(
        F.broadcast(nation),
        with_glob["c_nationkey"] == nation["n_nationkey"],
    ).select(
        "n_name",
        "n_orders",
        "sum_cents",
        enc.alias("enc_micro"),
    )


def q_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation matrix of lineitem's numeric columns
    (quantity, price-hundreds, discount-pts, tax-pts) from one-pass
    sufficient statistics — the feature-redundancy screen run before
    model training, as a single aggregate instead of C(4,2) CORR calls
    (Spark's corr() is also one pass per pair; this is one pass TOTAL).

    Cross-engine exactness: every column is first mapped to a SMALL
    exact integer unit (quantity is integral; price floors to hundreds
    so its square-sum stays far inside 2^53 even at sf1000; discount/tax
    decimal-scale to points) — correlation is invariant to linear
    rescaling, so the ppm output is the true corr of the unit-mapped
    ints. All 15 sufficient stats are exact int64 hash-agg sums; the
    corr arithmetic runs in DOUBLE with identical expression text on
    both sides, floored to ppm. Zero-variance pairs NULL explicitly
    (Spark's non-ANSI x/0 yields NULL, DuckDB ±inf — divergent).

    Scale: ONE map-side-combined aggregate to a single row (15 sums),
    then a driver-free stack() to the 6 pair rows. No shuffle beyond
    the one 1-row agg; adding columns adds sums, not passes.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        F.expr("cast(l_quantity as bigint)").alias("q"),
        F.expr("cast(floor(l_extendedprice / 100.0) as bigint)").alias("p"),
        F.expr("cast(cast(l_discount as decimal(20,6)) * 100 as bigint)").alias(
            "d"
        ),
        F.expr("cast(cast(l_tax as decimal(20,6)) * 100 as bigint)").alias("t"),
    )
    sums = li.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("q").alias("sq"),
        F.sum("p").alias("sp"),
        F.sum("d").alias("sd"),
        F.sum("t").alias("st"),
        F.sum(F.expr("q * q")).alias("sqq"),
        F.sum(F.expr("p * p")).alias("spp"),
        F.sum(F.expr("d * d")).alias("sdd"),
        F.sum(F.expr("t * t")).alias("stt"),
        F.sum(F.expr("q * p")).alias("sqp"),
        F.sum(F.expr("q * d")).alias("sqd"),
        F.sum(F.expr("q * t")).alias("sqt"),
        F.sum(F.expr("p * d")).alias("spd"),
        F.sum(F.expr("p * t")).alias("spt"),
        F.sum(F.expr("d * t")).alias("sdt"),
    )
    pairs = sums.select(
        "n",
        F.expr(
            "stack(6,"
            " 'quantity|price_h', sq, sp, sqq, spp, sqp,"
            " 'quantity|discount', sq, sd, sqq, sdd, sqd,"
            " 'quantity|tax', sq, st, sqq, stt, sqt,"
            " 'price_h|discount', sp, sd, spp, sdd, spd,"
            " 'price_h|tax', sp, st, spp, stt, spt,"
            " 'discount|tax', sd, st, sdd, stt, sdt"
            ") as (pair, sx, sy, sxx, syy, sxy)"
        ),
    )
    return pairs.select(
        "pair",
        F.col("n").alias("n_rows"),
        F.col("sx").cast("bigint").alias("sx"),
        F.col("sy").cast("bigint").alias("sy"),
        F.col("sxy").cast("bigint").alias("sxy"),
        F.expr(
            "case when (cast(n as double) * cast(sxx as double)"
            " - cast(sx as double) * cast(sx as double)) > 0"
            " and (cast(n as double) * cast(syy as double)"
            " - cast(sy as double) * cast(sy as double)) > 0"
            " then cast(floor(1000000.0 * (cast(n as double) * cast(sxy as double)"
            " - cast(sx as double) * cast(sy as double))"
            " / (sqrt(cast(n as double) * cast(sxx as double)"
            " - cast(sx as double) * cast(sx as double))"
            " * sqrt(cast(n as double) * cast(syy as double)"
            " - cast(sy as double) * cast(sy as double)))) as bigint)"
            " end"
        ).alias("corr_ppm"),
    )


def q_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of daily revenue per return
    flag — the classic time-series smoother, made distributable by
    truncating the tail: α=1/2 gives INTEGER weights 128,64,…,1 over the
    8 most recent observed days, so the smoothed value is exact integer
    arithmetic end-to-end (Σwᵢ·centsᵢ · 10⁴ div Σwᵢ, micro-dollars) —
    no float accumulation, no recursive dependence.

    The recursion y_t = αx_t + (1−α)y_{t−1} is inherently sequential;
    the 8-tap truncation bounds the error by (1−α)⁸ < 0.4% of total
    weight while turning it into a fixed window — the standard trick for
    running EWMA in a shuffle-parallel engine. Warm-up rows renormalize
    over the weights actually present instead of emitting biased nulls.

    Scale: the fact table collapses via ONE map-side-combined hash agg
    to (flag, day) rows — bounded by flags × calendar, independent of
    row count — and the 8-lag window runs over that bounded table.
    """
    li = load_table(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        "l_returnflag", F.to_date("l_shipdate").alias("day")
    ).agg(
        F.sum(
            F.expr("cast(cast(l_extendedprice as decimal(20,6)) * 100 as bigint)")
        )
        .cast("bigint")
        .alias("day_cents")
    )
    w = Window.partitionBy("l_returnflag").orderBy("day")
    weights = [128, 64, 32, 16, 8, 4, 2, 1]
    lagged = daily.select(
        "l_returnflag",
        "day",
        "day_cents",
        *[
            F.lag("day_cents", k).over(w).alias(f"c{k}")
            for k in range(1, 8)
        ],
    )
    return lagged.select(
        "l_returnflag",
        "day",
        "day_cents",
        F.expr(
            "( (128 * day_cents + "
            + " + ".join(
                f"{weights[k]} * coalesce(c{k}, 0)" for k in range(1, 8)
            )
            + ") * 10000 ) div (128 + "
            + " + ".join(
                f"case when c{k} is not null then {weights[k]} else 0 end"
                for k in range(1, 8)
            )
            + ")"
        )
        .cast("bigint")
        .alias("ewma_micro"),
    )


def q_benford_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of order totals vs Benford's
    law, per order priority — the classic fraud/data-quality screen
    (fabricated numbers flunk it). Output: one row per (priority, digit)
    with observed count, observed ppm, expected Benford ppm, and the
    absolute deviation.

    Cross-engine exactness: the leading digit comes from the DECIMAL
    cents' integer string (integer→string is exact; no float formatting,
    no log10 — libm log10 at a power-of-ten boundary is exactly the
    cross-libm risk the hardcoded expected table removes: the nine
    constants are floor(log10(1+1/d)·10⁶) computed offline). All ratios
    are integer div in ppm.

    Scale: one map-side-combined hash agg to ≤ |priorities|·9 = 45
    cells; the priority marginal is a window over that bounded cell
    table; the expected table is a 9-arm CASE, not a join.
    """
    orders = load_table(spark, sf_dir, "orders")
    cells = (
        orders.select(
            "o_orderpriority",
            F.expr(
                "cast(substr(cast(cast(cast(o_totalprice as decimal(20,6))"
                " * 100 as bigint) as string), 1, 1) as int)"
            ).alias("digit"),
        )
        .groupBy("o_orderpriority", "digit")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
    )
    wp = Window.partitionBy("o_orderpriority")
    exp_case = (
        "case digit when 1 then 301029 when 2 then 176091 when 3 then 124938"
        " when 4 then 96910 when 5 then 79181 when 6 then 66946"
        " when 7 then 57991 when 8 then 51152 when 9 then 45757 end"
    )
    return cells.select(
        "o_orderpriority",
        "digit",
        "n_orders",
        F.expr(
            "cast((n_orders * 1000000) as bigint)"
        ).alias("__num"),
        F.sum("n_orders").over(wp).alias("__tot"),
    ).select(
        "o_orderpriority",
        "digit",
        "n_orders",
        F.expr("__num div __tot").cast("bigint").alias("obs_ppm"),
        F.expr(f"cast({exp_case} as bigint)").alias("exp_ppm"),
        F.expr(
            f"cast(abs(__num div __tot - ({exp_case})) as bigint)"
        ).alias("dev_ppm"),
    )


def q_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new-vs-returning user split plus cumulative registered
    users — the growth-accounting decomposition (every DAU is either
    first-seen today or a comeback) that turns a raw DAU line into an
    acquisition-vs-retention story.

    Shape: first-seen day per user is ONE hash agg (min over the user
    key — map-side combined); daily actives is one distinct-count agg;
    both collapse to day-level rows bounded by the CALENDAR (grows with
    time, not data volume), so the cumulative window runs over a bounded
    table. new + returning = dau by construction; cum_users is the
    running sum of first-seens — exact integers throughout.
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("day"), "user_id"
    )
    dau = ev.groupBy("day").agg(
        F.countDistinct("user_id").cast("bigint").alias("dau")
    )
    first_seen = ev.groupBy("user_id").agg(F.min("day").alias("day"))
    new_users = first_seen.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("new_users")
    )
    wcum = Window.partitionBy().orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        dau.join(new_users, "day", "left")
        .select(
            "day",
            "dau",
            F.coalesce("new_users", F.lit(0)).cast("bigint").alias("new_users"),
        )
        .select(
            "day",
            "dau",
            "new_users",
            (F.col("dau") - F.col("new_users")).cast("bigint").alias(
                "returning_users"
            ),
            F.sum("new_users").over(wcum).cast("bigint").alias("cum_users"),
        )
    )


def q_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge overlapping per-user activity intervals (each event opens a
    30-minute window; touching windows coalesce) — the interval-union
    primitive behind session stitching, on-call coverage, and machine
    uptime math. Output per sampled user: merged-interval count, total
    covered seconds, longest merged interval.

    The sweep is the gaps-and-islands max-end trick: an interval starts
    a new island iff its start exceeds the running max of all previous
    ends (window max over rows 1-preceding), and the island id is the
    running sum of those starts — one window pass, no self-join (the
    naive overlap self-join is quadratic per user).

    Cross-engine exactness: epoch seconds via integer microsecond
    division (Spark's timestamp→long floor == DuckDB's epoch_us//10⁶ —
    NOT float EPOCH(), whose fractional rounding can cross a second
    boundary); all durations are exact int64.

    Scale: the window partitions per user (embarrassingly parallel);
    the 1-in-5 user slice pushes to the scan and bounds the oracle.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") % 5 == 0)
        .select(
            "user_id",
            "event_id",
            F.col("ts").cast("long").alias("s"),
            (F.col("ts").cast("long") + 1800).alias("e"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("s", "event_id")
    prev_end = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    marked = ev.select(
        "user_id",
        "event_id",
        "s",
        "e",
        F.when(prev_end.isNull() | (F.col("s") > prev_end), 1)
        .otherwise(0)
        .alias("is_new"),
    )
    islands = marked.select(
        "user_id",
        "s",
        "e",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "island"
        ),
    )
    merged = islands.groupBy("user_id", "island").agg(
        F.min("s").alias("ivl_start"), F.max("e").alias("ivl_end")
    )
    return merged.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
        F.sum(F.col("ivl_end") - F.col("ivl_start"))
        .cast("bigint")
        .alias("covered_seconds"),
        F.max(F.col("ivl_end") - F.col("ivl_start"))
        .cast("bigint")
        .alias("max_interval_seconds"),
    )


def q_ab_test_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion A/B z-test with deterministic user-level
    randomization: users hash into arms by an md5 bit (the same user is
    always in the same arm — the unit-of-randomization rule), the metric
    is purchase share of events per arm, and the output is one row with
    exact arm counts and the pooled z-statistic in micro-units.

    Cross-engine exactness: arm assignment and all counts are exact
    integers from one conditional aggregate; the z arithmetic
    (p̂=(xa+xb)/(na+nb), z=(pa−pb)/√(p̂(1−p̂)(1/na+1/nb))) runs in DOUBLE
    with identical expression text on both sides — int64→double casts
    are exact below 2^53, and +−*/√ are all correctly rounded IEEE ops,
    so the floored micro value matches bit-for-bit. Degenerate pools
    (all or no successes) NULL explicitly.

    Scale: arm is computed per row from the user id (no assignment
    join), so the whole test is ONE map-side-combined aggregate to a
    single row — the cheapest possible plan shape.
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.expr(
            "cast(conv(substr(md5(cast(user_id as string)), 1, 1), 16, 10)"
            " as bigint) % 2"
        ).alias("arm"),
        (F.col("event_type") == "purchase").cast("int").alias("is_purchase"),
    )
    agg = ev.agg(
        F.sum(F.expr("case when arm = 0 then 1 else 0 end"))
        .cast("bigint")
        .alias("na"),
        F.sum(F.expr("case when arm = 0 then is_purchase else 0 end"))
        .cast("bigint")
        .alias("xa"),
        F.sum(F.expr("case when arm = 1 then 1 else 0 end"))
        .cast("bigint")
        .alias("nb"),
        F.sum(F.expr("case when arm = 1 then is_purchase else 0 end"))
        .cast("bigint")
        .alias("xb"),
    )
    return agg.select(
        "na",
        "xa",
        "nb",
        "xb",
        F.expr("(xa * 1000000) div na").cast("bigint").alias("pa_ppm"),
        F.expr("(xb * 1000000) div nb").cast("bigint").alias("pb_ppm"),
        F.expr(
            "case when xa + xb > 0 and xa + xb < na + nb then"
            " cast(floor(1000000.0 *"
            " (cast(xa as double) / cast(na as double)"
            " - cast(xb as double) / cast(nb as double))"
            " / sqrt((cast(xa + xb as double) / cast(na + nb as double))"
            " * (1.0 - cast(xa + xb as double) / cast(na + nb as double))"
            " * (1.0 / cast(na as double) + 1.0 / cast(nb as double))))"
            " as bigint) end"
        ).alias("z_micro"),
    )


def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the supplier↔customer trade graph
    (Newman 2002): the Pearson correlation of endpoint degrees over the
    directed edge list — positive means hubs link to hubs, negative
    (typical for bipartite commerce graphs) means hubs serve the
    periphery. The one-number structural summary a graph pipeline
    computes BEFORE deciding whether degree-skew mitigations (hub
    salting, degree orientation) are needed.

    Cross-engine exactness: degrees and all six sufficient statistics
    are exact int64 hash-agg sums over the symmetric edge list (each
    undirected edge contributes both directions — the standard
    undirected convention); the correlation arithmetic runs in DOUBLE
    with identical expression text on both sides, floored to ppm;
    zero-variance (regular) graphs NULL explicitly. int64 headroom:
    Σdeg² per edge ≤ E·d_max² — fine through millions of edges with
    10⁵-degree hubs; past that the same stats run in DECIMAL(38,0).

    Scale: reuses `_trade_edges` (one fact join + distinct, directed
    half checkpointed); degree is one hash agg (one row per node, then
    checkpointed so the two lookups don't recompute it); the two deg
    lookups broadcast below `BROADCAST_NODE_LIMIT` — the edge list never
    shuffles at all — and fall back to shuffle-hash (never SMJ: no sort
    of the E-sized stream) past it, the same driver-known-count gate the
    graph family uses. The gate matters: forcing shuffle-hash here
    measured 5.8× wall-time for 10× rows (two full edge-list exchanges)
    vs 1.5× gated. Final stats are one map-side-combined agg to a single
    row. No windows, no iteration.
    """
    from .operators.graph import BROADCAST_NODE_LIMIT

    edges = _trade_edges(spark, sf_dir)
    deg = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
        .localCheckpoint()
    )
    small = deg.count() <= BROADCAST_NODE_LIMIT
    ds = deg.select(F.col("src").alias("node"), F.col("deg").alias("dj"))
    dd = deg.select(F.col("src").alias("node"), F.col("deg").alias("dk"))
    if small:
        ds, dd = F.broadcast(ds), F.broadcast(dd)
    else:
        ds, dd = ds.hint("shuffle_hash"), dd.hint("shuffle_hash")
    j = (
        edges.join(ds, edges["src"] == ds["node"])
        .drop("node")
        .join(dd, edges["dst"] == dd["node"])
        .select("dj", "dk")
    )
    stats = j.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("dj").cast("bigint").alias("sj"),
        F.sum("dk").cast("bigint").alias("sk"),
        F.sum(F.expr("dj * dk")).cast("bigint").alias("sjk"),
        F.sum(F.expr("dj * dj")).cast("bigint").alias("sjj"),
        F.sum(F.expr("dk * dk")).cast("bigint").alias("skk"),
    )
    n_nodes = deg.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    return stats.crossJoin(F.broadcast(n_nodes)).select(
        F.col("m").alias("n_directed_edges"),
        "n_nodes",
        F.expr(
            "case when (cast(m as double) * cast(sjj as double)"
            " - cast(sj as double) * cast(sj as double)) > 0"
            " and (cast(m as double) * cast(skk as double)"
            " - cast(sk as double) * cast(sk as double)) > 0"
            " then cast(floor(1000000.0 * (cast(m as double) * cast(sjk as double)"
            " - cast(sj as double) * cast(sk as double))"
            " / (sqrt(cast(m as double) * cast(sjj as double)"
            " - cast(sj as double) * cast(sj as double))"
            " * sqrt(cast(m as double) * cast(skk as double)"
            " - cast(sk as double) * cast(sk as double)))) as bigint)"
            " end"
        ).alias("assortativity_ppm"),
    )


def q_shortest_path_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted shortest path (Bellman-Ford, 3 relaxation rounds unrolled)
    over the trade graph: minimum total cost from the seed set (suppliers
    of nation 1) to every node reachable in ≤3 hops, where a hop's cost is
    `1 + 1000 div shipments` — busy trade links are cheap, rare ones
    expensive. Completes the graph family's distance axis: bfs_reach is
    the unweighted special case of this relaxation.

    Runs on operators/graph.py::bellman_ford (min-plus relaxation with
    per-round min-combine and broadcast-gated frontiers — see its
    docstring for the Dijkstra-vs-BF scale argument and the hub-probe
    evidence).

    Cross-engine exactness: costs are int64 (`div` floor on positive
    ints), min-combines are order-independent — the oracle is the same 3
    rounds as chained CTEs, bitwise equal. Scale: weights come from one
    hash agg over the fact join (map-side combined); each round is
    O(E) with the frontier broadcast below the node limit (same gating as
    bfs_reach) and the shuffle path above it; no driver state, no collect.
    """
    from .operators.graph import bellman_ford

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supplier = load_table(spark, sf_dir, "supplier")
    half = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            (F.col("l_suppkey").cast("long") * 2).alias("src"),
            (F.col("o_custkey").cast("long") * 2 + 1).alias("dst"),
        )
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shipments"))
        .select("src", "dst", F.expr("1 + (1000 div shipments)").alias("w"))
        .localCheckpoint()
    )
    edges = half.union(
        half.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
        )
    )
    seeds = (
        supplier.where(F.col("s_nationkey") == 1)
        .select(
            (F.col("s_suppkey").cast("long") * 2).alias("node"),
            F.lit(0).cast("bigint").alias("dist"),
        )
        .distinct()
    )
    return bellman_ford(edges, seeds, rounds=3).select(
        F.when(F.col("node") % 2 == 0, F.lit("supplier"))
        .otherwise(F.lit("customer"))
        .alias("entity_type"),
        F.expr("node div 2").alias("entity_key"),
        "dist",
    )


def q_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between customer nation and order priority in
    micro-nats — the feature-selection statistic (how many nats knowing
    the nation tells you about the priority) complementing `chi_square`'s
    significance test: chi-square says "is there association", MI says
    "how much".

    Cross-engine exactness: the contingency table is exact integer
    counts; marginals are window sums over the BOUNDED cell table
    (≤ nations·priorities rows); each cell's `obs·ln(obs·N/(rt·ct))` is
    one identically-written IEEE expression floored to micro-units, so
    the total is an order-independent bigint sum (the `tf_idf` ln
    precedent); the final ÷N runs as one floored double division. The ln
    products are computed in DOUBLE (obs·N would overflow int64 past
    N≈3e9; the double product is exact until 2^53 and identically rounded
    on both engines beyond).

    Scale: one fact join (customer broadcast-able), one hash agg to the
    bounded cell grid, windows over that grid only, final 1-row agg.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    cells = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .groupBy(
            F.col("c_nationkey").alias("x"),
            F.col("o_orderpriority").alias("y"),
        )
        .agg(F.count(F.lit(1)).alias("obs"))
    )
    wx = Window.partitionBy("x")
    wy = Window.partitionBy("y")
    wn = Window.partitionBy()
    terms = cells.select(
        "x",
        "y",
        "obs",
        F.sum("obs").over(wx).alias("rt"),
        F.sum("obs").over(wy).alias("ct"),
        F.sum("obs").over(wn).alias("tot"),
    ).select(
        "x",
        "y",
        "tot",
        F.expr(
            "cast(floor(1000000.0 * cast(obs as double)"
            " * ln((cast(obs as double) * cast(tot as double))"
            " / (cast(rt as double) * cast(ct as double)))) as bigint)"
        ).alias("term_micro"),
    )
    return terms.agg(
        F.countDistinct("x").cast("int").alias("n_nations"),
        F.countDistinct("y").cast("int").alias("n_priorities"),
        F.any_value("tot").cast("bigint").alias("n_orders"),
        F.expr(
            "cast(floor(cast(sum(term_micro) as double)"
            " / cast(any_value(tot) as double)) as bigint)"
        ).alias("mi_micro_nats"),
    )


def q_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Shannon entropy of the token distribution in micro-nats
    — the corpus-diversity screen run before mixing sources into a
    training set (a low-entropy source is boilerplate/templated text;
    `token_diversity`'s type-token ratio is the zeroth-order version of
    this). H = ln(N) − (Σ c·ln c)/N over per-token counts c.

    Cross-engine exactness: token counts are exact integers (the shared
    whitespace tokenizer); each token's `c·ln c` term is floored to
    micro-units so the per-source total S is an order-independent bigint
    sum (ln(1)=0 exactly, so hapaxes contribute 0 with no float in
    sight); the final entropy is two floored terms subtracted —
    floor(10⁶·ln N) − floor(S/N) — written identically on both sides,
    all-integer afterwards.

    Scale: one explode → one hash agg per (source, token) with map-side
    combine → one per-source agg. No windows, no joins; vocabulary never
    materializes per-source sets (the per-token rows ARE the state).
    """
    from .operators.textops import all_tokens_col

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(all_tokens_col("text")).alias("token")
    )
    counts = tok.groupBy("source", "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    per_source = counts.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.sum(
            F.expr(
                "cast(floor(1000000.0 * cast(c as double)"
                " * ln(cast(c as double))) as bigint)"
            )
        ).cast("bigint").alias("s_micro"),
    )
    return per_source.select(
        "source",
        "vocab",
        "n_tokens",
        F.expr(
            "cast(floor(1000000.0 * ln(cast(n_tokens as double))) as bigint)"
            " - cast(floor(cast(s_micro as double)"
            " / cast(n_tokens as double)) as bigint)"
        ).alias("entropy_micro_nats"),
    )


def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection per order priority: the day where the
    cumulative deviation of daily order volume from the priority's mean
    peaks — the classic "when did the level shift" statistic, in EXACT
    integer arithmetic (cusum_k = Σ_{d≤k}(D·n_d − T) with D = day count
    and T = total, i.e. the mean-centered sum scaled by D so no division
    ever happens).

    The windows run over the BOUNDED daily-cell table (priorities ×
    calendar days — aggregation collapses the fact first), never raw
    orders; the argmax is a rank-1 pick with a deterministic tie-break
    (largest |cusum|, then earliest day). int64 headroom: |cusum| ≤ D·T ≈
    10⁴ days · 10¹⁰ orders — fine to sf10⁴.

    All-integer → the oracle is bitwise, no float tolerance anywhere.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.to_date("o_orderdate").alias("day"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_d"))
    wp = Window.partitionBy("priority")
    wcum = (
        Window.partitionBy("priority")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cusum = daily.select(
        "priority",
        "day",
        "n_d",
        F.count(F.lit(1)).over(wp).cast("bigint").alias("n_days"),
        F.sum("n_d").over(wp).cast("bigint").alias("total"),
    ).select(
        "priority",
        "day",
        "n_days",
        "total",
        F.sum(F.expr("n_days * n_d - total")).over(wcum)
        .cast("bigint")
        .alias("cusum"),
    )
    wrank = Window.partitionBy("priority").orderBy(
        F.abs(F.col("cusum")).desc(), F.col("day").asc()
    )
    return (
        cusum.withColumn("rn", F.row_number().over(wrank))
        .where(F.col("rn") == 1)
        .select(
            "priority",
            F.col("day").alias("peak_day"),
            "cusum",
            "n_days",
            "total",
        )
    )


def q_seasonality_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality index per order priority: average order
    value on each weekday relative to the priority's overall average, in
    ppm (1 000 000 = no seasonal effect) — the multiplicative seasonal
    factor a demand forecast divides out before trend fitting.

    Engine-portable weekday: `(days_since_epoch + 3) % 7` (0 = Monday;
    1970-01-01 was a Thursday) — Spark's dayofweek() and DuckDB's
    dayofweek() disagree on both origin and base, the epoch formula is
    pure integer arithmetic on both. Revenue accumulates as exact integer
    cents; the index is one identically-written floored double expression
    (sum_dow·n_all / (n_dow·sum_all) cross-multiplied in DOUBLE — the
    int64 product would overflow past sf100).

    Scale: one hash agg to the bounded 5×7 grid, windows over that grid
    only (per-priority totals), no joins.
    """
    orders = load_table(spark, sf_dir, "orders")
    cells = orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.expr(
            "(datediff(to_date(o_orderdate), date'1970-01-01') + 3) % 7"
        ).cast("int").alias("dow"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(
            F.expr("cast(cast(o_totalprice as decimal(20,6)) * 100 as bigint)")
        ).cast("bigint").alias("sum_cents"),
    )
    wp = Window.partitionBy("priority")
    return cells.select(
        "priority",
        "dow",
        "n_orders",
        "sum_cents",
        F.expr(
            "cast(floor(1000000.0 * (cast(sum_cents as double)"
            " * cast(sum(n_orders) over (partition by priority) as double))"
            " / (cast(n_orders as double)"
            " * cast(sum(sum_cents) over (partition by priority) as double)))"
            " as bigint)"
        ).alias("index_ppm"),
    )


def q_token_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token frequency-drift screen: the 50 tokens (≥20 occurrences) whose
    frequency shifts most between the lower and upper halves of the corpus
    (by doc_id) — the topic-drift / contamination-burst check run before a
    corpus snapshot ships. Drift is symmetric: score = max(late:early,
    early:late) as an integer ppm ratio, so decaying terms surface
    alongside trending ones.

    The epoch split needs the global max doc_id, which is a broadcast
    1-row aggregate crossJoined in (never a driver collect); the halves
    are CONDITIONAL sums inside one hash aggregate — one explode pass, one
    agg, no self-join of epochs. Ratios are positive-int `div` (floor on
    both engines) and the top-k is TakeOrderedAndProject (per-partition
    heap + k-row driver merge — no global sort) with a deterministic
    (score desc, token asc) tie-break, so the query is bitwise-exact.
    """
    from .operators.textops import all_tokens_col

    docs = load_table(spark, sf_dir, "documents")
    mx = docs.agg(F.max("doc_id").cast("bigint").alias("mx"))
    tok = docs.select(
        "doc_id", F.explode(all_tokens_col("text")).alias("token")
    ).crossJoin(F.broadcast(mx))
    counts = tok.groupBy("token").agg(
        F.sum(F.expr("case when doc_id * 2 < mx then 1 else 0 end"))
        .cast("bigint")
        .alias("early"),
        F.sum(F.expr("case when doc_id * 2 >= mx then 1 else 0 end"))
        .cast("bigint")
        .alias("late"),
    )
    return (
        counts.where(F.col("early") + F.col("late") >= 20)
        .select(
            "token",
            "early",
            "late",
            F.expr(
                "greatest((late * 1000000) div greatest(early, cast(1 as bigint)),"
                " (early * 1000000) div greatest(late, cast(1 as bigint)))"
            )
            .cast("bigint")
            .alias("drift_ppm"),
        )
        .orderBy(F.col("drift_ppm").desc(), F.col("token").asc())
        .limit(50)
    )


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram cross-entropy against the corpus-trained
    add-one-smoothed bigram LM, in micro-nats — the CCNet-style LM quality
    score (documents whose word sequences surprise the corpus LM are
    boilerplate, spam, or noise; low cross-entropy = fluent). Completes
    the quality family: `quality_filter` scores surface statistics,
    `repetition_quality` scores self-similarity, this scores fluency
    against the corpus itself.

    Shape: the corpus collapses to bigram counts in one explode +
    hash-agg pass (the `bigram_lm_counts` table), head totals are a
    second hash agg joined back on the head word (vocab-bounded), and the
    continuation-vocab size V is a broadcast 1-row aggregate. Scoring is
    one shuffle join of per-doc bigram occurrences against the bounded LM
    table on the (w1,w2) key, then a per-doc hash agg — no windows, and
    the LM never round-trips the driver.

    Cross-engine exactness: every count is an exact integer; each
    occurrence's ln P(w2|w1) term is floored to micro-units so the
    per-doc sum is an order-independent bigint (the tf_idf ln precedent);
    the final ÷m is one identically-written floored double division.

    Body shared with `lm_perplexity_pruned` (the frequency-floor scale
    path); min_count=1 is the exact unpruned LM. The LM table is
    vocab²-bounded and feeds three consumers (head totals, vocab size,
    the scoring join) — `_lm_cross_entropy` materializes it once or each
    branch would re-derive the full corpus explode.
    """
    return _lm_cross_entropy(spark, sf_dir, min_count=1)


def q_kl_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL divergence of each source's token distribution from the corpus
    mixture, in micro-nats — the drift measure corpus mixing reads before
    reweighting (a source with near-zero KL is redundant with the
    mixture; a high-KL source is what `mix_temperature` upweights for
    diversity). Sibling of `token_entropy` (within-source diversity) and
    `source_overlap` (pairwise vocabulary sharing).

    KL(P_s‖P) = Σ_t (c_st/n_s)·ln(c_st·N/(n_s·c_t)) — every count exact:
    c_st from one explode + hash agg, the per-token corpus counts c_t
    RE-AGGREGATE the (source, token) table rather than rescanning the
    corpus, per-source totals n_s broadcast (one row per source), N a
    broadcast 1-row agg. One shuffle join on the token key; per-token
    terms floored to micro-units → order-independent bigint sums; final
    ÷n_s one identically-written floored double division. P_s is
    absolutely continuous w.r.t. P by construction (every source token is
    in the corpus), so no term needs an epsilon.
    """
    from .operators.textops import all_tokens_col

    docs = load_table(spark, sf_dir, "documents")
    # (source, token) counts feed FOUR consumers (the join, c_t, n_s, N) —
    # materialize the bounded table once; without it each branch
    # re-derives the full corpus explode
    c_st = (
        docs.select("source", F.explode(all_tokens_col("text")).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_st"))
        .localCheckpoint()
    )
    c_t = c_st.groupBy("token").agg(F.sum("c_st").cast("bigint").alias("c_t"))
    n_s = c_st.groupBy("source").agg(F.sum("c_st").cast("bigint").alias("n_s"))
    n_tot = c_st.agg(F.sum("c_st").cast("bigint").alias("n"))
    terms = (
        c_st.join(c_t, "token")
        .join(F.broadcast(n_s), "source")
        .crossJoin(F.broadcast(n_tot))
        .select(
            "source",
            "n_s",
            F.expr(
                "cast(floor(1000000.0 * cast(c_st as double)"
                " * ln((cast(c_st as double) * cast(n as double))"
                " / (cast(n_s as double) * cast(c_t as double)))) as bigint)"
            ).alias("term_micro"),
        )
    )
    return terms.groupBy("source").agg(
        F.any_value("n_s").cast("bigint").alias("n_tokens"),
        F.expr(
            "cast(floor(cast(sum(term_micro) as double)"
            " / cast(any_value(n_s) as double)) as bigint)"
        ).alias("kl_micro_nats"),
    )


def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit of the customer table over the quasi-identifier
    triple (nation, market segment, account-balance $1000-bucket): how
    many rows sit in equivalence classes below the k=5 re-identification
    threshold — the privacy gate a governance pipeline runs before a
    dataset leaves the boundary (`pii_scrub` removes direct identifiers;
    this measures the INDIRECT ones).

    Output is the bounded 4-band histogram of class sizes (k=1 unique,
    2–4 below-threshold, 5–19, 20+) with row shares in ppm. The balance
    bucket floors a double division (exact: cents ≤ 10⁶ in magnitude) —
    integer `div` is NOT used because Spark's truncates toward zero while
    DuckDB's floors, and acctbal goes negative. Two chained hash aggs
    (rows → classes → bands) + windows over ≤4 band rows; nothing else.
    """
    cust = load_table(spark, sf_dir, "customer")
    classes = cust.groupBy(
        F.col("c_nationkey").alias("nat"),
        F.col("c_mktsegment").alias("seg"),
        F.expr(
            "cast(floor(cast(cast(c_acctbal as decimal(20,6)) * 100 as bigint)"
            " / 100000.0) as bigint)"
        ).alias("bal_bucket"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("k"))
    bands = classes.select(
        F.expr(
            "case when k = 1 then '1:unique' when k < 5 then '2:2-4'"
            " when k < 20 then '3:5-19' else '4:20+' end"
        ).alias("band"),
        "k",
    ).groupBy("band").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.sum("k").cast("bigint").alias("n_rows"),
    )
    wall = Window.partitionBy()
    return bands.select(
        "band",
        "n_classes",
        "n_rows",
        F.expr("n_rows * 1000000").alias("__num"),
        F.sum("n_rows").over(wall).alias("__tot"),
    ).select(
        "band",
        "n_classes",
        "n_rows",
        F.expr("__num div __tot").cast("bigint").alias("row_share_ppm"),
    )


def q_rank_fusion_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of two per-nation customer rankings (by
    order count and by total spend): RRF = Σ 10⁶ div (60 + rank_i) — the
    standard score-free method for merging heterogeneous rankings
    (search result lists, recommender channels) without calibrating their
    scales. Top-3 fused customers per nation.

    Integer exactness: ranks come from ROW_NUMBER with full deterministic
    tie-breaks (metric desc, custkey asc), the RRF terms are positive-int
    `div` (floor on both engines), and the final top-3 pick re-ranks on
    (fused desc, custkey asc) — bitwise.

    Scale: the fact collapses to one row per customer (hash agg with
    map-side combine) BEFORE any window; both rankings and the final pick
    share ONE hash partitioning on nation (one exchange, plan-guarded) —
    the window sorts run over per-customer rows, the honest cost of exact
    dense ranking; when only the head is needed at 100 TB, group_topk's
    WindowGroupLimit shape bounds per-group state to k instead.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    per_cust = (
        orders.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum(
                F.expr(
                    "cast(cast(o_totalprice as decimal(20,6)) * 100 as bigint)"
                )
            ).cast("bigint").alias("sum_cents"),
        )
        .join(
            cust.select(
                F.col("c_custkey").alias("custkey"),
                F.col("c_nationkey").alias("nat"),
            ),
            "custkey",
        )
    )
    w1 = Window.partitionBy("nat").orderBy(
        F.col("n_orders").desc(), F.col("custkey").asc()
    )
    w2 = Window.partitionBy("nat").orderBy(
        F.col("sum_cents").desc(), F.col("custkey").asc()
    )
    fused = per_cust.select(
        "nat",
        "custkey",
        "n_orders",
        "sum_cents",
        F.row_number().over(w1).alias("r_count"),
        F.row_number().over(w2).alias("r_spend"),
    ).withColumn(
        "rrf_micro",
        F.expr(
            "cast(1000000 div (60 + r_count) + 1000000 div (60 + r_spend)"
            " as bigint)"
        ),
    )
    wpick = Window.partitionBy("nat").orderBy(
        F.col("rrf_micro").desc(), F.col("custkey").asc()
    )
    return (
        fused.withColumn("rn", F.row_number().over(wpick))
        .where(F.col("rn") <= 3)
        .select(
            "nat",
            F.col("rn").cast("int").alias("fused_rank"),
            "custkey",
            "n_orders",
            "sum_cents",
            F.col("r_count").cast("int").alias("r_count"),
            F.col("r_spend").cast("int").alias("r_spend"),
            "rrf_micro",
        )
    )


def q_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every click in the hour before a
    purchase shares the conversion credit equally — the fairness
    counterpart to `attribution_last_touch` (which gives rank-1 all of
    it). Credit is exact integer micro-units: each of the k touches gets
    10⁶ div k, and the remainder 10⁶ % k goes to the EARLIEST touch, so
    per-purchase credit sums to exactly 10⁶ by construction (an invariant
    the value-level oracle re-derives, not just spot-checks).

    Shape: clicks⋈purchases is an equi-join on user_id with the time
    window as a residual join condition (the as-of/range-join family's
    batch shape); k and the earliest-touch rank come from one window
    partitioned by purchase — bounded by touches-per-hour, never the
    user's full history. Purchases with no preceding click simply don't
    appear (inner join; the unattributed share is `attribution_last_touch`'s
    NULL row in that query's contract).
    """
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("click_user"),
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    joined = clicks.join(
        purchases,
        (F.col("click_user") == F.col("user_id"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("click_ts") <= F.col("purchase_ts")),
    )
    wk = Window.partitionBy("purchase_id")
    wfirst = Window.partitionBy("purchase_id").orderBy(
        F.col("click_ts").asc(), F.col("click_id").asc()
    )
    return joined.select(
        "purchase_id",
        "user_id",
        "click_id",
        F.count(F.lit(1)).over(wk).cast("bigint").alias("k_touches"),
        F.row_number().over(wfirst).alias("touch_rank"),
    ).select(
        "purchase_id",
        "user_id",
        "click_id",
        "k_touches",
        F.col("touch_rank").cast("int").alias("touch_rank"),
        F.expr(
            "cast(1000000 div k_touches"
            " + case when touch_rank = 1 then 1000000 % k_touches"
            " else 0 end as bigint)"
        ).alias("credit_micro"),
    )


def q_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the daily order-volume series at lags
    1–7, per priority — THE seasonality/memory diagnostic read before
    fitting any forecast (a weekly cycle shows as a lag-7 peak;
    `seasonality_dow` then quantifies it, `ewma_smooth` then smooths it).

    ACF_k here is the Pearson correlation of (x_t, x_{t+k}) over the
    overlapping pairs (the "sample" convention that is exactly a
    correlation, so |r| ≤ 1 by construction). Every sufficient statistic
    is an exact int64 hash-agg sum over LAGGED PAIRS of the bounded daily
    cell table: the fact collapses to (priority, day, n_d) first, lags
    come from one window per priority ordered by day (≤ calendar-days
    rows), and the correlation arithmetic is one identically-written
    floored double expression per (priority, lag) — bitwise. Zero-variance
    sides NULL explicitly (Spark x/0 is NULL, DuckDB ±inf).

    Scale: one fact pass to the cells; 7 lag columns from ONE window
    (one sort of the cell table, lags 1..7 share it); the pair stats are
    a hash agg to 5×7 rows. Nothing touches raw orders after the first
    agg.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.to_date("o_orderdate").alias("day"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    w = Window.partitionBy("priority").orderBy("day")
    lagged = daily.select(
        "priority",
        "x",
        *[F.lead("x", k).over(w).alias(f"x{k}") for k in range(1, 8)],
    )
    pairs = None
    for k in range(1, 8):
        p = lagged.where(F.col(f"x{k}").isNotNull()).select(
            "priority",
            F.lit(k).alias("lag"),
            F.col("x").alias("a"),
            F.col(f"x{k}").alias("b"),
        )
        pairs = p if pairs is None else pairs.union(p)
    stats = pairs.groupBy("priority", "lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("a").cast("bigint").alias("sa"),
        F.sum("b").cast("bigint").alias("sb"),
        F.sum(F.expr("a * b")).cast("bigint").alias("sab"),
        F.sum(F.expr("a * a")).cast("bigint").alias("saa"),
        F.sum(F.expr("b * b")).cast("bigint").alias("sbb"),
    )
    return stats.select(
        "priority",
        F.col("lag").cast("int").alias("lag"),
        "n",
        F.expr(
            "case when (cast(n as double) * cast(saa as double)"
            " - cast(sa as double) * cast(sa as double)) > 0"
            " and (cast(n as double) * cast(sbb as double)"
            " - cast(sb as double) * cast(sb as double)) > 0"
            " then cast(floor(1000000.0 * (cast(n as double) * cast(sab as double)"
            " - cast(sa as double) * cast(sb as double))"
            " / (sqrt(cast(n as double) * cast(saa as double)"
            " - cast(sa as double) * cast(sa as double))"
            " * sqrt(cast(n as double) * cast(sbb as double)"
            " - cast(sb as double) * cast(sb as double)))) as bigint)"
            " end"
        ).alias("acf_ppm"),
    )


def q_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier days: daily order volumes outside
    [Q1 − 1.5·IQR, Q3 + 1.5·IQR] per priority — the box-plot anomaly
    screen, in ALL-INTEGER arithmetic (the fences multiply by 4:
    4x < 4·q1 − 6·iqr marks a low outlier, so the 1.5 factor never
    produces a float; quartiles are type-1 — the smallest value whose
    cumulative count reaches ⌈q·n⌉ — actual data values, no
    interpolation).

    Windows run over the bounded daily-cell table only (the fact
    collapses first): one cumulative-count window ordered by (x, day)
    picks the quartiles per priority; the fence test is a broadcast join
    of the 5-row quartile table back to the cells. Bitwise oracle.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.to_date("o_orderdate").alias("day"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    wp = Window.partitionBy("priority")
    wr = Window.partitionBy("priority").orderBy(
        F.col("x").asc(), F.col("day").asc()
    )
    ranked = daily.select(
        "priority",
        "day",
        "x",
        F.row_number().over(wr).alias("rnk"),
        F.count(F.lit(1)).over(wp).cast("bigint").alias("n"),
    )
    quartiles = (
        ranked.where(
            (F.col("rnk") * 4 >= F.col("n"))
            & ((F.col("rnk") - 1) * 4 < F.col("n"))
            | (F.col("rnk") * 4 >= 3 * F.col("n"))
            & ((F.col("rnk") - 1) * 4 < 3 * F.col("n"))
        )
        .groupBy("priority")
        .agg(
            F.min("x").cast("bigint").alias("q1"),
            F.max("x").cast("bigint").alias("q3"),
        )
    )
    return (
        daily.join(F.broadcast(quartiles), "priority")
        .where(
            (F.col("x") * 4 < F.col("q1") * 4 - (F.col("q3") - F.col("q1")) * 6)
            | (F.col("x") * 4 > F.col("q3") * 4 + (F.col("q3") - F.col("q1")) * 6)
        )
        .select(
            "priority",
            "day",
            "x",
            "q1",
            "q3",
            F.expr(
                "case when x < q1 then 'low' else 'high' end"
            ).alias("side"),
        )
    )


def q_lm_perplexity_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`lm_perplexity` with the documented frequency-floor: bigrams whose
    corpus count falls below MIN_COUNT are pruned from the LM table before
    the scoring join, while the smoothing denominators (head totals n1,
    continuation vocabulary V) keep the FULL counts — surviving bigrams
    score identically to the unpruned path; rare bigrams simply stop
    contributing occurrences (documents reduce to their frequent-bigram
    subsequence; docs with zero surviving bigrams drop out).

    This is the scale path (round-4 verdict ask #6): the LM table and the
    scoring join shrink to the frequent head of the bigram distribution,
    which grows sub-linearly with corpus size (heavy-tail pruning), where
    the unpruned join is linear in total token volume.
    """
    return _lm_cross_entropy(spark, sf_dir, min_count=3)


def _lm_cross_entropy(spark: SparkSession, sf_dir: str, min_count: int) -> DataFrame:
    """Shared body of lm_perplexity / lm_perplexity_pruned (see their
    docstrings; min_count=1 is the exact unpruned LM)."""
    docs = spread_partitions(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("w")
    ).filter(F.size("w") >= 2)
    bigrams = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 1),"
                " i -> struct(w[i-1] AS w1, w[i] AS w2))"
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    counts12 = bigrams.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("n12")
    ).localCheckpoint()
    counts1 = counts12.groupBy("w1").agg(
        F.sum("n12").cast("bigint").alias("n1")
    )
    vocab = counts12.agg(
        F.countDistinct("w2").cast("bigint").alias("v")
    )
    kept = counts12 if min_count <= 1 else counts12.filter(
        F.col("n12") >= F.lit(min_count)
    )
    lm = kept.join(counts1, "w1").crossJoin(F.broadcast(vocab))
    scored = bigrams.join(lm, ["w1", "w2"]).select(
        "doc_id",
        F.expr(
            "cast(floor(1000000.0 * ln((cast(n12 as double) + 1.0)"
            " / (cast(n1 as double) + cast(v as double)))) as bigint)"
        ).alias("term_micro"),
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.sum("term_micro").cast("bigint").alias("s_micro"),
    ).select(
        "doc_id",
        "n_bigrams",
        F.expr(
            "cast(floor((0.0 - cast(s_micro as double))"
            " / cast(n_bigrams as double)) as bigint)"
        ).alias("cross_entropy_micro_nats"),
    )


def q_user_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-25 user journey paths: each user's first 8 event types in time
    order collapsed to a `a>b>c` path string, ranked by how many users
    share the path — the product-analytics "common flows" report.

    Shape: one per-user window (rank within user — the fact's natural
    partitioning), the head-8 filter is WindowGroupLimit-eligible, the
    path assembly is an array_sort over per-user structs (no second sort
    pass), and the final top-25 is TakeOrderedAndProject. Determinism:
    rank ties break on event_id; path ranking ties break on the path
    string."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = events.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= 8)
    paths = seq.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda s: s.event_type,
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .orderBy(F.desc("n_users"), F.asc("path"))
        .limit(25)
    )


def q_event_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Shannon entropy of the event-type distribution in
    micro-nats — the behavioral-diversity screen (a zero-entropy user is a
    bot hammering one action; high entropy = broad engagement). Same
    exact-integer convention as `token_entropy` (its per-source corpus
    twin): H = ln(N) − (Σ c·ln c)/N with each c·ln c floored to
    micro-units so sums are order-independent bigints, and the two final
    terms floored identically on both engines.

    Scale: two hash aggregates with map-side combine ((user,type) then
    user); no windows, no joins."""
    events = load_table(spark, sf_dir, "events")
    counts = events.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    per_user = counts.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum("c").cast("bigint").alias("n_events"),
        F.sum(
            F.expr(
                "cast(floor(1000000.0 * cast(c as double)"
                " * ln(cast(c as double))) as bigint)"
            )
        ).cast("bigint").alias("s_micro"),
    )
    return per_user.select(
        "user_id",
        "n_types",
        "n_events",
        F.expr(
            "cast(floor(1000000.0 * ln(cast(n_events as double))) as bigint)"
            " - cast(floor(cast(s_micro as double)"
            " / cast(n_events as double)) as bigint)"
        ).alias("entropy_micro_nats"),
    )


def q_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue decile-lift table per market segment: customers ranked by
    lifetime spend, cut into NTILE(10) deciles within their segment, each
    decile reporting customer count, revenue, revenue share, and
    cumulative share — the classic direct-marketing lift report.

    Exactness: spend accumulates as floor(price·100) integer cents (the
    rfm_segments convention); shares are single identically-written
    floored-double divisions to ppm. Scale: the fact collapses to one row
    per customer FIRST (hash agg), so the NTILE window and everything
    after run over the customer dimension, partitioned by segment — never
    over fact rows; output is 10 rows per segment."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
        .cast("bigint")
        .alias("spend_cents")
    )
    seg = spend.join(
        F.broadcast(customer.select(F.col("c_custkey").alias("o_custkey"), "c_mktsegment")),
        "o_custkey",
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("spend_cents"), F.asc("o_custkey")
    )
    tiled = seg.select(
        "c_mktsegment", "spend_cents", F.ntile(10).over(w).alias("decile")
    )
    per_decile = tiled.groupBy("c_mktsegment", "decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("spend_cents").cast("bigint").alias("decile_cents"),
    )
    wseg = Window.partitionBy("c_mktsegment")
    wcum = wseg.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return per_decile.select(
        "c_mktsegment",
        "decile",
        "n_customers",
        "decile_cents",
        F.expr(
            "cast(floor(1000000.0 * cast(decile_cents as double)"
            " / cast(sum(decile_cents) over (partition by c_mktsegment) as double)) as bigint)"
        ).alias("share_ppm"),
        (
            F.sum("decile_cents").over(wcum).cast("double") * F.lit(1000000.0)
            / F.sum("decile_cents").over(wseg).cast("double")
        ).alias("_raw"),
    ).select(
        "c_mktsegment",
        "decile",
        "n_customers",
        "decile_cents",
        "share_ppm",
        F.floor(F.col("_raw")).cast("bigint").alias("cum_share_ppm"),
    )


def q_pareto_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration per market segment: the smallest number of
    top-spending customers whose cumulative revenue reaches 80% of the
    segment's total (the "how true is 80/20 here" report), with the share
    they actually hold.

    Exactness: integer cents throughout; the 80% threshold is the
    division-free cross-multiply 5·cum ≥ 4·total (the iqr_outliers
    trick), so no float enters the decision; the reported share is one
    floored-double ppm division. Scale: fact → per-customer hash agg
    first; the rank/cumsum window runs over the customer dimension
    partitioned by segment; the final row set is one row per segment."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
        .cast("bigint")
        .alias("spend_cents")
    )
    seg = spend.join(
        F.broadcast(customer.select(F.col("c_custkey").alias("o_custkey"), "c_mktsegment")),
        "o_custkey",
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("spend_cents"), F.asc("o_custkey")
    )
    ranked = seg.select(
        "c_mktsegment",
        F.row_number().over(w).alias("rnk"),
        F.sum("spend_cents")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("cum_cents"),
        F.sum("spend_cents")
        .over(Window.partitionBy("c_mktsegment"))
        .cast("bigint")
        .alias("total_cents"),
    )
    qualifying = F.col("cum_cents") * 5 >= F.col("total_cents") * 4
    return ranked.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.min(F.when(qualifying, F.col("rnk"))).cast("bigint").alias("pareto_n"),
        F.expr(
            "cast(floor(1000000.0"
            " * cast(min(case when cum_cents * 5 >= total_cents * 4"
            "              then cum_cents end) as double)"
            " / cast(any_value(total_cents) as double)) as bigint)"
        ).alias("pareto_share_ppm"),
    )


def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user time-weighted average of the event value (TWAP): each
    value weighted by the seconds until the user's next event — the
    correct average for irregularly-sampled state (a value held for an
    hour counts 3600× one held a second); the last event has no holding
    interval and is excluded.

    Exactness: values floor to integer micro-units, durations are exact
    integer seconds (truncated epoch on both engines), each term is a
    bigint product, and the final ÷Σdt is one identically-written
    floored-double division. Scale: one per-user window (lead) over the
    fact's natural partitioning, then one hash agg — no joins."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    stepped = events.select(
        "user_id",
        F.expr("cast(floor(value * 1000000.0) as bigint)").alias("v_micro"),
        (
            F.lead(F.unix_timestamp("ts")).over(w) - F.unix_timestamp("ts")
        ).cast("bigint").alias("dt_s"),
    ).filter(F.col("dt_s").isNotNull())
    return stepped.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_intervals"),
        F.sum("dt_s").cast("bigint").alias("total_dt_s"),
        F.expr(
            # a user whose every holding interval is zero seconds has no
            # time-weighted mean — NULL, spelled out because DuckDB's
            # 0.0/0.0 is NaN while Spark's is NULL
            "case when sum(dt_s) = 0 then null else"
            " cast(floor(cast(sum(v_micro * dt_s) as double)"
            " / cast(sum(dt_s) as double)) as bigint) end"
        ).alias("twap_micro"),
    )


# --------------------------------------------------------------------------
# Catalog
# --------------------------------------------------------------------------

# Catalog order is RISK-FIRST: the driver tests a prefix of this dict
# (round 1 covered only the first 50 entries), so the queries with the
# least driver signal go first — (1) entries the round-1 driver never
# reached, (2) entries fixed since their last driver run, (3) entries
# already hash-match green in CORRECTNESS_r01.  New queries belong at
# the TOP of group 1.
SPARK_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # -- group 0: errored in r01, fixed since (NTZ normalization / array
    #    canonicalization) — these MUST land inside the driver's tested
    #    prefix to convert their `err` rows to green --
    "streaming_window_agg": q_streaming_window_agg,
    "streaming_sliding_agg": q_streaming_sliding_agg,
    "streaming_sessionize": q_streaming_sessionize,
    "streaming_dedup": q_streaming_dedup,
    "streaming_stream_join": q_streaming_stream_join,
    "range_join": q_range_join,
    "multimodal_features": q_multimodal_features,
    # -- group 0b: new this round (no driver signal yet) --
    "udaf_sumsq": q_udaf_sumsq,
    "right_join": q_right_join,
    "set_ops_all": q_set_ops_all,
    "text_ingest": q_text_ingest,
    "quality_rank": q_quality_rank,
    "semantic_decontaminate": q_semantic_decontaminate,
    "bigram_lm_counts": q_bigram_lm_counts,
    "incremental_dedup": q_incremental_dedup,
    "geo_cell_join": q_geo_cell_join,
    "window_dedup_agg": q_window_dedup_agg,
    "jsonl_ingest_roundtrip": q_jsonl_ingest_roundtrip,
    "orc_roundtrip": q_orc_roundtrip,
    "optimize_compact": q_optimize_compact,
    "exact_quantiles": q_exact_quantiles,
    "time_range_window": q_time_range_window,
    "ohlc_bars": q_ohlc_bars,
    "variant_extract": q_variant_extract,
    "udtf_split": q_udtf_split,
    "recursive_chain": q_recursive_chain,
    "list_ranking": q_list_ranking,
    "pagerank_trade": q_pagerank_trade,
    "pagerank_weighted": q_pagerank_weighted,
    "dedup_sorted_neighborhood": q_dedup_sorted_neighborhood,
    "bfs_reach": q_bfs_reach,
    "label_propagation": q_label_propagation,
    "community_modularity": q_community_modularity,
    "kcore_decompose": q_kcore_decompose,
    "collocation_pmi": q_collocation_pmi,
    "ols_trend": q_ols_trend,
    "profile_table": q_profile_table,
    "profile_table_approx": q_profile_table_approx,
    "attribution_last_touch": q_attribution_last_touch,
    "skew_profile": q_skew_profile,
    "robust_zscore": q_robust_zscore,
    "robust_zscore_approx": q_robust_zscore_approx,
    "event_transitions": q_event_transitions,
    "oov_rate": q_oov_rate,
    "source_overlap": q_source_overlap,
    "global_median_select": q_global_median_select,
    "weighted_median": q_weighted_median,
    "weighted_median_approx": q_weighted_median_approx,
    "gini_concentration": q_gini_concentration,
    "mode_per_group": q_mode_per_group,
    "ratio_to_report": q_ratio_to_report,
    "longest_streak": q_longest_streak,
    "funnel_conversion": q_funnel_conversion,
    "cohort_retention": q_cohort_retention,
    "copurchase_lift": q_copurchase_lift,
    "triangle_count": q_triangle_count,
    "lateral_topk": q_lateral_topk,
    "multimodal_phash": q_multimodal_phash,
    "bpe_pairs": q_bpe_pairs,
    "bpe_merges": q_bpe_merges,
    "bpe_encode": q_bpe_encode,
    "bm25_rank": q_bm25_rank,
    "fuzzy_join": q_fuzzy_join,
    "cdc_apply": q_cdc_apply,
    "streaming_incremental_mv": q_streaming_incremental_mv,
    "segment_dedup": q_segment_dedup,
    "semantic_prune": q_semantic_prune,
    "mix_temperature": q_mix_temperature,
    "grouped_median": q_grouped_median,
    # round-4 additions: CRM/product-analytics + ML-prep shapes
    "rfm_segments": q_rfm_segments,
    "zipf_head_share": q_zipf_head_share,
    "token_diversity": q_token_diversity,
    "feature_hashing": q_feature_hashing,
    "class_rebalance": q_class_rebalance,
    "chi_square": q_chi_square,
    "dau_wau": q_dau_wau,
    "target_encoding": q_target_encoding,
    "correlation_matrix": q_correlation_matrix,
    "ewma_smooth": q_ewma_smooth,
    "benford_deviation": q_benford_deviation,
    "new_vs_returning": q_new_vs_returning,
    "interval_merge": q_interval_merge,
    "ab_test_zscore": q_ab_test_zscore,
    "degree_assortativity": q_degree_assortativity,
    "shortest_path_weighted": q_shortest_path_weighted,
    "mutual_information": q_mutual_information,
    "token_entropy": q_token_entropy,
    "cusum_changepoint": q_cusum_changepoint,
    "seasonality_dow": q_seasonality_dow,
    "token_drift": q_token_drift,
    "lm_perplexity": q_lm_perplexity,
    "kl_divergence_sources": q_kl_divergence_sources,
    "k_anonymity_audit": q_k_anonymity_audit,
    "rank_fusion_rrf": q_rank_fusion_rrf,
    "attribution_linear": q_attribution_linear,
    "autocorrelation": q_autocorrelation,
    "iqr_outliers": q_iqr_outliers,
    # round-5 additions: LM scale path + behavioral/revenue analytics
    "lm_perplexity_pruned": q_lm_perplexity_pruned,
    "user_paths": q_user_paths,
    "event_entropy": q_event_entropy,
    "decile_lift": q_decile_lift,
    "pareto_customers": q_pareto_customers,
    "time_weighted_avg": q_time_weighted_avg,
    # TPC-H-analog analytic pack (see tpch.py module docstring)
    **_TPCH_QUERIES,
    # -- group 1: no driver signal yet (r01 tested only the first 50);
    #    newest entries first --
    "inverted_index": q_inverted_index,
    "doc_chunking": q_doc_chunking,
    "winsorize": q_winsorize,
    "bucketed_join": q_bucketed_join,
    "decontaminate": q_decontaminate,
    "repetition_quality": q_repetition_quality,
    "source_rebalance": q_source_rebalance,
    "streaming_enrich": q_streaming_enrich,
    "embedding_quantize": q_embedding_quantize,
    "corpus_rarity": q_corpus_rarity,
    "expectation_metrics": q_expectation_metrics,
    "csv_ingest_roundtrip": q_csv_ingest_roundtrip,
    "pack_shards": q_pack_shards,
    "dedup_survivors": q_dedup_survivors,
    "cube_sales": q_cube_sales,
    "grouping_sets": q_grouping_sets,
    "anti_join": q_anti_join,
    "cross_join": q_cross_join,
    "scalar_subquery": q_scalar_subquery,
    "explode_tokens": q_explode_tokens,
    "string_funcs": q_string_funcs,
    "skew_salted_join": q_skew_salted_join,
    "top_ngrams": q_top_ngrams,
    "tf_idf": q_tf_idf,
    "quality_filter": q_quality_filter,
    "deterministic_sample": q_deterministic_sample,
    "merge_upsert": q_merge_upsert,
    "scd2_customers": q_scd2_customers,
    "json_extract": q_json_extract,
    "sketch_distinct": q_sketch_distinct,
    "approx_quantiles": q_approx_quantiles,
    "sessionize_batch": q_sessionize_batch,
    "sessionize_batch_split": q_sessionize_batch_split,
    "gap_fill_ffill": q_gap_fill_ffill,
    "rank_matrix": q_rank_matrix,
    "not_in_subquery": q_not_in_subquery,
    "union_by_name": q_union_by_name,
    "histogram_bins": q_histogram_bins,
    "snapshot_diff": q_snapshot_diff,
    "correlated_subquery": q_correlated_subquery,
    "group_normalize": q_group_normalize,
    "streaming_distinct_users": q_streaming_distinct_users,
    "unpivot_metrics": q_unpivot_metrics,
    "heavy_hitters": q_heavy_hitters,
    "cms_topk": q_cms_topk,
    "embedding_centroids": q_embedding_centroids,
    "full_outer_join": q_full_outer_join,
    "pii_scrub": q_pii_scrub,
    "incremental_agg": q_incremental_agg,
    "group_topk": q_group_topk,
    "stratified_sample": q_stratified_sample,
    "exists_subquery": q_exists_subquery,
    # -- group 2: green in CORRECTNESS_r01 (hash-match or rows-only-by-design) --
    # pipeline datasets (gold layer = flagship surface)
    "gold_fact_lineitem": _pipeline_q("gold.fact_lineitem"),
    "gold_dim_orders": _pipeline_q("gold.dim_orders"),
    "gold_dim_customers": _pipeline_q("gold.dim_customers"),
    "gold_dim_suppliers": _pipeline_q("gold.dim_suppliers"),
    "gold_dim_parts": _pipeline_q("gold.dim_parts"),
    "gold_dim_date": _cast_dim_date_int,
    "silver_orders": _pipeline_q("silver.silver_orders", drop=("processed_at",)),
    "silver_customer": _pipeline_q("silver.silver_customer"),
    "silver_events": _pipeline_q("silver.silver_events"),
    # corpus medallion pipeline (plans/corpus.py) — the engine's DLT surface
    # applied to LLM training-data prep
    "corpus_silver_docs": _corpus_q("silver.corpus_docs", drop=("processed_at",)),
    "corpus_gold_survivors": _corpus_q("gold.corpus_survivors"),
    "corpus_gold_mix": _corpus_q("gold.corpus_mix"),
    "corpus_expectations": q_corpus_expectations,
    "corpus_streaming_ingest": q_corpus_streaming_ingest,
    "corpus_survivors_agg": q_corpus_survivors_agg,
    "leakage_safe_split": q_leakage_safe_split,
    "budget_select": q_budget_select,
    # operator-level
    "typed_projection": q_typed_projection,
    "predicates": q_predicates,
    "order_totals": q_order_totals,
    "global_minmax": q_global_minmax,
    "window_dedup": q_window_dedup,
    "semi_join": q_semi_join,
    "scalar_matrix": q_scalar_matrix,
    "date_expr_join": q_date_expr_join,
    # extensions: dedup / similarity / text / multimodal
    "dedup_exact": q_dedup_exact,
    "dedup_fingerprint": q_dedup_fingerprint,
    "dedup_jaccard": q_dedup_jaccard,
    "jaccard_prefix_join": q_jaccard_prefix_join,
    "dedup_components": q_dedup_components,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_simhash": q_dedup_simhash,
    "text_analysis": q_text_analysis,
    "ann_topk": q_ann_topk,
    "hard_negatives": q_hard_negatives,
    "embedding_outliers": q_embedding_outliers,
    "ann_topk_np": q_ann_topk,  # same operator; the key keeps its catalog slot
    "ann_topk_ivf": q_ann_topk_ivf,
    "pq_topk": q_pq_topk,
    "pq_topk_trained": q_pq_topk_trained,
    "ivfpq_topk": q_ivfpq_topk,
    "ivf_nprobe_topk": q_ivf_nprobe_topk,
    "ivfpq_nprobe_topk": q_ivfpq_nprobe_topk,
    "ivfpq_residual_topk": q_ivfpq_residual_topk,
    "ann_recall_eval": q_ann_recall_eval,
    "mmr_select": q_mmr_select,
    "substring_dedup": q_substring_dedup,
    "substring_dedup_hashed": q_substring_dedup_hashed,
    "preference_pairs": q_preference_pairs,
    "bloom_prune_join": q_bloom_prune_join,
    "keyword_textrank": q_keyword_textrank,
    "embedding_pca_power": q_embedding_pca_power,
    "substring_trim": q_substring_trim,
    "embedding_dup_pairs": q_embedding_dup_pairs,
    "embedding_dup_pairs_lsh": q_embedding_dup_pairs_lsh,
    "multimodal_decode": q_multimodal_decode,
    "audio_decode": q_audio_decode,
    "audio_window_energy": q_audio_window_energy,
    "video_decode": q_video_decode,
    "video_frame_sample": q_video_frame_sample,
    "video_scene_cuts": q_video_scene_cuts,
    "media_decode": q_media_decode,
    "multimodal_frames": q_multimodal_frames,
    "multimodal_resize": q_multimodal_resize,
    "winnow_fingerprints": q_winnow_fingerprints,
    "pii_scan": q_pii_scan,
    "containment_dedup": q_containment_dedup,
    # structured streaming (availableNow incremental)
    "streaming_running_totals": q_streaming_running_totals,
    "running_totals_window": q_running_totals_window,
    "topk_orders": q_topk_orders,
    "asof_join": q_asof_join,
    "rollup_sales": q_rollup_sales,
    "pivot_status": q_pivot_status,
    "set_ops": q_set_ops,
    "ntile_window": q_ntile_window,
    # breadth: frames / multi-dim aggs
    "stat_aggregates": q_stat_aggregates,
    "array_functions": q_array_functions,
    "window_frames": q_window_frames,
}

# The driver samples a PREFIX of this dict each round (50 entries), so
# catalog order is driver-signal-first: queries without a hard driver
# CORRECTNESS row lead, then queries new this round, then a regression
# rotation over the highest-value already-green shapes.
_DRIVER_PRIORITY = [
    # Round-10 budget (50 slots), OLDEST-FIRST rotation rule (round-7
    # verdict amendment): every round leads with the queries carrying
    # the weakest driver signal, then refreshes the stalest cumulative
    # block.
    #   slots 1-6   — the ONLY queries with no driver CORRECTNESS row
    #                 ever (the round-9 first batch; the r9 50-slot
    #                 prefix was consumed before they could rotate in —
    #                 r9 verdict ask #1 names them explicitly).
    #   slots 7-12  — the six r4-stale rows (newest green row r04), the
    #                 oldest cumulative block remaining.
    #   slots 13-14 — round-10 changed call paths: bloom_prune_join now
    #                 routes build params through the BloomFilter object
    #                 (plan-identical, re-pin the value), kcore_decompose
    #                 sits on the refactored kcore_peel body (fixed-
    #                 rounds path value-identical; fresh row pins it).
    #   slots 15-16 — NEW round-10: jaccard_prefix_join (exact
    #                 prefix-filter similarity self-join), cms_topk
    #                 (count-min sketch point estimates).
    #   slots 17-50 — the r5-stale block (newest green row r05),
    #                 oldest-first: 34 of its 48 fit; the remaining 14
    #                 (rank_fusion_rrf .. winnow_fingerprints) lead the
    #                 r11 refresh.
    # --- never driver-tested (slots 1-6) ---
    "audio_decode", "audio_window_energy", "video_decode",
    "video_frame_sample", "media_decode", "substring_dedup_hashed",
    # --- r4-stale (slots 7-12) ---
    "tpch_q2", "tpch_q16", "tpch_q20", "unpivot_metrics",
    "weighted_median", "zipf_head_share",
    # --- round-10 changed call paths (slots 13-14) ---
    "bloom_prune_join", "kcore_decompose",
    # --- NEW round-10 (slots 15-16) ---
    "jaccard_prefix_join", "cms_topk",
    # --- refresh: newest green row is r05 (oldest-first; slots 17-50) ---
    "ann_topk_ivf", "ann_topk_np", "attribution_linear", "autocorrelation",
    "bfs_reach", "cdc_apply", "corpus_expectations", "corpus_gold_mix",
    "corpus_gold_survivors", "corpus_silver_docs",
    "corpus_streaming_ingest", "corpus_survivors_agg",
    "csv_ingest_roundtrip", "cusum_changepoint", "decile_lift",
    "dedup_components", "dedup_simhash", "dedup_survivors",
    "embedding_dup_pairs_lsh", "event_entropy", "gold_dim_customers",
    "gold_dim_date", "iqr_outliers", "k_anonymity_audit",
    "kl_divergence_sources", "leakage_safe_split", "lm_perplexity",
    "lm_perplexity_pruned", "merge_upsert", "mutual_information",
    "order_totals", "pagerank_trade", "pareto_customers",
    "profile_table_approx",
    # --- past the 50-slot prefix: the r5 tail riding to r11 ---
    "rank_fusion_rrf", "scd2_customers",
    "seasonality_dow", "streaming_running_totals", "streaming_stream_join",
    "time_weighted_avg", "token_drift", "token_entropy", "tpch_q1",
    "tpch_q21", "user_paths", "weighted_median_approx", "window_dedup",
    "winnow_fingerprints",
]
# driver-priority keys first, then the rest in registration order; every
# catalog call applies the session contract here, once (tuning.py)
SPARK_QUERIES = {
    k: catalog_entry(fn)
    for k, fn in {
        **{k: SPARK_QUERIES[k] for k in _DRIVER_PRIORITY if k in SPARK_QUERIES},
        **SPARK_QUERIES,
    }.items()
}

ORACLES: dict[str, str] = {
    **_TPCH_ORACLES,
    "udaf_sumsq": """
      SELECT event_type,
             CAST(SUM((event_id % 1000) * (event_id % 1000)) AS BIGINT) AS sum_sq,
             COUNT(*) AS n_events
      FROM events
      GROUP BY event_type
    """,
    "right_join": """
      SELECT o_orderkey, o_orderstatus, o_totalprice, l_linenumber, l_extendedprice
      FROM (SELECT l_orderkey, l_linenumber, l_extendedprice
            FROM lineitem WHERE l_extendedprice > 80000) li
      RIGHT JOIN (SELECT o_orderkey, o_orderstatus, o_totalprice
                  FROM orders WHERE o_orderdate >= TIMESTAMP '2001-01-01') o
        ON li.l_orderkey = o.o_orderkey
    """,
    "set_ops_all": """
      WITH j AS (
        SELECT c_mktsegment, o_orderpriority, o_orderstatus
        FROM orders JOIN customer ON o_custkey = c_custkey
      ),
      a AS (SELECT o_orderpriority, o_orderstatus FROM j WHERE c_mktsegment = 'BUILDING'),
      b AS (SELECT o_orderpriority, o_orderstatus FROM j WHERE c_mktsegment = 'MACHINERY')
      SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n, 'intersect_all' AS op
      FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b) GROUP BY 1, 2
      UNION ALL
      SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n, 'except_all' AS op
      FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b) GROUP BY 1, 2
    """,
    "text_ingest": """
      SELECT COUNT(*) AS n_lines,
             COUNT(DISTINCT text) AS n_distinct_lines,
             CAST(SUM(length(text)) AS BIGINT) AS total_chars
      FROM documents
    """,
    "quality_rank": r"""
      WITH base AS (
        SELECT doc_id, source, text,
               list_distinct(regexp_split_to_array(lower(trim(text, ' ')), '\s+')) AS toks,
               CAST(length(text) AS DOUBLE) AS n_chars,
               CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha_chars,
               string_split(text, ' ') AS words
        FROM documents
      ),
      sig AS (
        SELECT doc_id, source,
               round(0.4 * least(1.0, n_chars / 500.0)
                   + 0.3 * least(1.0, (CAST(len(list_intersect(toks,
                       ['the','and','of','to','a','in','is','it','that','for'])) AS DOUBLE)
                       / greatest(CAST(len(toks) AS DOUBLE), 1.0)) * 5.0)
                   + 0.3 * (alpha_chars / greatest(n_chars, 1.0)), 6) AS quality_score,
               1.0 - CAST(len(list_distinct(words)) AS DOUBLE) / CAST(len(words) AS DOUBLE)
                 AS dup_word_frac,
               CASE WHEN len(words) >= 2 THEN
                 1.0 - CAST(len(list_distinct(list_transform(range(1, len(words)),
                         g -> array_to_string(words[g:g+1], ' ')))) AS DOUBLE)
                     / CAST(len(words) - 1 AS DOUBLE)
               ELSE 0.0 END AS dup_bigram_frac
        FROM base
      ),
      scored AS (
        SELECT doc_id, source,
               CAST(floor(quality_score * 1e6)
                    - floor(floor(dup_word_frac * 1000000) / 2)
                    - floor(floor(dup_bigram_frac * 1000000) / 4) AS BIGINT) AS score_ppm
        FROM sig
      )
      SELECT doc_id, source, score_ppm,
             CAST(ntile(10) OVER (
               PARTITION BY source ORDER BY score_ppm DESC, doc_id ASC) AS INT)
               AS source_decile,
             ntile(10) OVER (
               PARTITION BY source ORDER BY score_ppm DESC, doc_id ASC) <= 5
               AS selected
      FROM scored
    """,
    "semantic_decontaminate": """
      WITH t AS (SELECT vec_id, embedding AS e FROM embeddings),
      pairs AS (
        SELECT ev.vec_id AS eval_id, tr.vec_id AS train_id,
               round(list_sum(list_transform(range(1, 65), i -> ev.e[i]::DOUBLE * tr.e[i]::DOUBLE))
                 / (sqrt(list_sum(list_transform(range(1, 65), i -> ev.e[i]::DOUBLE * ev.e[i]::DOUBLE)))
                  * sqrt(list_sum(list_transform(range(1, 65), i -> tr.e[i]::DOUBLE * tr.e[i]::DOUBLE)))), 6)
                 AS cosine
        FROM t ev JOIN t tr ON ev.vec_id < 100 AND tr.vec_id >= 100
      ),
      hits AS (SELECT * FROM pairs WHERE cosine >= 0.35),
      best AS (
        SELECT eval_id, cosine AS max_cosine, train_id AS nearest_train_id, n_hits
        FROM (
          SELECT *,
                 row_number() OVER (
                   PARTITION BY eval_id ORDER BY cosine DESC, train_id DESC) AS rn,
                 COUNT(*) OVER (PARTITION BY eval_id) AS n_hits
          FROM hits
        ) WHERE rn = 1
      )
      SELECT e.vec_id AS eval_id, b.max_cosine, b.nearest_train_id,
             COALESCE(b.n_hits, 0) AS n_hits,
             b.eval_id IS NOT NULL AS is_contaminated
      FROM (SELECT vec_id FROM embeddings WHERE vec_id < 100) e
      LEFT JOIN best b ON e.vec_id = b.eval_id
    """,
    "bigram_lm_counts": r"""
      WITH toks AS (
        SELECT regexp_split_to_array(trim(text, ' '), '\s+') AS w FROM documents
      ),
      bigrams AS (
        SELECT w[CAST(t.i AS INT)] AS w1, w[CAST(t.i AS INT) + 1] AS w2
        FROM toks, UNNEST(range(1, len(w))) AS t(i)
      ),
      counts AS (
        SELECT w1, w2, COUNT(*) AS n12 FROM bigrams GROUP BY 1, 2
      )
      SELECT w1, w2, n12,
             CAST(n12 * 1000000 // n1 AS BIGINT) AS cond_ppm,
             CAST(rn AS INT) AS rank
      FROM (
        SELECT *,
               SUM(n12) OVER (PARTITION BY w1) AS n1,
               row_number() OVER (PARTITION BY w1 ORDER BY n12 DESC, w2 ASC) AS rn
        FROM counts
      ) WHERE rn <= 3
    """,
    "incremental_dedup": r"""
      WITH fp AS (
        SELECT doc_id,
               md5(array_to_string(list_sort(list_distinct(
                 regexp_split_to_array(lower(trim(text, ' ')), '\s+'))), ' ')) AS fingerprint
        FROM documents
      ),
      history AS (
        SELECT fingerprint, MIN(doc_id) AS dup_of
        FROM fp WHERE doc_id < 250 GROUP BY fingerprint
      )
      SELECT b.doc_id, b.fingerprint,
             h.dup_of IS NULL AS is_novel, h.dup_of
      FROM fp b LEFT JOIN history h USING (fingerprint)
      WHERE b.doc_id >= 250
    """,
    "geo_cell_join": """
      WITH cust AS (
        SELECT c_custkey,
               (c_custkey * 2654435761) % 180000000 - 90000000 AS c_lat,
               (c_custkey * 2246822519) % 360000000 - 180000000 AS c_lon
        FROM customer
      ),
      supp AS (
        SELECT s_suppkey,
               (s_suppkey * 40503) % 180000000 - 90000000 AS s_lat,
               (s_suppkey * 65171) % 360000000 - 180000000 AS s_lon
        FROM supplier
      ),
      supp9 AS (
        SELECT s_suppkey, s_lat, s_lon,
               CAST(floor(s_lat / 1000000.0) AS BIGINT) + u.dlat AS cell_lat,
               CAST(floor(s_lon / 1000000.0) AS BIGINT) + v.dlon AS cell_lon
        FROM supp, UNNEST([-1, 0, 1]) AS u(dlat), UNNEST([-1, 0, 1]) AS v(dlon)
      )
      SELECT c_custkey, s_suppkey,
             (c_lat - s_lat) * (c_lat - s_lat)
               + (c_lon - s_lon) * (c_lon - s_lon) AS dist2
      FROM cust JOIN supp9
        ON CAST(floor(c_lat / 1000000.0) AS BIGINT) = cell_lat
       AND CAST(floor(c_lon / 1000000.0) AS BIGINT) = cell_lon
      WHERE (c_lat - s_lat) * (c_lat - s_lat)
              + (c_lon - s_lon) * (c_lon - s_lon) <= 1000000000000
    """,
    "window_dedup_agg": """
      SELECT user_id, ANY_VALUE(value) AS first_value, ANY_VALUE(event_type) AS first_type
      FROM (
        SELECT user_id, value, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events
      ) r WHERE rn = 1 GROUP BY user_id
    """,
    "jsonl_ingest_roundtrip": """
      SELECT doc_id, text, lang, source, n_chars FROM documents
    """,
    "orc_roundtrip": """
      SELECT o_orderstatus,
             COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total,
             CAST(MIN(o_orderdate) AS DATE) AS first_day,
             CAST(MAX(o_orderdate) AS DATE) AS last_day
      FROM orders
      GROUP BY o_orderstatus
    """,
    "optimize_compact": """
      SELECT event_type,
             COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value,
             TRUE AS n_files_shrunk
      FROM events WHERE value IS NOT NULL
      GROUP BY event_type
    """,
    "exact_quantiles": """
      WITH ranked AS (
        SELECT event_type, value,
               row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM events WHERE value IS NOT NULL
      )
      SELECT event_type,
             MAX(CASE WHEN rn = floor((n - 1) * 0.25) + 1 THEN value END) AS q25,
             MAX(CASE WHEN rn = floor((n - 1) * 0.50) + 1 THEN value END) AS q50,
             MAX(CASE WHEN rn = floor((n - 1) * 0.75) + 1 THEN value END) AS q75,
             MAX(CASE WHEN rn = floor((n - 1) * 0.90) + 1 THEN value END) AS q90,
             ANY_VALUE(n) AS n_values
      FROM ranked GROUP BY event_type
    """,
    "time_range_window": """
      SELECT user_id, event_id, ts,
             CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER w AS DOUBLE)
               AS trailing_1h_value,
             COUNT(*) OVER w AS trailing_1h_events
      FROM events WHERE value IS NOT NULL
      WINDOW w AS (
        PARTITION BY user_id
        ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
        RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW
      )
    """,
    "variant_extract": """
      SELECT CAST(FLOOR(CAST(props->>'k' AS INT) / 10.0) AS INT) AS k_bucket,
             COUNT(*) AS n_events,
             MIN(CAST(props->>'k' AS INT)) AS min_k,
             MAX(CAST(props->>'k' AS INT)) AS max_k
      FROM events
      GROUP BY 1
    """,
    "udtf_split": r"""
      SELECT word, CAST(COUNT(*) AS BIGINT) AS n
      FROM (
        SELECT unnest(regexp_split_to_array(text, '\s+')) AS word
        FROM documents
      ) WHERE word <> ''
      GROUP BY word
      ORDER BY n DESC, word
      LIMIT 20
    """,
    "recursive_chain": """
      SELECT o_custkey, o_orderkey,
             CAST(row_number() OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ) AS INT) AS seq_pos
      FROM orders
    """,
    # same contract, third path: pointer-jumping list ranking
    "list_ranking": """
      SELECT o_custkey, o_orderkey,
             CAST(row_number() OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ) AS INT) AS seq_pos
      FROM orders
    """,
    # integer-arithmetic PageRank: the 5 power iterations unrolled as
    # chained CTEs — floor-division micro-unit ranks are exactly
    # order-independent, so this is bitwise, not tolerance-based
    "pagerank_trade": """
      WITH p AS (
        SELECT DISTINCT CAST(l_suppkey AS BIGINT)*2 AS src,
                        CAST(o_custkey AS BIGINT)*2 + 1 AS dst
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      ),
      e AS (SELECT src, dst FROM p UNION ALL SELECT dst AS src, src AS dst FROM p),
      nodes AS (SELECT DISTINCT src AS node FROM e),
      deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
      prm AS (SELECT 1000000000000 // COUNT(*) AS r0,
                     15 * (1000000000000 // COUNT(*)) // 100 AS base
              FROM nodes),
      r0 AS (SELECT node, (SELECT r0 FROM prm) AS rank FROM nodes),
      r1 AS (
        SELECT n.node, CAST((SELECT base FROM prm)
                            + (85 * COALESCE(i.s, 0)) // 100 AS BIGINT) AS rank
        FROM nodes n LEFT JOIN (
          SELECT e.dst AS node, SUM(r.rank // d.deg) AS s
          FROM e JOIN r0 r ON e.src = r.node JOIN deg d ON d.src = e.src
          GROUP BY e.dst) i ON i.node = n.node
      ),
      r2 AS (
        SELECT n.node, CAST((SELECT base FROM prm)
                            + (85 * COALESCE(i.s, 0)) // 100 AS BIGINT) AS rank
        FROM nodes n LEFT JOIN (
          SELECT e.dst AS node, SUM(r.rank // d.deg) AS s
          FROM e JOIN r1 r ON e.src = r.node JOIN deg d ON d.src = e.src
          GROUP BY e.dst) i ON i.node = n.node
      ),
      r3 AS (
        SELECT n.node, CAST((SELECT base FROM prm)
                            + (85 * COALESCE(i.s, 0)) // 100 AS BIGINT) AS rank
        FROM nodes n LEFT JOIN (
          SELECT e.dst AS node, SUM(r.rank // d.deg) AS s
          FROM e JOIN r2 r ON e.src = r.node JOIN deg d ON d.src = e.src
          GROUP BY e.dst) i ON i.node = n.node
      ),
      r4 AS (
        SELECT n.node, CAST((SELECT base FROM prm)
                            + (85 * COALESCE(i.s, 0)) // 100 AS BIGINT) AS rank
        FROM nodes n LEFT JOIN (
          SELECT e.dst AS node, SUM(r.rank // d.deg) AS s
          FROM e JOIN r3 r ON e.src = r.node JOIN deg d ON d.src = e.src
          GROUP BY e.dst) i ON i.node = n.node
      ),
      r5 AS (
        SELECT n.node, CAST((SELECT base FROM prm)
                            + (85 * COALESCE(i.s, 0)) // 100 AS BIGINT) AS rank
        FROM nodes n LEFT JOIN (
          SELECT e.dst AS node, SUM(r.rank // d.deg) AS s
          FROM e JOIN r4 r ON e.src = r.node JOIN deg d ON d.src = e.src
          GROUP BY e.dst) i ON i.node = n.node
      )
      SELECT CASE WHEN node % 2 = 0 THEN 'supplier' ELSE 'customer' END AS entity_type,
             node // 2 AS entity_key,
             CAST(rank AS BIGINT) AS rank_micro
      FROM r5
    """,
    "bfs_reach": """
      WITH p AS (
        SELECT DISTINCT CAST(l_suppkey AS BIGINT)*2 AS src,
                        CAST(o_custkey AS BIGINT)*2 + 1 AS dst
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      ),
      e AS (SELECT src, dst FROM p UNION ALL SELECT dst AS src, src AS dst FROM p),
      l0 AS (SELECT DISTINCT CAST(s_suppkey AS BIGINT)*2 AS node
             FROM supplier WHERE s_nationkey = 1),
      l1 AS (SELECT DISTINCT e.dst AS node FROM e JOIN l0 ON e.src = l0.node),
      l2 AS (SELECT DISTINCT e.dst AS node FROM e JOIN l1 ON e.src = l1.node),
      l3 AS (SELECT DISTINCT e.dst AS node FROM e JOIN l2 ON e.src = l2.node),
      u AS (
        SELECT node, 0 AS hops FROM l0
        UNION ALL SELECT node, 1 FROM l1
        UNION ALL SELECT node, 2 FROM l2
        UNION ALL SELECT node, 3 FROM l3
      )
      SELECT CASE WHEN node % 2 = 0 THEN 'supplier' ELSE 'customer' END
               AS entity_type,
             node // 2 AS entity_key,
             CAST(MIN(hops) AS INT) AS hops
      FROM u GROUP BY 1, 2
    """,
    "ols_trend": """
      WITH s AS (
        SELECT p_brand,
               CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(20,6))) AS BIGINT)
                    AS DOUBLE) AS sx,
               CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(20,6))) * 100
                         AS BIGINT) AS DOUBLE) / 100.0 AS sy,
               CAST(CAST(SUM(CAST(l_quantity * l_extendedprice
                                  AS DECIMAL(30,6))) * 100 AS BIGINT)
                    AS DOUBLE) / 100.0 AS sxy,
               CAST(CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(30,6)))
                         AS BIGINT) AS DOUBLE) AS sxx
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY 1
      )
      SELECT p_brand, CAST(n AS BIGINT) AS n_rows,
             CASE WHEN n * sxx - sx * sx <> 0
                  THEN (n * sxy - sx * sy) / (n * sxx - sx * sx) END AS slope,
             CASE WHEN n * sxx - sx * sx <> 0
                  THEN (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n
                  END AS intercept
      FROM s
    """,
    "profile_table": """
      WITH s AS (
        SELECT COUNT(*) AS n,
          SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS nu1,
          COUNT(DISTINCT o_orderkey) AS d1, MIN(o_orderkey) AS mn1, MAX(o_orderkey) AS mx1,
          SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS nu2,
          COUNT(DISTINCT o_custkey) AS d2, MIN(o_custkey) AS mn2, MAX(o_custkey) AS mx2,
          SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS nu3,
          COUNT(DISTINCT o_orderstatus) AS d3, MIN(o_orderstatus) AS mn3, MAX(o_orderstatus) AS mx3,
          SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS nu4,
          COUNT(DISTINCT o_totalprice) AS d4, MIN(o_totalprice) AS mn4, MAX(o_totalprice) AS mx4,
          SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS nu5,
          COUNT(DISTINCT o_orderdate) AS d5, MIN(o_orderdate) AS mn5, MAX(o_orderdate) AS mx5,
          SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS nu6,
          COUNT(DISTINCT o_orderpriority) AS d6, MIN(o_orderpriority) AS mn6, MAX(o_orderpriority) AS mx6
        FROM orders
      )
      SELECT 'o_orderkey' AS column_name, CAST(n AS BIGINT) AS n_rows,
             CAST(nu1 AS BIGINT) AS n_nulls, CAST(d1 AS BIGINT) AS n_distinct,
             CAST(mn1 AS VARCHAR) AS min_value, CAST(mx1 AS VARCHAR) AS max_value FROM s
      UNION ALL
      SELECT 'o_custkey', CAST(n AS BIGINT), CAST(nu2 AS BIGINT), CAST(d2 AS BIGINT),
             CAST(mn2 AS VARCHAR), CAST(mx2 AS VARCHAR) FROM s
      UNION ALL
      SELECT 'o_orderstatus', CAST(n AS BIGINT), CAST(nu3 AS BIGINT), CAST(d3 AS BIGINT),
             mn3, mx3 FROM s
      UNION ALL
      SELECT 'o_totalprice', CAST(n AS BIGINT), CAST(nu4 AS BIGINT), CAST(d4 AS BIGINT),
             CAST(CAST(mn4 AS DECIMAL(18,2)) AS VARCHAR),
             CAST(CAST(mx4 AS DECIMAL(18,2)) AS VARCHAR) FROM s
      UNION ALL
      SELECT 'o_orderdate', CAST(n AS BIGINT), CAST(nu5 AS BIGINT), CAST(d5 AS BIGINT),
             strftime(mn5, '%Y-%m-%d'), strftime(mx5, '%Y-%m-%d') FROM s
      UNION ALL
      SELECT 'o_orderpriority', CAST(n AS BIGINT), CAST(nu6 AS BIGINT), CAST(d6 AS BIGINT),
             mn6, mx6 FROM s
    """,
    "profile_table_approx": """
      WITH s AS (
        SELECT COUNT(*) AS n,
          SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS nu1,
          SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS nu2,
          SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS nu3,
          SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) AS nu4,
          SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS nu5,
          SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS nu6
        FROM orders
      )
      SELECT 'o_orderkey' AS column_name, CAST(n AS BIGINT) AS n_rows,
             CAST(nu1 AS BIGINT) AS n_nulls, TRUE AS nd_within_bound FROM s
      UNION ALL
      SELECT 'o_custkey', CAST(n AS BIGINT), CAST(nu2 AS BIGINT), TRUE FROM s
      UNION ALL
      SELECT 'o_orderstatus', CAST(n AS BIGINT), CAST(nu3 AS BIGINT), TRUE FROM s
      UNION ALL
      SELECT 'o_totalprice', CAST(n AS BIGINT), CAST(nu4 AS BIGINT), TRUE FROM s
      UNION ALL
      SELECT 'o_orderdate', CAST(n AS BIGINT), CAST(nu5 AS BIGINT), TRUE FROM s
      UNION ALL
      SELECT 'o_orderpriority', CAST(n AS BIGINT), CAST(nu6 AS BIGINT), TRUE FROM s
    """,
    "attribution_last_touch": """
      WITH p AS (SELECT event_id AS purchase_id, user_id, ts
                 FROM events WHERE event_type = 'purchase'),
      c AS (SELECT user_id, ts AS click_ts, MAX(event_id) AS click_id
            FROM events WHERE event_type = 'click' GROUP BY 1, 2)
      SELECT p.purchase_id, p.user_id,
             CASE WHEN c.click_ts IS NOT NULL
                   AND epoch_us(p.ts) - epoch_us(c.click_ts) <= 604800000000
                  THEN c.click_id END AS click_id,
             CASE WHEN c.click_ts IS NOT NULL
                   AND epoch_us(p.ts) - epoch_us(c.click_ts) <= 604800000000
                  THEN CAST(epoch_us(p.ts) - epoch_us(c.click_ts) AS BIGINT)
                  END AS gap_us
      FROM p ASOF LEFT JOIN c
        ON p.user_id = c.user_id AND p.ts >= c.click_ts
    """,
    "skew_profile": """
      WITH o AS (SELECT COUNT(*) AS c FROM lineitem GROUP BY l_orderkey),
      pp AS (SELECT COUNT(*) AS c FROM lineitem GROUP BY l_partkey),
      sp AS (SELECT COUNT(*) AS c FROM lineitem GROUP BY l_suppkey)
      SELECT 'l_orderkey' AS key_col, CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(MAX(c) AS BIGINT) AS top1_cnt,
             CAST((MAX(c) * 1000000) // SUM(c) AS BIGINT) AS top1_share_ppm
      FROM o
      UNION ALL
      SELECT 'l_partkey', CAST(COUNT(*) AS BIGINT), CAST(MAX(c) AS BIGINT),
             CAST((MAX(c) * 1000000) // SUM(c) AS BIGINT) FROM pp
      UNION ALL
      SELECT 'l_suppkey', CAST(COUNT(*) AS BIGINT), CAST(MAX(c) AS BIGINT),
             CAST((MAX(c) * 1000000) // SUM(c) AS BIGINT) FROM sp
    """,
    "robust_zscore": """
      WITH ev AS (SELECT event_type, event_id, value
                  FROM events WHERE value IS NOT NULL),
      r1 AS (
        SELECT event_type, value,
               row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM ev
      ),
      med AS (
        SELECT event_type, (MIN(value) + MAX(value)) / 2 AS med
        FROM r1 WHERE rn = floor((n + 1) / 2) OR rn = floor((n + 2) / 2)
        GROUP BY 1
      ),
      dev AS (
        SELECT ev.event_type, ev.event_id, ev.value, med.med,
               abs(ev.value - med.med) AS adev
        FROM ev JOIN med ON ev.event_type = med.event_type
      ),
      r2 AS (
        SELECT event_type, adev,
               row_number() OVER (PARTITION BY event_type ORDER BY adev, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM dev
      ),
      mad AS (
        SELECT event_type, (MIN(adev) + MAX(adev)) / 2 AS mad
        FROM r2 WHERE rn = floor((n + 1) / 2) OR rn = floor((n + 2) / 2)
        GROUP BY 1
      )
      SELECT dev.event_type,
             CAST(COUNT(*) AS BIGINT) AS n_values,
             ANY_VALUE(dev.med) AS median_value,
             ANY_VALUE(mad.mad) AS mad,
             CAST(SUM(CASE WHEN dev.adev > 3.0 * 1.4826 * mad.mad
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      FROM dev JOIN mad ON dev.event_type = mad.event_type
      GROUP BY 1
    """,
    "robust_zscore_approx": """
      WITH ev AS (SELECT event_type, value
                  FROM events WHERE value IS NOT NULL),
      h1 AS (
        SELECT event_type, CAST(floor(value) AS BIGINT) AS b, COUNT(*) AS bw
        FROM ev GROUP BY 1, 2
      ),
      c1 AS (
        SELECT event_type, b,
               SUM(bw) OVER (PARTITION BY event_type ORDER BY b) AS cumn,
               SUM(bw) OVER (PARTITION BY event_type) AS n
        FROM h1
      ),
      med AS (
        SELECT event_type, CAST(MIN(b) AS DOUBLE) + 0.5 AS approx_median
        FROM c1 WHERE 2 * cumn >= n GROUP BY 1
      ),
      dev AS (
        SELECT ev.event_type, med.approx_median,
               abs(ev.value - med.approx_median) AS adev
        FROM ev JOIN med ON ev.event_type = med.event_type
      ),
      h2 AS (
        SELECT event_type, CAST(floor(adev) AS BIGINT) AS b, COUNT(*) AS bw
        FROM dev GROUP BY 1, 2
      ),
      c2 AS (
        SELECT event_type, b,
               SUM(bw) OVER (PARTITION BY event_type ORDER BY b) AS cumn,
               SUM(bw) OVER (PARTITION BY event_type) AS n
        FROM h2
      ),
      mad AS (
        SELECT event_type, CAST(MIN(b) AS DOUBLE) + 0.5 AS approx_mad
        FROM c2 WHERE 2 * cumn >= n GROUP BY 1
      )
      SELECT dev.event_type,
             CAST(COUNT(*) AS BIGINT) AS n_values,
             ANY_VALUE(dev.approx_median) AS approx_median,
             ANY_VALUE(mad.approx_mad) AS approx_mad,
             CAST(SUM(CASE WHEN dev.adev > 3.0 * 1.4826 * mad.approx_mad
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      FROM dev JOIN mad ON dev.event_type = mad.event_type
      GROUP BY 1
    """,
    "event_transitions": """
      WITH t AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 AS prev_type
        FROM events
      ),
      tr AS (SELECT prev_type, event_type AS next_type, COUNT(*) AS n_trans
             FROM t WHERE prev_type IS NOT NULL GROUP BY 1, 2),
      tot AS (SELECT prev_type, SUM(n_trans) AS tot FROM tr GROUP BY 1)
      SELECT tr.prev_type, tr.next_type, CAST(tr.n_trans AS BIGINT) AS n_trans,
             CAST((tr.n_trans * 1000000) // tot.tot AS BIGINT) AS prob_ppm
      FROM tr JOIN tot ON tr.prev_type = tot.prev_type
    """,
    "oov_rate": r"""
      WITH toks AS (
        SELECT source, u.tok
        FROM (SELECT source,
                     regexp_split_to_array(lower(trim(text, ' ')), '\s+') AS arr
              FROM documents) d, unnest(arr) AS u(tok)
        WHERE u.tok <> ''
      ),
      vocab AS (
        SELECT tok FROM (SELECT tok, COUNT(*) AS c FROM toks GROUP BY 1
                         ORDER BY c DESC, tok LIMIT 1000)
      ),
      probed AS (
        SELECT s.source, CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END AS oov
        FROM toks s LEFT JOIN vocab v ON s.tok = v.tok
      )
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(oov) AS BIGINT) AS n_oov,
             CAST((SUM(oov) * 1000000) // COUNT(*) AS BIGINT) AS oov_ppm
      FROM probed GROUP BY 1
    """,
    "source_overlap": r"""
      WITH tok AS (
        SELECT DISTINCT source, u.tok
        FROM (SELECT source,
                     regexp_split_to_array(lower(trim(text, ' ')), '\s+') AS arr
              FROM documents) d, unnest(arr) AS u(tok)
        WHERE u.tok <> ''
      ),
      sizes AS (SELECT source, COUNT(*) AS n FROM tok GROUP BY 1),
      inter AS (
        SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_common
        FROM tok a JOIN tok b ON a.tok = b.tok AND a.source < b.source
        GROUP BY 1, 2
      )
      SELECT i.source_a, i.source_b, CAST(i.n_common AS BIGINT) AS n_common,
             CAST((i.n_common * 1000000) // (sa.n + sb.n - i.n_common) AS BIGINT)
               AS jaccard_ppm
      FROM inter i
      JOIN sizes sa ON sa.source = i.source_a
      JOIN sizes sb ON sb.source = i.source_b
    """,
    "mode_per_group": """
      WITH counts AS (
        SELECT c_mktsegment, o_orderpriority, COUNT(*) AS n_orders
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2
      ),
      r AS (
        SELECT *, row_number() OVER (PARTITION BY c_mktsegment
                                     ORDER BY n_orders DESC, o_orderpriority) AS rn
        FROM counts
      )
      SELECT c_mktsegment, o_orderpriority AS modal_priority,
             CAST(n_orders AS BIGINT) AS n_orders
      FROM r WHERE rn = 1
    """,
    "ratio_to_report": """
      WITH rev AS (
        SELECT r_name AS region_name, n_name AS nation_name,
               SUM(CAST(l_extendedprice AS DECIMAL(20,6))) AS rev_dec
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY 1, 2
      )
      SELECT region_name, nation_name,
             CAST(rev_dec AS DOUBLE) AS revenue,
             CAST(rev_dec AS DOUBLE)
               / CAST(SUM(rev_dec) OVER (PARTITION BY region_name) AS DOUBLE)
               AS region_share
      FROM rev
    """,
    "longest_streak": """
      WITH days AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
      ),
      islands AS (
        SELECT user_id,
               date_diff('day', DATE '1970-01-01', d)
                 - row_number() OVER (PARTITION BY user_id ORDER BY d)
                 AS island
        FROM days
      ),
      streaks AS (
        SELECT user_id, island, COUNT(*) AS len
        FROM islands GROUP BY 1, 2
      )
      SELECT user_id, CAST(MAX(len) AS INT) AS longest_streak_days,
             CAST(SUM(len) AS BIGINT) AS n_active_days
      FROM streaks GROUP BY 1
    """,
    "rfm_segments": """
      WITH cust AS (
        SELECT o_custkey,
               MAX(CAST(o_orderdate AS DATE)) AS last_d,
               COUNT(*) AS freq,
               SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS mon_cents
        FROM orders GROUP BY 1
      ),
      g AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS gmax FROM orders),
      c2 AS (
        SELECT o_custkey,
               CAST(date_diff('day', last_d, gmax) AS BIGINT) AS recency,
               freq, mon_cents, mon_cents // 10000 AS m_bucket
        FROM cust, g
      ),
      rd AS (SELECT recency AS v, COUNT(*) AS c FROM c2 GROUP BY 1),
      rq AS (SELECT v, (COALESCE(SUM(c) OVER (ORDER BY v ROWS BETWEEN
                          UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 5)
                       // SUM(c) OVER () AS raw FROM rd),
      fd AS (SELECT freq AS v, COUNT(*) AS c FROM c2 GROUP BY 1),
      fq AS (SELECT v, (COALESCE(SUM(c) OVER (ORDER BY v ROWS BETWEEN
                          UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 5)
                       // SUM(c) OVER () AS raw FROM fd),
      md AS (SELECT m_bucket AS v, COUNT(*) AS c FROM c2 GROUP BY 1),
      mq AS (SELECT v, (COALESCE(SUM(c) OVER (ORDER BY v ROWS BETWEEN
                          UNBOUNDED PRECEDING AND 1 PRECEDING), 0) * 5)
                       // SUM(c) OVER () AS raw FROM md)
      SELECT CAST(5 - rq.raw AS INT) AS r_score,
             CAST(1 + fq.raw AS INT) AS f_score,
             CAST(1 + mq.raw AS INT) AS m_score,
             CAST(COUNT(*) AS BIGINT) AS n_customers,
             CAST(SUM(c2.mon_cents) AS BIGINT) AS segment_cents
      FROM c2 JOIN rq ON c2.recency = rq.v
              JOIN fq ON c2.freq = fq.v
              JOIN mq ON c2.m_bucket = mq.v
      GROUP BY 1, 2, 3
    """,
    "zipf_head_share": r"""
      WITH counts AS (
        SELECT source, u.tok, COUNT(*) AS c
        FROM (SELECT source,
                     regexp_split_to_array(lower(trim(text, ' ')), '\s+') AS arr
              FROM documents) d, unnest(arr) AS u(tok)
        WHERE u.tok <> ''
        GROUP BY 1, 2
      ),
      ranked AS (
        SELECT source, c,
               row_number() OVER (PARTITION BY source
                                  ORDER BY c DESC, tok) AS rn
        FROM counts
      ),
      head AS (
        SELECT source, SUM(c) AS head_mass FROM ranked
        WHERE rn <= 100 GROUP BY 1
      ),
      totals AS (
        SELECT source, SUM(c) AS n_tokens, COUNT(*) AS distinct_tokens
        FROM counts GROUP BY 1
      )
      SELECT t.source, CAST(n_tokens AS BIGINT) AS n_tokens,
             CAST(distinct_tokens AS BIGINT) AS distinct_tokens,
             CAST(head_mass AS BIGINT) AS head_mass,
             CAST((head_mass * 1000000) // n_tokens AS BIGINT)
               AS head_share_ppm
      FROM totals t JOIN head h ON t.source = h.source
    """,
    "token_diversity": r"""
      WITH counts AS (
        SELECT source, u.tok, COUNT(*) AS c
        FROM (SELECT source,
                     regexp_split_to_array(lower(trim(text, ' ')), '\s+') AS arr
              FROM documents) d, unnest(arr) AS u(tok)
        WHERE u.tok <> ''
        GROUP BY 1, 2
      ),
      s AS (
        SELECT source, SUM(c) AS n_tokens, COUNT(*) AS distinct_tokens,
               SUM(c * c) AS sum_c2
        FROM counts GROUP BY 1
      )
      SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
             CAST(distinct_tokens AS BIGINT) AS distinct_tokens,
             CAST(1000000 - ((sum_c2 * 1000) // n_tokens * 1000) // n_tokens
                  AS BIGINT) AS simpson_ppm,
             (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE))
               / CAST(sum_c2 AS DOUBLE) AS effective_vocab
      FROM s
    """,
    "feature_hashing": r"""
      WITH toks AS (
        SELECT doc_id, u.tok
        FROM (SELECT doc_id,
                     regexp_split_to_array(lower(trim(text, ' ')), '\s+') AS arr
              FROM documents WHERE doc_id % 20 = 0) d, unnest(arr) AS u(tok)
        WHERE u.tok <> ''
      ),
      h AS (
        SELECT doc_id,
               ('0x' || substr(md5(tok), 1, 4))::BIGINT % 64 AS bucket,
               1 - 2 * (('0x' || substr(md5(tok), 5, 1))::BIGINT % 2) AS sign
        FROM toks
      )
      SELECT doc_id, bucket, CAST(COUNT(*) AS BIGINT) AS n_terms,
             CAST(SUM(sign) AS BIGINT) AS feature_value
      FROM h GROUP BY 1, 2
    """,
    "class_rebalance": """
      WITH sizes AS (SELECT label, COUNT(*) AS n_total
                     FROM embeddings GROUP BY 1),
      m AS (SELECT MIN(n_total) AS m FROM sizes),
      r AS (
        SELECT label, vec_id,
               row_number() OVER (PARTITION BY label
                                  ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                           vec_id) AS rn
        FROM embeddings
      ),
      kept AS (
        SELECT label, COUNT(*) AS n_kept, SUM(vec_id) AS kept_id_sum
        FROM r, m WHERE rn <= m.m GROUP BY 1
      )
      SELECT s.label, CAST(n_total AS BIGINT) AS n_total,
             CAST(n_kept AS BIGINT) AS n_kept,
             CAST(kept_id_sum AS BIGINT) AS kept_id_sum
      FROM sizes s JOIN kept k ON s.label = k.label
    """,
    "chi_square": """
      WITH cells AS (
        SELECT event_type AS x, CAST(hour(ts) AS BIGINT) // 6 AS y,
               COUNT(*) AS obs
        FROM events GROUP BY 1, 2
      ),
      marg AS (
        SELECT x, y, obs,
               SUM(obs) OVER (PARTITION BY x) AS rt,
               SUM(obs) OVER (PARTITION BY y) AS ct,
               SUM(obs) OVER () AS tot
        FROM cells
      ),
      terms AS (
        SELECT x, y, tot,
               CAST(FLOOR((1000000.0 * ((CAST(obs AS DOUBLE)
                   * CAST(tot AS DOUBLE) - CAST(rt AS DOUBLE)
                   * CAST(ct AS DOUBLE)) * (CAST(obs AS DOUBLE)
                   * CAST(tot AS DOUBLE) - CAST(rt AS DOUBLE)
                   * CAST(ct AS DOUBLE))))
                 / (CAST(tot AS DOUBLE) * CAST(rt AS DOUBLE)
                   * CAST(ct AS DOUBLE))) AS BIGINT) AS term_micro
        FROM marg
      )
      SELECT CAST(COUNT(DISTINCT x) AS INT) AS n_types,
             CAST(COUNT(DISTINCT y) AS INT) AS n_dayparts,
             CAST((COUNT(DISTINCT x) - 1) * (COUNT(DISTINCT y) - 1) AS INT)
               AS dof,
             CAST(ANY_VALUE(tot) AS BIGINT) AS n_events,
             CAST(SUM(term_micro) AS BIGINT) AS chi2_micro
      FROM terms
    """,
    "dau_wau": """
      WITH ev AS (
        SELECT CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS week,
               CAST(ts AS DATE) AS day, user_id
        FROM events
      ),
      daily AS (
        SELECT week, day, COUNT(*) AS d_users
        FROM (SELECT DISTINCT week, day, user_id FROM ev) GROUP BY 1, 2
      ),
      pw AS (
        SELECT week, CAST(COUNT(*) AS INT) AS days_observed,
               CAST(SUM(d_users) AS BIGINT) AS sum_dau
        FROM daily GROUP BY 1
      ),
      wau AS (
        SELECT week, CAST(COUNT(*) AS BIGINT) AS wau
        FROM (SELECT DISTINCT week, user_id FROM ev) GROUP BY 1
      )
      SELECT pw.week, days_observed, wau.wau, sum_dau,
             CAST((sum_dau * 1000000) // (days_observed * wau.wau) AS BIGINT)
               AS stickiness_ppm
      FROM pw JOIN wau ON pw.week = wau.week
    """,
    "target_encoding": """
      WITH per_nation AS (
        SELECT c_nationkey,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(20,6)) * 100
                             AS BIGINT)) AS BIGINT) AS sum_cents
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1
      ),
      gtot AS (
        SELECT CAST(SUM(n_orders) AS BIGINT) AS g_n,
               CAST(SUM(sum_cents) AS BIGINT) AS g_sum
        FROM per_nation
      )
      SELECT n_name, n_orders, sum_cents,
             CAST(FLOOR((CAST(sum_cents AS DOUBLE) * CAST(g_n AS DOUBLE)
                         + 20.0 * CAST(g_sum AS DOUBLE)) * 10000.0
                        / ((CAST(n_orders AS DOUBLE) + 20.0)
                           * CAST(g_n AS DOUBLE))) AS BIGINT) AS enc_micro
      FROM per_nation
      JOIN nation ON c_nationkey = n_nationkey
      CROSS JOIN gtot
    """,
    "correlation_matrix": """
      WITH u AS (
        SELECT CAST(l_quantity AS BIGINT) AS q,
               CAST(FLOOR(l_extendedprice / 100.0) AS BIGINT) AS p,
               CAST(CAST(l_discount AS DECIMAL(20,6)) * 100 AS BIGINT) AS d,
               CAST(CAST(l_tax AS DECIMAL(20,6)) * 100 AS BIGINT) AS t
        FROM lineitem
      ),
      s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(q) AS BIGINT) AS sq, CAST(SUM(p) AS BIGINT) AS sp,
               CAST(SUM(d) AS BIGINT) AS sd, CAST(SUM(t) AS BIGINT) AS st,
               CAST(SUM(q*q) AS BIGINT) AS sqq, CAST(SUM(p*p) AS BIGINT) AS spp,
               CAST(SUM(d*d) AS BIGINT) AS sdd, CAST(SUM(t*t) AS BIGINT) AS stt,
               CAST(SUM(q*p) AS BIGINT) AS sqp, CAST(SUM(q*d) AS BIGINT) AS sqd,
               CAST(SUM(q*t) AS BIGINT) AS sqt, CAST(SUM(p*d) AS BIGINT) AS spd,
               CAST(SUM(p*t) AS BIGINT) AS spt, CAST(SUM(d*t) AS BIGINT) AS sdt
        FROM u
      ),
      pairs AS (
        SELECT n, 'quantity|price_h' AS pair, sq AS sx, sp AS sy,
               sqq AS sxx, spp AS syy, sqp AS sxy FROM s
        UNION ALL SELECT n, 'quantity|discount', sq, sd, sqq, sdd, sqd FROM s
        UNION ALL SELECT n, 'quantity|tax', sq, st, sqq, stt, sqt FROM s
        UNION ALL SELECT n, 'price_h|discount', sp, sd, spp, sdd, spd FROM s
        UNION ALL SELECT n, 'price_h|tax', sp, st, spp, stt, spt FROM s
        UNION ALL SELECT n, 'discount|tax', sd, st, sdd, stt, sdt FROM s
      )
      SELECT pair, n AS n_rows, sx, sy, sxy,
             CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
                   AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
                  THEN CAST(FLOOR(1000000.0
                       * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                       / (SQRT(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                          * SQRT(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))))
                       AS BIGINT)
             END AS corr_ppm
      FROM pairs
    """,
    "ewma_smooth": """
      WITH daily AS (
        SELECT l_returnflag, CAST(l_shipdate AS DATE) AS day,
               CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(20,6)) * 100
                             AS BIGINT)) AS BIGINT) AS day_cents
        FROM lineitem GROUP BY 1, 2
      ),
      lagged AS (
        SELECT l_returnflag, day, day_cents,
               lag(day_cents, 1) OVER w AS c1, lag(day_cents, 2) OVER w AS c2,
               lag(day_cents, 3) OVER w AS c3, lag(day_cents, 4) OVER w AS c4,
               lag(day_cents, 5) OVER w AS c5, lag(day_cents, 6) OVER w AS c6,
               lag(day_cents, 7) OVER w AS c7
        FROM daily
        WINDOW w AS (PARTITION BY l_returnflag ORDER BY day)
      )
      SELECT l_returnflag, day, day_cents,
             CAST(((128 * day_cents + 64 * COALESCE(c1, 0)
                    + 32 * COALESCE(c2, 0) + 16 * COALESCE(c3, 0)
                    + 8 * COALESCE(c4, 0) + 4 * COALESCE(c5, 0)
                    + 2 * COALESCE(c6, 0) + 1 * COALESCE(c7, 0)) * 10000)
                  // (128 + CASE WHEN c1 IS NOT NULL THEN 64 ELSE 0 END
                      + CASE WHEN c2 IS NOT NULL THEN 32 ELSE 0 END
                      + CASE WHEN c3 IS NOT NULL THEN 16 ELSE 0 END
                      + CASE WHEN c4 IS NOT NULL THEN 8 ELSE 0 END
                      + CASE WHEN c5 IS NOT NULL THEN 4 ELSE 0 END
                      + CASE WHEN c6 IS NOT NULL THEN 2 ELSE 0 END
                      + CASE WHEN c7 IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS ewma_micro
      FROM lagged
    """,
    "benford_deviation": """
      WITH cells AS (
        SELECT o_orderpriority,
               CAST(substr(CAST(CAST(CAST(o_totalprice AS DECIMAL(20,6)) * 100
                                     AS BIGINT) AS VARCHAR), 1, 1) AS INT)
                 AS digit,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders GROUP BY 1, 2
      ),
      t AS (
        SELECT o_orderpriority, digit, n_orders,
               n_orders * 1000000 AS num,
               SUM(n_orders) OVER (PARTITION BY o_orderpriority) AS tot,
               CASE digit WHEN 1 THEN 301029 WHEN 2 THEN 176091
                          WHEN 3 THEN 124938 WHEN 4 THEN 96910
                          WHEN 5 THEN 79181 WHEN 6 THEN 66946
                          WHEN 7 THEN 57991 WHEN 8 THEN 51152
                          WHEN 9 THEN 45757 END AS e_ppm
        FROM cells
      )
      SELECT o_orderpriority, digit, n_orders,
             CAST(num // tot AS BIGINT) AS obs_ppm,
             CAST(e_ppm AS BIGINT) AS exp_ppm,
             CAST(abs(num // tot - e_ppm) AS BIGINT) AS dev_ppm
      FROM t
    """,
    "new_vs_returning": """
      WITH ev AS (
        SELECT CAST(ts AS DATE) AS day, user_id FROM events
      ),
      dau AS (
        SELECT day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
        FROM ev GROUP BY 1
      ),
      fs AS (
        SELECT user_id, MIN(day) AS day FROM ev GROUP BY 1
      ),
      nu AS (
        SELECT day, CAST(COUNT(*) AS BIGINT) AS new_users FROM fs GROUP BY 1
      )
      SELECT dau.day, dau.dau,
             CAST(COALESCE(nu.new_users, 0) AS BIGINT) AS new_users,
             CAST(dau.dau - COALESCE(nu.new_users, 0) AS BIGINT)
               AS returning_users,
             CAST(SUM(COALESCE(nu.new_users, 0))
                  OVER (ORDER BY dau.day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_users
      FROM dau LEFT JOIN nu ON dau.day = nu.day
    """,
    "interval_merge": """
      WITH ev AS (
        SELECT user_id, event_id,
               epoch_us(ts) // 1000000 AS s,
               epoch_us(ts) // 1000000 + 1800 AS e
        FROM events WHERE user_id % 5 = 0
      ),
      marked AS (
        SELECT user_id, event_id, s, e,
               CASE WHEN MAX(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING) IS NULL
                      OR s > MAX(e) OVER (PARTITION BY user_id
                                          ORDER BY s, event_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND 1 PRECEDING)
                    THEN 1 ELSE 0 END AS is_new
        FROM ev
      ),
      islands AS (
        SELECT user_id, s, e,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY s, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS island
        FROM marked
      ),
      merged AS (
        SELECT user_id, island, MIN(s) AS ivl_start, MAX(e) AS ivl_end
        FROM islands GROUP BY 1, 2
      )
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_intervals,
             CAST(SUM(ivl_end - ivl_start) AS BIGINT) AS covered_seconds,
             CAST(MAX(ivl_end - ivl_start) AS BIGINT) AS max_interval_seconds
      FROM merged GROUP BY 1
    """,
    "ab_test_zscore": """
      WITH ev AS (
        SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 1))::BIGINT
                 % 2 AS arm,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                 AS is_purchase
        FROM events
      ),
      agg AS (
        SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
               CAST(SUM(CASE WHEN arm = 0 THEN is_purchase ELSE 0 END)
                    AS BIGINT) AS xa,
               CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
               CAST(SUM(CASE WHEN arm = 1 THEN is_purchase ELSE 0 END)
                    AS BIGINT) AS xb
        FROM ev
      )
      SELECT na, xa, nb, xb,
             CAST((xa * 1000000) // na AS BIGINT) AS pa_ppm,
             CAST((xb * 1000000) // nb AS BIGINT) AS pb_ppm,
             CASE WHEN xa + xb > 0 AND xa + xb < na + nb THEN
               CAST(FLOOR(1000000.0 *
                 (CAST(xa AS DOUBLE) / CAST(na AS DOUBLE)
                  - CAST(xb AS DOUBLE) / CAST(nb AS DOUBLE))
                 / SQRT((CAST(xa + xb AS DOUBLE) / CAST(na + nb AS DOUBLE))
                        * (1.0 - CAST(xa + xb AS DOUBLE)
                                 / CAST(na + nb AS DOUBLE))
                        * (1.0 / CAST(na AS DOUBLE)
                           + 1.0 / CAST(nb AS DOUBLE))))
                 AS BIGINT)
             END AS z_micro
      FROM agg
    """,
    "degree_assortativity": """
      WITH pairs AS (
        SELECT DISTINCT CAST(l_suppkey AS BIGINT) * 2 AS src,
                        CAST(o_custkey AS BIGINT) * 2 + 1 AS dst
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      ),
      edges AS (
        SELECT src, dst FROM pairs
        UNION ALL SELECT dst AS src, src AS dst FROM pairs
      ),
      deg AS (
        SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
        FROM edges GROUP BY 1
      ),
      j AS (
        SELECT ds.deg AS dj, dd.deg AS dk
        FROM edges e
        JOIN deg ds ON e.src = ds.node
        JOIN deg dd ON e.dst = dd.node
      ),
      s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS m,
               CAST(SUM(dj) AS BIGINT) AS sj, CAST(SUM(dk) AS BIGINT) AS sk,
               CAST(SUM(dj*dk) AS BIGINT) AS sjk,
               CAST(SUM(dj*dj) AS BIGINT) AS sjj,
               CAST(SUM(dk*dk) AS BIGINT) AS skk
        FROM j
      ),
      nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg)
      SELECT m AS n_directed_edges, n_nodes,
             CASE WHEN (CAST(m AS DOUBLE) * CAST(sjj AS DOUBLE)
                        - CAST(sj AS DOUBLE) * CAST(sj AS DOUBLE)) > 0
                   AND (CAST(m AS DOUBLE) * CAST(skk AS DOUBLE)
                        - CAST(sk AS DOUBLE) * CAST(sk AS DOUBLE)) > 0
                  THEN CAST(FLOOR(1000000.0
                       * (CAST(m AS DOUBLE) * CAST(sjk AS DOUBLE)
                          - CAST(sj AS DOUBLE) * CAST(sk AS DOUBLE))
                       / (SQRT(CAST(m AS DOUBLE) * CAST(sjj AS DOUBLE)
                               - CAST(sj AS DOUBLE) * CAST(sj AS DOUBLE))
                          * SQRT(CAST(m AS DOUBLE) * CAST(skk AS DOUBLE)
                                 - CAST(sk AS DOUBLE) * CAST(sk AS DOUBLE))))
                       AS BIGINT)
             END AS assortativity_ppm
      FROM s, nn
    """,
    "shortest_path_weighted": """
      WITH half AS (
        SELECT CAST(l_suppkey AS BIGINT) * 2 AS src,
               CAST(o_custkey AS BIGINT) * 2 + 1 AS dst,
               1 + (1000 // CAST(COUNT(*) AS BIGINT)) AS w
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1, 2
      ),
      edges AS (
        SELECT src, dst, w FROM half
        UNION ALL SELECT dst AS src, src AS dst, w FROM half
      ),
      l0 AS (
        SELECT DISTINCT CAST(s_suppkey AS BIGINT) * 2 AS node,
               CAST(0 AS BIGINT) AS dist
        FROM supplier WHERE s_nationkey = 1
      ),
      l1 AS (
        SELECT e.dst AS node, MIN(l.dist + e.w) AS dist
        FROM l0 l JOIN edges e ON e.src = l.node GROUP BY 1
      ),
      l2 AS (
        SELECT e.dst AS node, MIN(l.dist + e.w) AS dist
        FROM l1 l JOIN edges e ON e.src = l.node GROUP BY 1
      ),
      l3 AS (
        SELECT e.dst AS node, MIN(l.dist + e.w) AS dist
        FROM l2 l JOIN edges e ON e.src = l.node GROUP BY 1
      ),
      best AS (
        SELECT node, CAST(MIN(dist) AS BIGINT) AS dist FROM (
          SELECT * FROM l0 UNION ALL SELECT * FROM l1
          UNION ALL SELECT * FROM l2 UNION ALL SELECT * FROM l3
        ) GROUP BY node
      )
      SELECT CASE WHEN node % 2 = 0 THEN 'supplier' ELSE 'customer' END
               AS entity_type,
             node // 2 AS entity_key, dist
      FROM best
    """,
    "mutual_information": """
      WITH cells AS (
        SELECT c_nationkey AS x, o_orderpriority AS y,
               CAST(COUNT(*) AS BIGINT) AS obs
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY 1, 2
      ),
      terms AS (
        SELECT x, y, obs,
               SUM(obs) OVER (PARTITION BY x) AS rt,
               SUM(obs) OVER (PARTITION BY y) AS ct,
               SUM(obs) OVER () AS tot
        FROM cells
      )
      SELECT CAST(COUNT(DISTINCT x) AS INT) AS n_nations,
             CAST(COUNT(DISTINCT y) AS INT) AS n_priorities,
             CAST(ANY_VALUE(tot) AS BIGINT) AS n_orders,
             CAST(FLOOR(CAST(SUM(CAST(FLOOR(1000000.0 * CAST(obs AS DOUBLE)
                 * LN((CAST(obs AS DOUBLE) * CAST(tot AS DOUBLE))
                      / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE))))
                 AS BIGINT)) AS DOUBLE)
               / CAST(ANY_VALUE(tot) AS DOUBLE)) AS BIGINT) AS mi_micro_nats
      FROM terms
    """,
    "token_entropy": """
      WITH tok AS (
        SELECT source,
               unnest(regexp_split_to_array(lower(trim(text, ' ')), '\\s+')) AS token
        FROM documents
      ),
      counts AS (
        SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok GROUP BY 1, 2
      ),
      per_source AS (
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS vocab,
               CAST(SUM(c) AS BIGINT) AS n_tokens,
               CAST(SUM(CAST(FLOOR(1000000.0 * CAST(c AS DOUBLE)
                    * LN(CAST(c AS DOUBLE))) AS BIGINT)) AS BIGINT) AS s_micro
        FROM counts GROUP BY 1
      )
      SELECT source, vocab, n_tokens,
             CAST(FLOOR(1000000.0 * LN(CAST(n_tokens AS DOUBLE))) AS BIGINT)
             - CAST(FLOOR(CAST(s_micro AS DOUBLE)
                          / CAST(n_tokens AS DOUBLE)) AS BIGINT)
               AS entropy_micro_nats
      FROM per_source
    """,
    "cusum_changepoint": """
      WITH daily AS (
        SELECT o_orderpriority AS priority, CAST(o_orderdate AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS n_d
        FROM orders GROUP BY 1, 2
      ),
      annotated AS (
        SELECT priority, day, n_d,
               CAST(COUNT(*) OVER (PARTITION BY priority) AS BIGINT) AS n_days,
               CAST(SUM(n_d) OVER (PARTITION BY priority) AS BIGINT) AS total
        FROM daily
      ),
      cusum AS (
        SELECT priority, day, n_days, total,
               CAST(SUM(n_days * n_d - total) OVER (
                 PARTITION BY priority ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cusum
        FROM annotated
      ),
      ranked AS (
        SELECT *, ROW_NUMBER() OVER (
                 PARTITION BY priority ORDER BY ABS(cusum) DESC, day ASC
               ) AS rn
        FROM cusum
      )
      SELECT priority, day AS peak_day, cusum, n_days, total
      FROM ranked WHERE rn = 1
    """,
    "seasonality_dow": """
      WITH cells AS (
        SELECT o_orderpriority AS priority,
               CAST((date_diff('day', DATE '1970-01-01',
                               CAST(o_orderdate AS DATE)) + 3) % 7 AS INT)
                 AS dow,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(20,6)) * 100
                             AS BIGINT)) AS BIGINT) AS sum_cents
        FROM orders GROUP BY 1, 2
      )
      SELECT priority, dow, n_orders, sum_cents,
             CAST(FLOOR(1000000.0 * (CAST(sum_cents AS DOUBLE)
                  * CAST(SUM(n_orders) OVER (PARTITION BY priority) AS DOUBLE))
                / (CAST(n_orders AS DOUBLE)
                  * CAST(SUM(sum_cents) OVER (PARTITION BY priority) AS DOUBLE)))
               AS BIGINT) AS index_ppm
      FROM cells
    """,
    "token_drift": """
      WITH mx AS (SELECT CAST(MAX(doc_id) AS BIGINT) AS mx FROM documents),
      tok AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(lower(trim(text, ' ')), '\\s+')) AS token
        FROM documents
      ),
      counts AS (
        SELECT token,
               CAST(SUM(CASE WHEN doc_id * 2 < mx THEN 1 ELSE 0 END)
                    AS BIGINT) AS early,
               CAST(SUM(CASE WHEN doc_id * 2 >= mx THEN 1 ELSE 0 END)
                    AS BIGINT) AS late
        FROM tok CROSS JOIN mx GROUP BY 1
      )
      SELECT token, early, late,
             CAST(GREATEST(
               (late * 1000000) // GREATEST(early, CAST(1 AS BIGINT)),
               (early * 1000000) // GREATEST(late, CAST(1 AS BIGINT)))
                  AS BIGINT) AS drift_ppm
      FROM counts
      WHERE early + late >= 20
      ORDER BY drift_ppm DESC, token ASC
      LIMIT 50
    """,
    "lm_perplexity": """
      WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text, ' '), '\\s+') AS w
        FROM documents WHERE len(regexp_split_to_array(trim(text, ' '), '\\s+')) >= 2
      ),
      bigrams AS (
        SELECT doc_id, w[i] AS w1, w[i+1] AS w2
        FROM toks, unnest(range(1, len(w))) AS t(i)
      ),
      counts12 AS (
        SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n12
        FROM bigrams GROUP BY 1, 2
      ),
      counts1 AS (
        SELECT w1, CAST(SUM(n12) AS BIGINT) AS n1 FROM counts12 GROUP BY 1
      ),
      vocab AS (
        SELECT CAST(COUNT(DISTINCT w2) AS BIGINT) AS v FROM counts12
      ),
      scored AS (
        SELECT b.doc_id,
               CAST(FLOOR(1000000.0 * LN((CAST(n12 AS DOUBLE) + 1.0)
                    / (CAST(n1 AS DOUBLE) + CAST(v AS DOUBLE)))) AS BIGINT)
                 AS term_micro
        FROM bigrams b
        JOIN counts12 USING (w1, w2)
        JOIN counts1 USING (w1)
        CROSS JOIN vocab
      )
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST(FLOOR((0.0 - CAST(SUM(term_micro) AS DOUBLE))
                        / CAST(COUNT(*) AS DOUBLE)) AS BIGINT)
               AS cross_entropy_micro_nats
      FROM scored GROUP BY 1
    """,
    "kl_divergence_sources": """
      WITH c_st AS (
        SELECT source,
               unnest(regexp_split_to_array(lower(trim(text, ' ')), '\\s+')) AS token
        FROM documents
      ),
      cst AS (
        SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c_st
        FROM c_st GROUP BY 1, 2
      ),
      ct AS (SELECT token, CAST(SUM(c_st) AS BIGINT) AS c_t FROM cst GROUP BY 1),
      ns AS (SELECT source, CAST(SUM(c_st) AS BIGINT) AS n_s FROM cst GROUP BY 1),
      nt AS (SELECT CAST(SUM(c_st) AS BIGINT) AS n FROM cst),
      terms AS (
        SELECT cst.source, n_s,
               CAST(FLOOR(1000000.0 * CAST(c_st AS DOUBLE)
                    * LN((CAST(c_st AS DOUBLE) * CAST(n AS DOUBLE))
                         / (CAST(n_s AS DOUBLE) * CAST(c_t AS DOUBLE))))
                 AS BIGINT) AS term_micro
        FROM cst JOIN ct USING (token) JOIN ns USING (source) CROSS JOIN nt
      )
      SELECT source,
             CAST(ANY_VALUE(n_s) AS BIGINT) AS n_tokens,
             CAST(FLOOR(CAST(SUM(term_micro) AS DOUBLE)
                        / CAST(ANY_VALUE(n_s) AS DOUBLE)) AS BIGINT)
               AS kl_micro_nats
      FROM terms GROUP BY 1
    """,
    "k_anonymity_audit": """
      WITH classes AS (
        SELECT c_nationkey AS nat, c_mktsegment AS seg,
               CAST(FLOOR(CAST(CAST(CAST(c_acctbal AS DECIMAL(20,6)) * 100
                    AS BIGINT) AS DOUBLE) / 100000.0) AS BIGINT) AS bal_bucket,
               CAST(COUNT(*) AS BIGINT) AS k
        FROM customer GROUP BY 1, 2, 3
      ),
      bands AS (
        SELECT CASE WHEN k = 1 THEN '1:unique' WHEN k < 5 THEN '2:2-4'
                    WHEN k < 20 THEN '3:5-19' ELSE '4:20+' END AS band,
               CAST(COUNT(*) AS BIGINT) AS n_classes,
               CAST(SUM(k) AS BIGINT) AS n_rows
        FROM classes GROUP BY 1
      )
      SELECT band, n_classes, n_rows,
             CAST((n_rows * 1000000) // SUM(n_rows) OVER () AS BIGINT)
               AS row_share_ppm
      FROM bands
    """,
    "rank_fusion_rrf": """
      WITH per_cust AS (
        SELECT o_custkey AS custkey,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(20,6)) * 100
                             AS BIGINT)) AS BIGINT) AS sum_cents
        FROM orders GROUP BY 1
      ),
      with_nat AS (
        SELECT c_nationkey AS nat, custkey, n_orders, sum_cents
        FROM per_cust JOIN customer ON custkey = c_custkey
      ),
      ranked AS (
        SELECT nat, custkey, n_orders, sum_cents,
               ROW_NUMBER() OVER (PARTITION BY nat
                 ORDER BY n_orders DESC, custkey ASC) AS r_count,
               ROW_NUMBER() OVER (PARTITION BY nat
                 ORDER BY sum_cents DESC, custkey ASC) AS r_spend
        FROM with_nat
      ),
      fused AS (
        SELECT *, CAST(1000000 // (60 + r_count)
                       + 1000000 // (60 + r_spend) AS BIGINT) AS rrf_micro
        FROM ranked
      ),
      picked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY nat
                 ORDER BY rrf_micro DESC, custkey ASC) AS rn
        FROM fused
      )
      SELECT nat, CAST(rn AS INT) AS fused_rank, custkey, n_orders,
             sum_cents, CAST(r_count AS INT) AS r_count,
             CAST(r_spend AS INT) AS r_spend, rrf_micro
      FROM picked WHERE rn <= 3
    """,
    "attribution_linear": """
      WITH clicks AS (
        SELECT event_id AS click_id, user_id AS click_user, ts AS click_ts
        FROM events WHERE event_type = 'click'
      ),
      purchases AS (
        SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
        FROM events WHERE event_type = 'purchase'
      ),
      joined AS (
        SELECT purchase_id, user_id, click_id, click_ts
        FROM clicks JOIN purchases
          ON click_user = user_id
         AND click_ts >= purchase_ts - INTERVAL 1 HOUR
         AND click_ts <= purchase_ts
      ),
      windowed AS (
        SELECT purchase_id, user_id, click_id,
               CAST(COUNT(*) OVER (PARTITION BY purchase_id) AS BIGINT)
                 AS k_touches,
               ROW_NUMBER() OVER (PARTITION BY purchase_id
                 ORDER BY click_ts ASC, click_id ASC) AS touch_rank
        FROM joined
      )
      SELECT purchase_id, user_id, click_id, k_touches,
             CAST(touch_rank AS INT) AS touch_rank,
             CAST(1000000 // k_touches
                  + CASE WHEN touch_rank = 1 THEN 1000000 % k_touches
                         ELSE 0 END AS BIGINT) AS credit_micro
      FROM windowed
    """,
    "autocorrelation": """
      WITH daily AS (
        SELECT o_orderpriority AS priority, CAST(o_orderdate AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM orders GROUP BY 1, 2
      ),
      lagged AS (
        SELECT priority, x,
               LEAD(x, 1) OVER w AS x1, LEAD(x, 2) OVER w AS x2,
               LEAD(x, 3) OVER w AS x3, LEAD(x, 4) OVER w AS x4,
               LEAD(x, 5) OVER w AS x5, LEAD(x, 6) OVER w AS x6,
               LEAD(x, 7) OVER w AS x7
        FROM daily
        WINDOW w AS (PARTITION BY priority ORDER BY day)
      ),
      pairs AS (
        SELECT priority, 1 AS lag, x AS a, x1 AS b FROM lagged WHERE x1 IS NOT NULL
        UNION ALL SELECT priority, 2, x, x2 FROM lagged WHERE x2 IS NOT NULL
        UNION ALL SELECT priority, 3, x, x3 FROM lagged WHERE x3 IS NOT NULL
        UNION ALL SELECT priority, 4, x, x4 FROM lagged WHERE x4 IS NOT NULL
        UNION ALL SELECT priority, 5, x, x5 FROM lagged WHERE x5 IS NOT NULL
        UNION ALL SELECT priority, 6, x, x6 FROM lagged WHERE x6 IS NOT NULL
        UNION ALL SELECT priority, 7, x, x7 FROM lagged WHERE x7 IS NOT NULL
      ),
      stats AS (
        SELECT priority, lag,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(a) AS BIGINT) AS sa, CAST(SUM(b) AS BIGINT) AS sb,
               CAST(SUM(a*b) AS BIGINT) AS sab,
               CAST(SUM(a*a) AS BIGINT) AS saa,
               CAST(SUM(b*b) AS BIGINT) AS sbb
        FROM pairs GROUP BY 1, 2
      )
      SELECT priority, CAST(lag AS INT) AS lag, n,
             CASE WHEN (CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
                        - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)) > 0
                   AND (CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
                        - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)) > 0
                  THEN CAST(FLOOR(1000000.0
                       * (CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
                          - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
                       / (SQRT(CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
                               - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                          * SQRT(CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
                                 - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))))
                       AS BIGINT)
             END AS acf_ppm
      FROM stats
    """,
    "iqr_outliers": """
      WITH daily AS (
        SELECT o_orderpriority AS priority, CAST(o_orderdate AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM orders GROUP BY 1, 2
      ),
      ranked AS (
        SELECT priority, day, x,
               ROW_NUMBER() OVER (PARTITION BY priority
                 ORDER BY x ASC, day ASC) AS rnk,
               CAST(COUNT(*) OVER (PARTITION BY priority) AS BIGINT) AS n
        FROM daily
      ),
      quartiles AS (
        SELECT priority,
               CAST(MIN(x) AS BIGINT) AS q1, CAST(MAX(x) AS BIGINT) AS q3
        FROM ranked
        WHERE (rnk * 4 >= n AND (rnk - 1) * 4 < n)
           OR (rnk * 4 >= 3 * n AND (rnk - 1) * 4 < 3 * n)
        GROUP BY 1
      )
      SELECT d.priority, d.day, d.x, q1, q3,
             CASE WHEN d.x < q1 THEN 'low' ELSE 'high' END AS side
      FROM daily d JOIN quartiles q ON d.priority = q.priority
      WHERE d.x * 4 < q1 * 4 - (q3 - q1) * 6
         OR d.x * 4 > q3 * 4 + (q3 - q1) * 6
    """,
    "weighted_median": """
      WITH j AS (
        SELECT o_orderpriority, l_extendedprice AS price,
               CAST(l_quantity AS BIGINT) AS w, l_orderkey, l_linenumber
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      ),
      c AS (
        SELECT o_orderpriority, price,
               SUM(w) OVER (PARTITION BY o_orderpriority
                            ORDER BY price, l_orderkey, l_linenumber) AS cumw,
               SUM(w) OVER (PARTITION BY o_orderpriority) AS totw
        FROM j
      )
      SELECT o_orderpriority, MIN(price) AS weighted_median_price,
             CAST(ANY_VALUE(totw) AS BIGINT) AS total_weight
      FROM c WHERE 2 * cumw >= totw GROUP BY 1
    """,
    "weighted_median_approx": """
      WITH j AS (
        SELECT o_orderpriority,
               CAST(floor(l_extendedprice / 100.0) AS BIGINT) AS b,
               CAST(l_quantity AS BIGINT) AS w,
               l_extendedprice AS price, l_orderkey, l_linenumber
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      ),
      hist AS (
        SELECT o_orderpriority, b, SUM(w) AS bw FROM j GROUP BY 1, 2
      ),
      c AS (
        SELECT o_orderpriority, b,
               SUM(bw) OVER (PARTITION BY o_orderpriority ORDER BY b) AS cumw,
               SUM(bw) OVER (PARTITION BY o_orderpriority) AS totw
        FROM hist
      ),
      sel AS (
        SELECT o_orderpriority, MIN(b) AS bucket,
               CAST(ANY_VALUE(totw) AS BIGINT) AS total_weight
        FROM c WHERE 2 * cumw >= totw GROUP BY 1
      ),
      -- empirical containment check of the Spark side's by-construction
      -- claim: the exact weighted median must land in the chosen bucket
      rc AS (
        SELECT o_orderpriority, price,
               SUM(w) OVER (PARTITION BY o_orderpriority
                            ORDER BY price, l_orderkey, l_linenumber) AS cumw,
               SUM(w) OVER (PARTITION BY o_orderpriority) AS totw
        FROM j
      ),
      exact AS (
        SELECT o_orderpriority, MIN(price) AS exact_wm
        FROM rc WHERE 2 * cumw >= totw GROUP BY 1
      )
      SELECT sel.o_orderpriority, sel.bucket,
             CAST(sel.bucket AS DOUBLE) * 100.0 AS bucket_lo,
             (CAST(sel.bucket AS DOUBLE) + 1.0) * 100.0 AS bucket_hi,
             (CAST(sel.bucket AS DOUBLE) + 0.5) * 100.0
               AS approx_weighted_median_price,
             sel.total_weight,
             CAST(floor(exact.exact_wm / 100.0) AS BIGINT) = sel.bucket
               AS exact_in_bucket
      FROM sel JOIN exact ON sel.o_orderpriority = exact.o_orderpriority
    """,
    "gini_concentration": """
      WITH ps AS (
        SELECT lang, source, CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS x
        FROM documents GROUP BY 1, 2
      ),
      r AS (
        SELECT lang, x,
               row_number() OVER (PARTITION BY lang ORDER BY x, source) AS i,
               COUNT(*) OVER (PARTITION BY lang) AS n
        FROM ps
      ),
      a AS (
        SELECT lang, ANY_VALUE(n) AS n_sources, SUM(i * x) AS ix, SUM(x) AS sx
        FROM r GROUP BY 1
      )
      SELECT lang, CAST(n_sources AS INT) AS n_sources,
             CAST(sx AS BIGINT) AS total_chars,
             (2.0 * ix) / (n_sources * sx) - (n_sources + 1.0) / n_sources
               AS gini
      FROM a
    """,
    "global_median_select": """
      WITH ranked AS (
        SELECT l_extendedprice AS v,
               row_number() OVER (ORDER BY l_extendedprice) AS rn,
               COUNT(*) OVER () AS n
        FROM lineitem WHERE l_extendedprice IS NOT NULL
      )
      SELECT CAST(MAX(n) AS BIGINT) AS n_values,
             (MIN(v) + MAX(v)) / 2 AS median_value
      FROM ranked WHERE rn = floor((n + 1) / 2) OR rn = floor((n + 2) / 2)
    """,
    "funnel_conversion": """
      WITH v AS (SELECT user_id, MIN(ts) AS t_view
                 FROM events WHERE event_type = 'view' GROUP BY 1),
      c AS (SELECT e.user_id, MIN(e.ts) AS t_click
            FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t_view
            WHERE e.event_type = 'click' GROUP BY 1),
      p AS (SELECT e.user_id, MIN(e.ts) AS t_purchase
            FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t_click
            WHERE e.event_type = 'purchase' GROUP BY 1)
      SELECT CAST(COUNT(v.user_id) AS BIGINT) AS n_view,
             CAST(COUNT(c.user_id) AS BIGINT) AS n_click,
             CAST(COUNT(p.user_id) AS BIGINT) AS n_purchase
      FROM v LEFT JOIN c ON v.user_id = c.user_id
             LEFT JOIN p ON v.user_id = p.user_id
    """,
    "cohort_retention": """
      WITH f AS (SELECT user_id, MIN(ts) AS first_ts FROM events GROUP BY 1)
      SELECT CAST(date_trunc('week', f.first_ts) AS DATE) AS cohort_week,
             CAST(floor(date_diff('day',
                    CAST(date_trunc('week', f.first_ts) AS DATE),
                    CAST(date_trunc('week', e.ts) AS DATE)) / 7.0) AS INT)
               AS week_offset,
             CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS active_users
      FROM events e JOIN f ON e.user_id = f.user_id
      GROUP BY 1, 2
    """,
    "copurchase_lift": """
      WITH op AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      -- MATERIALIZED: DuckDB's default CTE inlining re-expands op into n,
      -- pc, and both pair sides; combined with the CROSS JOIN the optimizer
      -- goes pathological at sf1 (>300 s). Materialized: 3.2 s.
      n AS MATERIALIZED (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM op),
      pc AS MATERIALIZED (SELECT l_partkey, COUNT(*) AS cnt FROM op GROUP BY 1),
      pairs AS MATERIALIZED (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               COUNT(*) AS pair_orders
        FROM op a JOIN op b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= 2
      )
      SELECT part_a, part_b, pair_orders,
             CAST((pair_orders * 1000000) // ca.cnt AS BIGINT) AS conf_ppm,
             CAST((((pair_orders * 1000000) // ca.cnt) * n.n_orders)
                  // cb.cnt AS BIGINT) AS lift_ppm
      FROM pairs
      JOIN pc ca ON ca.l_partkey = part_a
      JOIN pc cb ON cb.l_partkey = part_b
      CROSS JOIN n
    """,
    "triangle_count": """
      WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      e AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb
        FROM op a JOIN op b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= 2
      )
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
             (SELECT CAST(COUNT(*) AS BIGINT)
              FROM e e1 JOIN e e2 ON e1.pb = e2.pa
                        JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb)
               AS n_triangles
    """,
    # weighted PageRank: same 5 unrolled iterations, mass split by weight
    "pagerank_weighted": """
      WITH p AS (
        SELECT CAST(l_suppkey AS BIGINT)*2 AS src,
               CAST(o_custkey AS BIGINT)*2 + 1 AS dst,
               COUNT(DISTINCT l_orderkey) AS w
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1, 2
      ),
      e AS (SELECT src, dst, w FROM p
            UNION ALL SELECT dst AS src, src AS dst, w FROM p),
      nodes AS (SELECT DISTINCT src AS node FROM e),
      deg AS (SELECT src, SUM(w) AS deg FROM e GROUP BY 1),
      prm AS (SELECT 1000000000000 // COUNT(*) AS r0,
                     15 * (1000000000000 // COUNT(*)) // 100 AS base
              FROM nodes),
      r0 AS (SELECT node, (SELECT r0 FROM prm) AS rank FROM nodes),
      r1 AS (
        SELECT n.node, CAST((SELECT base FROM prm)
                            + (85 * COALESCE(i.s, 0)) // 100 AS BIGINT) AS rank
        FROM nodes n LEFT JOIN (
          SELECT e.dst AS node, SUM((r.rank * e.w) // d.deg) AS s
          FROM e JOIN r0 r ON e.src = r.node JOIN deg d ON d.src = e.src
          GROUP BY e.dst) i ON i.node = n.node
      ),
      r2 AS (
        SELECT n.node, CAST((SELECT base FROM prm)
                            + (85 * COALESCE(i.s, 0)) // 100 AS BIGINT) AS rank
        FROM nodes n LEFT JOIN (
          SELECT e.dst AS node, SUM((r.rank * e.w) // d.deg) AS s
          FROM e JOIN r1 r ON e.src = r.node JOIN deg d ON d.src = e.src
          GROUP BY e.dst) i ON i.node = n.node
      ),
      r3 AS (
        SELECT n.node, CAST((SELECT base FROM prm)
                            + (85 * COALESCE(i.s, 0)) // 100 AS BIGINT) AS rank
        FROM nodes n LEFT JOIN (
          SELECT e.dst AS node, SUM((r.rank * e.w) // d.deg) AS s
          FROM e JOIN r2 r ON e.src = r.node JOIN deg d ON d.src = e.src
          GROUP BY e.dst) i ON i.node = n.node
      ),
      r4 AS (
        SELECT n.node, CAST((SELECT base FROM prm)
                            + (85 * COALESCE(i.s, 0)) // 100 AS BIGINT) AS rank
        FROM nodes n LEFT JOIN (
          SELECT e.dst AS node, SUM((r.rank * e.w) // d.deg) AS s
          FROM e JOIN r3 r ON e.src = r.node JOIN deg d ON d.src = e.src
          GROUP BY e.dst) i ON i.node = n.node
      ),
      r5 AS (
        SELECT n.node, CAST((SELECT base FROM prm)
                            + (85 * COALESCE(i.s, 0)) // 100 AS BIGINT) AS rank
        FROM nodes n LEFT JOIN (
          SELECT e.dst AS node, SUM((r.rank * e.w) // d.deg) AS s
          FROM e JOIN r4 r ON e.src = r.node JOIN deg d ON d.src = e.src
          GROUP BY e.dst) i ON i.node = n.node
      )
      SELECT CASE WHEN node % 2 = 0 THEN 'supplier' ELSE 'customer' END AS entity_type,
             node // 2 AS entity_key,
             CAST(rank AS BIGINT) AS rank_micro
      FROM r5
    """,
    # sorted-neighborhood blocking: identical lag-window + levenshtein
    "dedup_sorted_neighborhood": """
      WITH b AS (
        SELECT doc_id, lower(trim(text, ' ')) AS key,
               substr(lower(trim(text, ' ')), 1, 2) AS blk
        FROM documents
      ),
      w AS (
        SELECT doc_id, key,
               lag(doc_id, 1) OVER win AS p1_id, lag(key, 1) OVER win AS p1_key,
               lag(doc_id, 2) OVER win AS p2_id, lag(key, 2) OVER win AS p2_key,
               lag(doc_id, 3) OVER win AS p3_id, lag(key, 3) OVER win AS p3_key
        FROM b
        WINDOW win AS (PARTITION BY blk ORDER BY substr(key, 1, 64), doc_id)
      ),
      pairs AS (
        SELECT p1_id AS da, doc_id AS db,
               levenshtein(substr(key,1,80), substr(p1_key,1,80)) AS d
        FROM w WHERE p1_id IS NOT NULL
        UNION ALL
        SELECT p2_id, doc_id,
               levenshtein(substr(key,1,80), substr(p2_key,1,80))
        FROM w WHERE p2_id IS NOT NULL
        UNION ALL
        SELECT p3_id, doc_id,
               levenshtein(substr(key,1,80), substr(p3_key,1,80))
        FROM w WHERE p3_id IS NOT NULL
      )
      SELECT least(da, db) AS doc_a, greatest(da, db) AS doc_b,
             CAST(d AS INT) AS edit_dist
      FROM pairs WHERE d <= 10
    """,
    "lateral_topk": """
      SELECT o_orderkey, o_totalprice, l_linenumber, l_extendedprice
      FROM (
        SELECT o.o_orderkey, o.o_totalprice, li.l_linenumber, li.l_extendedprice,
               row_number() OVER (
                 PARTITION BY o.o_orderkey
                 ORDER BY li.l_extendedprice DESC, li.l_linenumber
               ) AS rn
        FROM orders o JOIN lineitem li ON li.l_orderkey = o.o_orderkey
      ) WHERE rn = 1
    """,
    "multimodal_phash": """
      WITH chars AS (
        SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents
      ),
      counts AS (
        SELECT doc_id, ord(ch) // 16 AS bin, COUNT(*) AS cnt
        FROM chars GROUP BY 1, 2
      ),
      grid AS (
        SELECT d.doc_id, t.b
        FROM (SELECT doc_id FROM documents) d, UNNEST(range(0, 16)) AS t(b)
      ),
      hist AS (
        SELECT g.doc_id, g.b, COALESCE(c.cnt, 0) AS cnt
        FROM grid g LEFT JOIN counts c ON c.doc_id = g.doc_id AND c.bin = g.b
      ),
      vecs AS (SELECT doc_id, list(cnt ORDER BY b) AS h FROM hist GROUP BY doc_id),
      ph AS (
        SELECT doc_id,
               CAST(COALESCE(SUM(CASE WHEN h[t.i + 2] > h[t.i + 1]
                                      THEN 1 << t.i ELSE 0 END), 0) AS BIGINT) AS phash
        FROM vecs, UNNEST(range(0, 15)) AS t(i)
        GROUP BY doc_id
      )
      SELECT doc_id, phash,
             COUNT(*) OVER (PARTITION BY phash) AS bucket_size,
             doc_id = MIN(doc_id) OVER (PARTITION BY phash) AS is_canonical
      FROM ph
    """,
    "bpe_pairs": r"""
      WITH words AS (
        SELECT w, COUNT(*) AS freq
        FROM (
          SELECT unnest(regexp_split_to_array(trim(text, ' '), '\s+')) AS w
          FROM documents
        ) WHERE length(w) >= 2
        GROUP BY w
      ),
      pairs AS (
        SELECT substr(w, CAST(t.i AS INT), 2) AS pair, freq
        FROM words, UNNEST(range(1, length(w))) AS t(i)
      )
      SELECT pair, CAST(SUM(freq) AS BIGINT) AS pair_count
      FROM pairs GROUP BY pair
      ORDER BY pair_count DESC, pair ASC
      LIMIT 50
    """,
    "fuzzy_join": r"""
      WITH names AS (SELECT DISTINCT p_name FROM part),
      blocked AS (
        SELECT p_name, regexp_split_to_array(trim(p_name, ' '), '\s+')[-1] AS blk
        FROM names
      )
      SELECT a.p_name AS name_a, b.p_name AS name_b,
             CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
      FROM blocked a JOIN blocked b
        ON a.blk = b.blk AND a.p_name < b.p_name
      WHERE levenshtein(a.p_name, b.p_name) <= 2
    """,
    "cdc_apply": """
      SELECT user_id, event_id, ts, event_type, value
      FROM (
        SELECT *, row_number() OVER (
          PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
      ) WHERE rn = 1
    """,
    "streaming_incremental_mv": """
      SELECT event_type,
             COUNT(*) AS n_rows,
             COUNT(value) AS n_values,
             MIN(value) AS min_value,
             MAX(value) AS max_value,
             CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value_d,
             CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
               / COUNT(value) AS avg_value
      FROM events
      GROUP BY event_type
    """,
    "segment_dedup": r"""
      WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(text, ' '), '\s+') AS t
        FROM documents
      ),
      segs AS (
        SELECT doc_id, CAST(u.i AS INT) AS seg_idx,
               array_to_string(list_slice(t, u.i*2+1, u.i*2+2), ' ') AS seg
        FROM toks, UNNEST(range(0, CAST(ceil(len(t)/2.0) AS BIGINT))) AS u(i)
      ),
      ranked AS (
        SELECT doc_id, seg_idx, seg,
               row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) = 1 AS kept
        FROM segs
      )
      SELECT doc_id,
             COUNT(*) AS n_segments,
             COUNT(CASE WHEN kept THEN 1 END) AS n_kept,
             COALESCE(string_agg(CASE WHEN kept THEN seg END, ' ' ORDER BY seg_idx), '')
               AS clean_text
      FROM ranked GROUP BY doc_id
    """,
    "semantic_prune": """
      -- t/pairs/edges MATERIALIZED: DuckDB's default CTE inlining re-expands
      -- the all-pairs cosine into every consumer; materialized, the sf1
      -- evaluation is 108 s instead of hours (sweep-exclusion fix, round 6).
      WITH RECURSIVE t AS MATERIALIZED (
        SELECT vec_id, label, embedding AS e FROM embeddings
      ),
      pairs AS MATERIALIZED (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM t a JOIN t b ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE round(list_sum(list_transform(range(1, 65), i -> a.e[i]::DOUBLE * b.e[i]::DOUBLE))
              / (sqrt(list_sum(list_transform(range(1, 65), i -> a.e[i]::DOUBLE * a.e[i]::DOUBLE)))
               * sqrt(list_sum(list_transform(range(1, 65), i -> b.e[i]::DOUBLE * b.e[i]::DOUBLE)))), 6)
              >= 0.3
      ),
      edges AS MATERIALIZED (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION ALL
        SELECT id_b, id_a FROM pairs
      ),
      reach(node, other) AS (
        SELECT vec_id, vec_id FROM t
        UNION
        SELECT r.node, e.dst FROM reach r JOIN edges e ON e.src = r.other
      )
      SELECT t.vec_id, t.label, m.component_id,
             m.component_id = t.vec_id AS is_kept
      FROM t JOIN (
        SELECT node, MIN(other) AS component_id FROM reach GROUP BY node
      ) m ON t.vec_id = m.node
    """,
    "mix_temperature": """
      WITH counts AS (SELECT source, COUNT(*) AS c FROM documents GROUP BY source),
      weights AS (
        SELECT source, c,
               CAST(floor(sqrt(CAST(c AS DOUBLE)) * 1e6) AS BIGINT) AS u
        FROM counts
      ),
      tot AS (SELECT CAST(SUM(u) AS HUGEINT) AS big_u FROM weights),
      tgt AS (SELECT CAST(floor(COUNT(*) / 2) AS BIGINT) AS n_target FROM documents)
      SELECT d.doc_id, d.source,
             (CAST((d.doc_id * 2654435761) % 2147483648 AS HUGEINT) * big_u * c)
               < (CAST(n_target AS HUGEINT) * u * 2147483648) AS kept
      FROM documents d JOIN weights w ON d.source = w.source, tot, tgt
    """,
    "grouped_median": """
      WITH ranked AS (
        SELECT event_type, value, event_id,
               row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM events WHERE value IS NOT NULL
      ),
      mid AS (
        SELECT * FROM ranked
        WHERE rn = floor((n + 1) / 2) OR rn = floor((n + 2) / 2)
      )
      SELECT event_type, (MIN(value) + MAX(value)) / 2 AS median_value,
             ANY_VALUE(n) AS n_values
      FROM mid GROUP BY event_type
    """,
    "gold_fact_lineitem": _FACT_LINEITEM,
    "gold_dim_orders": _DIM_ORDERS,
    "gold_dim_customers": _DIM_CUSTOMERS,
    "gold_dim_suppliers": _DIM_SUPPLIERS,
    "gold_dim_parts": _DIM_PARTS,
    "gold_dim_date": _DIM_DATE,
    "silver_orders": _SILVER_ORDERS.replace("o.*,", "o.*,").strip(),
    "silver_customer": _SILVER_CUSTOMER,
    "silver_events": _SILVER_EVENTS,
    "typed_projection": """
      SELECT l_orderkey AS order_key,
             CAST(l_linenumber AS BIGINT) AS line_no,
             l_quantity AS qty,
             l_extendedprice AS price,
             CAST(l_shipdate AS DATE) AS ship_date
      FROM lineitem
    """,
    "predicates": """
      SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, o_orderpriority
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_orderkey IS NOT NULL
        AND l_quantity BETWEEN 5 AND 45
        AND l_returnflag IN ('A', 'R')
        AND LENGTH(o_orderpriority) >= 5
        AND CAST(l_shipdate AS DATE) >= CAST(o_orderdate AS DATE)
    """,
    "order_totals": """
      SELECT l_orderkey,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_order_value,
             COUNT(DISTINCT l_returnflag) AS return_flag_count,
             MAX(l_quantity) AS max_item_quantity,
             string_agg(DISTINCT l_returnflag, ', ' ORDER BY l_returnflag) AS return_flags
      FROM lineitem GROUP BY l_orderkey
    """,
    "global_minmax": """
      SELECT MIN(CAST(o_orderdate AS DATE)) AS min_order_date,
             MAX(CAST(o_orderdate AS DATE)) AS max_order_date,
             COUNT(*) AS n_orders
      FROM orders
    """,
    "window_dedup": """
      SELECT user_id, ANY_VALUE(value) AS first_value, ANY_VALUE(event_type) AS first_type
      FROM (
        SELECT user_id, value, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events
      ) r WHERE rn = 1 GROUP BY user_id
    """,
    "semi_join": """
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders o
      WHERE EXISTS (SELECT 1 FROM lineitem l
                    WHERE l.l_orderkey = o.o_orderkey AND l.l_extendedprice > 50000)
    """,
    "scalar_matrix": """
      SELECT o_orderkey,
             sha256(CAST(o_orderkey AS VARCHAR) || '|' || CAST(o_custkey AS VARCHAR)) AS surrogate,
             o_totalprice AS total_price,
             CASE WHEN o_orderstatus = 'F' THEN 'FULFILLED' ELSE 'PENDING' END AS status_label,
             COALESCE(o_orderpriority, 'N/A') AS priority,
             o_orderdate + INTERVAL 18 MINUTE AS approved_estimate,
             COALESCE(CASE o_orderpriority WHEN '1-URGENT' THEN 'urgent'
                      WHEN '2-HIGH' THEN 'high' END, 'normal') AS priority_class,
             UPPER(TRIM(o_orderstatus)) AS status_upper,
             CAST(LENGTH(o_orderpriority) AS INTEGER) AS priority_len,
             o_orderstatus || '|' || o_orderpriority AS status_concat,
             CAST(o_orderdate AS DATE) + 30 AS due_date,
             CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS order_year,
             CAST(EXTRACT(QUARTER FROM o_orderdate) AS INTEGER) AS order_quarter,
             o_totalprice * 0.1 AS fee,
             o_totalprice > 100000 AS is_large
      FROM orders
    """,
    "date_expr_join": """
      SELECT l_orderkey, l_linenumber,
             CAST(l_shipdate AS DATE) AS ship_day,
             COALESCE(od.orders_that_day, 0) AS orders_that_day
      FROM lineitem l
      LEFT JOIN (
        SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS orders_that_day
        FROM orders GROUP BY 1
      ) od ON CAST(l.l_shipdate AS DATE) = od.d
    """,
    "dedup_exact": """
      SELECT text, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      FROM documents GROUP BY text
    """,
    "dedup_fingerprint": """
      SELECT md5(array_to_string(list_sort(list_distinct(
               regexp_split_to_array(lower(trim(text, ' ')), '\\s+'))), ' ')) AS fingerprint,
             MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      FROM documents GROUP BY 1
    """,
    "jaccard_prefix_join": """
      WITH raw AS (
        SELECT doc_id,
               regexp_split_to_array(lower(trim(text, ' ')), '\\s+') AS t
        FROM documents
        WHERE text IS NOT NULL
      ),
      tok AS (
        -- 3-shingles of the raw token sequence (whole-doc fallback for
        -- short docs), deduplicated AFTER shingling — the operator's
        -- exact construction
        SELECT doc_id,
               CASE WHEN len(t) >= 3
                 THEN list_distinct(list_transform(range(1, len(t) - 1),
                                                   i -> array_to_string(t[i:i+2], ' ')))
                 ELSE [array_to_string(t, ' ')] END AS s
        FROM raw
      ),
      -- The oracle is deliberately NOT the engine's algorithm, but it
      -- is also not brute-force all-pairs (O(n²) list intersections
      -- grind at the sf1 sweep's 50k docs). Two engine-independent
      -- reductions keep it honest AND tractable:
      --   1. group docs by the LITERAL sorted set value — exact set
      --      equality, strictly stronger than the engine's 128-bit
      --      fingerprint collapse, so the collapse itself is checked;
      --   2. set-level candidates = distinct sets sharing AT LEAST ONE
      --      element — trivially complete (jaccard > 0 requires a
      --      shared element; no prefix lemma involved), a strict
      --      superset of the engine's prefix-filtered candidates.
      -- The full brute-force equivalence is additionally pinned by
      -- pytest (operator vs jaccard_pairs on the corpus; hypothesis vs
      -- a python brute force across thresholds/ngrams).
      sets AS (SELECT doc_id, list_sort(s) AS ss FROM tok),
      grp AS (SELECT ss, MIN(doc_id) AS gid FROM sets GROUP BY ss),
      mem AS (SELECT s2.doc_id AS id, g.gid FROM sets s2 JOIN grp g ON s2.ss = g.ss),
      gsz AS (SELECT gid, CAST(len(ss) AS BIGINT) AS sz FROM grp),
      el AS (SELECT gid, unnest(ss) AS e FROM grp),
      -- the element equi-join IS the intersection: elements are distinct
      -- within a set, so each shared element contributes exactly one
      -- (ga, gb) row and COUNT(*) per pair equals |A ∩ B| — no per-pair
      -- list_intersect over a 10⁸-candidate set
      cand AS (
        SELECT a.gid AS ga, b.gid AS gb, CAST(COUNT(*) AS BIGINT) AS nc
        FROM el a JOIN el b ON a.e = b.e AND a.gid < b.gid
        GROUP BY 1, 2
      ),
      spairs AS (
        SELECT c.ga, c.gb, a.sz AS sza, b.sz AS szb, c.nc
        FROM cand c
        JOIN gsz a ON a.gid = c.ga
        JOIN gsz b ON b.gid = c.gb
      ),
      vpairs AS (
        SELECT ga, gb, sza, szb, nc,
               (nc * 1000000) // (sza + szb - nc) AS ppm
        FROM spairs
        WHERE (nc * 1000000) // (sza + szb - nc) >= 800000
      ),
      cross_pairs AS (
        SELECT LEAST(ma.id, mb.id) AS id_a, GREATEST(ma.id, mb.id) AS id_b,
               CASE WHEN ma.id < mb.id THEN vp.sza ELSE vp.szb END AS size_a,
               CASE WHEN ma.id < mb.id THEN vp.szb ELSE vp.sza END AS size_b,
               vp.nc AS n_common, vp.ppm AS jaccard_ppm
        FROM vpairs vp
        JOIN mem ma ON ma.gid = vp.ga
        JOIN mem mb ON mb.gid = vp.gb
      ),
      within_pairs AS (
        SELECT ma.id AS id_a, mb.id AS id_b, g.sz AS size_a, g.sz AS size_b,
               g.sz AS n_common, CAST(1000000 AS BIGINT) AS jaccard_ppm
        FROM mem ma
        JOIN mem mb ON ma.gid = mb.gid AND ma.id < mb.id
        JOIN gsz g ON g.gid = ma.gid
      )
      SELECT * FROM cross_pairs UNION ALL SELECT * FROM within_pairs
    """,
    "dedup_jaccard": """
      WITH tok AS (
        SELECT doc_id, list_distinct(regexp_split_to_array(lower(trim(text, ' ')), '\\s+')) AS s
        FROM documents WHERE doc_id < 300
      ),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                     / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE), 6) AS jaccard
        FROM tok a JOIN tok b ON a.doc_id < b.doc_id
      )
      SELECT * FROM pairs WHERE jaccard >= 0.8
    """,
    "top_ngrams": """
      WITH toks AS (
        SELECT regexp_split_to_array(lower(trim(text, ' ')), '\\s+') AS s FROM documents
      ),
      grams AS (
        SELECT unnest(CASE WHEN len(s) >= 2
          THEN list_transform(range(1, len(s)), i -> array_to_string(s[i:i+1], ' '))
          ELSE [array_to_string(s, ' ')] END) AS ngram
        FROM toks
      )
      SELECT ngram, CAST(COUNT(*) AS BIGINT) AS freq FROM grams GROUP BY ngram
      ORDER BY freq DESC, ngram LIMIT 50
    """,
    "tf_idf": """
      WITH term_rows AS (
        SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text, ' ')), '\\s+')) AS term
        FROM documents WHERE doc_id < 200
      ),
      tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
             FROM term_rows GROUP BY doc_id, term),
      dft AS (SELECT term, COUNT(DISTINCT doc_id) AS df_t FROM term_rows GROUP BY term),
      n AS (SELECT COUNT(*) AS n_docs FROM documents WHERE doc_id < 200)
      SELECT tf.doc_id, tf.term, tf.tf,
             round(tf.tf * ln(CAST(n_docs AS DOUBLE) / df_t), 6) AS tf_idf
      FROM tf JOIN dft USING (term) CROSS JOIN n
      WHERE tf.doc_id < 50
    """,
    "deterministic_sample": """
      SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      WHERE substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) IN ('0', '1')
    """,
    "text_analysis": f"""
      WITH base AS (
        SELECT doc_id, text,
               list_distinct(regexp_split_to_array(lower(trim(text, ' ')), '\\s+')) AS toks,
               CAST(length(text) AS DOUBLE) AS n_chars,
               CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha_chars
        FROM documents
      ),
      scored AS (
        SELECT doc_id, text, toks, n_chars, alpha_chars,
               CAST(len(toks) AS DOUBLE) AS n_tokens,
               {_LANG_SCORE_SQL},
               CAST(len(list_intersect(toks, ['the','and','of','to','a','in','is','it','that','for'])) AS DOUBLE) AS stop_hits
        FROM base
      )
      SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(text, ' '), '\\s+')) AS INTEGER) AS ws_tokens,
             CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INTEGER) AS bpe_tokens,
             {_PRED_LANG_CASE_SQL} AS predicted_lang,
             round(0.4 * least(1.0, n_chars / 500.0)
                 + 0.3 * least(1.0, (stop_hits / greatest(n_tokens, 1.0)) * 5.0)
                 + 0.3 * (alpha_chars / greatest(n_chars, 1.0)), 6) AS quality_score,
             md5(array_to_string(list_sort(toks), ' ')) AS fingerprint
      FROM scored
    """,
    "ann_topk": """
      WITH t AS (SELECT vec_id, embedding AS e FROM embeddings),
      pairs AS (
        SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
               round(list_sum(list_transform(range(1, 65), i -> q.e[i]::DOUBLE * c.e[i]::DOUBLE))
                 / (sqrt(list_sum(list_transform(range(1, 65), i -> q.e[i]::DOUBLE * q.e[i]::DOUBLE)))
                  * sqrt(list_sum(list_transform(range(1, 65), i -> c.e[i]::DOUBLE * c.e[i]::DOUBLE)))), 6) AS cosine
        FROM t q JOIN t c ON q.vec_id != c.vec_id
        WHERE q.vec_id < 100
      )
      SELECT query_id, nbr_id, cosine, CAST(rank AS INTEGER) AS rank FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, nbr_id) AS rank
        FROM pairs
      ) r WHERE rank <= 3
    """,
    "embedding_dup_pairs": """
      WITH t AS (SELECT vec_id, embedding AS e FROM embeddings WHERE vec_id < 200),
      pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_sum(list_transform(range(1, 65), i -> a.e[i]::DOUBLE * b.e[i]::DOUBLE))
                 / (sqrt(list_sum(list_transform(range(1, 65), i -> a.e[i]::DOUBLE * a.e[i]::DOUBLE)))
                  * sqrt(list_sum(list_transform(range(1, 65), i -> b.e[i]::DOUBLE * b.e[i]::DOUBLE)))), 6) AS cosine
        FROM t a JOIN t b ON a.vec_id < b.vec_id
      )
      SELECT * FROM pairs WHERE cosine >= 0.4
    """,
    "multimodal_decode": """
      WITH d AS (
        SELECT doc_id,
               abs(doc_id) % 2 AS is_png,
               abs(doc_id) % 31 + 2 AS w,
               (abs(doc_id) * 7) % 13 + 2 AS h
        FROM documents
      )
      SELECT doc_id,
             CAST(CASE WHEN doc_id IS NULL THEN NULL
                  WHEN is_png = 1 THEN 68 + h * (3 * w + 1)
                  ELSE 54 + ((w * 3 + 3) // 4 * 4) * h END AS INTEGER) AS n_bytes,
             CASE WHEN doc_id IS NULL THEN NULL
                  WHEN is_png = 1 THEN 'image/png'
                  ELSE 'image/bmp' END AS format,
             CAST(w AS INTEGER) AS width,
             CAST(h AS INTEGER) AS height,
             CAST(CASE WHEN doc_id IS NULL THEN NULL ELSE 3 END AS INTEGER) AS channels,
             CAST(CASE WHEN doc_id IS NULL THEN NULL ELSE
               list_sum(list_transform(range(0, w * h * 3), idx ->
                 (abs(doc_id) + 3 * ((idx // 3) % w)
                  + 7 * (idx // (3 * w)) + 11 * (idx % 3)) % 256))
             END AS BIGINT) AS pixel_sum
      FROM d
    """,
    "multimodal_resize": """
      WITH b AS (SELECT doc_id, octet_length(encode(text)) AS n FROM documents),
      d AS (SELECT doc_id, (n % 640) + 16 AS w, ((n // 7) % 480) + 16 AS h FROM b),
      m AS (SELECT *, greatest(w, h) AS mx FROM d),
      r AS (
        SELECT doc_id, w, h,
               CASE WHEN mx > 256 THEN w * 256 // mx ELSE w END AS rw,
               CASE WHEN mx > 256 THEN h * 256 // mx ELSE h END AS rh
        FROM m
      )
      SELECT doc_id,
             CAST(w AS INTEGER) AS width,
             CAST(h AS INTEGER) AS height,
             CAST(rw AS INTEGER) AS resized_width,
             CAST(rh AS INTEGER) AS resized_height,
             CAST(rw * rh * 3 AS INTEGER) AS resized_bytes
      FROM r
    """,
    "multimodal_frames": """
      WITH b AS (
        SELECT doc_id, octet_length(encode(text)) AS n FROM documents WHERE doc_id < 100
      ),
      f AS (SELECT doc_id, n, n // 1024 + 1 AS n_frames FROM b)
      SELECT doc_id,
             CAST(n AS INTEGER) AS n_bytes,
             CAST(n_frames AS INTEGER) AS n_frames,
             CAST(u AS INTEGER) AS frame_index,
             CAST(u * 1024 AS INTEGER) AS frame_offset
      FROM f, unnest(range(0, n_frames)) AS t(u)
    """,
    "audio_decode": """
      WITH p AS (
        SELECT doc_id,
               512 + (doc_id % 7) * 64 AS n_samples,
               1 + doc_id % 2 AS channels,
               8000 * (1 + doc_id % 3) AS sample_rate
        FROM documents
      )
      SELECT doc_id,
             CAST(44 + n_samples * channels * 2 AS INTEGER) AS n_bytes,
             CAST(sample_rate AS INTEGER) AS sample_rate,
             CAST(channels AS INTEGER) AS channels,
             CAST(n_samples AS INTEGER) AS n_samples,
             CAST(list_sum(list_transform(range(0, n_samples * channels),
               i -> ((doc_id * 31 + i * 17) % 65536 - 32768)
                  * ((doc_id * 31 + i * 17) % 65536 - 32768))) AS BIGINT) AS energy
      FROM p
    """,
    "audio_window_energy": """
      WITH p AS (
        SELECT doc_id,
               (512 + (doc_id % 7) * 64) * (1 + doc_id % 2) AS total
        FROM documents
      ),
      w AS (
        SELECT doc_id, total,
               CAST(u AS INTEGER) AS window_index,
               u * 128 AS lo,
               least((u + 1) * 128, total) AS hi
        FROM p, unnest(range(0, (total + 127) // 128)) AS t(u)
      )
      SELECT doc_id, window_index,
             CAST(hi - lo AS INTEGER) AS n_in_window,
             CAST(list_sum(list_transform(range(lo, hi),
               i -> ((doc_id * 31 + i * 17) % 65536 - 32768)
                  * ((doc_id * 31 + i * 17) % 65536 - 32768))) AS BIGINT) AS energy
      FROM w
    """,
    "video_decode": """
      WITH p AS (
        SELECT doc_id,
               8 + (doc_id % 5) * 4 AS w,
               6 + (doc_id % 3) * 4 AS h,
               24 + doc_id % 6 AS fps,
               3 + doc_id % 4 AS n
        FROM documents
      )
      SELECT doc_id,
             CAST(length('YUV4MPEG2 W' || CAST(w AS VARCHAR)
                    || ' H' || CAST(h AS VARCHAR)
                    || ' F' || CAST(fps AS VARCHAR)
                    || ':1 Ip A1:1 C420jpeg') + 1
                  + n * (6 + (w * h * 3) // 2) AS INTEGER) AS n_bytes,
             CAST(w AS INTEGER) AS width,
             CAST(h AS INTEGER) AS height,
             CAST(fps AS INTEGER) AS fps_num,
             CAST(1 AS INTEGER) AS fps_den,
             CAST(n AS INTEGER) AS n_frames,
             CAST(list_sum(list_transform(range(0, n), f ->
               list_sum(list_transform(range(0, w * h),
                 i -> (doc_id + 13 * f + 5 * i) % 256)))) AS BIGINT) AS luma_sum
      FROM p
    """,
    "video_frame_sample": """
      WITH p AS (
        SELECT doc_id,
               8 + (doc_id % 5) * 4 AS w,
               6 + (doc_id % 3) * 4 AS h,
               3 + doc_id % 4 AS n
        FROM documents
      ),
      f AS (
        SELECT doc_id, w, h, CAST(u AS INTEGER) AS frame_index
        FROM p, unnest(range(0, n)) AS t(u)
        WHERE u % 2 = 0
      ),
      s AS (
        SELECT doc_id, frame_index, w, h,
               list_sum(list_transform(range(0, w * h),
                 i -> (doc_id + 13 * frame_index + 5 * i) % 256)) AS luma
        FROM f
      )
      SELECT doc_id, frame_index,
             CAST(luma AS BIGINT) AS luma_sum,
             CAST(luma // (w * h) AS BIGINT) AS luma_mean
      FROM s
    """,
    "video_scene_cuts": """
      WITH p AS (
        SELECT doc_id,
               8 + (doc_id % 5) * 4 AS w,
               6 + (doc_id % 3) * 4 AS h,
               3 + doc_id % 4 AS n
        FROM documents
      ),
      pairs AS (
        SELECT doc_id, w, h, CAST(u AS INTEGER) AS frame_a
        FROM p, unnest(range(0, n - 1)) AS t(u)
      ),
      s AS (
        SELECT doc_id, frame_a, w, h,
               list_sum(list_transform(range(0, w * h), i ->
                 CASE WHEN (doc_id + 13 * frame_a + 5 * i) % 256 <= 242
                      THEN 13 ELSE 243 END)) AS sad
        FROM pairs
      )
      SELECT doc_id, frame_a,
             CAST(sad AS BIGINT) AS sad,
             CAST((1000 * sad) // (w * h) AS BIGINT) AS mad_milli,
             (1000 * sad) // (w * h) >= 24700 AS is_cut
      FROM s
    """,
    "media_decode": """
      WITH p AS (
        SELECT doc_id, doc_id % 4 AS m,
               doc_id % 31 + 2 AS iw, (doc_id * 7) % 13 + 2 AS ih,
               512 + (doc_id % 7) * 64 AS asamp,
               1 + doc_id % 2 AS ach,
               8000 * (1 + doc_id % 3) AS arate,
               8 + (doc_id % 5) * 4 AS vw, 6 + (doc_id % 3) * 4 AS vh,
               24 + doc_id % 6 AS vfps, 3 + doc_id % 4 AS vn
        FROM documents
      )
      SELECT doc_id,
        CAST(CASE m
          WHEN 0 THEN 54 + ((iw * 3 + 3) // 4 * 4) * ih
          WHEN 1 THEN 68 + ih * (3 * iw + 1)
          WHEN 2 THEN 44 + asamp * ach * 2
          ELSE length('YUV4MPEG2 W' || CAST(vw AS VARCHAR)
                 || ' H' || CAST(vh AS VARCHAR)
                 || ' F' || CAST(vfps AS VARCHAR)
                 || ':1 Ip A1:1 C420jpeg') + 1 + vn * (6 + (vw * vh * 3) // 2)
        END AS INTEGER) AS n_bytes,
        CASE m WHEN 0 THEN 'image/bmp' WHEN 1 THEN 'image/png'
               WHEN 2 THEN 'audio/wav' ELSE 'video/y4m' END AS format,
        CAST(CASE WHEN m IN (0, 1) THEN iw WHEN m = 3 THEN vw END AS INTEGER) AS width,
        CAST(CASE WHEN m IN (0, 1) THEN ih WHEN m = 3 THEN vh END AS INTEGER) AS height,
        CAST(CASE WHEN m IN (0, 1) THEN 3 WHEN m = 2 THEN ach END AS INTEGER) AS channels,
        CAST(CASE WHEN m IN (0, 1) THEN
          list_sum(list_transform(range(0, iw * ih * 3), idx ->
            (doc_id + 3 * ((idx // 3) % iw) + 7 * (idx // (3 * iw))
             + 11 * (idx % 3)) % 256))
        END AS BIGINT) AS pixel_sum,
        CAST(CASE WHEN m = 2 THEN arate END AS INTEGER) AS sample_rate,
        CAST(CASE WHEN m = 2 THEN asamp END AS INTEGER) AS n_samples,
        CAST(CASE WHEN m = 2 THEN
          list_sum(list_transform(range(0, asamp * ach),
            i -> ((doc_id * 31 + i * 17) % 65536 - 32768)
               * ((doc_id * 31 + i * 17) % 65536 - 32768)))
        END AS BIGINT) AS energy,
        CAST(CASE WHEN m = 3 THEN vfps END AS INTEGER) AS fps_num,
        CAST(CASE WHEN m = 3 THEN vn END AS INTEGER) AS n_frames,
        CAST(CASE WHEN m = 3 THEN
          list_sum(list_transform(range(0, vn), f ->
            list_sum(list_transform(range(0, vw * vh),
              i -> (doc_id + 13 * f + 5 * i) % 256))))
        END AS BIGINT) AS luma_sum
      FROM p
    """,
    "streaming_window_agg": """
      SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
             time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR AS window_end,
             event_type,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
      FROM events
      GROUP BY 1, 2, 3
    """,
    "streaming_sliding_agg": """
      WITH ev AS (
        SELECT time_bucket(INTERVAL 30 MINUTE, ts) - (o * INTERVAL 30 MINUTE) AS window_start,
               event_type, value
        FROM events, unnest([0, 1]) AS t(o)
      )
      SELECT window_start,
             window_start + INTERVAL 1 HOUR AS window_end,
             event_type,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
      FROM ev
      GROUP BY 1, 2, 3
    """,
    "streaming_sessionize": """
      WITH marked AS (
        SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                      OR ts >= lag(ts) OVER w + INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS brk
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
      ),
      grp AS (
        SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS g
        FROM marked
      )
      SELECT MIN(ts) AS session_start,
             MAX(ts) + INTERVAL 30 MINUTE AS session_end,
             user_id,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS session_value
      FROM grp GROUP BY user_id, g
    """,
    "streaming_dedup": """
      SELECT DISTINCT user_id, event_type FROM events
    """,
    "streaming_running_totals": """
      SELECT user_id, event_id, ts,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS running_value,
             CAST(COUNT(*) OVER w AS BIGINT) AS running_events
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING)
    """,
    # identical contract, twin paths: the oracle is shared by design
    "running_totals_window": """
      SELECT user_id, event_id, ts,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS running_value,
             CAST(COUNT(*) OVER w AS BIGINT) AS running_events
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING)
    """,
    "topk_orders": """
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 10
    """,
    "asof_join": """
      WITH per_day AS (
        SELECT o_custkey AS user_id, o_orderdate AS order_ts,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               MAX(o_totalprice) AS max_order_price
        FROM orders GROUP BY 1, 2
      )
      SELECT e.event_id, e.user_id, e.ts, r.n_orders, r.max_order_price
      FROM events e
      ASOF LEFT JOIN per_day r
        ON e.user_id = r.user_id AND e.ts >= r.order_ts
    """,
    "range_join": """
      SELECT a.user_id, a.event_id AS src_event, b.event_id AS dst_event,
             a.ts AS src_ts, b.ts AS dst_ts
      FROM events a
      JOIN events b
        ON a.user_id = b.user_id
       AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
       AND a.event_id != b.event_id
    """,
    "pivot_status": """
      SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS order_year,
             CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS n_o,
             CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_f,
             CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS n_p
      FROM orders GROUP BY 1
    """,
    "set_ops": """
      SELECT id, 'active_with_orders' AS kind FROM (
        SELECT user_id AS id FROM events
        INTERSECT
        SELECT o_custkey FROM orders
      )
      UNION ALL
      SELECT id, 'no_orders' AS kind FROM (
        SELECT c_custkey AS id FROM customer
        EXCEPT
        SELECT o_custkey FROM orders
      )
    """,
    "ntile_window": """
      SELECT o_orderkey, o_orderstatus, o_totalprice,
             CAST(NTILE(4) OVER (PARTITION BY o_orderstatus
                                 ORDER BY o_totalprice DESC, o_orderkey)
                  AS INTEGER) AS value_quartile
      FROM orders
    """,
    "stat_aggregates": """
      SELECT l_returnflag,
             COUNT(*) AS n,
             ROUND(stddev_samp(l_quantity), 6) AS qty_stddev,
             ROUND(var_samp(l_quantity), 6) AS qty_var,
             ROUND(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
             ROUND(covar_samp(l_quantity, l_extendedprice), 6) AS qty_price_covar,
             ROUND(quantile_cont(l_extendedprice, 0.5), 6) AS price_median,
             ROUND(quantile_cont(l_extendedprice, 0.9), 6) AS price_p90
      FROM lineitem
      GROUP BY l_returnflag
    """,
    "array_functions": """
      WITH t AS (
        SELECT l_orderkey, CAST(l_linenumber AS INTEGER) AS l_linenumber,
               range(1, CAST(l_linenumber AS INTEGER) + 1) AS seq
        FROM lineitem WHERE l_orderkey < 2000
      )
      SELECT l_orderkey, l_linenumber,
             array_to_string(seq, ',') AS seq,
             array_to_string(list_transform(seq, x -> x * 2), ',') AS doubled,
             COALESCE(array_to_string(list_filter(seq, x -> x % 2 = 0), ','), '') AS evens,
             CAST(list_sum(seq) AS INTEGER) AS seq_sum,
             array_to_string(list_slice(list_reverse(seq), 1, 2), ',') AS last_two_desc,
             list_contains(seq, 3) AS has_three,
             CAST(len(seq) AS INTEGER) AS seq_len
      FROM t
    """,
    "window_frames": """
      SELECT o_orderkey, o_custkey, o_totalprice,
             lag(o_totalprice) OVER w AS prev_price,
             lead(o_totalprice) OVER w AS next_price,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                  OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                        ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total,
             CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                  OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                        ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
                  / COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
                  AS DOUBLE) AS moving_avg3,
             COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
                            RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW) AS n_within_1000
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    "cube_sales": """
      SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS order_year,
             o_orderstatus,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
             CAST(GROUPING(EXTRACT(YEAR FROM o_orderdate)) * 2
                  + GROUPING(o_orderstatus) AS INTEGER) AS gid
      FROM orders
      GROUP BY CUBE(EXTRACT(YEAR FROM o_orderdate), o_orderstatus)
    """,
    "grouping_sets": """
      SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS order_year,
             o_orderstatus,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
             CAST(GROUPING(EXTRACT(YEAR FROM o_orderdate)) * 2
                  + GROUPING(o_orderstatus) AS INTEGER) AS gid
      FROM orders
      GROUP BY GROUPING SETS ((EXTRACT(YEAR FROM o_orderdate)), (o_orderstatus))
    """,
    "anti_join": """
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders o
      WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
    """,
    "cross_join": """
      SELECT r_regionkey, r_name, status
      FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus AS status FROM orders) s
    """,
    "scalar_subquery": """
      SELECT o_orderkey, o_totalprice, global_avg
      FROM orders CROSS JOIN (
        SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS global_avg
        FROM orders
      ) g
      WHERE o_totalprice > global_avg
    """,
    "explode_tokens": """
      SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos, s[i] AS token
      FROM (
        SELECT doc_id, list_sort(list_distinct(regexp_split_to_array(lower(trim(text, ' ')), '\\s+'))) AS s
        FROM documents WHERE doc_id < 50
      ) t, unnest(range(1, len(s) + 1)) AS u(i)
    """,
    "string_funcs": """
      SELECT p_partkey,
             regexp_extract(p_name, '([a-z]+)', 1) AS first_word,
             substring(p_name, 1, 5) AS prefix5,
             array_to_string(string_split(p_name, ' '), '_') AS snake_name,
             lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
             reverse(p_brand) AS brand_rev,
             CAST(strpos(p_name, 'a') AS INTEGER) AS first_a,
             CAST(levenshtein(p_brand, p_type) AS INTEGER) AS brand_type_dist
      FROM part
    """,
    "skew_salted_join": """
      SELECT l.l_orderkey AS okey, l.l_linenumber, l.l_extendedprice, o.o_totalprice
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    """,
    "merge_upsert": """
      SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 10 != 0
      UNION ALL
      SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus, o_totalprice + 100.0 AS o_totalprice,
             o_orderdate, o_orderpriority
      FROM orders WHERE o_orderkey % 10 = 0
    """,
    "scd2_customers": """
      SELECT c_custkey, c_name, c_mktsegment,
             TIMESTAMP '1995-01-01' AS valid_from,
             CAST(NULL AS TIMESTAMP) AS valid_to,
             TRUE AS is_current
      FROM customer WHERE c_custkey % 7 != 0
      UNION ALL
      SELECT c_custkey, c_name, c_mktsegment,
             TIMESTAMP '1995-01-01', TIMESTAMP '1996-06-01', FALSE
      FROM customer WHERE c_custkey % 7 = 0
      UNION ALL
      SELECT c_custkey, c_name, 'MOVED',
             TIMESTAMP '1996-06-01', CAST(NULL AS TIMESTAMP), TRUE
      FROM customer WHERE c_custkey % 7 = 0
    """,
    "json_extract": """
      SELECT o_orderkey,
             json_extract_string(j, '$.o_orderstatus') AS status_json,
             json_extract_string(j, '$.o_orderpriority') AS priority_json,
             CAST(json_extract(j, '$.o_orderkey') AS BIGINT) AS key_roundtrip
      FROM (
        SELECT o_orderkey,
               to_json(struct_pack(o_orderkey := o_orderkey,
                                   o_orderstatus := o_orderstatus,
                                   o_orderpriority := o_orderpriority)) AS j
        FROM orders
      ) t
    """,
    "rollup_sales": """
      SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS order_year,
             o_orderstatus,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
             CAST(GROUPING(EXTRACT(YEAR FROM o_orderdate)) * 2
                  + GROUPING(o_orderstatus) AS INTEGER) AS gid
      FROM orders
      GROUP BY ROLLUP(EXTRACT(YEAR FROM o_orderdate), o_orderstatus)
    """,
}

# The filter chain is the text-analysis projection + predicates, so its oracle
# wraps the same SQL (one definition, no drift between the two).
ORACLES["quality_filter"] = (
    f"SELECT * FROM ({ORACLES['text_analysis']}) t "
    "WHERE quality_score >= 0.5 AND predicted_lang = 'en'"
)

ORACLES["ann_topk_np"] = ORACLES["ann_topk"]

ORACLES["sessionize_batch"] = """
    WITH seq AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR date_diff('microsecond', lag(ts) OVER w, ts) > 1800000000
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    tagged AS (
      SELECT user_id, ts, value,
             CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  AS BIGINT) AS session_seq
      FROM seq
    )
    SELECT user_id, session_seq,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS session_value
    FROM tagged GROUP BY user_id, session_seq
"""

# The split-and-stitch form computes the identical session contract, so it
# shares the window form's oracle verbatim (operators/sessionize.py carries
# the equivalence argument).
ORACLES["sessionize_batch_split"] = ORACLES["sessionize_batch"]

ORACLES["bpe_merges"] = _bpe_merges_oracle()
ORACLES["bpe_encode"] = _bpe_encode_oracle()

_BM25_TERMS_SQL = ", ".join(f"('{t}')" for t in _BM25_TERMS)
ORACLES["bm25_rank"] = f"""
  WITH base AS MATERIALIZED (
    SELECT doc_id,
           regexp_split_to_array(lower(trim(text, ' ')), '\\s+') AS toks
    FROM documents WHERE text IS NOT NULL
  ),
  sized AS MATERIALIZED (SELECT doc_id, toks, len(toks) AS dl FROM base),
  q(term) AS (VALUES {_BM25_TERMS_SQL}),
  per_term AS MATERIALIZED (
    SELECT doc_id, dl, term,
           len(list_filter(toks, x -> x = term)) AS tf
    FROM sized CROSS JOIN q
  ),
  hits AS MATERIALIZED (SELECT * FROM per_term WHERE tf > 0),
  stats AS MATERIALIZED (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CAST(dl AS BIGINT)) AS BIGINT) AS sum_dl
    FROM sized
  ),
  dfreq AS MATERIALIZED (
    SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM hits GROUP BY term
  ),
  contrib AS (
    SELECT h.doc_id,
           CAST(FLOOR(
             1000000.0
             * LN((CAST(s.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5)
                  / (CAST(d.df AS DOUBLE) + 0.5) + 1.0)
             * (CAST(h.tf AS DOUBLE) * 2.2)
             / (CAST(h.tf AS DOUBLE)
                + 1.2 * (0.25 + (0.75 * CAST(h.dl AS DOUBLE))
                                / (CAST(s.sum_dl AS DOUBLE)
                                   / CAST(s.n_docs AS DOUBLE))))
           ) AS BIGINT) AS c_micro
    FROM hits h JOIN dfreq d USING (term) CROSS JOIN stats s
  )
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_hit_terms,
         CAST(SUM(c_micro) AS BIGINT) AS score_micro
  FROM contrib GROUP BY doc_id
  ORDER BY score_micro DESC, doc_id ASC
  LIMIT 50
"""

ORACLES["gap_fill_ffill"] = """
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             SUM(CAST(value AS DECIMAL(18,6))) AS day_value_dec
      FROM events GROUP BY 1, 2
    ),
    span AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1),
    cal AS (
      SELECT user_id,
             CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
      FROM span
    )
    SELECT c.user_id, c.day,
           d.day_value_dec IS NOT NULL AS is_observed,
           CAST(last_value(d.day_value_dec IGNORE NULLS) OVER (
                  PARTITION BY c.user_id ORDER BY c.day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS day_value_ffill
    FROM cal c LEFT JOIN daily d ON c.user_id = d.user_id AND c.day = d.day
"""

ORACLES["rank_matrix"] = """
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           CAST(dense_rank() OVER w AS INTEGER) AS price_dense_rank,
           percent_rank() OVER w AS price_percent_rank,
           cume_dist() OVER w AS price_cume_dist,
           first_value(o_totalprice) OVER w AS status_min_price,
           nth_value(o_totalprice, 3) OVER (
             PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS status_third_price
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
"""

ORACLES["not_in_subquery"] = """
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders
    WHERE o_orderkey NOT IN (
      SELECT l_orderkey FROM lineitem WHERE l_quantity >= 45
    )
"""

ORACLES["union_by_name"] = """
    SELECT user_id, value AS metric, event_type AS kind, 'events' AS src
    FROM events WHERE event_type = 'purchase'
    UNION ALL BY NAME
    SELECT o_custkey AS user_id, o_totalprice AS metric,
           o_orderstatus AS status, 'orders' AS src
    FROM orders
"""

ORACLES["histogram_bins"] = """
    WITH s AS (SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM orders)
    SELECT CAST(LEAST(FLOOR((o_totalprice - lo) / ((hi - lo) / CAST(20 AS DOUBLE))),
                      CAST(19 AS DOUBLE)) AS INTEGER) AS bin,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS bin_value
    FROM orders, s
    GROUP BY 1
"""

ORACLES["snapshot_diff"] = """
    WITH new_snap AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 13 = 0 THEN c_acctbal + 10.0
                  ELSE c_acctbal END AS c_acctbal
      FROM customer WHERE c_custkey % 97 <> 0
      UNION ALL
      SELECT c_custkey + 1000000 AS c_custkey, c_acctbal
      FROM customer WHERE c_custkey % 101 = 0
    )
    SELECT COALESCE(o.c_custkey, n.c_custkey) AS c_custkey,
           CASE WHEN o.c_custkey IS NULL THEN 'insert'
                WHEN n.c_custkey IS NULL THEN 'delete'
                WHEN o.c_acctbal IS DISTINCT FROM n.c_acctbal THEN 'update'
           END AS change_type
    FROM customer o
    FULL OUTER JOIN new_snap n ON o.c_custkey = n.c_custkey
    WHERE CASE WHEN o.c_custkey IS NULL THEN 'insert'
               WHEN n.c_custkey IS NULL THEN 'delete'
               WHEN o.c_acctbal IS DISTINCT FROM n.c_acctbal THEN 'update'
          END IS NOT NULL
"""

ORACLES["correlated_subquery"] = """
    SELECT o.o_orderkey, o.o_totalprice,
           (SELECT MAX(l.l_shipdate) FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey) AS last_shipdate
    FROM orders o
"""

ORACLES["group_normalize"] = """
    SELECT event_id, event_type, value,
           CASE WHEN MAX(value) OVER w = MIN(value) OVER w THEN 0.0
                ELSE (value - MIN(value) OVER w)
                     / (MAX(value) OVER w - MIN(value) OVER w) END AS normalized
    FROM events
    WHERE event_type IS NOT NULL AND value IS NOT NULL
    WINDOW w AS (PARTITION BY event_type)
"""

# Connected components via transitive closure (recursive CTE) — tractable at
# oracle scale because near-dup components are small; the Spark side uses
# star contraction instead, which is the 100 TB path.
ORACLES["dedup_components"] = """
    WITH RECURSIVE tok AS (
      SELECT doc_id, list_distinct(regexp_split_to_array(lower(trim(text, ' ')), '\\s+')) AS s
      FROM documents WHERE doc_id < 300
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM tok a JOIN tok b ON a.doc_id < b.doc_id
      WHERE round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                  / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE), 6) >= 0.8
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b, id_a FROM pairs
    ),
    reach(node, other) AS (
      SELECT doc_id, doc_id FROM documents WHERE doc_id < 300
      UNION
      SELECT r.node, e.dst FROM reach r JOIN edges e ON e.src = r.other
    )
    SELECT node AS doc_id,
           MIN(other) AS component_id,
           MIN(other) = node AS is_canonical
    FROM reach GROUP BY node
"""

ORACLES["streaming_stream_join"] = """
    SELECT p.event_id AS purchase_id, p.user_id,
           p.ts AS purchase_ts,
           c.event_id AS click_id, c.ts AS click_ts,
           date_diff('microsecond', c.ts, p.ts) AS gap_us
    FROM events p
    JOIN events c
      ON p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.user_id = p.user_id
     AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
"""

ORACLES["incremental_agg"] = """
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_rows,
           COUNT(l_extendedprice) AS n_values,
           MIN(l_extendedprice) AS min_value,
           MAX(l_extendedprice) AS max_value,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_value_d,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
             / COUNT(l_extendedprice) AS avg_value
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
"""

ORACLES["group_topk"] = """
    SELECT c_nationkey, rank_in_nation, c_custkey, c_name, c_acctbal
    FROM (
      SELECT c_nationkey, c_custkey, c_name, c_acctbal,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY c_nationkey
               ORDER BY c_acctbal DESC, c_custkey
             ) AS INTEGER) AS rank_in_nation
      FROM customer
    ) r WHERE rank_in_nation <= 5
"""

ORACLES["stratified_sample"] = """
    SELECT o_orderkey, o_orderstatus, o_custkey, o_totalprice
    FROM orders
    WHERE CASE
      WHEN o_orderstatus = 'F' THEN substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) IN ('0','1','2','3')
      WHEN o_orderstatus = 'O' THEN substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) IN ('0','1')
      ELSE TRUE END
"""

ORACLES["exists_subquery"] = """
    SELECT c.c_custkey, c.c_name, c.c_acctbal
    FROM customer c
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey
        AND o.o_orderpriority = '1-URGENT'
        AND o.o_totalprice > c.c_acctbal
    )
"""

ORACLES["streaming_distinct_users"] = """
    SELECT b AS window_start,
           b + INTERVAL 1 HOUR AS window_end,
           event_type,
           COUNT(*) AS distinct_users
    FROM (
      SELECT DISTINCT date_trunc('hour', ts) AS b, user_id, event_type
      FROM events WHERE ts IS NOT NULL
    ) d
    GROUP BY b, event_type
"""

ORACLES["unpivot_metrics"] = """
    SELECT p_partkey, metric, metric_value
    FROM (
      SELECT p_partkey,
             CAST(p_size AS DOUBLE) AS size,
             CAST(p_retailprice AS DOUBLE) AS retailprice
      FROM part
    ) w
    UNPIVOT (metric_value FOR metric IN (size, retailprice))
"""

ORACLES["heavy_hitters"] = """
    WITH toks AS (
      SELECT unnest(regexp_split_to_array(lower(trim(text, ' ')), '\\s+')) AS token
      FROM documents
    ),
    t AS (SELECT token FROM toks WHERE token <> '')
    SELECT token, COUNT(*) AS freq
    FROM t
    GROUP BY token
    HAVING COUNT(*) > (SELECT COUNT(*) FROM t) / 60.0
"""

# cms_topk: replay the 4×2048 count-min sketch cell-for-cell — the same
# 60-md5-bit hash family as the bloom filter ('0x' + 15 hex digits casts
# to BIGINT), build via GROUP BY (row, cell), probe via min-over-rows.
ORACLES["cms_topk"] = """
    WITH toks AS (
      SELECT unnest(regexp_split_to_array(lower(trim(text, ' ')), '\\s+')) AS token
      FROM documents
    ),
    t AS (SELECT token FROM toks WHERE token <> ''),
    rows_d AS (SELECT unnest([1, 2, 3, 4]) AS cms_row),
    cells AS (
      SELECT cms_row,
             ('0x' || substr(md5(token || '#' || cms_row), 1, 15))::BIGINT % 2048 AS cms_cell,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM t CROSS JOIN rows_d
      GROUP BY 1, 2
    ),
    top AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_freq
      FROM t GROUP BY token
      ORDER BY exact_freq DESC, token
      LIMIT 25
    ),
    est AS (
      SELECT tp.token, tp.exact_freq, MIN(c.cnt) AS cms_est
      FROM top tp
      CROSS JOIN rows_d d
      JOIN cells c
        ON c.cms_row = d.cms_row
       AND c.cms_cell = ('0x' || substr(md5(tp.token || '#' || d.cms_row), 1, 15))::BIGINT % 2048
      GROUP BY tp.token, tp.exact_freq
    )
    SELECT token, exact_freq, cms_est,
           ((cms_est - exact_freq) * 1000000) // exact_freq AS over_ppm
    FROM est
"""

ORACLES["embedding_centroids"] = """
    WITH ex AS (
      SELECT label,
             unnest(list_apply(range(len(embedding)),
                               i -> {'dim': i, 'e': embedding[i + 1]})) AS u
      FROM embeddings
    )
    SELECT label, CAST(u.dim AS INTEGER) AS dim,
           round(CAST(SUM(CAST(CAST(u.e AS DOUBLE) AS DECIMAL(28,12))) AS DOUBLE)
                 / COUNT(*), 6) AS centroid,
           COUNT(*) AS n_vectors
    FROM ex
    GROUP BY label, u.dim
"""

ORACLES["full_outer_join"] = """
    WITH o AS (SELECT o_custkey AS custkey, COUNT(*) AS n_orders FROM orders GROUP BY o_custkey),
         e AS (SELECT user_id AS custkey, COUNT(*) AS n_events FROM events GROUP BY user_id)
    SELECT COALESCE(o.custkey, e.custkey) AS custkey, o.n_orders, e.n_events
    FROM o FULL OUTER JOIN e ON o.custkey = e.custkey
"""

ORACLES["pii_scrub"] = """
    WITH dirty AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or +1555'
                  || lpad(CAST(doc_id AS VARCHAR), 7, '0') || ' at 10.0.'
                  || CAST(doc_id % 256 AS VARCHAR) || '.1' AS d
      FROM documents WHERE doc_id < 500
    ),
    scrubbed AS (
      SELECT doc_id, d,
             regexp_replace(
               regexp_replace(
                 regexp_replace(d, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                 '\\+[0-9]{7,15}', '<PHONE>', 'g'),
               '\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b', '<IP>', 'g') AS c
      FROM dirty
    )
    SELECT doc_id, c AS clean_text, length(d) - length(c) AS chars_redacted
    FROM scrubbed
"""

# Approximation queries: the oracle checks the exact-side values AND expects
# every in-query error-bound flag to be TRUE — the sketch's guarantee is part
# of the verified contract, not a rows-only shrug.
ORACLES["sketch_distinct"] = """
    SELECT o_orderstatus,
           COUNT(DISTINCT o_custkey) AS exact_nd,
           COUNT(*) AS n_rows,
           TRUE AS within_bound
    FROM orders
    GROUP BY o_orderstatus
"""

ORACLES["approx_quantiles"] = """
    SELECT COUNT(*) AS n_rows,
           TRUE AS p50_in_bound,
           TRUE AS p90_in_bound,
           TRUE AS p99_in_bound
    FROM orders
"""

ORACLES["decontaminate"] = """
    WITH words AS (
      SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id, source, array_to_string(w[t.g:t.g+4], ' ') AS gram
      FROM words, UNNEST(range(1, len(w) - 3)) AS t(g)
      WHERE len(w) >= 5
    ),
    bench AS (SELECT DISTINCT gram FROM grams WHERE source = 'src1'),
    train AS (SELECT doc_id, gram FROM grams WHERE source <> 'src1')
    SELECT t.doc_id,
           COUNT(*) AS n_overlap,
           COUNT(*) >= 3 AS contaminated
    FROM train t JOIN bench b USING (gram)
    GROUP BY t.doc_id
"""

ORACLES["repetition_quality"] = """
    WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
    sig AS (
      SELECT doc_id,
             CAST(len(words) AS INTEGER) AS n_words,
             1.0 - CAST(len(list_distinct(words)) AS DOUBLE) / CAST(len(words) AS DOUBLE)
               AS dup_word_frac,
             CASE WHEN len(words) >= 2 THEN
               1.0 - CAST(len(list_distinct(list_transform(range(1, len(words)),
                       g -> array_to_string(words[g:g+1], ' ')))) AS DOUBLE)
                   / CAST(len(words) - 1 AS DOUBLE)
             ELSE 0.0 END AS dup_bigram_frac
      FROM w
    )
    SELECT doc_id, n_words, dup_word_frac, dup_bigram_frac,
           dup_word_frac < 0.9 AND dup_bigram_frac < 0.9 AS pass_repetition
    FROM sig
"""

ORACLES["source_rebalance"] = """
    SELECT doc_id, source, CAST(rn AS INTEGER) AS sample_rank
    FROM (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn
      FROM documents
    )
    WHERE rn <= 20
"""

ORACLES["streaming_enrich"] = """
    SELECT e.event_id, e.user_id, e.event_type, c.c_mktsegment,
           e.value AS event_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
"""

ORACLES["multimodal_features"] = """
    WITH chars AS (
      SELECT doc_id, length(text) AS n_bytes,
             unnest(string_split(text, '')) AS ch
      FROM documents
    ),
    counts AS (
      SELECT doc_id, n_bytes, ord(ch) // 16 AS bin, COUNT(*) AS cnt
      FROM chars GROUP BY 1, 2, 3
    ),
    grid AS (
      SELECT d.doc_id, d.n_bytes, t.b
      FROM (SELECT doc_id, length(text) AS n_bytes FROM documents) d,
           UNNEST(range(0, 16)) AS t(b)
    ),
    hist AS (
      SELECT g.doc_id, g.n_bytes, g.b,
             (COALESCE(c.cnt, 0) * 1000000) // g.n_bytes AS ppm
      FROM grid g LEFT JOIN counts c ON c.doc_id = g.doc_id AND c.bin = g.b
    )
    SELECT doc_id,
           CAST(n_bytes AS INTEGER) AS n_bytes,
           string_agg(CAST(ppm AS VARCHAR), ',' ORDER BY b) AS byte_histogram_ppm
    FROM hist
    GROUP BY doc_id, n_bytes
"""

ORACLES["embedding_quantize"] = """
    WITH s AS (
      SELECT vec_id, embedding,
             list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE))))
               AS scale
      FROM embeddings
    )
    SELECT vec_id,
           CAST(floor(scale * 1000000.0) AS BIGINT) AS scale_ppm,
           array_to_string(
             list_transform(
               embedding,
               v -> CAST(CAST(CASE WHEN scale > 0
                 THEN floor((CAST(v AS DOUBLE) * 127.0) / scale + 0.5)
                 ELSE 0 END AS BIGINT) AS VARCHAR)),
             ',') AS q_int8
    FROM s
"""

ORACLES["corpus_rarity"] = """
    WITH words AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    vocab AS (SELECT word, COUNT(*) AS cnt FROM words GROUP BY word),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_total FROM vocab),
    rare AS (
      SELECT word, (1000000 * n_total) // cnt AS rarity_ppm FROM vocab, tot
    )
    SELECT w.doc_id,
           COUNT(*) AS n_words,
           CAST(SUM(rarity_ppm) // COUNT(*) AS BIGINT) AS rarity_score
    FROM words w JOIN rare USING (word)
    GROUP BY w.doc_id
"""

ORACLES["expectation_metrics"] = """
    WITH counted AS (
      SELECT COUNT(*) AS n_rows,
             SUM(CASE WHEN NOT COALESCE(o_orderkey IS NOT NULL, FALSE) THEN 1 ELSE 0 END)
               AS order_key_not_null,
             SUM(CASE WHEN NOT COALESCE(o_orderstatus IN ('O', 'F', 'P'), FALSE) THEN 1 ELSE 0 END)
               AS valid_status,
             SUM(CASE WHEN NOT COALESCE(o_totalprice > 0, FALSE) THEN 1 ELSE 0 END)
               AS positive_total,
             SUM(CASE WHEN NOT COALESCE(o_totalprice <= 400000, FALSE) THEN 1 ELSE 0 END)
               AS reasonable_total,
             SUM(CASE WHEN NOT COALESCE(o_orderdate >= DATE '1992-01-01', FALSE) THEN 1 ELSE 0 END)
               AS date_in_range
      FROM orders
    )
    SELECT t.expectation, CAST(t.violations AS BIGINT) AS violations,
           counted.n_rows
    FROM counted, LATERAL (VALUES
      ('order_key_not_null', order_key_not_null),
      ('valid_status', valid_status),
      ('positive_total', positive_total),
      ('reasonable_total', reasonable_total),
      ('date_in_range', date_in_range)
    ) AS t(expectation, violations)
"""

ORACLES["csv_ingest_roundtrip"] = """
    SELECT o_orderkey, o_custkey, o_orderstatus,
           CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate_str,
           FALSE AS was_rescued
    FROM orders
"""

ORACLES["pack_shards"] = """
    WITH toks AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    scanned AS (
      SELECT doc_id, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
               ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS tokens_before
      FROM toks
    )
    SELECT doc_id, n_tokens, tokens_before,
           tokens_before // 5000 AS shard_id
    FROM scanned
"""

ORACLES["dedup_survivors"] = """
    WITH RECURSIVE tok AS (
      SELECT doc_id, list_distinct(regexp_split_to_array(lower(trim(text, ' ')), '\\s+')) AS s
      FROM documents WHERE doc_id < 300
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM tok a JOIN tok b ON a.doc_id < b.doc_id
      WHERE round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                  / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE), 6) >= 0.8
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b, id_a FROM pairs
    ),
    reach(node, other) AS (
      SELECT doc_id, doc_id FROM documents WHERE doc_id < 300
      UNION
      SELECT r.node, e.dst FROM reach r JOIN edges e ON e.src = r.other
    ),
    comp AS (
      SELECT node AS doc_id, MIN(other) AS component_id FROM reach GROUP BY node
    )
    SELECT c.doc_id, c.component_id, d.n_chars,
           row_number() OVER (
             PARTITION BY c.component_id ORDER BY d.n_chars DESC, c.doc_id
           ) = 1 AS keep
    FROM comp c JOIN documents d ON d.doc_id = c.doc_id
"""

ORACLES["inverted_index"] = """
    WITH tok AS (
      SELECT doc_id,
             unnest(list_distinct(regexp_split_to_array(lower(trim(text, ' ')), '\\s+')))
               AS token
      FROM documents
    ),
    df_t AS (SELECT token, COUNT(*) AS df FROM tok GROUP BY token),
    ranked AS (
      SELECT token, doc_id,
             row_number() OVER (PARTITION BY token ORDER BY doc_id) AS rn
      FROM tok
    ),
    heads AS (
      SELECT token, array_to_string(list_sort(list(doc_id)), ',') AS postings_head
      FROM ranked WHERE rn <= 50 GROUP BY token
    )
    SELECT token, df, postings_head FROM df_t JOIN heads USING (token)
"""

ORACLES["doc_chunking"] = """
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text, ' ')), '\\s+') AS toks
      FROM documents
    ),
    s AS (
      SELECT doc_id, toks,
             unnest(range(0, greatest(len(toks), 1), 48)) AS start
      FROM t
    )
    SELECT doc_id,
           CAST(start // 48 AS INTEGER) AS chunk_idx,
           array_to_string(toks[start + 1 : least(start + 64, len(toks))], ' ')
             AS chunk,
           CAST(least(start + 64, len(toks)) - start AS BIGINT) AS n_tokens
    FROM s
"""

ORACLES["winsorize"] = """
    WITH p AS (
      SELECT event_type,
             quantile_cont(value, 0.05) AS lo,
             quantile_cont(value, 0.95) AS hi
      FROM events WHERE value IS NOT NULL GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.value,
           ROUND(LEAST(GREATEST(e.value, p.lo), p.hi), 6) AS value_w
    FROM events e JOIN p USING (event_type)
    WHERE e.value IS NOT NULL
"""

ORACLES["bucketed_join"] = """
    SELECT l.l_orderkey AS okey, l.l_linenumber, l.l_extendedprice,
           o.o_totalprice, o.o_orderpriority
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
"""

# Full value oracle for the LSH path: replicates the md5 min-hash signature
# byte-for-byte, the 10x6 banding collision predicate, and the exact-Jaccard
# verify. Pair semantics collapse to: (a < b) AND signatures collide in >= 1
# band AND jaccard >= threshold (identical sets collide in every band, so the
# group-collapse/member-expansion staging is invisible in the output set).
ORACLES["dedup_minhash_lsh"] = """
    WITH d AS (
      SELECT doc_id,
             list_distinct(regexp_split_to_array(lower(trim(text, ' ')), '\\s+')) AS s
      FROM documents
    ),
    sig AS (
      SELECT doc_id, s,
             list_transform(range(1, 61),
               h -> list_min(list_transform(s, t -> md5(h::VARCHAR || ':' || t))))
               AS sig
      FROM d
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
               / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS j,
             len(list_filter(range(0, 10),
                 k -> a.sig[k*6+1 : k*6+6] = b.sig[k*6+1 : k*6+6])) > 0 AS collide
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, ROUND(j, 6) AS jaccard
    FROM pairs WHERE collide AND j >= 0.8
"""

# Bit-exact value oracle for the simhash path: 60-bit md5-derived token
# hashes, per-bit +/-1 majority vote, 4x15-bit banding, hamming verify.
ORACLES["dedup_simhash"] = """
    WITH d AS (
      SELECT doc_id,
             list_distinct(regexp_split_to_array(lower(trim(text, ' ')), '\\s+')) AS s
      FROM documents
    ),
    h AS (
      SELECT doc_id,
             list_transform(s, t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS hs
      FROM d
    ),
    fp AS (
      SELECT doc_id,
             CAST(list_sum(list_transform(range(0, 60), k ->
               CASE WHEN list_sum(list_transform(hs, x ->
                        CASE WHEN ((x >> k) & 1) = 1 THEN 1 ELSE -1 END)) > 0
                    THEN (1::BIGINT << k) ELSE 0::BIGINT END)) AS BIGINT) AS fp
      FROM h
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.fp, b.fp)) AS INTEGER) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.fp, b.fp)) <= 8
      AND len(list_filter(range(0, 4),
          j -> ((a.fp >> (j * 15)) & 32767) = ((b.fp >> (j * 15)) & 32767))) > 0
"""

# Value oracle for winnowing: 60-bit md5-derived k-gram hashes, w-window
# min selection, distinct+sorted fingerprints per document.
ORACLES["winnow_fingerprints"] = """
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text, ' ')), '\\s+') AS toks
      FROM documents
    ),
    g AS (
      SELECT doc_id,
        CASE WHEN len(toks) >= 5 THEN
          list_transform(range(1, len(toks) - 3), i ->
            ('0x' || substr(md5(array_to_string(toks[i : i + 4], ' ')), 1, 15))::BIGINT)
        ELSE [('0x' || substr(md5(array_to_string(toks, ' ')), 1, 15))::BIGINT]
        END AS gh
      FROM t
    ),
    sel AS (
      SELECT doc_id,
        CASE WHEN len(gh) >= 4 THEN
          list_transform(range(1, len(gh) - 2), j -> list_min(gh[j : j + 3]))
        ELSE [list_min(gh)] END AS fps
      FROM g
    )
    SELECT doc_id, unnest(list_sort(list_distinct(fps))) AS fingerprint
    FROM sel
"""

ORACLES["pii_scan"] = r"""
    WITH injected AS (
      SELECT doc_id, source,
        CASE WHEN doc_id % 4 = 0 THEN text || ' contact user' || doc_id::VARCHAR
                  || '@example' || (doc_id % 7)::VARCHAR || '.com'
             WHEN doc_id % 4 = 1 THEN text || ' call 555-'
                  || lpad((doc_id % 10000)::VARCHAR, 4, '0')
             WHEN doc_id % 4 = 2 THEN text || ' from 10.'
                  || (doc_id % 256)::VARCHAR || '.'
                  || ((doc_id * 7) % 256)::VARCHAR || '.'
                  || ((doc_id * 13) % 256)::VARCHAR
             ELSE text END AS text
      FROM documents
    ),
    scanned AS (
      SELECT doc_id, source,
        len(regexp_extract_all(text,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
        len(regexp_extract_all(text, '\b\d{3}-\d{4}\b')) AS n_phone,
        len(regexp_extract_all(text,
          '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ipv4,
        length(regexp_replace(regexp_replace(regexp_replace(text,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
          '\b\d{3}-\d{4}\b', '[PHONE]', 'g'),
          '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IPV4]', 'g'))
          AS redacted_len
      FROM injected
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN COALESCE(n_email, 0) + COALESCE(n_phone, 0)
                              + COALESCE(n_ipv4, 0) > 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
           CAST(SUM(n_email) AS BIGINT) AS n_emails,
           CAST(SUM(n_phone) AS BIGINT) AS n_phones,
           CAST(SUM(n_ipv4) AS BIGINT) AS n_ipv4s,
           CAST(SUM(redacted_len) AS BIGINT) AS redacted_chars
    FROM scanned GROUP BY source
"""

ORACLES["containment_dedup"] = """
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text, ' ')), '\\s+') AS toks
      FROM documents
    ),
    g AS (
      SELECT doc_id,
        CASE WHEN len(toks) >= 5 THEN
          list_transform(range(1, len(toks) - 3), i ->
            ('0x' || substr(md5(array_to_string(toks[i : i + 4], ' ')), 1, 15))::BIGINT)
        ELSE [('0x' || substr(md5(array_to_string(toks, ' ')), 1, 15))::BIGINT]
        END AS gh
      FROM t
    ),
    sel AS (
      SELECT doc_id,
        CASE WHEN len(gh) >= 4 THEN
          list_transform(range(1, len(gh) - 2), j -> list_min(gh[j : j + 3]))
        ELSE [list_min(gh)] END AS fps
      FROM g
    ),
    fps AS MATERIALIZED (
      SELECT doc_id, unnest(list_sort(list_distinct(fps))) AS fingerprint
      FROM sel
    ),
    keepfp AS (
      SELECT fingerprint FROM fps GROUP BY fingerprint HAVING COUNT(*) <= 256
    ),
    pruned AS MATERIALIZED (
      SELECT f.doc_id, f.fingerprint FROM fps f JOIN keepfp USING (fingerprint)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_fp FROM pruned GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(COUNT(*) AS BIGINT) AS shared_fp
      FROM pruned a JOIN pruned b
        ON a.fingerprint = b.fingerprint AND a.doc_id != b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, shared_fp, CAST(n_fp AS BIGINT) AS n_fp,
           CAST(shared_fp * 1000000 // n_fp AS BIGINT) AS containment_ppm
    FROM shared JOIN sizes ON sizes.doc_id = shared.id_a
    WHERE shared_fp * 1000000 // n_fp >= 600000
"""

# Value oracle for SRP-LSH near-dup pairs: Rademacher planes from md5 of the
# (plane, dim) index pair, 24 bands x 4 sign bits packed per band, pair
# emitted iff >= 1 band key collides, exact-cosine verify at 6dp.
ORACLES["embedding_dup_pairs_lsh"] = """
    WITH t AS (SELECT vec_id, embedding AS e FROM embeddings WHERE vec_id < 200),
    sig AS (
      SELECT vec_id, e,
             list_transform(range(0, 24), k ->
               list_sum(list_transform(range(0, 4), b ->
                 CASE WHEN list_sum(list_transform(range(1, 65), d ->
                          e[d]::DOUBLE *
                          (CASE WHEN ('0x' || substr(md5((k*4+b)::VARCHAR || ':'
                                      || (d-1)::VARCHAR), 1, 1))::INT & 1 = 1
                                THEN 1.0 ELSE -1.0 END))) > 0
                      THEN (1::BIGINT << b) ELSE 0::BIGINT END))) AS hs,
             sqrt(list_sum(list_transform(range(1, 65),
                 d -> e[d]::DOUBLE * e[d]::DOUBLE))) AS n
      FROM t
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round(list_sum(list_transform(range(1, 65),
                 d -> a.e[d]::DOUBLE * b.e[d]::DOUBLE)) / (a.n * b.n), 6) AS cosine,
             len(list_filter(range(1, 25), k -> a.hs[k] = b.hs[k])) > 0 AS collide
      FROM sig a JOIN sig b ON a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, cosine FROM pairs WHERE collide AND cosine >= 0.4
"""

# Value oracle for single-probe IVF top-k with deterministic seeding
# (centroids = the 16 lowest-id vectors, zero Lloyd iterations): nearest
# centroid by unrounded cosine (ties -> lowest centroid id), candidates
# restricted to the query's own cell, exact cosine at 6dp, top-3 per query.
# PQ/ADC twin: codebooks = the first-16 seed vectors (the IVF oracle's
# seed-free convention), encode = per-(vector, subspace) argmin with cid
# tie-break, ADC terms floored to micro-units per subspace BEFORE the sum
# (order-independent BIGINT totals, same as the Spark side).
ORACLES["pq_topk"] = """
    WITH t AS MATERIALIZED (
      SELECT vec_id, embedding AS e FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) = 64
        AND NOT list_contains(list_transform(embedding, x -> x IS NULL), true)
    ),
    seeds AS MATERIALIZED (
      SELECT row_number() OVER (ORDER BY vec_id) AS cid, e
      FROM (SELECT * FROM t ORDER BY vec_id LIMIT 16)
    ),
    ms AS (SELECT CAST(unnest(range(0, 8)) AS INT) AS m),
    enc AS MATERIALIZED (
      SELECT vec_id, m, cid AS code FROM (
        SELECT x.vec_id, ms.m, s.cid,
               row_number() OVER (PARTITION BY x.vec_id, ms.m ORDER BY
                 list_sum(list_transform(range(1, 9),
                   i -> (x.e[ms.m*8+i]::DOUBLE - s.e[ms.m*8+i]::DOUBLE)
                      * (x.e[ms.m*8+i]::DOUBLE - s.e[ms.m*8+i]::DOUBLE))) ASC,
                 s.cid ASC) AS rn
        FROM t x CROSS JOIN ms CROSS JOIN seeds s
      ) WHERE rn = 1
    ),
    q AS MATERIALIZED (SELECT vec_id AS query_id, e AS qe FROM t WHERE vec_id < 100),
    terms AS (
      SELECT q.query_id, enc.vec_id AS nbr_id,
             CAST(FLOOR(1000000.0 * list_sum(list_transform(range(1, 9),
               i -> (q.qe[enc.m*8+i]::DOUBLE - s.e[enc.m*8+i]::DOUBLE)
                  * (q.qe[enc.m*8+i]::DOUBLE - s.e[enc.m*8+i]::DOUBLE))))
               AS BIGINT) AS t_micro
      FROM q CROSS JOIN enc JOIN seeds s ON s.cid = enc.code
      WHERE q.query_id != enc.vec_id
    ),
    adc AS (
      SELECT query_id, nbr_id, CAST(SUM(t_micro) AS BIGINT) AS adc_micro
      FROM terms GROUP BY 1, 2
    )
    SELECT query_id, nbr_id, adc_micro, CAST(rank AS INTEGER) AS rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY adc_micro ASC, nbr_id ASC) AS rank
      FROM adc
    ) WHERE rank <= 3
"""

def _pq_trained_oracle_sql(rounds: int = 2, d: int = 8) -> str:
    """DuckDB replay of pq_topk_trained's integer-micro k-means: the round
    blocks unroll (fixed `rounds`), each one an assignment (rn=1 over
    integer L2², cid tie-break) + a truncating-`//` centroid update with
    empty clusters inheriting the previous centroid. Pure integer
    arithmetic end-to-end, so the trajectory matches Spark bit-for-bit."""
    rng = f"range(1, {d + 1})"
    sums = ", ".join(
        f"CAST(SUM(sub[{j}]) // COUNT(*) AS BIGINT) AS s{j}"
        for j in range(1, d + 1)
    )
    newc = ", ".join(f"u.s{j}" for j in range(1, d + 1))
    dist = (
        f"list_sum(list_transform({rng},"
        f" i -> (x.vm[cb.m*{d}+i] - cb.c[i]) * (x.vm[cb.m*{d}+i] - cb.c[i])))"
    )
    blocks = []
    prev = "cb0"
    for r in range(1, rounds + 1):
        blocks.append(f"""
    asg{r} AS MATERIALIZED (
      SELECT vec_id, m, cid AS code, sub FROM (
        SELECT x.vec_id, cb.m, cb.cid,
               list_transform({rng}, i -> x.vm[cb.m*{d}+i]) AS sub,
               row_number() OVER (PARTITION BY x.vec_id, cb.m
                 ORDER BY {dist} ASC, cb.cid ASC) AS rn
        FROM t x CROSS JOIN {prev} cb
      ) WHERE rn = 1
    ),
    upd{r} AS (
      SELECT m, code AS cid, {sums}
      FROM asg{r} GROUP BY m, code
    ),
    cb{r} AS MATERIALIZED (
      SELECT p.cid, p.m,
             CASE WHEN u.cid IS NULL THEN p.c ELSE [{newc}] END AS c
      FROM {prev} p LEFT JOIN upd{r} u ON u.m = p.m AND u.cid = p.cid
    )""")
        prev = f"cb{r}"
    round_sql = ",".join(blocks)
    return f"""
    WITH t AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(FLOOR(1000000.0 * x::DOUBLE) AS BIGINT)) AS vm
      FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) = 64
        AND NOT list_contains(list_transform(embedding, x -> x IS NULL), true)
    ),
    cb0 AS MATERIALIZED (
      SELECT s.cid, ms.m, list_transform({rng}, i -> s.vm[ms.m*{d}+i]) AS c
      FROM (SELECT row_number() OVER (ORDER BY vec_id) AS cid, vm
            FROM (SELECT * FROM t ORDER BY vec_id LIMIT 16)) s
      CROSS JOIN (SELECT CAST(unnest(range(0, {d})) AS INT) AS m) ms
    ),{round_sql},
    enc AS MATERIALIZED (
      SELECT vec_id, m, cid AS code FROM (
        SELECT x.vec_id, cb.m, cb.cid,
               row_number() OVER (PARTITION BY x.vec_id, cb.m
                 ORDER BY {dist} ASC, cb.cid ASC) AS rn
        FROM t x CROSS JOIN {prev} cb
      ) WHERE rn = 1
    ),
    q AS MATERIALIZED (
      SELECT vec_id AS query_id, vm AS qm FROM t WHERE vec_id < 100
    ),
    terms AS (
      SELECT q.query_id, enc.vec_id AS nbr_id,
             list_sum(list_transform({rng},
               i -> (q.qm[enc.m*{d}+i] - cb.c[i])
                  * (q.qm[enc.m*{d}+i] - cb.c[i]))) AS term
      FROM q CROSS JOIN enc JOIN {prev} cb ON cb.cid = enc.code AND cb.m = enc.m
      WHERE q.query_id != enc.vec_id
    ),
    adc AS (
      SELECT query_id, nbr_id, CAST(SUM(term) AS BIGINT) AS adc_micro2
      FROM terms GROUP BY 1, 2
    )
    SELECT query_id, nbr_id, adc_micro2, CAST(rank AS INTEGER) AS rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY adc_micro2 ASC, nbr_id ASC) AS rank
      FROM adc
    ) WHERE rank <= 3
"""


ORACLES["pq_topk_trained"] = _pq_trained_oracle_sql(rounds=2)


def _mmr_oracle_sql(k: int = 5) -> str:
    """DuckDB replay of q_mmr_select's k unrolled MMR rounds (chained
    1-row CTEs — the fixed-round discipline). Each round r: candidates =
    rel minus already-selected ids, redundancy = greatest floor-micro
    cosine to the r-1 selected vectors (cross join of 1-row CTEs),
    argmax(rel - red) with the smallest-vec_id tie break as
    ORDER BY ... LIMIT 1."""

    def cos(a: str, b: str) -> str:
        return (
            f"(list_sum(list_transform(range(1, 65), i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE))"
            f" / (sqrt(list_sum(list_transform(range(1, 65), i -> {a}[i]::DOUBLE * {a}[i]::DOUBLE)))"
            f" * sqrt(list_sum(list_transform(range(1, 65), i -> {b}[i]::DOUBLE * {b}[i]::DOUBLE)))))"
        )

    ctes = [
        """valid AS (
      SELECT vec_id, embedding AS e FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) = 64
        AND NOT list_contains(list_transform(embedding, x -> x IS NULL), true)
    )""",
        "q AS (SELECT e FROM valid WHERE vec_id = 0)",
        "pool AS (SELECT vec_id, e FROM valid WHERE vec_id != 0)",
        f"""rel AS MATERIALIZED (
      SELECT p.vec_id, p.e,
             CAST(FLOOR(1000000.0 * {cos('p.e', 'q.e')}) AS BIGINT) AS rel_micro
      FROM pool p, q
    )""",
        """s1 AS (
      SELECT vec_id, e, rel_micro, CAST(0 AS BIGINT) AS red_micro
      FROM rel ORDER BY rel_micro DESC, vec_id LIMIT 1
    )""",
    ]
    for r in range(2, k + 1):
        prev = range(1, r)
        reds = [
            f"CAST(FLOOR(1000000.0 * {cos('r.e', f's{j}.e')}) AS BIGINT)"
            for j in prev
        ]
        red = reds[0] if len(reds) == 1 else "greatest(" + ", ".join(reds) + ")"
        froms = "".join(f", s{j}" for j in prev)
        excl = " UNION ALL ".join(f"SELECT vec_id FROM s{j}" for j in prev)
        ctes.append(
            f"""s{r} AS (
      SELECT vec_id, e, rel_micro, red_micro FROM (
        SELECT r.vec_id, r.e, r.rel_micro, {red} AS red_micro
        FROM rel r{froms}
        WHERE r.vec_id NOT IN ({excl})
      ) ORDER BY rel_micro - red_micro DESC, vec_id LIMIT 1
    )"""
        )
    finals = " UNION ALL ".join(
        f"SELECT CAST({r} AS INT) AS sel_rank, CAST(vec_id AS BIGINT) AS vec_id,"
        f" rel_micro AS relevance_micro, red_micro AS redundancy_micro,"
        f" rel_micro - red_micro AS score_micro FROM s{r}"
        for r in range(1, k + 1)
    )
    return "WITH " + ",\n    ".join(ctes) + "\n    " + finals


ORACLES["mmr_select"] = _mmr_oracle_sql(5)

ORACLES["substring_trim"] = """
    WITH toks AS MATERIALIZED (
      SELECT doc_id, regexp_split_to_array(trim(text, ' '), '\\s+') AS w
      FROM documents
      WHERE len(regexp_split_to_array(trim(text, ' '), '\\s+')) >= 8
    ),
    grams AS MATERIALIZED (
      SELECT doc_id, CAST(t.i AS INTEGER) AS win1,
             array_to_string(w[t.i:t.i+7], ' ') AS gram
      FROM toks, unnest(range(1, len(w) - 6)) AS t(i)
    ),
    counts AS (
      SELECT gram, COUNT(*) AS n_total FROM grams GROUP BY gram
    ),
    dup_pos AS (
      SELECT doc_id, list(DISTINCT pos) AS dp FROM (
        SELECT g.doc_id, CAST(unnest(range(g.win1, g.win1 + 8)) AS BIGINT) AS pos
        FROM grams g JOIN counts c ON c.gram = g.gram AND c.n_total >= 2
      ) GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.w) AS INTEGER) AS n_tokens,
           CAST(COALESCE(len(d.dp), 0) AS INTEGER) AS n_dup_tokens,
           CASE WHEN d.doc_id IS NULL THEN array_to_string(t.w, ' ')
                -- DuckDB array_to_string([]) is NULL where Spark
                -- array_join([]) is '' — a fully-trimmed doc must compare
                -- as the empty string on both sides
                ELSE COALESCE(array_to_string(list_transform(list_filter(
                       range(1, len(t.w) + 1),
                       i -> NOT list_contains(d.dp, i)), i -> t.w[i]), ' '), '')
           END AS trimmed_text
    FROM toks t LEFT JOIN dup_pos d ON d.doc_id = t.doc_id
"""

ORACLES["substring_dedup"] = """
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text, ' '), '\\s+') AS w
      FROM documents
      WHERE len(regexp_split_to_array(trim(text, ' '), '\\s+')) >= 8
    ),
    grams AS MATERIALIZED (
      SELECT doc_id, unnest(list_transform(range(1, len(w) - 6),
                            i -> array_to_string(w[i:i+7], ' '))) AS gram
      FROM toks
    ),
    counts AS (
      SELECT gram, CAST(COUNT(*) AS BIGINT) AS n_total FROM grams GROUP BY gram
    ),
    per_doc AS (
      SELECT g.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_windows,
             CAST(SUM(CASE WHEN c.n_total >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_windows
      FROM grams g JOIN counts c ON c.gram = g.gram
      GROUP BY g.doc_id
    )
    SELECT doc_id, n_windows, n_dup_windows,
           CAST((n_dup_windows * 1000000) // n_windows AS BIGINT) AS dup_ppm
    FROM per_doc
"""

# The hashed twin produces the SAME output as the string form unless two
# distinct 8-gram strings collide at 64 bits (probability ~n²/2⁶⁵ by the
# birthday bound; empirically zero on the testdata — a unit pins bitwise
# output equality of the two catalog queries). xxhash64 itself is not
# SQL-replayable, so the string-form oracle value-oracles the twin.
ORACLES["substring_dedup_hashed"] = ORACLES["substring_dedup"]

# Preference-pair mining: DuckDB replays the argmax/argmin with two
# ROW_NUMBER windows — (score DESC, doc_id ASC) for chosen, (score ASC,
# doc_id DESC) for rejected — the same total orders the Spark struct
# aggregates encode. Identical '' tokenization: regexp_split_to_array of
# a trimmed empty string is [''], matching Spark's split('', '\s+').
ORACLES["preference_pairs"] = r"""
  WITH scored AS (
    SELECT doc_id, lang, source,
           (1000000 * len(list_distinct(
                regexp_split_to_array(trim(COALESCE(text, ''), ' '), '\s+'))))
             // len(regexp_split_to_array(trim(COALESCE(text, ''), ' '), '\s+'))
             AS score_ppm
    FROM documents
  ),
  ranked AS (
    SELECT doc_id, lang, source, score_ppm,
           ROW_NUMBER() OVER (PARTITION BY lang, source
                              ORDER BY score_ppm DESC, doc_id ASC) AS rc,
           ROW_NUMBER() OVER (PARTITION BY lang, source
                              ORDER BY score_ppm ASC, doc_id DESC) AS rr,
           COUNT(*) OVER (PARTITION BY lang, source) AS n_docs
    FROM scored
  )
  SELECT c.lang, c.source,
         CAST(c.n_docs AS BIGINT) AS n_docs,
         CAST(c.doc_id AS BIGINT) AS chosen_doc_id,
         CAST(r.doc_id AS BIGINT) AS rejected_doc_id,
         CAST(c.score_ppm AS BIGINT) AS chosen_ppm,
         CAST(r.score_ppm AS BIGINT) AS rejected_ppm,
         CAST(c.score_ppm - r.score_ppm AS BIGINT) AS margin_ppm
  FROM ranked c JOIN ranked r
    ON c.lang IS NOT DISTINCT FROM r.lang
   AND c.source IS NOT DISTINCT FROM r.source
   AND c.rc = 1 AND r.rr = 1
  WHERE c.n_docs >= 2
"""

# Power iteration unrolled: 3 rounds of v <- Xt(Xv) over milli-quantized
# vectors; xv rescales by v's 1e6 unit with BIGINT truncating division,
# the per-round normalization (1e6*s)//max|s| promotes to HUGEINT (it
# overflows int64 by design; HUGEINT // truncates toward zero exactly
# like the engine's _tdiv). Same validity guard as embedding_outliers.
ORACLES["embedding_pca_power"] = """
  WITH t AS MATERIALIZED (
    SELECT list_transform(embedding,
             x -> CAST(FLOOR(x::DOUBLE * 1000) AS BIGINT)) AS vm
    FROM embeddings
    WHERE embedding IS NOT NULL AND len(embedding) = 64
      AND NOT list_contains(list_transform(embedding, x -> x IS NULL), true)
  ),
  x1 AS (SELECT vm, list_sum(list_transform(range(1, 65),
              j -> vm[CAST(j AS INT)] * 1000000)) // 1000000 AS xv FROM t),
  s1 AS (SELECT u.j AS j, CAST(SUM(vm[CAST(u.j AS INT)] * xv) AS BIGINT) AS s
         FROM x1, UNNEST(range(1, 65)) AS u(j) GROUP BY 1),
  v1 AS (SELECT j, CAST((1000000::HUGEINT * s)
                        // (SELECT MAX(ABS(s)) FROM s1) AS BIGINT) AS val
         FROM s1),
  vl1 AS (SELECT list(val ORDER BY j) AS v FROM v1),
  x2 AS (SELECT vm, list_sum(list_transform(range(1, 65),
              j -> vm[CAST(j AS INT)] * v[CAST(j AS INT)])) // 1000000 AS xv
         FROM t, vl1),
  s2 AS (SELECT u.j AS j, CAST(SUM(vm[CAST(u.j AS INT)] * xv) AS BIGINT) AS s
         FROM x2, UNNEST(range(1, 65)) AS u(j) GROUP BY 1),
  v2 AS (SELECT j, CAST((1000000::HUGEINT * s)
                        // (SELECT MAX(ABS(s)) FROM s2) AS BIGINT) AS val
         FROM s2),
  vl2 AS (SELECT list(val ORDER BY j) AS v FROM v2),
  x3 AS (SELECT vm, list_sum(list_transform(range(1, 65),
              j -> vm[CAST(j AS INT)] * v[CAST(j AS INT)])) // 1000000 AS xv
         FROM t, vl2),
  s3 AS (SELECT u.j AS j, CAST(SUM(vm[CAST(u.j AS INT)] * xv) AS BIGINT) AS s
         FROM x3, UNNEST(range(1, 65)) AS u(j) GROUP BY 1),
  v3 AS (SELECT j, CAST((1000000::HUGEINT * s)
                        // (SELECT MAX(ABS(s)) FROM s3) AS BIGINT) AS val
         FROM s3)
  SELECT CAST(j AS INT) AS dim, val AS v_micro FROM v3
"""

# TextRank = the pagerank_weighted oracle's update over STRING (word)
# nodes: same 85/100 damping, same floor-division contribution — DuckDB
# promotes the rank·w product to HUGEINT so the naive (rank*w)//deg form
# here is value-identical to the engine's overflow-safe decomposition
# (rank div deg)*w + ((rank%deg)*w) div deg (documented at
# operators/graph.py::pagerank_integer).
ORACLES["keyword_textrank"] = r"""
  WITH t AS (
    SELECT list_filter(
             regexp_split_to_array(lower(trim(COALESCE(text, ''), ' ')),
                                   '\s+'),
             x -> length(x) >= 4) AS w
    FROM documents
  ),
  t2 AS (SELECT w FROM t WHERE len(w) >= 2),
  pr AS (
    SELECT w[CAST(i.i AS INT)] AS a, w[CAST(i.i AS INT) + 1] AS b
    FROM t2, UNNEST(range(1, len(w))) AS i(i)
  ),
  p AS MATERIALIZED (
    SELECT a AS src, b AS dst, CAST(COUNT(*) AS BIGINT) AS w
    FROM pr WHERE a <> b GROUP BY 1, 2
  ),
  e AS MATERIALIZED (
    SELECT src, dst, w FROM p UNION ALL SELECT dst AS src, src AS dst, w FROM p
  ),
  nodes AS (SELECT DISTINCT src AS node FROM e),
  deg AS (SELECT src, SUM(w) AS deg FROM e GROUP BY 1),
  prm AS (SELECT 1000000000000 // COUNT(*) AS r0,
                 15 * (1000000000000 // COUNT(*)) // 100 AS base
          FROM nodes),
  r0 AS (SELECT node, (SELECT r0 FROM prm) AS rank FROM nodes),
  r1 AS (
    SELECT n.node, CAST((SELECT base FROM prm)
                        + (85 * COALESCE(i.s, 0)) // 100 AS BIGINT) AS rank
    FROM nodes n LEFT JOIN (
      SELECT e.dst AS node, SUM((r.rank * e.w) // d.deg) AS s
      FROM e JOIN r0 r ON e.src = r.node JOIN deg d ON d.src = e.src
      GROUP BY e.dst) i ON i.node = n.node
  ),
  r2 AS (
    SELECT n.node, CAST((SELECT base FROM prm)
                        + (85 * COALESCE(i.s, 0)) // 100 AS BIGINT) AS rank
    FROM nodes n LEFT JOIN (
      SELECT e.dst AS node, SUM((r.rank * e.w) // d.deg) AS s
      FROM e JOIN r1 r ON e.src = r.node JOIN deg d ON d.src = e.src
      GROUP BY e.dst) i ON i.node = n.node
  ),
  r3 AS (
    SELECT n.node, CAST((SELECT base FROM prm)
                        + (85 * COALESCE(i.s, 0)) // 100 AS BIGINT) AS rank
    FROM nodes n LEFT JOIN (
      SELECT e.dst AS node, SUM((r.rank * e.w) // d.deg) AS s
      FROM e JOIN r2 r ON e.src = r.node JOIN deg d ON d.src = e.src
      GROUP BY e.dst) i ON i.node = n.node
  )
  SELECT keyword, rank_micro, rn FROM (
    SELECT node AS keyword, CAST(rank AS BIGINT) AS rank_micro,
           CAST(ROW_NUMBER() OVER (ORDER BY rank DESC, node ASC) AS INT)
             AS rn
    FROM r3
  ) WHERE rn <= 25
"""

# Bloom pruning replayed exactly: the build side's distinct md5 bit
# positions, each probe row's two positions left-joined against them
# (hash joins, linear — no correlated subqueries), pass = both present;
# NULL keys yield NULL positions, fail the joins, and so fail the bloom
# — matching the engine's explicit NULL-fails contract.
ORACLES["bloom_prune_join"] = """
  WITH bk AS MATERIALIZED (
    SELECT DISTINCT CAST(s_suppkey AS BIGINT) AS k
    FROM supplier WHERE s_nationkey = 7
  ),
  pos AS MATERIALIZED (
    SELECT DISTINCT
      ('0x' || substr(md5(k::VARCHAR || '#' || i::VARCHAR), 1, 15))::BIGINT
        % 8192 AS p
    FROM bk, UNNEST([1, 2]) AS t(i)
  ),
  probe AS (
    SELECT l_returnflag, CAST(l_suppkey AS BIGINT) AS k,
      ('0x' || substr(md5(l_suppkey::VARCHAR || '#1'), 1, 15))::BIGINT
        % 8192 AS p1,
      ('0x' || substr(md5(l_suppkey::VARCHAR || '#2'), 1, 15))::BIGINT
        % 8192 AS p2
    FROM lineitem
  ),
  tagged AS (
    SELECT probe.l_returnflag,
           (h1.p IS NOT NULL AND h2.p IS NOT NULL) AS pass,
           (bk.k IS NOT NULL) AS istrue
    FROM probe
    LEFT JOIN pos h1 ON probe.p1 = h1.p
    LEFT JOIN pos h2 ON probe.p2 = h2.p
    LEFT JOIN bk ON probe.k = bk.k
  )
  SELECT l_returnflag,
         CAST(COUNT(*) AS BIGINT) AS n_probe,
         CAST(SUM(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT)
           AS n_pass_bloom,
         CAST(SUM(CASE WHEN istrue THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
         CAST(SUM(CASE WHEN pass THEN 1 ELSE 0 END)
              - SUM(CASE WHEN istrue THEN 1 ELSE 0 END) AS BIGINT)
           AS n_false_pos,
         CAST(CASE WHEN SUM(CASE WHEN pass THEN 1 ELSE 0 END) = 0 THEN 0
              ELSE (1000000 * (SUM(CASE WHEN pass THEN 1 ELSE 0 END)
                               - SUM(CASE WHEN istrue THEN 1 ELSE 0 END)))
                   // SUM(CASE WHEN pass THEN 1 ELSE 0 END) END AS BIGINT)
           AS fp_ppm
  FROM tagged GROUP BY l_returnflag
"""


ORACLES["ivfpq_topk"] = """
    WITH t AS MATERIALIZED (
      SELECT vec_id, embedding AS e FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) = 64
        AND NOT list_contains(list_transform(embedding, x -> x IS NULL), true)
    ),
    seeds AS MATERIALIZED (
      SELECT row_number() OVER (ORDER BY vec_id) AS cid, e
      FROM (SELECT * FROM t ORDER BY vec_id LIMIT 16)
    ),
    assigned AS MATERIALIZED (
      SELECT vec_id, centroid_id FROM (
        SELECT t.vec_id, s.cid AS centroid_id,
               row_number() OVER (PARTITION BY t.vec_id ORDER BY
                 (list_sum(list_transform(range(1, 65), i -> t.e[i]::DOUBLE * s.e[i]::DOUBLE))
                  / (sqrt(list_sum(list_transform(range(1, 65), i -> t.e[i]::DOUBLE * t.e[i]::DOUBLE)))
                   * sqrt(list_sum(list_transform(range(1, 65), i -> s.e[i]::DOUBLE * s.e[i]::DOUBLE)))))
                 DESC, s.cid) AS rn
        FROM t CROSS JOIN seeds s
      ) WHERE rn = 1
    ),
    ms AS (SELECT CAST(unnest(range(0, 8)) AS INT) AS m),
    enc AS MATERIALIZED (
      SELECT vec_id, m, cid AS code FROM (
        SELECT x.vec_id, ms.m, s.cid,
               row_number() OVER (PARTITION BY x.vec_id, ms.m ORDER BY
                 list_sum(list_transform(range(1, 9),
                   i -> (x.e[ms.m*8+i]::DOUBLE - s.e[ms.m*8+i]::DOUBLE)
                      * (x.e[ms.m*8+i]::DOUBLE - s.e[ms.m*8+i]::DOUBLE))) ASC,
                 s.cid ASC) AS rn
        FROM t x CROSS JOIN ms CROSS JOIN seeds s
      ) WHERE rn = 1
    ),
    q AS MATERIALIZED (
      SELECT t.vec_id AS query_id, t.e AS qe, a.centroid_id
      FROM t JOIN assigned a ON a.vec_id = t.vec_id
      WHERE t.vec_id < 100
    ),
    terms AS (
      SELECT q.query_id, enc.vec_id AS nbr_id,
             CAST(FLOOR(1000000.0 * list_sum(list_transform(range(1, 9),
               i -> (q.qe[enc.m*8+i]::DOUBLE - s.e[enc.m*8+i]::DOUBLE)
                  * (q.qe[enc.m*8+i]::DOUBLE - s.e[enc.m*8+i]::DOUBLE))))
               AS BIGINT) AS t_micro
      FROM q
      JOIN assigned nb ON nb.centroid_id = q.centroid_id AND nb.vec_id != q.query_id
      JOIN enc ON enc.vec_id = nb.vec_id
      JOIN seeds s ON s.cid = enc.code
    ),
    adc AS (
      SELECT query_id, nbr_id, CAST(SUM(t_micro) AS BIGINT) AS adc_micro
      FROM terms GROUP BY 1, 2
    )
    SELECT query_id, nbr_id, adc_micro, CAST(rank AS INTEGER) AS rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY adc_micro ASC, nbr_id ASC) AS rank
      FROM adc
    ) WHERE rank <= 3
"""

ORACLES["ivf_nprobe_topk"] = """
    WITH t AS (SELECT vec_id, embedding AS e FROM embeddings),
    cent AS (
      SELECT row_number() OVER (ORDER BY vec_id) AS cid, e
      FROM t ORDER BY vec_id LIMIT 16
    ),
    sims AS (
      SELECT t.vec_id, t.e, c.cid,
             list_sum(list_transform(range(1, 65), i -> t.e[i]::DOUBLE * c.e[i]::DOUBLE))
               / (sqrt(list_sum(list_transform(range(1, 65), i -> t.e[i]::DOUBLE * t.e[i]::DOUBLE)))
                * sqrt(list_sum(list_transform(range(1, 65), i -> c.e[i]::DOUBLE * c.e[i]::DOUBLE)))) AS s
      FROM t, cent c
    ),
    ranked AS (
      SELECT vec_id, e, cid AS centroid_id,
             row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
      FROM sims
    ),
    corpus AS (SELECT vec_id, e, centroid_id FROM ranked WHERE rn = 1),
    probes AS (
      SELECT vec_id, e, centroid_id FROM ranked WHERE rn <= 4 AND vec_id < 100
    ),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
             round(list_sum(list_transform(range(1, 65), i -> q.e[i]::DOUBLE * c.e[i]::DOUBLE))
               / (sqrt(list_sum(list_transform(range(1, 65), i -> q.e[i]::DOUBLE * q.e[i]::DOUBLE)))
                * sqrt(list_sum(list_transform(range(1, 65), i -> c.e[i]::DOUBLE * c.e[i]::DOUBLE)))), 6) AS cosine
      FROM probes q JOIN corpus c
        ON q.centroid_id = c.centroid_id AND q.vec_id != c.vec_id
    )
    SELECT query_id, nbr_id, cosine, CAST(rank AS INTEGER) AS rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, nbr_id) AS rank
      FROM pairs
    ) WHERE rank <= 3
"""

ORACLES["ivfpq_nprobe_topk"] = """
    WITH t AS MATERIALIZED (
      SELECT vec_id, embedding AS e FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) = 64
        AND NOT list_contains(list_transform(embedding, x -> x IS NULL), true)
    ),
    seeds AS MATERIALIZED (
      SELECT row_number() OVER (ORDER BY vec_id) AS cid, e
      FROM (SELECT * FROM t ORDER BY vec_id LIMIT 16)
    ),
    ranked AS MATERIALIZED (
      SELECT t.vec_id, s.cid AS centroid_id,
             row_number() OVER (PARTITION BY t.vec_id ORDER BY
               (list_sum(list_transform(range(1, 65), i -> t.e[i]::DOUBLE * s.e[i]::DOUBLE))
                / (sqrt(list_sum(list_transform(range(1, 65), i -> t.e[i]::DOUBLE * t.e[i]::DOUBLE)))
                 * sqrt(list_sum(list_transform(range(1, 65), i -> s.e[i]::DOUBLE * s.e[i]::DOUBLE)))))
               DESC, s.cid) AS rn
      FROM t CROSS JOIN seeds s
    ),
    assigned AS MATERIALIZED (
      SELECT vec_id, centroid_id FROM ranked WHERE rn = 1
    ),
    ms AS (SELECT CAST(unnest(range(0, 8)) AS INT) AS m),
    enc AS MATERIALIZED (
      SELECT vec_id, m, cid AS code FROM (
        SELECT x.vec_id, ms.m, s.cid,
               row_number() OVER (PARTITION BY x.vec_id, ms.m ORDER BY
                 list_sum(list_transform(range(1, 9),
                   i -> (x.e[ms.m*8+i]::DOUBLE - s.e[ms.m*8+i]::DOUBLE)
                      * (x.e[ms.m*8+i]::DOUBLE - s.e[ms.m*8+i]::DOUBLE))) ASC,
                 s.cid ASC) AS rn
        FROM t x CROSS JOIN ms CROSS JOIN seeds s
      ) WHERE rn = 1
    ),
    q AS MATERIALIZED (
      SELECT t.vec_id AS query_id, t.e AS qe, r.centroid_id
      FROM t JOIN ranked r ON r.vec_id = t.vec_id AND r.rn <= 4
      WHERE t.vec_id < 100
    ),
    terms AS (
      SELECT q.query_id, enc.vec_id AS nbr_id,
             CAST(FLOOR(1000000.0 * list_sum(list_transform(range(1, 9),
               i -> (q.qe[enc.m*8+i]::DOUBLE - s.e[enc.m*8+i]::DOUBLE)
                  * (q.qe[enc.m*8+i]::DOUBLE - s.e[enc.m*8+i]::DOUBLE))))
               AS BIGINT) AS t_micro
      FROM q
      JOIN assigned nb ON nb.centroid_id = q.centroid_id AND nb.vec_id != q.query_id
      JOIN enc ON enc.vec_id = nb.vec_id
      JOIN seeds s ON s.cid = enc.code
    ),
    adc AS (
      SELECT query_id, nbr_id, CAST(SUM(t_micro) AS BIGINT) AS adc_micro
      FROM terms GROUP BY 1, 2
    )
    SELECT query_id, nbr_id, adc_micro, CAST(rank AS INTEGER) AS rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY adc_micro ASC, nbr_id ASC) AS rank
      FROM adc
    ) WHERE rank <= 3
"""

ORACLES["ivfpq_residual_topk"] = """
    WITH t AS MATERIALIZED (
      SELECT vec_id, embedding AS e FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) = 64
        AND NOT list_contains(list_transform(embedding, x -> x IS NULL), true)
    ),
    seeds32 AS MATERIALIZED (
      SELECT row_number() OVER (ORDER BY vec_id) AS p, vec_id, e
      FROM (SELECT * FROM t ORDER BY vec_id LIMIT 32)
    ),
    cent AS MATERIALIZED (
      SELECT p AS cid, e,
             list_transform(e, x -> CAST(FLOOR(1000000.0 * x::DOUBLE) AS BIGINT)) AS cm
      FROM seeds32 WHERE p <= 16
    ),
    ranked AS MATERIALIZED (
      SELECT t.vec_id, c.cid AS centroid_id,
             row_number() OVER (PARTITION BY t.vec_id ORDER BY
               (list_sum(list_transform(range(1, 65), i -> t.e[i]::DOUBLE * c.e[i]::DOUBLE))
                / (sqrt(list_sum(list_transform(range(1, 65), i -> t.e[i]::DOUBLE * t.e[i]::DOUBLE)))
                 * sqrt(list_sum(list_transform(range(1, 65), i -> c.e[i]::DOUBLE * c.e[i]::DOUBLE)))))
               DESC, c.cid) AS rn
      FROM t CROSS JOIN cent c
    ),
    vm AS MATERIALIZED (
      SELECT vec_id,
             list_transform(e, x -> CAST(FLOOR(1000000.0 * x::DOUBLE) AS BIGINT)) AS vm
      FROM t
    ),
    rm AS MATERIALIZED (
      SELECT v.vec_id, r.centroid_id,
             list_transform(range(1, 65), i -> v.vm[i] - c.cm[i]) AS rm
      FROM vm v
      JOIN ranked r ON r.vec_id = v.vec_id AND r.rn = 1
      JOIN cent c ON c.cid = r.centroid_id
    ),
    cb AS MATERIALIZED (
      SELECT CAST(s.p - 16 AS INT) AS code, rm.rm AS cb
      FROM seeds32 s JOIN rm ON rm.vec_id = s.vec_id
      WHERE s.p > 16
    ),
    ms AS (SELECT CAST(unnest(range(0, 8)) AS INT) AS m),
    enc AS MATERIALIZED (
      SELECT vec_id, m, code FROM (
        SELECT x.vec_id, ms.m, cb.code,
               row_number() OVER (PARTITION BY x.vec_id, ms.m ORDER BY
                 list_sum(list_transform(range(1, 9),
                   i -> (x.rm[ms.m*8+i] - cb.cb[ms.m*8+i])
                      * (x.rm[ms.m*8+i] - cb.cb[ms.m*8+i]))) ASC,
                 cb.code ASC) AS rn
        FROM rm x CROSS JOIN ms CROSS JOIN cb
      ) WHERE rn = 1
    ),
    qrm AS MATERIALIZED (
      SELECT r.vec_id AS query_id, r.centroid_id,
             list_transform(range(1, 65), i -> v.vm[i] - c.cm[i]) AS qrm
      FROM ranked r
      JOIN vm v ON v.vec_id = r.vec_id
      JOIN cent c ON c.cid = r.centroid_id
      WHERE r.rn <= 4 AND r.vec_id < 100
    ),
    terms AS (
      SELECT q.query_id, nb.vec_id AS nbr_id,
             CAST(list_sum(list_transform(range(1, 9),
               i -> (q.qrm[enc.m*8+i] - cb.cb[enc.m*8+i])
                  * (q.qrm[enc.m*8+i] - cb.cb[enc.m*8+i]))) AS BIGINT) AS t_b
      FROM qrm q
      JOIN rm nb ON nb.centroid_id = q.centroid_id AND nb.vec_id != q.query_id
      JOIN enc ON enc.vec_id = nb.vec_id
      JOIN cb ON cb.code = enc.code
    ),
    adc AS (
      SELECT query_id, nbr_id, CAST(SUM(t_b) AS BIGINT) AS adc_micro2
      FROM terms GROUP BY 1, 2
    )
    SELECT query_id, nbr_id, adc_micro2, CAST(rank AS INTEGER) AS rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY adc_micro2 ASC, nbr_id ASC) AS rank
      FROM adc
    ) WHERE rank <= 3
"""

ORACLES["ann_recall_eval"] = """
    WITH t AS MATERIALIZED (SELECT vec_id, embedding AS e FROM embeddings),
    cent AS (
      SELECT row_number() OVER (ORDER BY vec_id) AS cid, e
      FROM t ORDER BY vec_id LIMIT 16
    ),
    sims AS (
      SELECT t.vec_id, t.e, c.cid,
             list_sum(list_transform(range(1, 65), i -> t.e[i]::DOUBLE * c.e[i]::DOUBLE))
               / (sqrt(list_sum(list_transform(range(1, 65), i -> t.e[i]::DOUBLE * t.e[i]::DOUBLE)))
                * sqrt(list_sum(list_transform(range(1, 65), i -> c.e[i]::DOUBLE * c.e[i]::DOUBLE)))) AS s
      FROM t, cent c
    ),
    ranked AS MATERIALIZED (
      SELECT vec_id, e, cid AS centroid_id,
             row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
      FROM sims
    ),
    corpus AS (SELECT vec_id, e, centroid_id FROM ranked WHERE rn = 1),
    exact AS MATERIALIZED (
      SELECT query_id, nbr_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 round(list_sum(list_transform(range(1, 65), i -> q.e[i]::DOUBLE * c.e[i]::DOUBLE))
                   / (sqrt(list_sum(list_transform(range(1, 65), i -> q.e[i]::DOUBLE * q.e[i]::DOUBLE)))
                    * sqrt(list_sum(list_transform(range(1, 65), i -> c.e[i]::DOUBLE * c.e[i]::DOUBLE)))), 6)
                 DESC, c.vec_id) AS rank
        FROM t q JOIN t c ON q.vec_id != c.vec_id
        WHERE q.vec_id < 100
      ) WHERE rank <= 3
    ),
    np AS (SELECT CAST(unnest([1, 2, 4]) AS INT) AS nprobe),
    approx_ivf AS (
      SELECT nprobe, query_id, nbr_id FROM (
        SELECT np.nprobe, q.vec_id AS query_id, c.vec_id AS nbr_id,
               row_number() OVER (PARTITION BY np.nprobe, q.vec_id ORDER BY
                 round(list_sum(list_transform(range(1, 65), i -> q.e[i]::DOUBLE * c.e[i]::DOUBLE))
                   / (sqrt(list_sum(list_transform(range(1, 65), i -> q.e[i]::DOUBLE * q.e[i]::DOUBLE)))
                    * sqrt(list_sum(list_transform(range(1, 65), i -> c.e[i]::DOUBLE * c.e[i]::DOUBLE)))), 6)
                 DESC, c.vec_id) AS rank
        FROM np
        JOIN ranked q ON q.rn <= np.nprobe AND q.vec_id < 100
        JOIN corpus c ON c.centroid_id = q.centroid_id AND c.vec_id != q.vec_id
      ) WHERE rank <= 3
    ),
    -- ===== PQ tiers: validity-filtered table (the engine PQ paths filter) =====
    tv AS MATERIALIZED (
      SELECT vec_id, embedding AS e FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) = 64
        AND NOT list_contains(list_transform(embedding, x -> x IS NULL), true)
    ),
    seeds32 AS MATERIALIZED (
      SELECT row_number() OVER (ORDER BY vec_id) AS p, vec_id, e
      FROM (SELECT * FROM tv ORDER BY vec_id LIMIT 32)
    ),
    centv AS MATERIALIZED (
      SELECT p AS cid, e,
             list_transform(e, x -> CAST(FLOOR(1000000.0 * x::DOUBLE) AS BIGINT)) AS cm
      FROM seeds32 WHERE p <= 16
    ),
    rankedv AS MATERIALIZED (
      SELECT tv.vec_id, c.cid AS centroid_id,
             row_number() OVER (PARTITION BY tv.vec_id ORDER BY
               (list_sum(list_transform(range(1, 65), i -> tv.e[i]::DOUBLE * c.e[i]::DOUBLE))
                / (sqrt(list_sum(list_transform(range(1, 65), i -> tv.e[i]::DOUBLE * tv.e[i]::DOUBLE)))
                 * sqrt(list_sum(list_transform(range(1, 65), i -> c.e[i]::DOUBLE * c.e[i]::DOUBLE)))))
               DESC, c.cid) AS rn
      FROM tv CROSS JOIN centv c
    ),
    assignedv AS MATERIALIZED (
      SELECT vec_id, centroid_id FROM rankedv WHERE rn = 1
    ),
    ms AS (SELECT CAST(unnest(range(0, 8)) AS INT) AS m),
    -- ---- vector-coded IVF-PQ: codes over raw vectors, codebook = first-16 seeds ----
    enc_pq AS MATERIALIZED (
      SELECT vec_id, m, code FROM (
        SELECT x.vec_id, ms.m, s.cid AS code,
               row_number() OVER (PARTITION BY x.vec_id, ms.m ORDER BY
                 list_sum(list_transform(range(1, 9),
                   i -> (x.e[ms.m*8+i]::DOUBLE - s.e[ms.m*8+i]::DOUBLE)
                      * (x.e[ms.m*8+i]::DOUBLE - s.e[ms.m*8+i]::DOUBLE))) ASC,
                 s.cid ASC) AS rn
        FROM tv x CROSS JOIN ms CROSS JOIN centv s
      ) WHERE rn = 1
    ),
    terms_pq AS (
      SELECT q.query_id, q.prank, nb.vec_id AS nbr_id,
             CAST(FLOOR(1000000.0 * list_sum(list_transform(range(1, 9),
               i -> (q.qe[enc_pq.m*8+i]::DOUBLE - s.e[enc_pq.m*8+i]::DOUBLE)
                  * (q.qe[enc_pq.m*8+i]::DOUBLE - s.e[enc_pq.m*8+i]::DOUBLE))))
               AS BIGINT) AS t_micro
      FROM (
        SELECT tv.vec_id AS query_id, tv.e AS qe, r.centroid_id, r.rn AS prank
        FROM tv JOIN rankedv r ON r.vec_id = tv.vec_id AND r.rn <= 4
        WHERE tv.vec_id < 100
      ) q
      JOIN assignedv nb ON nb.centroid_id = q.centroid_id AND nb.vec_id != q.query_id
      JOIN enc_pq ON enc_pq.vec_id = nb.vec_id
      JOIN centv s ON s.cid = enc_pq.code
    ),
    pairs_pq AS MATERIALIZED (
      SELECT query_id, prank, nbr_id, CAST(SUM(t_micro) AS BIGINT) AS adc_micro
      FROM terms_pq GROUP BY 1, 2, 3
    ),
    approx_pq AS (
      SELECT nprobe, query_id, nbr_id FROM (
        SELECT np.nprobe, p.query_id, p.nbr_id,
               row_number() OVER (PARTITION BY np.nprobe, p.query_id
                 ORDER BY p.adc_micro ASC, p.nbr_id ASC) AS rank
        FROM np JOIN pairs_pq p ON p.prank <= np.nprobe
      ) WHERE rank <= 3
    ),
    -- ---- residual IVF-PQ: integer-micro residual trajectory ----
    vm AS MATERIALIZED (
      SELECT vec_id,
             list_transform(e, x -> CAST(FLOOR(1000000.0 * x::DOUBLE) AS BIGINT)) AS vm
      FROM tv
    ),
    rm AS MATERIALIZED (
      SELECT v.vec_id, r.centroid_id,
             list_transform(range(1, 65), i -> v.vm[i] - c.cm[i]) AS rm
      FROM vm v
      JOIN rankedv r ON r.vec_id = v.vec_id AND r.rn = 1
      JOIN centv c ON c.cid = r.centroid_id
    ),
    cb AS MATERIALIZED (
      SELECT CAST(s.p - 16 AS INT) AS code, rm.rm AS cb
      FROM seeds32 s JOIN rm ON rm.vec_id = s.vec_id
      WHERE s.p > 16
    ),
    enc_res AS MATERIALIZED (
      SELECT vec_id, m, code FROM (
        SELECT x.vec_id, ms.m, cb.code,
               row_number() OVER (PARTITION BY x.vec_id, ms.m ORDER BY
                 list_sum(list_transform(range(1, 9),
                   i -> (x.rm[ms.m*8+i] - cb.cb[ms.m*8+i])
                      * (x.rm[ms.m*8+i] - cb.cb[ms.m*8+i]))) ASC,
                 cb.code ASC) AS rn
        FROM rm x CROSS JOIN ms CROSS JOIN cb
      ) WHERE rn = 1
    ),
    qrm AS MATERIALIZED (
      SELECT r.vec_id AS query_id, r.centroid_id, r.rn AS prank,
             list_transform(range(1, 65), i -> v.vm[i] - c.cm[i]) AS qrm
      FROM rankedv r
      JOIN vm v ON v.vec_id = r.vec_id
      JOIN centv c ON c.cid = r.centroid_id
      WHERE r.rn <= 4 AND r.vec_id < 100
    ),
    terms_res AS (
      SELECT q.query_id, q.prank, nb.vec_id AS nbr_id,
             CAST(list_sum(list_transform(range(1, 9),
               i -> (q.qrm[enc_res.m*8+i] - cb.cb[enc_res.m*8+i])
                  * (q.qrm[enc_res.m*8+i] - cb.cb[enc_res.m*8+i]))) AS BIGINT) AS t_b
      FROM qrm q
      JOIN rm nb ON nb.centroid_id = q.centroid_id AND nb.vec_id != q.query_id
      JOIN enc_res ON enc_res.vec_id = nb.vec_id
      JOIN cb ON cb.code = enc_res.code
    ),
    pairs_res AS MATERIALIZED (
      SELECT query_id, prank, nbr_id, CAST(SUM(t_b) AS BIGINT) AS adc_micro2
      FROM terms_res GROUP BY 1, 2, 3
    ),
    approx_res AS (
      SELECT nprobe, query_id, nbr_id FROM (
        SELECT np.nprobe, p.query_id, p.nbr_id,
               row_number() OVER (PARTITION BY np.nprobe, p.query_id
                 ORDER BY p.adc_micro2 ASC, p.nbr_id ASC) AS rank
        FROM np JOIN pairs_res p ON p.prank <= np.nprobe
      ) WHERE rank <= 3
    ),
    united AS (
      SELECT 'ivf' AS index_tier, nprobe, query_id, nbr_id FROM approx_ivf
      UNION ALL
      SELECT 'ivfpq' AS index_tier, nprobe, query_id, nbr_id FROM approx_pq
      UNION ALL
      SELECT 'ivfpq_residual' AS index_tier, nprobe, query_id, nbr_id FROM approx_res
    ),
    tot AS (SELECT COUNT(*) AS n_exact FROM exact)
    SELECT u.index_tier,
           CAST(u.nprobe AS INT) AS nprobe,
           CAST(tot.n_exact AS BIGINT) AS n_exact,
           CAST(COUNT(e.query_id) AS BIGINT) AS n_hits,
           CAST((COUNT(e.query_id) * 1000000) // tot.n_exact AS BIGINT) AS recall_ppm
    FROM united u
    LEFT JOIN exact e ON e.query_id = u.query_id AND e.nbr_id = u.nbr_id
    CROSS JOIN tot
    GROUP BY u.index_tier, u.nprobe, tot.n_exact
"""

ORACLES["ann_topk_ivf"] = """
    WITH t AS (SELECT vec_id, embedding AS e FROM embeddings),
    cent AS (
      SELECT row_number() OVER (ORDER BY vec_id) AS cid, e
      FROM t ORDER BY vec_id LIMIT 16
    ),
    sims AS (
      SELECT t.vec_id, t.e, c.cid,
             list_sum(list_transform(range(1, 65), i -> t.e[i]::DOUBLE * c.e[i]::DOUBLE))
               / (sqrt(list_sum(list_transform(range(1, 65), i -> t.e[i]::DOUBLE * t.e[i]::DOUBLE)))
                * sqrt(list_sum(list_transform(range(1, 65), i -> c.e[i]::DOUBLE * c.e[i]::DOUBLE)))) AS s
      FROM t, cent c
    ),
    assigned AS (
      SELECT vec_id, e, cid AS centroid_id FROM (
        SELECT vec_id, e, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
        FROM sims
      ) WHERE rn = 1
    ),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS nbr_id,
             round(list_sum(list_transform(range(1, 65), i -> q.e[i]::DOUBLE * c.e[i]::DOUBLE))
               / (sqrt(list_sum(list_transform(range(1, 65), i -> q.e[i]::DOUBLE * q.e[i]::DOUBLE)))
                * sqrt(list_sum(list_transform(range(1, 65), i -> c.e[i]::DOUBLE * c.e[i]::DOUBLE)))), 6) AS cosine
      FROM assigned q JOIN assigned c
        ON q.centroid_id = c.centroid_id AND q.vec_id != c.vec_id
      WHERE q.vec_id < 100
    )
    SELECT query_id, nbr_id, cosine, CAST(rank AS INTEGER) AS rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, nbr_id) AS rank
      FROM pairs
    ) WHERE rank <= 3
"""


# --------------------------------------------------------------------------
# Corpus-pipeline oracles (plans/corpus.py). `_CORPUS_SILVER_SQL` is the
# DuckDB twin of silver.corpus_docs (minus the processed_at audit column);
# the gold oracles stack on it exactly as the MVs stack on the silver table.
# --------------------------------------------------------------------------

_CORPUS_SILVER_SQL = f"""
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         text,
         COALESCE(lang, 'und') AS lang_declared,
         COALESCE(source, 'unknown') AS source,
         CAST(n_chars AS INTEGER) AS n_chars,
         CAST(len(regexp_split_to_array(trim(text, ' '), '\\s+')) AS INTEGER) AS ws_tokens,
         CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INTEGER) AS bpe_tokens,
         {_PRED_LANG_CASE_SQL} AS predicted_lang,
         round(0.4 * least(1.0, q_chars / 500.0)
             + 0.3 * least(1.0, (stop_hits / greatest(n_tokens, 1.0)) * 5.0)
             + 0.3 * (alpha_chars / greatest(q_chars, 1.0)), 6) AS quality_score,
         md5(array_to_string(list_sort(toks), ' ')) AS fingerprint
  FROM (
    SELECT *, CAST(len(toks) AS DOUBLE) AS n_tokens,
           {_LANG_SCORE_SQL},
           CAST(len(list_intersect(toks, {LANG_MARKERS['en']!r})) AS DOUBLE) AS stop_hits
    FROM (
      SELECT doc_id, text, lang, source, n_chars,
             list_distinct(regexp_split_to_array(lower(trim(text, ' ')), '\\s+')) AS toks,
             CAST(length(text) AS DOUBLE) AS q_chars,
             CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) AS alpha_chars
      FROM documents
    ) base
  ) scored
"""

ORACLES["corpus_silver_docs"] = _CORPUS_SILVER_SQL

ORACLES["corpus_gold_survivors"] = f"""
  WITH silver AS ({_CORPUS_SILVER_SQL}),
  ranked AS (
    SELECT doc_id, source, predicted_lang, quality_score, bpe_tokens, fingerprint,
           ROW_NUMBER() OVER (PARTITION BY fingerprint
                              ORDER BY quality_score DESC, doc_id) AS rn,
           COUNT(*) OVER (PARTITION BY fingerprint) AS n_copies
    FROM silver
  )
  SELECT sha256(CAST(doc_id AS VARCHAR)) AS doc_key,
         doc_id, source, predicted_lang, quality_score, bpe_tokens, fingerprint,
         CAST(n_copies AS BIGINT) AS n_copies
  FROM ranked WHERE rn = 1
"""

ORACLES["corpus_gold_mix"] = f"""
  WITH silver AS ({_CORPUS_SILVER_SQL}),
  survivors AS (
    SELECT source, predicted_lang, bpe_tokens FROM (
      SELECT source, predicted_lang, bpe_tokens,
             ROW_NUMBER() OVER (PARTITION BY fingerprint
                                ORDER BY quality_score DESC, doc_id) AS rn
      FROM silver
    ) WHERE rn = 1
  )
  SELECT source, predicted_lang,
         COUNT(*) AS n_docs,
         CAST(SUM(bpe_tokens) AS BIGINT) AS total_tokens,
         CASE WHEN COALESCE(SUM(SUM(bpe_tokens)) OVER (), 0) = 0 THEN NULL
              ELSE ROUND(CAST(SUM(bpe_tokens) AS DOUBLE)
                         / CAST(SUM(SUM(bpe_tokens)) OVER () AS DOUBLE), 6)
         END AS token_share
  FROM survivors
  GROUP BY source, predicted_lang
"""

ORACLES["corpus_expectations"] = f"""
  WITH silver AS ({_CORPUS_SILVER_SQL}),
  agg AS (
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN NOT COALESCE(doc_id IS NOT NULL, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v_doc_id_not_null,
           CAST(SUM(CASE WHEN NOT COALESCE(LENGTH(text) > 0, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v_text_nonempty,
           CAST(SUM(CASE WHEN NOT COALESCE(quality_score >= 0.0 AND quality_score <= 1.0, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v_quality,
           CAST(SUM(CASE WHEN NOT COALESCE(ws_tokens >= 1, FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS v_has_tokens
    FROM silver
  )
  SELECT 'doc_id_not_null' AS expectation, v_doc_id_not_null AS violations, n_rows FROM agg
  UNION ALL
  SELECT 'text_nonempty', v_text_nonempty, n_rows FROM agg
  UNION ALL
  SELECT 'quality_in_unit_range', v_quality, n_rows FROM agg
  UNION ALL
  SELECT 'has_tokens', v_has_tokens, n_rows FROM agg
"""


# --------------------------------------------------------------------------
# Round-5 analytics oracles
# --------------------------------------------------------------------------

ORACLES["lm_perplexity_pruned"] = """
  WITH toks AS (
    SELECT doc_id, regexp_split_to_array(trim(text, ' '), '\\s+') AS w
    FROM documents WHERE len(regexp_split_to_array(trim(text, ' '), '\\s+')) >= 2
  ),
  bigrams AS (
    SELECT doc_id, w[i] AS w1, w[i+1] AS w2
    FROM toks, unnest(range(1, len(w))) AS t(i)
  ),
  counts12 AS (
    SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n12
    FROM bigrams GROUP BY 1, 2
  ),
  counts1 AS (
    SELECT w1, CAST(SUM(n12) AS BIGINT) AS n1 FROM counts12 GROUP BY 1
  ),
  vocab AS (
    SELECT CAST(COUNT(DISTINCT w2) AS BIGINT) AS v FROM counts12
  ),
  kept AS (
    SELECT * FROM counts12 WHERE n12 >= 3
  ),
  scored AS (
    SELECT b.doc_id,
           CAST(FLOOR(1000000.0 * LN((CAST(n12 AS DOUBLE) + 1.0)
                / (CAST(n1 AS DOUBLE) + CAST(v AS DOUBLE)))) AS BIGINT)
             AS term_micro
    FROM bigrams b
    JOIN kept USING (w1, w2)
    JOIN counts1 USING (w1)
    CROSS JOIN vocab
  )
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(FLOOR((0.0 - CAST(SUM(term_micro) AS DOUBLE))
                    / CAST(COUNT(*) AS DOUBLE)) AS BIGINT)
           AS cross_entropy_micro_nats
  FROM scored GROUP BY 1
"""

ORACLES["user_paths"] = """
  WITH seq AS (
    -- NULLS FIRST pins DuckDB (default NULLS LAST) to Spark's ASC default
    -- (NULLS FIRST) so NULL timestamps order identically in both engines.
    SELECT user_id, event_type,
           ROW_NUMBER() OVER (
             PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST
           ) AS rn
    FROM events
  ),
  paths AS (
    SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
    FROM seq WHERE rn <= 8 GROUP BY user_id
  )
  SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users
  FROM paths GROUP BY path
  ORDER BY n_users DESC, path
  LIMIT 25
"""

ORACLES["event_entropy"] = """
  WITH counts AS (
    SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
    FROM events GROUP BY 1, 2
  ),
  per_user AS (
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(c) AS BIGINT) AS n_events,
           CAST(SUM(CAST(FLOOR(1000000.0 * CAST(c AS DOUBLE)
                * LN(CAST(c AS DOUBLE))) AS BIGINT)) AS BIGINT) AS s_micro
    FROM counts GROUP BY 1
  )
  SELECT user_id, n_types, n_events,
         CAST(FLOOR(1000000.0 * LN(CAST(n_events AS DOUBLE))) AS BIGINT)
         - CAST(FLOOR(CAST(s_micro AS DOUBLE)
                      / CAST(n_events AS DOUBLE)) AS BIGINT)
           AS entropy_micro_nats
  FROM per_user
"""

ORACLES["decile_lift"] = """
  WITH spend AS (
    SELECT o_custkey,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS spend_cents
    FROM orders GROUP BY 1
  ),
  seg AS (
    SELECT s.o_custkey, s.spend_cents, c.c_mktsegment
    FROM spend s JOIN customer c ON s.o_custkey = c.c_custkey
  ),
  tiled AS (
    SELECT c_mktsegment, spend_cents,
           NTILE(10) OVER (PARTITION BY c_mktsegment
                           ORDER BY spend_cents DESC, o_custkey) AS decile
    FROM seg
  ),
  per_decile AS (
    SELECT c_mktsegment, decile,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(spend_cents) AS BIGINT) AS decile_cents
    FROM tiled GROUP BY 1, 2
  )
  SELECT c_mktsegment, CAST(decile AS INTEGER) AS decile, n_customers, decile_cents,
         CAST(FLOOR(1000000.0 * CAST(decile_cents AS DOUBLE)
              / CAST(SUM(decile_cents) OVER (PARTITION BY c_mktsegment) AS DOUBLE)) AS BIGINT)
           AS share_ppm,
         CAST(FLOOR(CAST(SUM(decile_cents) OVER (PARTITION BY c_mktsegment
                         ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
              * 1000000.0
              / CAST(SUM(decile_cents) OVER (PARTITION BY c_mktsegment) AS DOUBLE)) AS BIGINT)
           AS cum_share_ppm
  FROM per_decile
"""

ORACLES["pareto_customers"] = """
  WITH spend AS (
    SELECT o_custkey,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS spend_cents
    FROM orders GROUP BY 1
  ),
  seg AS (
    SELECT s.o_custkey, s.spend_cents, c.c_mktsegment
    FROM spend s JOIN customer c ON s.o_custkey = c.c_custkey
  ),
  ranked AS (
    SELECT c_mktsegment,
           ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                              ORDER BY spend_cents DESC, o_custkey) AS rnk,
           CAST(SUM(spend_cents) OVER (PARTITION BY c_mktsegment
                ORDER BY spend_cents DESC, o_custkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_cents,
           CAST(SUM(spend_cents) OVER (PARTITION BY c_mktsegment) AS BIGINT) AS total_cents
    FROM seg
  )
  SELECT c_mktsegment,
         CAST(COUNT(*) AS BIGINT) AS n_customers,
         CAST(MIN(CASE WHEN cum_cents * 5 >= total_cents * 4 THEN rnk END) AS BIGINT) AS pareto_n,
         CAST(FLOOR(1000000.0
              * CAST(MIN(CASE WHEN cum_cents * 5 >= total_cents * 4
                           THEN cum_cents END) AS DOUBLE)
              / CAST(ANY_VALUE(total_cents) AS DOUBLE)) AS BIGINT) AS pareto_share_ppm
  FROM ranked
  GROUP BY c_mktsegment
"""

ORACLES["time_weighted_avg"] = """
  WITH stepped AS (
    -- NULLS FIRST pins DuckDB (default NULLS LAST) to Spark's ASC default
    -- (NULLS FIRST) so NULL timestamps order identically in both engines.
    SELECT user_id,
           CAST(FLOOR(value * 1000000.0) AS BIGINT) AS v_micro,
           CAST(FLOOR(EPOCH(LEAD(ts) OVER (
                  PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST
                )))
                - FLOOR(EPOCH(ts)) AS BIGINT) AS dt_s
    FROM events
  )
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n_intervals,
         CAST(SUM(dt_s) AS BIGINT) AS total_dt_s,
         CASE WHEN SUM(dt_s) = 0 THEN NULL ELSE
           CAST(FLOOR(CAST(SUM(v_micro * dt_s) AS DOUBLE)
                / CAST(SUM(dt_s) AS DOUBLE)) AS BIGINT) END AS twap_micro
  FROM stepped
  WHERE dt_s IS NOT NULL
  GROUP BY user_id
"""

# The streaming twin computes the identical silver projection, so it shares
# the batch table's oracle verbatim.
ORACLES["corpus_streaming_ingest"] = _CORPUS_SILVER_SQL

# The aggregation twin computes the identical survivor contract, so it
# shares the MV's oracle verbatim.
ORACLES["corpus_survivors_agg"] = ORACLES["corpus_gold_survivors"]

ORACLES["leakage_safe_split"] = f"""
  WITH silver AS ({_CORPUS_SILVER_SQL})
  SELECT doc_id, source, fingerprint,
         CASE WHEN substring(md5(fingerprint), 1, 2) < 'e6' THEN 'train'
              WHEN substring(md5(fingerprint), 1, 2) < 'f3' THEN 'val'
              ELSE 'test' END AS split
  FROM silver
"""

# DESC NULLS FIRST pins DuckDB to the Spark side's ordering (the prefix
# scan sorts ASC on the NEGATED quality key, and Spark ASC = NULLS FIRST).
ORACLES["budget_select"] = f"""
  WITH silver AS MATERIALIZED ({_CORPUS_SILVER_SQL}),
  o AS (
    SELECT doc_id, quality_score, CAST(bpe_tokens AS INTEGER) AS n_tokens,
           COALESCE(CAST(SUM(CAST(bpe_tokens AS BIGINT)) OVER (
             ORDER BY quality_score DESC NULLS FIRST, doc_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
             0) AS tokens_before
    FROM silver
  ),
  b AS (SELECT CAST(SUM(CAST(bpe_tokens AS BIGINT)) // 4 AS BIGINT) AS budget
        FROM silver)
  SELECT doc_id, quality_score, n_tokens, tokens_before, budget,
         tokens_before < budget AS selected
  FROM o CROSS JOIN b
"""

# Unrolled 3-round LPA: per round, message counts per (node, label) then
# the deterministic argmax (count DESC, label ASC) — the same min-label
# tie break the Spark side's max(struct(count, -label)) aggregate pins.
# Shared CTE prefix: label_propagation selects the assignment, while
# community_modularity appends its scoring CTEs over the same l3.
_LPA_CTES = """
  WITH p AS MATERIALIZED (
    SELECT DISTINCT CAST(l_suppkey AS BIGINT)*2 AS src,
                    CAST(o_custkey AS BIGINT)*2 + 1 AS dst
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  ),
  e AS MATERIALIZED (
    SELECT src, dst FROM p UNION ALL SELECT dst AS src, src AS dst FROM p
  ),
  l0 AS (SELECT DISTINCT src AS node, src AS label FROM e),
  c1 AS (SELECT e.dst AS node, l.label, COUNT(*) AS c
         FROM e JOIN l0 l ON e.src = l.node GROUP BY 1, 2),
  l1 AS (SELECT node, label FROM (
           SELECT node, label,
                  ROW_NUMBER() OVER (PARTITION BY node
                                     ORDER BY c DESC, label ASC) AS rn
           FROM c1) WHERE rn = 1),
  c2 AS (SELECT e.dst AS node, l.label, COUNT(*) AS c
         FROM e JOIN l1 l ON e.src = l.node GROUP BY 1, 2),
  l2 AS (SELECT node, label FROM (
           SELECT node, label,
                  ROW_NUMBER() OVER (PARTITION BY node
                                     ORDER BY c DESC, label ASC) AS rn
           FROM c2) WHERE rn = 1),
  c3 AS (SELECT e.dst AS node, l.label, COUNT(*) AS c
         FROM e JOIN l2 l ON e.src = l.node GROUP BY 1, 2),
  l3 AS MATERIALIZED (SELECT node, label FROM (
           SELECT node, label,
                  ROW_NUMBER() OVER (PARTITION BY node
                                     ORDER BY c DESC, label ASC) AS rn
           FROM c3) WHERE rn = 1)"""

ORACLES["label_propagation"] = f"""{_LPA_CTES}
  SELECT CASE WHEN node % 2 = 0 THEN 'supplier' ELSE 'customer' END
           AS entity_type,
         node // 2 AS entity_key,
         CASE WHEN label % 2 = 0 THEN 'supplier' ELSE 'customer' END
           AS community_type,
         label // 2 AS community_key
  FROM l3
"""

# Modularity in nested integer ppm: q_ppm = (1e6·a_c) // 2m −
# ((1e6·d_c) // 2m)² // 1e6 — DuckDB's integer // truncates toward zero
# exactly like Spark's div (and every operand here is non-negative);
# the nesting keeps all intermediates under 2^63 (1e6·a_c ≤ 1e6·2m).
ORACLES["community_modularity"] = f"""{_LPA_CTES},
  twom AS (SELECT CAST(COUNT(*) AS BIGINT) AS t2m FROM e),
  sizes AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_nodes
            FROM l3 GROUP BY 1),
  degs AS (SELECT l3.label, CAST(COUNT(*) AS BIGINT) AS degree_sum
           FROM e JOIN l3 ON e.src = l3.node GROUP BY 1),
  intra AS (SELECT ls.label, CAST(COUNT(*) AS BIGINT) AS intra_deg
            FROM e JOIN l3 ls ON e.src = ls.node
                   JOIN l3 ld ON e.dst = ld.node
            WHERE ls.label = ld.label GROUP BY 1)
  SELECT CASE WHEN s.label % 2 = 0 THEN 'supplier' ELSE 'customer' END
           AS community_type,
         s.label // 2 AS community_key,
         s.n_nodes,
         COALESCE(i.intra_deg, 0) AS intra_deg,
         d.degree_sum,
         CAST((1000000 * COALESCE(i.intra_deg, 0)) // t.t2m
              - (((1000000 * d.degree_sum) // t.t2m)
                 * ((1000000 * d.degree_sum) // t.t2m)) // 1000000
              AS BIGINT) AS q_ppm
  FROM sizes s
  JOIN degs d ON s.label = d.label
  LEFT JOIN intra i ON s.label = i.label
  CROSS JOIN twom t
"""

# k-core peeling unrolled: 3 synchronous rounds of "remove every
# surviving node with degree < 20 in the surviving subgraph" — pure
# integer degrees, no tie-breaks, so equality is exact by construction.
ORACLES["kcore_decompose"] = """
  WITH p AS MATERIALIZED (
    SELECT DISTINCT CAST(l_suppkey AS BIGINT)*2 AS src,
                    CAST(o_custkey AS BIGINT)*2 + 1 AS dst
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  ),
  e0 AS MATERIALIZED (
    SELECT src, dst FROM p UNION ALL SELECT dst AS src, src AS dst FROM p
  ),
  n0 AS (SELECT DISTINCT src AS node FROM e0),
  d1 AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
         FROM e0 GROUP BY 1),
  ev1 AS (SELECT n0.node, COALESCE(d1.deg, 0) AS deg
          FROM n0 LEFT JOIN d1 ON n0.node = d1.node),
  a1 AS (SELECT node FROM ev1 WHERE deg >= 20),
  e1 AS MATERIALIZED (
    SELECT e0.src, e0.dst FROM e0
    JOIN a1 s ON e0.src = s.node JOIN a1 t ON e0.dst = t.node
  ),
  d2 AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
         FROM e1 GROUP BY 1),
  ev2 AS (SELECT a1.node, COALESCE(d2.deg, 0) AS deg
          FROM a1 LEFT JOIN d2 ON a1.node = d2.node),
  a2 AS (SELECT node FROM ev2 WHERE deg >= 20),
  e2 AS MATERIALIZED (
    SELECT e1.src, e1.dst FROM e1
    JOIN a2 s ON e1.src = s.node JOIN a2 t ON e1.dst = t.node
  ),
  d3 AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg
         FROM e2 GROUP BY 1),
  ev3 AS (SELECT a2.node, COALESCE(d3.deg, 0) AS deg
          FROM a2 LEFT JOIN d3 ON a2.node = d3.node),
  allrows AS (
    SELECT node, 1 AS peeled_round, deg FROM ev1 WHERE deg < 20
    UNION ALL
    SELECT node, 2 AS peeled_round, deg FROM ev2 WHERE deg < 20
    UNION ALL
    SELECT node, 3 AS peeled_round, deg FROM ev3 WHERE deg < 20
    UNION ALL
    SELECT node, 0 AS peeled_round, deg FROM ev3 WHERE deg >= 20
  )
  SELECT CASE WHEN node % 2 = 0 THEN 'supplier' ELSE 'customer' END
           AS entity_type,
         node // 2 AS entity_key,
         CAST(peeled_round AS INT) AS peeled_round,
         deg AS degree
  FROM allrows
"""

# lift is one IEEE double division of exactly-representable integer
# products (both engines run the identical op sequence → bitwise-equal),
# pmi_micro the same FLOOR(1e6·LN(x)) shape bm25_rank already pins.
ORACLES["collocation_pmi"] = r"""
  WITH toks AS (
    SELECT regexp_split_to_array(trim(text, ' '), '\s+') AS w FROM documents
  ),
  bigrams AS (
    SELECT w[CAST(t.i AS INT)] AS w1, w[CAST(t.i AS INT) + 1] AS w2
    FROM toks, UNNEST(range(1, len(w))) AS t(i)
  ),
  counts AS MATERIALIZED (
    SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n12 FROM bigrams GROUP BY 1, 2
  ),
  lm AS (SELECT w1, CAST(SUM(n12) AS BIGINT) AS n1 FROM counts GROUP BY w1),
  rm AS (SELECT w2, CAST(SUM(n12) AS BIGINT) AS n2 FROM counts GROUP BY w2),
  tot AS (SELECT CAST(SUM(n12) AS BIGINT) AS n_total FROM counts)
  SELECT c.w1, c.w2, c.n12, l.n1, r.n2,
         (CAST(c.n12 AS DOUBLE) * CAST(t.n_total AS DOUBLE))
           / (CAST(l.n1 AS DOUBLE) * CAST(r.n2 AS DOUBLE)) AS lift,
         CAST(FLOOR(1000000.0 * LN(
           (CAST(c.n12 AS DOUBLE) * CAST(t.n_total AS DOUBLE))
             / (CAST(l.n1 AS DOUBLE) * CAST(r.n2 AS DOUBLE)))) AS BIGINT)
           AS pmi_micro
  FROM counts c JOIN lm l USING (w1) JOIN rm r USING (w2) CROSS JOIN tot t
  WHERE c.n12 >= 20
  ORDER BY lift DESC, w1 ASC, w2 ASC
  LIMIT 100
"""

# Hard-negative mining: ann_topk's pair machinery with a label-inequality
# predicate — NULL labels pair with nothing (SQL <> semantics, both engines).
ORACLES["hard_negatives"] = """
  WITH t AS (SELECT vec_id, embedding AS e, label FROM embeddings),
  pairs AS (
    SELECT q.vec_id AS query_id, q.label AS query_label,
           c.vec_id AS nbr_id, c.label AS nbr_label,
           round(list_sum(list_transform(range(1, 65), i -> q.e[i]::DOUBLE * c.e[i]::DOUBLE))
             / (sqrt(list_sum(list_transform(range(1, 65), i -> q.e[i]::DOUBLE * q.e[i]::DOUBLE)))
              * sqrt(list_sum(list_transform(range(1, 65), i -> c.e[i]::DOUBLE * c.e[i]::DOUBLE)))), 6) AS cosine
    FROM t q JOIN t c ON q.vec_id != c.vec_id AND q.label <> c.label
    WHERE q.vec_id < 100
  )
  SELECT query_id, CAST(query_label AS INTEGER) AS query_label,
         nbr_id, CAST(nbr_label AS INTEGER) AS nbr_label,
         cosine, CAST(rank AS INTEGER) AS rank FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, nbr_id) AS rank
    FROM pairs
  ) r WHERE rank <= 3
"""

# Centroid-distance outliers in exact integer milli-units: DuckDB's
# integer // truncates toward zero exactly like Spark's div, and the
# (s − ((s%n)+n)%n) adjustment additionally pins mathematical FLOOR
# semantics for the possibly-negative sum (the adjusted numerator is an
# exact multiple of n; both engines' % follow the dividend sign). Every
# distance is an exact int64 sum.
ORACLES["embedding_outliers"] = """
  WITH t AS (
    SELECT vec_id, label, embedding AS e FROM embeddings
    WHERE embedding IS NOT NULL AND label IS NOT NULL
      AND len(embedding) = 64
      AND NOT list_contains(list_transform(embedding, x -> x IS NULL), true)
  ),
  ex AS MATERIALIZED (
    SELECT vec_id, label, u.i AS dim,
           CAST(FLOOR(e[CAST(u.i AS INT)]::DOUBLE * 1000) AS BIGINT) AS v
    FROM t, UNNEST(range(1, 65)) AS u(i)
  ),
  cent AS (
    SELECT label, dim, (s - (((s % n) + n) % n)) // n AS c
    FROM (SELECT label, dim, CAST(SUM(v) AS BIGINT) AS s,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM ex GROUP BY 1, 2)
  ),
  d AS (
    SELECT ex.vec_id, ex.label,
           CAST(SUM((ex.v - cent.c) * (ex.v - cent.c)) AS BIGINT) AS d2_milli
    FROM ex JOIN cent USING (label, dim)
    GROUP BY 1, 2
  )
  SELECT CAST(label AS INTEGER) AS label, vec_id, d2_milli,
         CAST(rn AS INTEGER) AS rank
  FROM (
    SELECT label, vec_id, d2_milli,
           ROW_NUMBER() OVER (PARTITION BY label
                              ORDER BY d2_milli DESC, vec_id ASC) AS rn
    FROM d
  ) r WHERE rn <= 20
"""

# OHLC: open/close are min/max over named (ts, event_id, v) structs —
# lexicographic with the event_id tie-break, aggregate not window, so a
# hot bucket partial-aggregates map-side; NULL ts/event_id/value rows are
# filtered on both sides (struct comparison with NULL fields is where
# engines disagree). Volume sums in DECIMAL before the double cast.
ORACLES["ohlc_bars"] = """
  WITH e AS (
    SELECT event_type, date_trunc('hour', ts) AS bar_start, ts, event_id,
           CAST(value AS DOUBLE) AS v
    FROM events
    WHERE ts IS NOT NULL AND event_id IS NOT NULL AND value IS NOT NULL
  )
  SELECT event_type, bar_start,
         (min({'t': ts, 'i': event_id, 'v': v})).v AS open,
         MAX(v) AS high,
         MIN(v) AS low,
         (max({'t': ts, 'i': event_id, 'v': v})).v AS close,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE) AS volume
  FROM e GROUP BY 1, 2
"""
