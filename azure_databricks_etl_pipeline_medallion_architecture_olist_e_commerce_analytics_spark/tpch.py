"""TPC-H-analog analytic query pack over the driver's TPC-H-shaped testdata.

The reference's gold layer is a star-schema fact with multi-way joins,
filtered aggregates, and ranked outputs (/root/reference/scripts/gold/
fact_order_items.sql:48-116). This module widens that exact query surface to
the classic TPC-H shapes the same star schema supports: pricing summaries,
shipping-priority top-k, regional volume joins, market-share case-aggregates,
correlated-subquery small-quantity analysis, disjunctive join predicates, and
anti-join "lost customer" analysis. Adapted to the driver schema (no
partsupp table; no comment/address/phone columns).

Every aggregate uses the decimal-sum pattern (cast exact 2-dp inputs to
DECIMAL before SUM, cast the exact decimal sum back to DOUBLE) so results are
bitwise-equal to the DuckDB oracle regardless of partition/accumulation
order — a double SUM would be order-dependent and unverifiable.

Scale design (100 TB): every query keeps the big-side shuffle on the join
key it aggregates by (one exchange reused), dims flow in as broadcasts
(nation/region always; part/customer filtered before the join so AQE
broadcasts the surviving rows), top-k queries end in TakeOrderedAndProject
(O(k) per partition, no global sort), and filters sit directly on scan
columns so parquet footer pruning and predicate pushdown apply.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .sources.loader import load_table


def _dec(col: str, prec: int = 18, scale: int = 2):
    return F.col(col).cast(f"decimal({prec},{scale})")


def _disc_price():
    """price*(1-disc) as an EXACT decimal(18,4): inputs are 2-dp values."""
    return (_dec("l_extendedprice") * (F.lit(1) - _dec("l_discount", 4, 2))).cast(
        "decimal(18,4)"
    )


def _charge():
    """price*(1-disc)*(1+tax) as an exact decimal(18,6)."""
    return (_disc_price() * (F.lit(1) + _dec("l_tax", 4, 2))).cast("decimal(18,6)")


def _dbl(c, scale: int):
    """Exact DECIMAL→DOUBLE via int64 micro-units. A direct
    CAST(decimal AS DOUBLE) diverges across engines once the value needs
    more than ~15 significant digits (Spark rounds the full decimal
    correctly; DuckDB divides the scaled integer — caught by the sf1
    shuffle-stress sweep: tpch_q1's sum_charge differed in the last ulp at
    5.1e10 with 6 decimals). int64→double is IEEE round-to-nearest-even in
    BOTH engines, so routing through the exact scaled integer
    (sum·10^s is integral by construction for a sum of scale-s decimals)
    and one double division yields bit-identical doubles while the scaled
    sum fits int64 (~9.2e12 even at scale 6 — far past the test SFs; the
    mirrored SQL form is `CAST(CAST(x * 10^s AS BIGINT) AS DOUBLE) / 10^s.0`).
    """
    f = 10 ** scale
    return (c * F.lit(f)).cast("bigint").cast("double") / F.lit(float(f))


# SQL fragments mirroring the helpers above, byte-exact in DuckDB.
_SQL_DISC_PRICE = (
    "CAST(CAST(l_extendedprice AS DECIMAL(18,2))"
    " * (1 - CAST(l_discount AS DECIMAL(4,2))) AS DECIMAL(18,4))"
)
_SQL_CHARGE = (
    f"CAST({_SQL_DISC_PRICE} * (1 + CAST(l_tax AS DECIMAL(4,2))) AS DECIMAL(18,6))"
)


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 pricing summary: filtered scan -> 6-col grouped aggregate.

    Single wide aggregation over the fact — the shape of the reference's
    per-order payment rollup (fact_order_items.sql:19-29) at full-table
    cardinality. One shuffle on the (returnflag, linestatus) key after a
    map-side partial aggregate; averages derived from exact sums so no
    second pass.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2001-09-01")
    )
    g = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),  # integer-valued doubles: exact
        F.sum(_dec("l_extendedprice")).alias("_sum_base"),
        F.sum(_disc_price()).alias("_sum_disc"),
        F.sum(_charge()).alias("_sum_charge"),
        F.sum(_dec("l_discount", 4, 2)).alias("_sum_disc_only"),
        F.count(F.lit(1)).alias("count_order"),
    )
    return g.select(
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        _dbl(F.col("_sum_base"), 2).alias("sum_base_price"),
        _dbl(F.col("_sum_disc"), 4).alias("sum_disc_price"),
        _dbl(F.col("_sum_charge"), 6).alias("sum_charge"),
        (F.col("sum_qty") / F.col("count_order")).alias("avg_qty"),
        (_dbl(F.col("_sum_base"), 2) / F.col("count_order")).alias("avg_price"),
        (_dbl(F.col("_sum_disc_only"), 2) / F.col("count_order")).alias("avg_disc"),
        "count_order",
    )


_TPCH_Q1_SQL = f"""
  SELECT l_returnflag, l_linestatus,
         SUM(l_quantity) AS sum_qty,
         CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS DOUBLE) / 100.0 AS sum_base_price,
         CAST(CAST(SUM({_SQL_DISC_PRICE}) * 10000 AS BIGINT) AS DOUBLE) / 10000.0 AS sum_disc_price,
         CAST(CAST(SUM({_SQL_CHARGE}) * 1000000 AS BIGINT) AS DOUBLE) / 1000000.0 AS sum_charge,
         SUM(l_quantity) / COUNT(*) AS avg_qty,
         CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT) AS DOUBLE) / 100.0 / COUNT(*) AS avg_price,
         CAST(CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) * 100 AS BIGINT) AS DOUBLE) / 100.0 / COUNT(*) AS avg_disc,
         COUNT(*) AS count_order
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '2001-09-01'
  GROUP BY l_returnflag, l_linestatus
"""


def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 shipping priority: segment-filtered 3-way join -> grouped revenue
    -> top 10 (TakeOrderedAndProject, no global sort).

    The customer side is filtered to one segment BEFORE the join, so AQE
    sizes it for broadcast; lineitem⋈orders shuffles once on the order key,
    which is also the aggregation key — one exchange serves both.
    """
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15")
    ).select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", F.to_date("o_orderdate").alias("order_date"), "o_orderpriority")
        .agg(_dbl(F.sum(_disc_price()), 4).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


_TPCH_Q3_SQL = f"""
  SELECT l_orderkey, CAST(o_orderdate AS DATE) AS order_date, o_orderpriority,
         CAST(CAST(SUM({_SQL_DISC_PRICE}) * 10000 AS BIGINT) AS DOUBLE) / 10000.0 AS revenue
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment = 'BUILDING'
    AND o_orderdate < TIMESTAMP '1998-03-15'
    AND l_shipdate > TIMESTAMP '1998-03-15'
  GROUP BY 1, 2, 3
  ORDER BY revenue DESC, l_orderkey ASC
  LIMIT 10
"""


def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 local-supplier volume: 6-table star join (region->nation->
    customer/supplier->orders->lineitem) with the c_nationkey=s_nationkey
    co-location constraint; grouped revenue per nation.

    region/nation broadcast explicitly (bounded dims); supplier and the
    nation-filtered customer side broadcast via AQE. The only large shuffle
    is lineitem⋈orders on the order key.
    """
    region = F.broadcast(
        load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    )
    nation = F.broadcast(load_table(spark, sf_dir, "nation"))
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(nation, supp.s_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(_dbl(F.sum(_disc_price()), 4).alias("revenue"))
    )


_TPCH_Q5_SQL = f"""
  SELECT n_name, CAST(CAST(SUM({_SQL_DISC_PRICE}) * 10000 AS BIGINT) AS DOUBLE) / 10000.0 AS revenue
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'ASIA'
    AND o_orderdate >= TIMESTAMP '1996-01-01'
    AND o_orderdate < TIMESTAMP '1997-01-01'
  GROUP BY n_name
"""


def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 forecast-revenue change: pure pushed-down filter + single-row
    global aggregate. All three predicates reach the parquet scan
    (PushedFilters); zero joins, one partial-agg exchange of one row per
    partition."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        _dbl(
            F.sum(
                (_dec("l_extendedprice") * _dec("l_discount", 4, 2)).cast(
                    "decimal(18,4)"
                )
            ),
            4,
        ).alias("revenue")
    )


_TPCH_Q6_SQL = """
  SELECT CAST(CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                       * CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(18,4)))
              * 10000 AS BIGINT) AS DOUBLE) / 10000.0 AS revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1997-01-01'
    AND l_discount >= 0.05 AND l_discount <= 0.07
    AND l_quantity < 24
"""


def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 volume shipping between two nations, both directions, by year.

    The nation dimension broadcasts twice (supplier side, customer side);
    the disjunctive nation-pair predicate is applied after both broadcast
    joins, before the grouped aggregate."""
    n1 = F.broadcast(
        load_table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
        )
    )
    n2 = F.broadcast(
        load_table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
        )
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(n1, supp.s_nationkey == n1.s_nkey)
        .join(n2, cust.c_nationkey == n2.c_nkey)
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(_dbl(F.sum(_disc_price()), 4).alias("revenue"))
    )


_TPCH_Q7_SQL = f"""
  SELECT supp_nation, cust_nation, l_year,
         CAST(CAST(SUM(volume) * 10000 AS BIGINT) AS DOUBLE) / 10000.0 AS revenue
  FROM (
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           EXTRACT(year FROM l_shipdate) AS l_year,
           {_SQL_DISC_PRICE} AS volume
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
  )
  GROUP BY supp_nation, cust_nation, l_year
"""


def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 market share: conditional-sum ratio per year (CASE inside SUM over
    a 7-table join). The part side is filtered to one type before the join
    so only matching fact rows survive the first (broadcast) join."""
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "ECONOMY"
    ).select("p_partkey")
    region = F.broadcast(
        load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    )
    nation_c = F.broadcast(
        load_table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey").alias("c_rkey")
        )
    )
    nation_s = F.broadcast(
        load_table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
        )
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    joined = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation_c, cust.c_nationkey == nation_c.c_nkey)
        .join(region, nation_c.c_rkey == region.r_regionkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(nation_s, supp.s_nationkey == nation_s.s_nkey)
    )
    g = joined.groupBy(F.year("o_orderdate").alias("o_year")).agg(
        F.sum(
            F.when(F.col("supp_nation") == "NATION_3", _disc_price()).otherwise(
                F.lit(0).cast("decimal(18,4)")
            )
        ).alias("_nat"),
        F.sum(_disc_price()).alias("_tot"),
    )
    return g.select(
        "o_year",
        (_dbl(F.col("_nat"), 4) / _dbl(F.col("_tot"), 4)).alias("mkt_share"),
    )


_TPCH_Q8_SQL = f"""
  SELECT EXTRACT(year FROM o_orderdate) AS o_year,
         (CAST(CAST(SUM(CASE WHEN n2.n_name = 'NATION_3' THEN {_SQL_DISC_PRICE}
                       ELSE CAST(0 AS DECIMAL(18,4)) END) * 10000 AS BIGINT)
            AS DOUBLE) / 10000.0)
           / (CAST(CAST(SUM({_SQL_DISC_PRICE}) * 10000 AS BIGINT) AS DOUBLE)
              / 10000.0) AS mkt_share
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE p_type = 'ECONOMY' AND r_name = 'AMERICA'
    AND o_orderdate >= TIMESTAMP '1996-01-01'
    AND o_orderdate < TIMESTAMP '1998-01-01'
  GROUP BY 1
"""


def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 returned-item reporting: returnflag-filtered fact joined to
    customer+nation, grouped per customer, top 20 by lost revenue."""
    nation = F.broadcast(
        load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    )
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-04-01"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(nation, cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(_dbl(F.sum(_disc_price()), 4).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


_TPCH_Q10_SQL = f"""
  SELECT c_custkey, c_name, c_acctbal, n_name,
         CAST(CAST(SUM({_SQL_DISC_PRICE}) * 10000 AS BIGINT) AS DOUBLE) / 10000.0 AS revenue
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  WHERE l_returnflag = 'R'
    AND o_orderdate >= TIMESTAMP '1996-01-01'
    AND o_orderdate < TIMESTAMP '1996-04-01'
  GROUP BY 1, 2, 3, 4
  ORDER BY revenue DESC, c_custkey ASC
  LIMIT 20
"""


def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 promotion effect: conditional revenue ratio over a part join in
    one month window. Part dim broadcasts; single-row output."""
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    g = li.join(part, li.l_partkey == part.p_partkey).agg(
        F.sum(
            F.when(F.col("p_type") == "PROMO", _disc_price()).otherwise(
                F.lit(0).cast("decimal(18,4)")
            )
        ).alias("_promo"),
        F.sum(_disc_price()).alias("_tot"),
    )
    return g.select(
        (
            F.lit(100.0)
            * _dbl(F.col("_promo"), 4)
            / _dbl(F.col("_tot"), 4)
        ).alias("promo_revenue_pct")
    )


_TPCH_Q14_SQL = f"""
  SELECT 100.0 * (CAST(CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {_SQL_DISC_PRICE}
                               ELSE CAST(0 AS DECIMAL(18,4)) END) * 10000 AS BIGINT)
                     AS DOUBLE) / 10000.0)
             / (CAST(CAST(SUM({_SQL_DISC_PRICE}) * 10000 AS BIGINT) AS DOUBLE)
                / 10000.0) AS promo_revenue_pct
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1996-03-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
"""


def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 top supplier: revenue view per supplier in one quarter; return
    the supplier(s) whose revenue equals the global max (scalar-subquery
    max joined back — the max is a 1-row broadcast, no window sort)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    revenue = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        _dbl(F.sum(_disc_price()), 4).alias("total_revenue")
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("_mx"))
    supp = load_table(spark, sf_dir, "supplier")
    return (
        revenue.join(F.broadcast(max_rev), F.col("total_revenue") == F.col("_mx"))
        .join(supp, F.col("supplier_no") == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


_TPCH_Q15_SQL = f"""
  WITH revenue AS (
    SELECT l_suppkey AS supplier_no,
           CAST(CAST(SUM({_SQL_DISC_PRICE}) * 10000 AS BIGINT) AS DOUBLE) / 10000.0 AS total_revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1996-04-01'
    GROUP BY l_suppkey
  )
  SELECT s_suppkey, s_name, total_revenue
  FROM revenue JOIN supplier ON supplier_no = s_suppkey
  WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
"""


def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 small-quantity-order revenue: correlated avg-quantity subquery
    per part, de-correlated into a grouped join (the Catalyst rewrite).

    avg quantity is exact (integer-valued doubles, sum < 2^53), so the
    0.2*avg threshold is bitwise-reproducible in the oracle."""
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#3") & (F.col("p_size") < 15)
    ).select("p_partkey")
    li = load_table(spark, sf_dir, "lineitem")
    avg_qty = li.groupBy(F.col("l_partkey").alias("_pk")).agg(
        (F.sum("l_quantity") / F.count(F.lit(1))).alias("_avg_qty")
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(avg_qty, li.l_partkey == F.col("_pk"))
        .filter(F.col("l_quantity") < 0.2 * F.col("_avg_qty"))
        .agg(
            (_dbl(F.sum(_dec("l_extendedprice")), 2) / F.lit(7.0)).alias(
                "avg_yearly"
            )
        )
    )


_TPCH_Q17_SQL = """
  SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT)
              AS DOUBLE) / 100.0 / 7.0
           AS avg_yearly
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN (
    SELECT l_partkey AS _pk, SUM(l_quantity) / COUNT(*) AS _avg_qty
    FROM lineitem GROUP BY l_partkey
  ) ON l_partkey = _pk
  WHERE p_brand = 'Brand#3' AND p_size < 15
    AND l_quantity < 0.2 * _avg_qty
"""


def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 large-volume customers: grouped HAVING over the fact, then join
    back to orders+customer. The HAVING side reduces to qualifying order
    keys first, so the join-back streams only survivors."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 180)
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.to_date("o_orderdate").alias("order_date"),
            "o_totalprice",
            "total_qty",
        )
    )


_TPCH_Q18_SQL = """
  SELECT c_name, c_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
         o_totalprice, total_qty
  FROM (
    SELECT l_orderkey, SUM(l_quantity) AS total_qty
    FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 180
  )
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
"""


def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 discounted revenue: disjunction of conjunctive brand/size/qty
    predicates over a part equi-join. Catalyst extracts the common
    l_partkey=p_partkey equi-condition and evaluates the OR as a join
    residual — one hash join, not a cartesian."""
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    li = load_table(spark, sf_dir, "lineitem")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(_dbl(F.sum(_disc_price()), 4).alias("revenue"))
    )


_TPCH_Q19_SQL = f"""
  SELECT CAST(CAST(SUM({_SQL_DISC_PRICE}) * 10000 AS BIGINT) AS DOUBLE) / 10000.0 AS revenue
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
         AND l_quantity BETWEEN 1 AND 11)
     OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
         AND l_quantity BETWEEN 10 AND 20)
     OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
         AND l_quantity BETWEEN 20 AND 30)
"""


def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 global-sales-opportunity analog: customers with above-average
    positive balance and NO orders — scalar subquery (1-row broadcast) +
    left-anti join, grouped per market segment."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1999-01-01")
    ).select("o_custkey")
    # exact decimal average: acctbal is 2-dp
    avg_bal = (
        cust.filter(F.col("c_acctbal") > 0.0)
        .agg(
            (
                _dbl(F.sum(_dec("c_acctbal")), 2) / F.count(F.lit(1))
            ).alias("_avg_bal")
        )
    )
    rich = cust.join(F.broadcast(avg_bal)).filter(
        F.col("c_acctbal") > F.col("_avg_bal")
    )
    return (
        rich.join(orders, rich.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            _dbl(F.sum(_dec("c_acctbal")), 2).alias("totacctbal"),
        )
    )


_TPCH_Q22_SQL = """
  SELECT c_mktsegment, COUNT(*) AS numcust,
         CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) * 100 AS BIGINT) AS DOUBLE) / 100.0 AS totacctbal
  FROM customer
  WHERE c_acctbal > (
      SELECT CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) * 100 AS BIGINT) AS DOUBLE) / 100.0 / COUNT(*)
      FROM customer WHERE c_acctbal > 0.0
    )
    AND NOT EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey
                      AND o_orderdate >= TIMESTAMP '1999-01-01')
  GROUP BY c_mktsegment
"""


def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 order-priority checking (adapted: the commit/receipt-date pair
    becomes "shipped >30 days after order"): EXISTS correlated semi-join
    against lineitem, counted per priority. Catalyst rewrites the EXISTS
    to a left-semi hash join — no per-row subquery."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-04-01"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.date_add(F.col("o_orderdate"), 30)),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


_TPCH_Q4_SQL = """
  SELECT o_orderpriority, COUNT(*) AS order_count
  FROM orders o
  WHERE o_orderdate >= TIMESTAMP '1996-01-01'
    AND o_orderdate < TIMESTAMP '1996-04-01'
    AND EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_orderkey = o.o_orderkey
        AND l_shipdate > o.o_orderdate + INTERVAL 30 DAY
    )
  GROUP BY o_orderpriority
"""


def q_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 product-type profit (adapted: no partsupp cost — revenue by
    supplier nation x order year for a part-name family). Part filter
    runs before the join; nation broadcasts; lineitem⋈orders is the one
    big shuffle."""
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").contains("bolt")
    ).select("p_partkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = F.broadcast(
        load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(nation, supp.s_nationkey == nation.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(_dbl(F.sum(_disc_price()), 4).alias("sum_profit"))
    )


_TPCH_Q9_SQL = f"""
  SELECT n_name AS nation, EXTRACT(year FROM o_orderdate) AS o_year,
         CAST(CAST(SUM({_SQL_DISC_PRICE}) * 10000 AS BIGINT) AS DOUBLE) / 10000.0 AS sum_profit
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN orders ON l_orderkey = o_orderkey
  WHERE contains(p_name, 'bolt')
  GROUP BY 1, 2
"""


def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 customer order-count distribution: LEFT join customer->orders,
    per-customer count (zeros preserved), then the histogram of counts —
    two hash aggregations, the second over O(max orders per customer)
    keys."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    ).select("o_custkey", "o_orderkey")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


_TPCH_Q13_SQL = """
  SELECT c_count, COUNT(*) AS custdist
  FROM (
    SELECT c_custkey, COUNT(o_orderkey) AS c_count
    FROM customer LEFT JOIN orders
      ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
    GROUP BY c_custkey
  )
  GROUP BY c_count
"""


def q_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 analog (suppliers-who-kept-waiting shape): suppliers with a
    late-shipped line in a multi-supplier order where NO other supplier in
    that order shipped late — the classic correlated EXISTS + NOT EXISTS
    pair, both rewritten to semi/anti hash joins on (orderkey)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    l1 = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .withColumn("late", F.col("l_shipdate") > F.date_add("o_orderdate", 60))
    )
    # per (order, supplier): any late line; per order: supplier count + late-supplier count
    per_supp = l1.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(F.col("late").cast("int")).alias("supp_late")
    )
    per_order = per_supp.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supps"),
        F.sum("supp_late").alias("n_late_supps"),
    )
    waiting = (
        per_supp.filter(F.col("supp_late") == 1)
        .join(per_order, "l_orderkey")
        .filter((F.col("n_supps") > 1) & (F.col("n_late_supps") == 1))
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        waiting.join(supp, waiting.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


_TPCH_Q21_SQL = """
  WITH l1 AS (
    SELECT l_orderkey, l_suppkey,
           CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                THEN 1 ELSE 0 END AS late
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  ),
  per_supp AS (
    SELECT l_orderkey, l_suppkey, MAX(late) AS supp_late
    FROM l1 GROUP BY 1, 2
  ),
  per_order AS (
    SELECT l_orderkey, COUNT(*) AS n_supps, SUM(supp_late) AS n_late_supps
    FROM per_supp GROUP BY 1
  )
  SELECT s_name, COUNT(*) AS numwait
  FROM per_supp
  JOIN per_order USING (l_orderkey)
  JOIN supplier ON l_suppkey = s_suppkey
  WHERE supp_late = 1 AND n_supps > 1 AND n_late_supps = 1
  GROUP BY s_name
"""


def q_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 analog (min-cost supplier): for every sized/typed part, the
    supplier(s) in one region offering the MINIMUM unit cost — the classic
    correlated scalar-MIN subquery over a 5-way join, executed as actual
    SQL so Catalyst performs the decorrelation (rewrites the correlated
    MIN into a grouped aggregate joined back on the correlation key).

    The partsupp relation (absent from the driver schema) is derived from
    lineitem: a supplier's unit cost for a part = MIN(extendedprice /
    quantity) over their shipped lines. Unit cost is a double division —
    IEEE-754-identical across engines, so the correlated-MIN equality
    predicate is knife-edge-safe.

    Scale: the subquery side reduces to one grouped aggregate on partkey
    (map-side partial), the outer is dim-broadcast joins; the final sort is
    bounded by LIMIT 100 → TakeOrderedAndProject.
    """
    for t in ("part", "supplier", "nation", "region", "lineitem"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"__q2_{t}")
    return spark.sql(
        """
        WITH ps AS (
          SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
                 MIN(l_extendedprice / l_quantity) AS ps_supplycost
          FROM __q2_lineitem GROUP BY 1, 2
        )
        SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_name,
               ps.ps_supplycost
        FROM __q2_part p
        JOIN ps ON p.p_partkey = ps.ps_partkey
        JOIN __q2_supplier s ON s.s_suppkey = ps.ps_suppkey
        JOIN __q2_nation n ON s.s_nationkey = n.n_nationkey
        JOIN __q2_region r ON n.n_regionkey = r.r_regionkey
        WHERE p.p_size <= 15 AND p.p_type = 'LARGE' AND r.r_name = 'EUROPE'
          AND ps.ps_supplycost = (
            SELECT MIN(ps2.ps_supplycost)
            FROM ps ps2
            JOIN __q2_supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
            JOIN __q2_nation n2 ON s2.s_nationkey = n2.n_nationkey
            JOIN __q2_region r2 ON n2.n_regionkey = r2.r_regionkey
            WHERE ps2.ps_partkey = p.p_partkey AND r2.r_name = 'EUROPE'
          )
        ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey
        LIMIT 100
        """
    )


_TPCH_Q2_SQL = """
  WITH ps AS (
    SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
           MIN(l_extendedprice / l_quantity) AS ps_supplycost
    FROM lineitem GROUP BY 1, 2
  )
  SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_name,
         ps.ps_supplycost
  FROM part p
  JOIN ps ON p.p_partkey = ps.ps_partkey
  JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE p.p_size <= 15 AND p.p_type = 'LARGE' AND r.r_name = 'EUROPE'
    AND ps.ps_supplycost = (
      SELECT MIN(ps2.ps_supplycost)
      FROM ps ps2
      JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
      JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
      JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
      WHERE ps2.ps_partkey = p.p_partkey AND r2.r_name = 'EUROPE'
    )
  ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey
  LIMIT 100
"""


def q_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 analog (important inventory value): per-part shipped value from
    one nation group's suppliers, keeping parts whose value exceeds
    2x THE AVERAGE PART VALUE (a global-scalar threshold that self-scales
    with part cardinality, unlike TPC-H's fixed fraction/SF) — the HAVING-against-a-global-scalar
    shape. The uncorrelated scalar subquery evaluates once and broadcasts
    into the HAVING filter (no per-group re-evaluation).

    Exactness: both the per-part value and the global total use the
    decimal-sum pattern; the threshold multiply (decimal-as-double *
    0.0005) is a deterministic IEEE double op on both engines.
    """
    for t in ("supplier", "nation", "lineitem"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"__q11_{t}")
    return spark.sql(
        """
        SELECT l_partkey AS ps_partkey,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS part_value
        FROM __q11_lineitem
        JOIN __q11_supplier ON l_suppkey = s_suppkey
        JOIN __q11_nation ON s_nationkey = n_nationkey
        WHERE n_name IN ('NATION_7', 'NATION_17')
        GROUP BY l_partkey
        HAVING CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) > (
          SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                   * 2.0 / COUNT(DISTINCT l_partkey)
          FROM __q11_lineitem
          JOIN __q11_supplier ON l_suppkey = s_suppkey
          JOIN __q11_nation ON s_nationkey = n_nationkey
          WHERE n_name IN ('NATION_7', 'NATION_17')
        )
        """
    )


_TPCH_Q11_SQL = """
  SELECT l_partkey AS ps_partkey,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
           AS part_value
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name IN ('NATION_7', 'NATION_17')
  GROUP BY l_partkey
  HAVING CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) > (
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
             * 2.0 / COUNT(DISTINCT l_partkey)
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name IN ('NATION_7', 'NATION_17')
  )
"""


def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 analog (shipping-class priority counts): lines delivered in a
    60-120-day window after ordering, grouped by return flag (the schema's
    ship-class stand-in for the absent l_shipmode), with CASE-aggregated
    high/low order-priority counts — the conditional-aggregation-over-join
    shape.

    One shuffle on the grouping key after the fact⋈orders equi-join; the
    date-window predicate is evaluated rowwise pre-aggregation (no
    second pass).
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_shipdate"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(
            (F.col("l_shipdate") > F.date_add("o_orderdate", 60))
            & (F.col("l_shipdate") <= F.date_add("o_orderdate", 120))
        )
        .groupBy(F.col("l_returnflag").alias("ship_class"))
        .agg(
            F.sum(high.cast("long")).alias("high_line_count"),
            F.sum((~high).cast("long")).alias("low_line_count"),
        )
    )


_TPCH_Q12_SQL = """
  SELECT l_returnflag AS ship_class,
         CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                       THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
         CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                       THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
    AND l_shipdate <= o_orderdate + INTERVAL 120 DAY
  GROUP BY l_returnflag
"""


def q_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 analog (supplier count by part attributes): distinct suppliers
    per (brand, type, size) bucket, EXCLUDING suppliers from a NOT IN
    subquery (negative account balance as the "customer complaints"
    stand-in) — null-aware anti join + grouped COUNT(DISTINCT), executed
    as SQL so Catalyst plans the NOT IN rewrite itself.

    Scale: the exclusion list is tiny (one dim scan) → broadcast
    anti join; COUNT(DISTINCT supplier) expands to the standard two-phase
    distinct aggregate on the group key.
    """
    for t in ("part", "supplier", "lineitem"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"__q16_{t}")
    return spark.sql(
        """
        SELECT p_brand, p_type, p_size,
               COUNT(DISTINCT l_suppkey) AS supplier_cnt
        FROM __q16_lineitem
        JOIN __q16_part ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#3' AND p_type <> 'PROMO'
          AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
          AND l_suppkey NOT IN (
            SELECT s_suppkey FROM __q16_supplier WHERE s_acctbal < 0
          )
        GROUP BY p_brand, p_type, p_size
        """
    )


_TPCH_Q16_SQL = """
  SELECT p_brand, p_type, p_size,
         COUNT(DISTINCT l_suppkey) AS supplier_cnt
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE p_brand <> 'Brand#3' AND p_type <> 'PROMO'
    AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
    AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
  GROUP BY p_brand, p_type, p_size
"""


def q_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 analog (dominant part suppliers): suppliers in chosen regions
    who, for some red part, shipped MORE THAN 30% of that part's total 1997
    volume — three nested IN subqueries (region membership, part-name
    membership, and a grouped-HAVING supplier set), executed as SQL so
    Catalyst plans the IN→semi-join rewrites.

    The availqty>½·shipped correlation of real Q20 becomes a
    per-(supplier, part) share-of-part-total test: the part total joins in
    from one grouped aggregate (the decorrelated form), and quantity sums
    are integer-valued doubles, so the 0.3 threshold compare is exact.

    Scale: each IN collapses to a semi join with a small build side
    (region: 5 rows; red parts: LIKE-filtered dim; qualifying suppliers:
    grouped fact slice) — all broadcastable.
    """
    for t in ("part", "supplier", "nation", "region", "lineitem"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"__q20_{t}")
    return spark.sql(
        """
        WITH part_total AS (
          SELECT l_partkey AS pt_partkey, SUM(l_quantity) AS pt_qty
          FROM __q20_lineitem
          WHERE l_shipdate >= TIMESTAMP '1997-01-01'
            AND l_shipdate < TIMESTAMP '1998-01-01'
          GROUP BY l_partkey
        )
        SELECT s_name, s_acctbal
        FROM __q20_supplier
        JOIN __q20_nation ON s_nationkey = n_nationkey
        WHERE n_regionkey IN (
            SELECT r_regionkey FROM __q20_region
            WHERE r_name IN ('ASIA', 'EUROPE')
          )
          AND s_suppkey IN (
            SELECT l_suppkey
            FROM __q20_lineitem
            JOIN part_total ON l_partkey = pt_partkey
            WHERE l_partkey IN (
                SELECT p_partkey FROM __q20_part WHERE p_name LIKE 'red%'
              )
              AND l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate < TIMESTAMP '1998-01-01'
            GROUP BY l_suppkey, l_partkey, pt_qty
            HAVING SUM(l_quantity) > 0.3 * pt_qty
          )
        """
    )


_TPCH_Q20_SQL = """
  WITH part_total AS (
    SELECT l_partkey AS pt_partkey, SUM(l_quantity) AS pt_qty
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l_partkey
  )
  SELECT s_name, s_acctbal
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_regionkey IN (
      SELECT r_regionkey FROM region WHERE r_name IN ('ASIA', 'EUROPE')
    )
    AND s_suppkey IN (
      SELECT l_suppkey
      FROM lineitem
      JOIN part_total ON l_partkey = pt_partkey
      WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
        AND l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1998-01-01'
      GROUP BY l_suppkey, l_partkey, pt_qty
      HAVING SUM(l_quantity) > 0.3 * pt_qty
    )
"""


TPCH_QUERIES = {
    "tpch_q2": q_tpch_q2,
    "tpch_q11": q_tpch_q11,
    "tpch_q12": q_tpch_q12,
    "tpch_q16": q_tpch_q16,
    "tpch_q20": q_tpch_q20,
    "tpch_q1": q_tpch_q1,
    "tpch_q4": q_tpch_q4,
    "tpch_q9": q_tpch_q9,
    "tpch_q13": q_tpch_q13,
    "tpch_q21": q_tpch_q21,
    "tpch_q3": q_tpch_q3,
    "tpch_q5": q_tpch_q5,
    "tpch_q6": q_tpch_q6,
    "tpch_q7": q_tpch_q7,
    "tpch_q8": q_tpch_q8,
    "tpch_q10": q_tpch_q10,
    "tpch_q14": q_tpch_q14,
    "tpch_q15": q_tpch_q15,
    "tpch_q17": q_tpch_q17,
    "tpch_q18": q_tpch_q18,
    "tpch_q19": q_tpch_q19,
    "tpch_q22": q_tpch_q22,
}

TPCH_ORACLES = {
    "tpch_q2": _TPCH_Q2_SQL,
    "tpch_q11": _TPCH_Q11_SQL,
    "tpch_q12": _TPCH_Q12_SQL,
    "tpch_q16": _TPCH_Q16_SQL,
    "tpch_q20": _TPCH_Q20_SQL,
    "tpch_q1": _TPCH_Q1_SQL,
    "tpch_q4": _TPCH_Q4_SQL,
    "tpch_q9": _TPCH_Q9_SQL,
    "tpch_q13": _TPCH_Q13_SQL,
    "tpch_q21": _TPCH_Q21_SQL,
    "tpch_q3": _TPCH_Q3_SQL,
    "tpch_q5": _TPCH_Q5_SQL,
    "tpch_q6": _TPCH_Q6_SQL,
    "tpch_q7": _TPCH_Q7_SQL,
    "tpch_q8": _TPCH_Q8_SQL,
    "tpch_q10": _TPCH_Q10_SQL,
    "tpch_q14": _TPCH_Q14_SQL,
    "tpch_q15": _TPCH_Q15_SQL,
    "tpch_q17": _TPCH_Q17_SQL,
    "tpch_q18": _TPCH_Q18_SQL,
    "tpch_q19": _TPCH_Q19_SQL,
    "tpch_q22": _TPCH_Q22_SQL,
}
