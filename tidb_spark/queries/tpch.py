"""TPC-H-derived query corpus, adapted to the driver star schema.

The reference ships a TPC-H EXPLAIN-plan corpus
(``cmd/explaintest/t/tpch.test``, Q1 at ``:100``); these are the same query
shapes re-expressed as PySpark DataFrame plans over the TESTDATA fixtures.
Adaptations (FIXTURES.md): no ``partsupp`` table (Q2/Q11/Q16/Q20 run against
a lineitem-derived partsupp — see PARTSUPP_SQL below — and Q9 profit drops
supplycost), lineitem has no commit/receipt dates or shipmode
(Q4's EXISTS uses shipdate-vs-orderdate; Q12 defines "late" as shipped >90
days after the order date and groups by l_returnflag), no ``o_shippriority``
(Q3 drops the column), no ``c_phone`` (Q22 uses ``c_nationkey`` as country
code).

Determinism: all money arithmetic runs in DECIMAL (exact, shuffle-order
independent) and is cast to DOUBLE at the end — identically in the Spark plan
and the DuckDB oracle SQL — so the driver's value-hash compare is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tidb_spark.catalog import load_table
from tidb_spark.operators.width import spread_small
from tidb_spark.queries import register

# Shared SQL fragments: used verbatim via F.expr on the Spark side and spliced
# into the oracle SQL, so both engines evaluate the exact same decimal tree.
PRICE = "CAST(l_extendedprice AS DECIMAL(15,2))"
QTY = "CAST(l_quantity AS DECIMAL(15,2))"
DISC = "CAST(l_discount AS DECIMAL(4,2))"
TAX = "CAST(l_tax AS DECIMAL(4,2))"
DISC_PRICE = f"{PRICE} * (1 - {DISC})"
CHARGE = f"{PRICE} * (1 - {DISC}) * (1 + {TAX})"
SUM_REVENUE = f"CAST(SUM({DISC_PRICE}) AS DOUBLE)"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _t_spread(spark: SparkSession, sf_dir: str, name: str, key: str) -> DataFrame:
    """Scan with a stats-gated repartition on ``key`` (``width.spread_small``).

    The fixture tables are single-row-group parquet files, so a scan
    yields ONE split and everything pipelined into it (decimal partial
    aggregates, Expand lanes) runs on one core — guide §2.5's
    "unsplittable input" case.  spread_small repartitions only when the
    optimizer's size estimate says the scan cannot fill the cores
    (never at cluster scale), and hashing on the query's own grouping /
    join key means the exchange it adds REPLACES the exchange the
    downstream aggregate or join would have inserted anyway.

    Applied per query, not in the catalog: measured r12, the spread is
    a win only where the first stage carries heavy compute (q1 1.32 →
    0.75 s, q18 1.30 → 0.92 s, rollup/grouping-sets in relational.py);
    scan-light queries (q6 0.16 → 0.46 s) and multi-branch self-join
    plans (q21 1.30 → 3.8 s: the per-branch repartitions defeat
    exchange reuse) regress, so they keep the bare scan."""
    return spread_small(load_table(spark, sf_dir, name), key)


def _ts(s: str) -> str:
    return f"TIMESTAMP '{s} 00:00:00'"


# --------------------------------------------------------------------------
# Q1 — pricing summary report: scan + hash aggregate + sort.
# Reference plan: TableReader(pushed filter) -> HashAgg partial/final -> Sort
# (executor/aggregate.go:165, executor/sort.go:35).
Q1_ORACLE = f"""
SELECT l_returnflag, l_linestatus,
       CAST(SUM({QTY}) AS DOUBLE)                 AS sum_qty,
       CAST(SUM({PRICE}) AS DOUBLE)               AS sum_base_price,
       CAST(SUM({DISC_PRICE}) AS DOUBLE)          AS sum_disc_price,
       CAST(SUM({CHARGE}) AS DOUBLE)              AS sum_charge,
       CAST(SUM({QTY}) AS DOUBLE) / COUNT(*)      AS avg_qty,
       CAST(SUM({PRICE}) AS DOUBLE) / COUNT(*)    AS avg_price,
       CAST(SUM({DISC}) AS DOUBLE) / COUNT(*)     AS avg_disc,
       COUNT(*)                                   AS count_order
FROM lineitem
WHERE l_shipdate <= {_ts('2000-12-01')}
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


@register("tpch_q1", oracle=Q1_ORACLE, tags=("tpch", "agg", "scan"))
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary. Filter is pushed to the parquet scan; the aggregate
    runs partial (map-side) + final — same split as the reference's
    HashAggExec partial/final workers (executor/aggregate.go:127-163).
    The scan is spread on l_orderkey first (see ``_t_spread``): the eight
    decimal partial aggregates are the whole query, and on the
    single-row-group fixture they otherwise run on one core (measured
    1.32 → 0.75 s at sf0.1; plan: one added round-trip-free Exchange,
    partial/final agg split unchanged)."""
    lineitem = _t_spread(spark, sf_dir, "lineitem", "l_orderkey")
    return (
        lineitem.where(F.col("l_shipdate") <= F.expr(_ts("2000-12-01")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.expr(f"CAST(SUM({QTY}) AS DOUBLE)").alias("sum_qty"),
            F.expr(f"CAST(SUM({PRICE}) AS DOUBLE)").alias("sum_base_price"),
            F.expr(f"CAST(SUM({DISC_PRICE}) AS DOUBLE)").alias("sum_disc_price"),
            F.expr(f"CAST(SUM({CHARGE}) AS DOUBLE)").alias("sum_charge"),
            F.expr(f"CAST(SUM({QTY}) AS DOUBLE) / COUNT(*)").alias("avg_qty"),
            F.expr(f"CAST(SUM({PRICE}) AS DOUBLE) / COUNT(*)").alias("avg_price"),
            F.expr(f"CAST(SUM({DISC}) AS DOUBLE) / COUNT(*)").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --------------------------------------------------------------------------
# Q3 — shipping priority: 3-way join + agg + top-N.
# Reference: HashJoinExec (executor/join.go:50) + TopNExec (executor/sort.go:301).
Q3_ORACLE = f"""
SELECT l_orderkey,
       {SUM_REVENUE} AS revenue,
       o_orderdate
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < {_ts('1998-03-15')}
  AND l_shipdate  > {_ts('1998-03-15')}
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


@register("tpch_q3", oracle=Q3_ORACLE, tags=("tpch", "join", "topn"))
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping priority. customer is broadcast (small dim); the orderBy+limit
    lowers to TakeOrderedAndProject — the Spark analogue of TopNExec."""
    customer = _t(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.expr(_ts("1998-03-15"))
    )
    lineitem = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.expr(_ts("1998-03-15"))
    )
    return (
        F.broadcast(customer)
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.expr(SUM_REVENUE).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(
            F.col("revenue").desc(), F.col("o_orderdate"), F.col("l_orderkey")
        )
        .limit(10)
    )


# --------------------------------------------------------------------------
# Q4 — order priority checking: EXISTS → left-semi join.
# Reference lowers EXISTS to a semi join (executor/joiner.go:173-184); adapted
# predicate (no commit/receipt dates): a lineitem shipped after the order date.
Q4_ORACLE = f"""
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= {_ts('1997-07-01')}
  AND o_orderdate <  {_ts('1997-10-01')}
  AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
      )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register("tpch_q4", oracle=Q4_ORACLE, tags=("tpch", "semijoin", "agg"))
def tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order priority check via left-semi join (EXISTS)."""
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.expr(_ts("1997-07-01")))
        & (F.col("o_orderdate") < F.expr(_ts("1997-10-01")))
    )
    lineitem = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        orders.join(
            lineitem,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# Q5 — local supplier volume: 6-way join (dims broadcast) + agg.
Q5_ORACLE = f"""
SELECT n_name, {SUM_REVENUE} AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= {_ts('1997-01-01')}
  AND o_orderdate <  {_ts('1998-01-01')}
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


@register("tpch_q5", oracle=Q5_ORACLE, tags=("tpch", "join", "agg"))
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local supplier volume. nation/region/supplier broadcast; the only
    shuffles are lineitem⋈orders and the final 5-group aggregate."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.expr(_ts("1997-01-01")))
        & (F.col("o_orderdate") < F.expr(_ts("1998-01-01")))
    )
    lineitem = _t(spark, sf_dir, "lineitem")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(supplier),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(F.expr(SUM_REVENUE).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


# --------------------------------------------------------------------------
# Q6 — forecasting revenue change: pure scan-side filter + single aggregate.
Q6_ORACLE = f"""
SELECT CAST(SUM({PRICE} * {DISC}) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= {_ts('1997-01-01')}
  AND l_shipdate <  {_ts('1998-01-01')}
  AND l_discount >= CAST(0.05 AS DOUBLE) AND l_discount <= CAST(0.07 AS DOUBLE)
  AND l_quantity < CAST(24 AS DOUBLE)
"""


@register("tpch_q6", oracle=Q6_ORACLE, tags=("tpch", "scan", "agg"))
def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue forecast. All predicates reach the parquet scan (PushedFilters);
    the aggregate is a 2-phase global sum."""
    lineitem = _t(spark, sf_dir, "lineitem")
    return lineitem.where(
        (F.col("l_shipdate") >= F.expr(_ts("1997-01-01")))
        & (F.col("l_shipdate") < F.expr(_ts("1998-01-01")))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(F.expr(f"CAST(SUM({PRICE} * {DISC}) AS DOUBLE)").alias("revenue"))


# --------------------------------------------------------------------------
# Q7 — volume shipping between two nations; joins + year extraction.
Q7_ORACLE = f"""
SELECT supp_nation, cust_nation, l_year, CAST(SUM(volume) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year,
         {DISC_PRICE} AS volume
  FROM supplier
  JOIN lineitem ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    AND l_shipdate >= {_ts('1996-01-01')} AND l_shipdate < {_ts('1998-01-01')}
) shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


@register("tpch_q7", oracle=Q7_ORACLE, tags=("tpch", "join", "agg"))
def tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume shipping between NATION_1 and NATION_2."""
    supplier = _t(spark, sf_dir, "supplier")
    lineitem = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.expr(_ts("1996-01-01")))
        & (F.col("l_shipdate") < F.expr(_ts("1998-01-01")))
    )
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        lineitem.join(F.broadcast(supplier), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(customer), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .where(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
        .select(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
            F.expr(DISC_PRICE).alias("volume"),
        )
    )
    return (
        joined.groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.expr("CAST(SUM(volume) AS DOUBLE)").alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# --------------------------------------------------------------------------
# Q8 — market share of NATION_3 suppliers in ASIA for ECONOMY parts.
Q8_ORACLE = f"""
SELECT o_year,
       CAST(SUM(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END) AS DOUBLE)
         / CAST(SUM(volume) AS DOUBLE) AS mkt_share
FROM (
  SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
         {DISC_PRICE} AS volume,
         n2.n_name AS nation
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region   ON n1.n_regionkey = r_regionkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'ASIA'
    AND o_orderdate >= {_ts('1996-01-01')} AND o_orderdate <= {_ts('1997-12-31')}
    AND p_type = 'ECONOMY'
) all_nations
GROUP BY o_year
ORDER BY o_year
"""


@register("tpch_q8", oracle=Q8_ORACLE, tags=("tpch", "join", "agg"))
def tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """National market share. Eight-way join; every dimension broadcast so the
    fact tables shuffle only for lineitem⋈orders."""
    part = _t(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY")
    lineitem = _t(spark, sf_dir, "lineitem")
    supplier = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.expr(_ts("1996-01-01")))
        & (F.col("o_orderdate") <= F.expr(_ts("1997-12-31")))
    )
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    all_nations = (
        lineitem.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(supplier), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(region), F.col("n1_region") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            F.expr(DISC_PRICE).alias("volume"),
            "nation",
        )
    )
    return (
        all_nations.groupBy("o_year")
        .agg(
            F.expr(
                "CAST(SUM(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END)"
                " AS DOUBLE) / CAST(SUM(volume) AS DOUBLE)"
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


# --------------------------------------------------------------------------
# Q9 — product-type profit (adapted: no partsupp, profit = disc price).
Q9_ORACLE = f"""
SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_profit
FROM (
  SELECT n_name AS nation,
         CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
         {DISC_PRICE} AS amount
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE p_name LIKE '%red%'
) profit
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
"""


@register("tpch_q9", oracle=Q9_ORACLE, tags=("tpch", "join", "agg", "like"))
def tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-type profit for parts with 'red' in the name (the fixture's
    part names use color words; TPC-H's 'green' does not occur)."""
    part = _t(spark, sf_dir, "part").where(F.col("p_name").like("%red%"))
    lineitem = _t(spark, sf_dir, "lineitem")
    supplier = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    nation = _t(spark, sf_dir, "nation")
    profit = (
        lineitem.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(supplier), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
            F.expr(DISC_PRICE).alias("amount"),
        )
    )
    return (
        profit.groupBy("nation", "o_year")
        .agg(F.expr("CAST(SUM(amount) AS DOUBLE)").alias("sum_profit"))
        .orderBy(F.col("nation"), F.col("o_year").desc())
    )


# --------------------------------------------------------------------------
# Q10 — returned-item reporting: join + agg + top 20.
Q10_ORACLE = f"""
SELECT c_custkey, c_name, {SUM_REVENUE} AS revenue,
       CAST(c_acctbal AS DOUBLE) AS c_acctbal, n_name
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE o_orderdate >= {_ts('1997-10-01')}
  AND o_orderdate <  {_ts('1998-01-01')}
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@register("tpch_q10", oracle=Q10_ORACLE, tags=("tpch", "join", "topn"))
def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-item reporting (top 20 customers by lost revenue)."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.expr(_ts("1997-10-01")))
        & (F.col("o_orderdate") < F.expr(_ts("1998-01-01")))
    )
    lineitem = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    nation = _t(spark, sf_dir, "nation")
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.expr(SUM_REVENUE).alias("revenue"))
        .select(
            "c_custkey",
            "c_name",
            "revenue",
            F.col("c_acctbal").cast("double").alias("c_acctbal"),
            "n_name",
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# Q13 — customer order-count distribution: LEFT OUTER JOIN + double agg.
Q13_ORACLE = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer
  LEFT OUTER JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


@register("tpch_q13", oracle=Q13_ORACLE, tags=("tpch", "outerjoin", "agg"))
def tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-count distribution; exercises LEFT OUTER JOIN with NULL-aware
    COUNT(column)."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = (
        customer.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


# --------------------------------------------------------------------------
# Q14 — promotion effect: conditional aggregation.
Q14_ORACLE = f"""
SELECT CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {DISC_PRICE} ELSE 0 END) AS DOUBLE)
         * 100 / CAST(SUM({DISC_PRICE}) AS DOUBLE) AS promo_revenue
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= {_ts('1997-09-01')} AND l_shipdate < {_ts('1997-10-01')}
"""


@register("tpch_q14", oracle=Q14_ORACLE, tags=("tpch", "join", "agg", "case"))
def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promotion effect (CASE inside aggregate)."""
    lineitem = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.expr(_ts("1997-09-01")))
        & (F.col("l_shipdate") < F.expr(_ts("1997-10-01")))
    )
    part = _t(spark, sf_dir, "part")
    return lineitem.join(
        F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")
    ).agg(
        F.expr(
            f"CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {DISC_PRICE} ELSE 0 END)"
            f" AS DOUBLE) * 100 / CAST(SUM({DISC_PRICE}) AS DOUBLE)"
        ).alias("promo_revenue")
    )


# --------------------------------------------------------------------------
# Q18 — large-volume customers: IN-subquery with HAVING → semi join.
Q18_ORACLE = f"""
SELECT c_name, c_custkey, o_orderkey, o_orderdate,
       CAST(o_totalprice AS DOUBLE) AS o_totalprice,
       CAST(SUM({QTY}) AS DOUBLE) AS sum_qty
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
  HAVING SUM({QTY}) > 150
)
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


@register("tpch_q18", oracle=Q18_ORACLE, tags=("tpch", "semijoin", "having"))
def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-volume customers. The IN-subquery becomes an aggregate + semi
    join, mirroring the reference's decorrelation (rule_decorrelate.go).
    lineitem is spread on l_orderkey (``_t_spread``): the big-order
    aggregate AND the final join both key on l_orderkey, so the one
    spread exchange serves both (guide §2.4) while lifting the decimal
    partial agg off the fixture's single scan core (measured
    1.30 → 0.92 s at sf0.1)."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t_spread(spark, sf_dir, "lineitem", "l_orderkey")
    big_orders = (
        lineitem.groupBy("l_orderkey")
        .agg(F.expr(f"SUM({QTY})").alias("total_qty"))
        .where(F.col("total_qty") > 150)
        .select(F.col("l_orderkey").alias("big_orderkey"))
    )
    return (
        orders.join(
            big_orders, F.col("o_orderkey") == F.col("big_orderkey"), "left_semi"
        )
        .join(F.broadcast(customer), F.col("c_custkey") == F.col("o_custkey"))
        .join(lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.expr(f"CAST(SUM({QTY}) AS DOUBLE)").alias("sum_qty"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            "sum_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


# --------------------------------------------------------------------------
# Q19 — discounted revenue: disjunctive multi-range predicates (adapted: no
# shipmode/shipinstruct columns).
Q19_ORACLE = f"""
SELECT {SUM_REVENUE} AS revenue
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
       AND l_quantity >= CAST(1 AS DOUBLE) AND l_quantity <= CAST(11 AS DOUBLE))
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
       AND l_quantity >= CAST(10 AS DOUBLE) AND l_quantity <= CAST(20 AS DOUBLE))
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
       AND l_quantity >= CAST(20 AS DOUBLE) AND l_quantity <= CAST(30 AS DOUBLE))
"""


@register("tpch_q19", oracle=Q19_ORACLE, tags=("tpch", "join", "or-predicate"))
def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discounted revenue with OR-of-ANDs predicate — the pattern the
    reference serves with IndexMergeReaderExecutor
    (executor/index_merge_reader.go:67); on Spark it is a single scan with a
    disjunctive filter."""
    lineitem = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    cond = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 11)
    ) | (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(1, 25)
        & F.col("l_quantity").between(10, 20)
    ) | (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(1, 35)
        & F.col("l_quantity").between(20, 30)
    )
    return (
        lineitem.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .where(cond)
        .agg(F.expr(SUM_REVENUE).alias("revenue"))
    )


# --------------------------------------------------------------------------
# Q22 — global sales opportunity: scalar subquery + NOT EXISTS (anti join).
# Adapted: country code = c_nationkey % 5 (no c_phone column).
Q22_ORACLE = """
SELECT cntrycode, COUNT(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(15,2))) AS DOUBLE) AS totacctbal
FROM (
  SELECT CAST(c_nationkey % 5 AS INT) AS cntrycode, c_acctbal
  FROM customer
  WHERE c_nationkey % 5 IN (0, 1, 2)
    AND c_acctbal > (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(15,2))) AS DOUBLE) / COUNT(*)
      FROM customer
      WHERE c_acctbal > CAST(0 AS DOUBLE) AND c_nationkey % 5 IN (0, 1, 2)
    )
    AND NOT EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey
        AND o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'
    )
) custsale
GROUP BY cntrycode
ORDER BY cntrycode
"""


@register("tpch_q22", oracle=Q22_ORACLE, tags=("tpch", "antijoin", "subquery"))
def tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global sales opportunity: scalar-subquery threshold (computed exactly in
    DECIMAL so both engines agree bit-for-bit) + left-anti join for NOT
    EXISTS (reference: AntiSemiJoin, executor/joiner.go:173-184).  Adapted:
    'no orders' would be empty on this fixture (every customer has orders),
    so the anti join is against orders placed in 2001+."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.expr(_ts("2001-01-01"))
    )
    pool = customer.where(F.expr("c_nationkey % 5 IN (0, 1, 2)"))
    # The scalar-subquery threshold stays in-plan: a 1-row aggregate
    # broadcast-cross-joined against the pool (same pattern as q15's
    # max-join) instead of a driver-side collect() — one job, no Python
    # float embedded in the plan, single-pass reuse at scale.
    threshold = (
        pool.where(F.col("c_acctbal") > 0.0)
        .agg(
            F.expr(
                "CAST(SUM(CAST(c_acctbal AS DECIMAL(15,2))) AS DOUBLE) / COUNT(*)"
            ).alias("avg_bal")
        )
    )
    return (
        pool.crossJoin(F.broadcast(threshold))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .select(
            F.expr("CAST(c_nationkey % 5 AS INT)").alias("cntrycode"),
            "c_acctbal",
        )
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.expr(
                "CAST(SUM(CAST(c_acctbal AS DECIMAL(15,2))) AS DOUBLE)"
            ).alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


# --------------------------------------------------------------------------
# Q12 (adapted) — late-shipment priority counts.  Fixture lineitem has no
# shipmode/commitdate/receiptdate, so "late" = shipped >90 days after the
# order date and the group key is l_returnflag; the plan shape is Q12's:
# join + conditional aggregation (reference corpus cmd/explaintest/t/tpch.test).
Q12_ORACLE = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register("tpch_q12", oracle=Q12_ORACLE, tags=("tpch", "join", "agg"))
def tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late shipments by priority class: shuffle join on orderkey, then
    conditional (CASE) aggregation — Q12's shape on available columns."""
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    hi = "o_orderpriority IN ('1-URGENT', '2-HIGH')"
    return (
        orders.join(lineitem, F.col("o_orderkey") == F.col("l_orderkey"))
        .where(F.expr("l_shipdate > o_orderdate + INTERVAL 90 DAY"))
        .groupBy("l_returnflag")
        .agg(
            F.expr(f"SUM(CASE WHEN {hi} THEN 1 ELSE 0 END)").alias(
                "high_line_count"
            ),
            F.expr(f"SUM(CASE WHEN NOT ({hi}) THEN 1 ELSE 0 END)").alias(
                "low_line_count"
            ),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# Q15 — top supplier(s) by quarterly revenue: revenue "view" + max-join.
Q15_ORACLE = f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no, CAST(SUM({DISC_PRICE}) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= {_ts('1996-01-01')} AND l_shipdate < {_ts('1996-04-01')}
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


@register("tpch_q15", oracle=Q15_ORACLE, tags=("tpch", "agg", "subquery"))
def tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top supplier by 1996Q1 revenue.  The revenue CTE feeds both the join
    and the scalar-max subquery (exchange reuse); broadcasting the 1-row max
    makes the final filter shuffle-free."""
    lineitem = _t(spark, sf_dir, "lineitem")
    supplier = _t(spark, sf_dir, "supplier")
    revenue = (
        lineitem.where(
            (F.col("l_shipdate") >= F.expr(_ts("1996-01-01")))
            & (F.col("l_shipdate") < F.expr(_ts("1996-04-01")))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.expr(f"CAST(SUM({DISC_PRICE}) AS DOUBLE)").alias("total_revenue"))
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        supplier.join(
            revenue, F.col("s_suppkey") == F.col("supplier_no")
        )
        .join(
            F.broadcast(max_rev),
            F.col("total_revenue") == F.col("max_revenue"),
        )
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


# --------------------------------------------------------------------------
# Q17 (adapted) — small-quantity-order revenue.  No p_container in the
# fixture; the brand/size filter stands in.  Shape preserved: per-part avg
# quantity (correlated scalar subquery, decorrelated to an aggregate+join)
# gating a lineitem filter.
Q17_ORACLE = f"""
WITH agg AS (
  SELECT l_partkey AS a_partkey,
         0.2 * (CAST(SUM({QTY}) AS DOUBLE) / COUNT(*)) AS qty_threshold
  FROM lineitem GROUP BY l_partkey
)
SELECT CAST(CAST(SUM({PRICE}) AS DECIMAL(20,2)) AS DOUBLE) / CAST(7.0 AS DOUBLE) AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN agg ON a_partkey = l_partkey
WHERE p_brand = 'Brand#1' AND p_size < 15 AND l_quantity < qty_threshold
"""


@register("tpch_q17", oracle=Q17_ORACLE, tags=("tpch", "agg", "subquery"))
def tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-quantity lineitems below 20% of the part's average quantity.
    The per-part average is a separate aggregate joined back (what Catalyst
    produces for the correlated form); part is broadcast."""
    lineitem = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    agg = lineitem.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        F.expr(f"0.2 * (CAST(SUM({QTY}) AS DOUBLE) / COUNT(*))").alias(
            "qty_threshold"
        )
    )
    sel_part = part.where((F.col("p_brand") == "Brand#1") & (F.col("p_size") < 15))
    return (
        lineitem.join(
            F.broadcast(sel_part), F.col("p_partkey") == F.col("l_partkey")
        )
        .join(agg, F.col("a_partkey") == F.col("l_partkey"))
        .where(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            F.expr(
                f"CAST(CAST(SUM({PRICE}) AS DECIMAL(20,2)) AS DOUBLE) / CAST(7.0 AS DOUBLE)"
            ).alias("avg_yearly")
        )
    )


# --------------------------------------------------------------------------
# Q21 (adapted) — suppliers who kept orders waiting.  No commit/receipt
# dates: "late" = shipped >60 days after order date.  Shape preserved:
# exists (another supplier on the order) + not-exists (another supplier also
# late) = semi join + anti join on the order key.
Q21_ORACLE = """
WITH late AS (
  SELECT l_orderkey, l_suppkey
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
  WHERE o_orderstatus = 'F' AND l_shipdate > o_orderdate + INTERVAL 60 DAY
),
lines AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)
SELECT s_name, COUNT(*) AS numwait
FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM late) l1
JOIN supplier ON s_suppkey = l1.l_suppkey
WHERE EXISTS (SELECT 1 FROM lines l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM late l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey)
GROUP BY s_name
ORDER BY numwait DESC, s_name
"""


@register("tpch_q21", oracle=Q21_ORACLE, tags=("tpch", "join", "semi", "anti"))
def tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sole late supplier on multi-supplier finished orders — the
    reference's Semi/AntiSemi joiner pair (executor/joiner.go:173-184)
    collapsed into per-order aggregates (r13): because the late pairs are
    a subset of the order's supplier pairs, "another supplier exists" is
    exactly n_suppliers >= 2 and "no other late supplier" is exactly
    n_late == 1 (whose sole member min() then recovers).  The two
    equi-plus-inequality self-joins each re-shuffled the full distinct
    pair sets by orderkey; the aggregate form shuffles each pair set
    once into a partial-aggregated per-order count instead."""
    lineitem = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    late = (
        lineitem.join(
            orders.where(F.col("o_orderstatus") == "F"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .where(F.expr("l_shipdate > o_orderdate + INTERVAL 60 DAY"))
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    late_sole = (
        late.groupBy(F.col("l_orderkey").alias("o_key"))
        .agg(F.count(F.lit(1)).alias("n_late"), F.min("l_suppkey").alias("s_key"))
        .where(F.col("n_late") == 1)
    )
    n_supp = (
        lineitem.select("l_orderkey", "l_suppkey")
        .groupBy("l_orderkey")
        .agg(F.countDistinct("l_suppkey").alias("n_supp"))
        .where(F.col("n_supp") >= 2)
    )
    sole_late = late_sole.join(
        n_supp, F.col("o_key") == F.col("l_orderkey"), "left_semi"
    )
    return (
        sole_late.join(
            F.broadcast(_t(spark, sf_dir, "supplier")),
            F.col("s_suppkey") == F.col("s_key"),
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
    )


# --------------------------------------------------------------------------
# Q2/Q11/Q16/Q20 (adapted) — the four partsupp queries.  The fixture has no
# partsupp table (FIXTURES.md), so part-supplier relationships are DERIVED
# from lineitem: ps = distinct (l_partkey, l_suppkey) with
# ps_supplycost := MIN(l_extendedprice) (min is order-independent and
# bit-exact on doubles, unlike a float sum).  Query shapes are preserved
# from the reference corpus (cmd/explaintest/t/tpch.test): Q2's correlated
# min-cost scalar subquery, Q11's HAVING-vs-global-scalar, Q16's NOT-IN +
# count-distinct, Q20's nested IN chain.
PARTSUPP_SQL = """
  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         MIN(l_extendedprice) AS ps_supplycost
  FROM lineitem GROUP BY l_partkey, l_suppkey
"""


def _partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived partsupp (see PARTSUPP_SQL) as a DataFrame."""
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
        )
        .agg(F.min("l_extendedprice").alias("ps_supplycost"))
    )


Q2_ORACLE = f"""
WITH partsupp AS ({PARTSUPP_SQL}),
eur AS (
  SELECT ps_partkey, ps_suppkey, ps_supplycost,
         s_acctbal, s_name, s_suppkey, n_name
  FROM partsupp
  JOIN supplier ON s_suppkey = ps_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  JOIN region   ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name, s_suppkey,
       ps_supplycost AS supplycost
FROM part JOIN eur ON p_partkey = ps_partkey
WHERE p_size < 10 AND p_type = 'STANDARD'
  AND ps_supplycost = (SELECT MIN(e2.ps_supplycost) FROM eur e2
                       WHERE e2.ps_partkey = p_partkey)
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey, s_suppkey
LIMIT 100
"""


@register("tpch_q2", oracle=Q2_ORACLE, tags=("tpch", "join", "subquery"))
def tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum-cost supplier per European part (Q2 shape: correlated scalar
    MIN subquery).  The correlated MIN is evaluated as a window-min over
    ps_partkey instead of an aggregate + equality self-join — one pass over
    the region-restricted partsupp frame (the self-join form scans and
    aggregates it twice and ends in a sort-merge join; the window form is
    a single partkey shuffle).  The part filter joins FIRST so the window
    only sorts the selected parts' rows.  Dims all broadcast; s_suppkey is
    in the sort key so the LIMIT is total-ordered under cost ties."""
    from pyspark.sql import Window

    partsupp = _partsupp(spark, sf_dir)
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    part = _t(spark, sf_dir, "part").where(
        (F.col("p_size") < 10) & (F.col("p_type") == "STANDARD")
    )
    eur = (
        partsupp.join(
            F.broadcast(supplier), F.col("s_suppkey") == F.col("ps_suppkey")
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(
            "ps_partkey", "ps_suppkey", "ps_supplycost",
            "s_acctbal", "s_name", "s_suppkey", "n_name",
        )
    )
    return (
        eur.join(F.broadcast(part), F.col("p_partkey") == F.col("ps_partkey"))
        .withColumn(
            "min_cost",
            F.min("ps_supplycost").over(Window.partitionBy("ps_partkey")),
        )
        .where(F.col("ps_supplycost") == F.col("min_cost"))
        .select(
            "s_acctbal", "s_name", "n_name", "p_partkey", "p_name", "s_suppkey",
            F.col("ps_supplycost").alias("supplycost"),
        )
        .orderBy(
            F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey", "s_suppkey"
        )
        .limit(100)
    )


Q11_ORACLE = f"""
WITH nsl AS (
  SELECT l_partkey, CAST(l_quantity AS DECIMAL(15,2)) AS q
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation   ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_7'
)
SELECT l_partkey AS ps_partkey, CAST(SUM(q) AS DOUBLE) AS part_value
FROM nsl
GROUP BY l_partkey
HAVING SUM(q) * 1000 > (SELECT SUM(q) FROM nsl)
ORDER BY part_value DESC, ps_partkey
"""


@register("tpch_q11", oracle=Q11_ORACLE, tags=("tpch", "agg", "subquery"))
def tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Important parts by shipped-quantity share for one nation (Q11 shape:
    HAVING against a global-scalar subquery).  The nation-restricted frame
    feeds both the per-part aggregate and the 1-row global sum, which is
    broadcast into the HAVING filter; quantity stays DECIMAL end-to-end so
    the share comparison is exact."""
    lineitem = _t(spark, sf_dir, "lineitem")
    supplier = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_7")
    nsl = (
        lineitem.join(
            F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey")
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("l_partkey", F.expr(f"{QTY}").alias("q"))
    )
    total = nsl.agg(F.sum("q").alias("total_q"))
    return (
        nsl.groupBy(F.col("l_partkey").alias("ps_partkey"))
        .agg(
            F.expr("CAST(SUM(q) AS DOUBLE)").alias("part_value"),
            F.sum("q").alias("_sum_q"),
        )
        .join(F.broadcast(total))
        .where(F.col("_sum_q") * 1000 > F.col("total_q"))
        .select("ps_partkey", "part_value")
        .orderBy(F.col("part_value").desc(), "ps_partkey")
    )


Q16_ORACLE = f"""
WITH partsupp AS ({PARTSUPP_SQL})
SELECT p_brand, p_type, p_size, COUNT(DISTINCT ps_suppkey) AS supplier_cnt
FROM partsupp JOIN part ON p_partkey = ps_partkey
WHERE p_brand <> 'Brand#9'
  AND p_type NOT LIKE 'PROMO%'
  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
  AND ps_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


@register("tpch_q16", oracle=Q16_ORACLE, tags=("tpch", "agg", "antijoin"))
def tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier count per part attribute group (Q16 shape: NOT-IN anti join
    + COUNT DISTINCT).  The complaints filter is adapted to s_acctbal < 0
    (no s_comment in the fixture); the NOT IN lowers to a broadcast
    null-aware anti join, and count-distinct runs the standard two-phase
    expand/partial split."""
    partsupp = _partsupp(spark, sf_dir)
    part = _t(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#9")
        & ~F.col("p_type").like("PROMO%")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    )
    complaints = (
        _t(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < 0)
        .select(F.col("s_suppkey").alias("bad_key"))
    )
    return (
        partsupp.join(F.broadcast(part), F.col("p_partkey") == F.col("ps_partkey"))
        .join(
            F.broadcast(complaints),
            F.col("ps_suppkey") == F.col("bad_key"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


Q20_ORACLE = f"""
SELECT s_name, s_acctbal
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'EUROPE'
  AND s_suppkey IN (
    SELECT l_suppkey
    FROM lineitem
    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
      AND l_shipdate >= {_ts('1997-01-01')} AND l_shipdate < {_ts('1998-01-01')}
    GROUP BY l_suppkey, l_partkey
    HAVING SUM(CAST(l_quantity AS DECIMAL(15,2))) > 50
  )
ORDER BY s_name
"""


@register("tpch_q20", oracle=Q20_ORACLE, tags=("tpch", "semi", "subquery"))
def tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who moved real volume of 'small%' parts in 1997 (Q20 shape:
    IN → semi join over an aggregated subquery that itself contains an IN →
    semi join; the availqty threshold is adapted to an absolute shipped-
    quantity threshold).  part keys broadcast into the inner semi join; the
    aggregated supplier-key set broadcasts into the outer one."""
    lineitem = _t(spark, sf_dir, "lineitem")
    small_parts = (
        _t(spark, sf_dir, "part")
        .where(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    movers = (
        lineitem.where(
            (F.col("l_shipdate") >= F.expr(_ts("1997-01-01")))
            & (F.col("l_shipdate") < F.expr(_ts("1998-01-01")))
        )
        .join(
            F.broadcast(small_parts),
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.expr(f"SUM({QTY})").alias("qty"))
        .where(F.col("qty") > 50)
        .select("l_suppkey")
    )
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "EUROPE")
    return (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(movers), F.col("s_suppkey") == F.col("l_suppkey"), "left_semi"
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )
