"""Relational operator coverage: joins (all types incl. null-safe), set ops,
window functions (all three reference processors), sort/limit/offset, CTEs
(incl. recursive), and the aggregate-function inventory.

Reference inventory: SURVEY.md §2.3-§2.8 — joiner variants
``executor/joiner.go:173-195``, set ops ``planner/core/
logical_plan_builder.go:1433-1582``, WindowExec processors
``executor/window.go:188-236``, CTEExec ``executor/cte.go:60``, aggregate
functions ``executor/aggfuncs/``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tidb_spark.catalog import load_table
from tidb_spark.queries import register

TOTALPRICE_DEC = "CAST(o_totalprice AS DECIMAL(15,2))"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# Joins (executor/joiner.go variants; FULL OUTER is a Spark-native bonus —
# absent from the reference's JoinType enum, planner/core/logical_plans.go:59).

JOIN_NONEQUI_ORACLE = """
SELECT o_orderkey, l_linenumber,
       CAST(l_extendedprice AS DOUBLE) AS l_extendedprice
FROM orders JOIN lineitem
  ON o_orderkey = l_orderkey AND l_extendedprice > o_totalprice * 0.5
WHERE o_orderkey < 500
ORDER BY o_orderkey, l_linenumber
"""


@register("join_inner_nonequi", oracle=JOIN_NONEQUI_ORACLE, tags=("join",))
def join_inner_nonequi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi join + residual non-equi condition (reference: otherConditions on
    HashJoinExec, executor/join.go)."""
    orders = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") < 500)
    lineitem = _t(spark, sf_dir, "lineitem")
    return (
        orders.join(
            lineitem,
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (F.col("l_extendedprice") > F.col("o_totalprice") * 0.5),
        )
        .select(
            "o_orderkey",
            "l_linenumber",
            F.col("l_extendedprice").cast("double").alias("l_extendedprice"),
        )
        .orderBy("o_orderkey", "l_linenumber")
    )


JOIN_LEFT_OUTER_ORACLE = """
SELECT c_custkey, o_orderkey
FROM customer LEFT OUTER JOIN (
  SELECT * FROM orders WHERE o_orderdate >= TIMESTAMP '2001-06-01 00:00:00'
) recent ON c_custkey = o_custkey
WHERE c_custkey < 200
ORDER BY c_custkey, o_orderkey
"""


@register("join_left_outer", oracle=JOIN_LEFT_OUTER_ORACLE, tags=("join",))
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER JOIN with NULL-extended misses."""
    customer = _t(spark, sf_dir, "customer").where(F.col("c_custkey") < 200)
    recent = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.expr("TIMESTAMP '2001-06-01 00:00:00'")
    )
    return (
        customer.join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_outer")
        .select("c_custkey", "o_orderkey")
        .orderBy("c_custkey", "o_orderkey")
    )


JOIN_RIGHT_OUTER_ORACLE = """
SELECT o_orderkey, c_custkey
FROM (
  SELECT * FROM customer WHERE c_mktsegment = 'BUILDING'
) b RIGHT OUTER JOIN (
  SELECT * FROM orders WHERE o_orderkey < 300
) o ON c_custkey = o_custkey
ORDER BY o_orderkey
"""


@register("join_right_outer", oracle=JOIN_RIGHT_OUTER_ORACLE, tags=("join",))
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    building = _t(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") < 300)
    return (
        building.join(orders, F.col("c_custkey") == F.col("o_custkey"), "right_outer")
        .select("o_orderkey", "c_custkey")
        .orderBy("o_orderkey")
    )


JOIN_FULL_OUTER_ORACLE = """
SELECT a.k AS left_k, b.k AS right_k
FROM (SELECT c_custkey AS k FROM customer WHERE c_custkey % 3 = 0 AND c_custkey < 150) a
FULL OUTER JOIN
     (SELECT c_custkey AS k FROM customer WHERE c_custkey % 2 = 0 AND c_custkey < 150) b
  ON a.k = b.k
ORDER BY left_k, right_k
"""


@register("join_full_outer", oracle=JOIN_FULL_OUTER_ORACLE, tags=("join",))
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER JOIN — beyond reference parity (its JoinType enum has no
    full outer, planner/core/logical_plans.go:59-76); native in Spark."""
    customer = _t(spark, sf_dir, "customer").where(F.col("c_custkey") < 150)
    a = customer.where(F.col("c_custkey") % 3 == 0).select(
        F.col("c_custkey").alias("left_k")
    )
    b = customer.where(F.col("c_custkey") % 2 == 0).select(
        F.col("c_custkey").alias("right_k")
    )
    return (
        a.join(b, F.col("left_k") == F.col("right_k"), "full_outer")
        .select("left_k", "right_k")
        .orderBy("left_k", "right_k")
    )


JOIN_NULL_SAFE_ORACLE = """
SELECT a.o_orderkey AS k1, b.o_orderkey AS k2
FROM (SELECT o_orderkey, NULLIF(o_orderstatus, 'P') AS s FROM orders WHERE o_orderkey < 60) a
JOIN (SELECT o_orderkey, NULLIF(o_orderstatus, 'P') AS s FROM orders WHERE o_orderkey < 60) b
  ON a.s IS NOT DISTINCT FROM b.s AND a.o_orderkey < b.o_orderkey
ORDER BY k1, k2
"""


@register("join_null_safe", oracle=JOIN_NULL_SAFE_ORACLE, tags=("join",))
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join — MySQL ``<=>`` (reference builtin_compare.go)
    → Spark ``eqNullSafe``; NULL keys match each other."""
    orders = _t(spark, sf_dir, "orders").where(F.col("o_orderkey") < 60)
    side = orders.select(
        "o_orderkey", F.expr("NULLIF(o_orderstatus, 'P')").alias("s")
    )
    a = side.select(F.col("o_orderkey").alias("k1"), F.col("s").alias("s1"))
    b = side.select(F.col("o_orderkey").alias("k2"), F.col("s").alias("s2"))
    return (
        a.join(b, F.col("s1").eqNullSafe(F.col("s2")) & (F.col("k1") < F.col("k2")))
        .select("k1", "k2")
        .orderBy("k1", "k2")
    )


JOIN_CROSS_ORACLE = """
SELECT r1.r_name AS name1, r2.r_name AS name2
FROM region r1 CROSS JOIN region r2
ORDER BY name1, name2
"""


@register("join_cross", oracle=JOIN_CROSS_ORACLE, tags=("join",))
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = _t(spark, sf_dir, "region")
    return (
        region.select(F.col("r_name").alias("name1"))
        .crossJoin(region.select(F.col("r_name").alias("name2")))
        .orderBy("name1", "name2")
    )


# --------------------------------------------------------------------------
# Set operations (§2.7): UNION [ALL] / INTERSECT [ALL] / EXCEPT [ALL].

SETOP_UNION_ORACLE = """
SELECT k FROM (
  SELECT c_nationkey AS k FROM customer WHERE c_custkey < 100
  UNION
  SELECT n_nationkey AS k FROM nation WHERE n_nationkey >= 20
) u ORDER BY k
"""


@register("setop_union_distinct", oracle=SETOP_UNION_ORACLE, tags=("setop",))
def setop_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION DISTINCT = union + dedup agg (reference buildSetOpr,
    logical_plan_builder.go:1433)."""
    a = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_custkey") < 100)
        .select(F.col("c_nationkey").alias("k"))
    )
    b = (
        _t(spark, sf_dir, "nation")
        .where(F.col("n_nationkey") >= 20)
        .select(F.col("n_nationkey").alias("k"))
    )
    return a.union(b).distinct().orderBy("k")


SETOP_UNION_ALL_ORACLE = """
SELECT k, COUNT(*) AS cnt FROM (
  SELECT l_returnflag AS k FROM lineitem WHERE l_orderkey < 400
  UNION ALL
  SELECT o_orderstatus AS k FROM orders WHERE o_orderkey < 400
) u GROUP BY k ORDER BY k
"""


@register("setop_union_all", oracle=SETOP_UNION_ALL_ORACLE, tags=("setop",))
def setop_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL preserves duplicates (UnionExec, executor/executor.go:1497)."""
    a = (
        _t(spark, sf_dir, "lineitem")
        .where(F.col("l_orderkey") < 400)
        .select(F.col("l_returnflag").alias("k"))
    )
    b = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 400)
        .select(F.col("o_orderstatus").alias("k"))
    )
    return a.unionAll(b).groupBy("k").agg(F.count(F.lit(1)).alias("cnt")).orderBy("k")


SETOP_INTERSECT_ORACLE = """
SELECT c_custkey AS k FROM customer WHERE c_custkey < 300
INTERSECT
SELECT o_custkey AS k FROM orders
ORDER BY k
"""


@register("setop_intersect", oracle=SETOP_INTERSECT_ORACLE, tags=("setop",))
def setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT — the reference lowers it to a semi join (buildIntersect,
    logical_plan_builder.go:1546); Spark's intersect does the same."""
    a = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_custkey") < 300)
        .select(F.col("c_custkey").alias("k"))
    )
    b = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    return a.intersect(b).orderBy("k")


SETOP_EXCEPT_ORACLE = """
SELECT c_custkey AS k FROM customer WHERE c_custkey < 300
EXCEPT
SELECT o_custkey AS k FROM orders
WHERE o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'
ORDER BY k
"""


@register("setop_except", oracle=SETOP_EXCEPT_ORACLE, tags=("setop",))
def setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT → anti join (buildExcept, logical_plan_builder.go:1476).
    Subtracts customers with 2001+ orders (every customer has *some* order in
    this fixture, so the unrestricted version would be empty)."""
    a = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_custkey") < 300)
        .select(F.col("c_custkey").alias("k"))
    )
    b = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.expr("TIMESTAMP '2001-01-01 00:00:00'"))
        .select(F.col("o_custkey").alias("k"))
    )
    return a.subtract(b).orderBy("k")


SETOP_INTERSECT_ALL_ORACLE = """
SELECT k, COUNT(*) AS cnt FROM (
  SELECT o_custkey AS k FROM orders WHERE o_orderkey < 2000
  INTERSECT ALL
  SELECT o_custkey AS k FROM orders WHERE o_orderkey >= 1000 AND o_orderkey < 3000
) i GROUP BY k ORDER BY k
"""


@register("setop_intersect_all", oracle=SETOP_INTERSECT_ALL_ORACLE, tags=("setop",))
def setop_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL (bag semantics) — Spark-native intersectAll."""
    orders = _t(spark, sf_dir, "orders")
    a = orders.where(F.col("o_orderkey") < 2000).select(
        F.col("o_custkey").alias("k")
    )
    b = orders.where(
        (F.col("o_orderkey") >= 1000) & (F.col("o_orderkey") < 3000)
    ).select(F.col("o_custkey").alias("k"))
    return (
        a.intersectAll(b).groupBy("k").agg(F.count(F.lit(1)).alias("cnt")).orderBy("k")
    )


SETOP_EXCEPT_ALL_ORACLE = """
SELECT k, COUNT(*) AS cnt FROM (
  SELECT o_custkey AS k FROM orders WHERE o_orderkey < 3000
  EXCEPT ALL
  SELECT o_custkey AS k FROM orders WHERE o_orderkey >= 1000 AND o_orderkey < 2000
) e GROUP BY k ORDER BY k
"""


@register("setop_except_all", oracle=SETOP_EXCEPT_ALL_ORACLE, tags=("setop",))
def setop_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (bag subtraction: each left multiplicity minus the right
    multiplicity, floored at zero) — Spark-native exceptAll; completes the
    set-op family alongside setop_intersect_all."""
    orders = _t(spark, sf_dir, "orders")
    a = orders.where(F.col("o_orderkey") < 3000).select(
        F.col("o_custkey").alias("k")
    )
    b = orders.where(
        (F.col("o_orderkey") >= 1000) & (F.col("o_orderkey") < 2000)
    ).select(F.col("o_custkey").alias("k"))
    return (
        a.exceptAll(b).groupBy("k").agg(F.count(F.lit(1)).alias("cnt")).orderBy("k")
    )


# --------------------------------------------------------------------------
# Window functions (§2.5) — all three reference processors:
# aggWindowProcessor (whole partition), rowFrame, rangeFrame
# (executor/window.go:188-236).

WINDOW_RANK_ORACLE = """
SELECT o_custkey, o_orderkey,
       ROW_NUMBER()   OVER w AS rn,
       RANK()         OVER w AS rnk,
       DENSE_RANK()   OVER w AS drnk,
       CAST(PERCENT_RANK() OVER w AS DOUBLE) AS prnk,
       CAST(CUME_DIST()    OVER w AS DOUBLE) AS cd,
       NTILE(4)       OVER w AS nt
FROM orders
WHERE o_custkey < 40
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
ORDER BY o_custkey, o_orderkey
"""


@register("window_rank_family", oracle=WINDOW_RANK_ORACLE, tags=("window",))
def window_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number/rank/dense_rank/percent_rank/cume_dist/ntile (reference
    impls: executor/aggfuncs/row_number.go, func_rank.go, func_cume_dist.go,
    func_percent_rank.go, func_ntile.go)."""
    orders = _t(spark, sf_dir, "orders").where(F.col("o_custkey") < 40)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).alias("rn"),
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.percent_rank().over(w).cast("double").alias("prnk"),
        F.cume_dist().over(w).cast("double").alias("cd"),
        F.ntile(4).over(w).alias("nt"),
    ).orderBy("o_custkey", "o_orderkey")


WINDOW_LEAD_LAG_ORACLE = """
SELECT o_custkey, o_orderkey,
       LAG(o_orderkey)      OVER w AS prev_key,
       LEAD(o_orderkey)     OVER w AS next_key,
       LAG(o_orderkey, 2, -1) OVER w AS prev2_key,
       FIRST_VALUE(o_orderkey) OVER w AS first_key,
       LAST_VALUE(o_orderkey)  OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_key,
       NTH_VALUE(o_orderkey, 2) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_key
FROM orders
WHERE o_custkey < 40
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
ORDER BY o_custkey, o_orderkey
"""


@register("window_lead_lag", oracle=WINDOW_LEAD_LAG_ORACLE, tags=("window",))
def window_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lead/lag (with default), first/last/nth value (func_lead_lag.go,
    func_value.go)."""
    orders = _t(spark, sf_dir, "orders").where(F.col("o_custkey") < 40)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.lag("o_orderkey").over(w).alias("prev_key"),
        F.lead("o_orderkey").over(w).alias("next_key"),
        F.lag("o_orderkey", 2, -1).over(w).alias("prev2_key"),
        F.first("o_orderkey").over(w).alias("first_key"),
        F.last("o_orderkey").over(w_full).alias("last_key"),
        F.nth_value("o_orderkey", 2).over(w_full).alias("second_key"),
    ).orderBy("o_custkey", "o_orderkey")


WINDOW_ROWS_FRAME_ORACLE = """
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) OVER w AS DOUBLE) AS moving_sum,
       COUNT(*) OVER w AS frame_rows
FROM orders
WHERE o_custkey < 40
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
ORDER BY o_custkey, o_orderkey
"""


@register("window_rows_frame", oracle=WINDOW_ROWS_FRAME_ORACLE, tags=("window",))
def window_rows_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROWS frame moving aggregate (rowFrameWindowProcessor,
    executor/window.go:206)."""
    orders = _t(spark, sf_dir, "orders").where(F.col("o_custkey") < 40)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-2, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(15,2)"))
        .over(w)
        .cast("double")
        .alias("moving_sum"),
        F.count(F.lit(1)).over(w).alias("frame_rows"),
    ).orderBy("o_custkey", "o_orderkey")


WINDOW_RANGE_FRAME_ORACLE = """
SELECT o_custkey, o_orderkey,
       COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                      RANGE BETWEEN 500 PRECEDING AND CURRENT ROW) AS near_cnt
FROM orders
WHERE o_custkey < 40
ORDER BY o_custkey, o_orderkey
"""


@register("window_range_frame", oracle=WINDOW_RANGE_FRAME_ORACLE, tags=("window",))
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over a numeric order key (rangeFrameWindowProcessor,
    executor/window.go:217)."""
    orders = _t(spark, sf_dir, "orders").where(F.col("o_custkey") < 40)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderkey")
        .rangeBetween(-500, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.count(F.lit(1)).over(w).alias("near_cnt"),
    ).orderBy("o_custkey", "o_orderkey")


WINDOW_GROUPS_FRAME_ORACLE = """
WITH ranked AS (
  SELECT o_orderkey, o_orderpriority, o_orderdate,
         CAST(o_totalprice AS DECIMAL(18,2)) AS p,
         DENSE_RANK() OVER (
           PARTITION BY o_orderpriority ORDER BY o_orderdate) AS grp
  FROM orders WHERE o_orderkey < 3000
)
SELECT o_orderkey, o_orderpriority, o_orderdate,
       CAST(SUM(p) OVER (PARTITION BY o_orderpriority ORDER BY grp
            RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS DOUBLE) AS grp_sum
FROM ranked
ORDER BY o_orderkey
"""


@register(
    "window_groups_frame", oracle=WINDOW_GROUPS_FRAME_ORACLE, tags=("window",)
)
def window_groups_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPS window frame — EXTENSION (the reference parses GROUPS but
    its planner rejects it, like ALL SHORTEST / TOP k which this engine
    also executes; Spark has no native GROUPS frame either).  Emulated as
    dense_rank + RANGE over the rank (`operators/window_ext.groups_frame`
    — peer-group index IS the dense rank, so ±n groups = RANGE ±n on it;
    one shuffle, both windows share the sort).  The oracle re-derives the
    peer-group frame in DuckDB with the same dense_rank+RANGE identity
    (this build's DuckDB lacks native GROUPS), ties included
    (o_orderdate ties within a priority make real multi-row peer
    groups); true SQL:2011 GROUPS semantics are independently pinned by
    a hand-computed pandas derivation in
    ``tests/test_sql_dialect.py::test_groups_frame_semantics``.  DECIMAL
    sum, DOUBLE only at the end."""
    from tidb_spark.operators.window_ext import groups_frame

    orders = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderkey") < 3000)
        .select(
            "o_orderkey",
            "o_orderpriority",
            "o_orderdate",
            F.col("o_totalprice").cast("decimal(18,2)").alias("__p"),
        )
    )
    out = groups_frame(
        orders,
        ["o_orderpriority"],
        ["o_orderdate"],
        F.sum("__p"),
        preceding=1,
        following=1,
        out_col="__grp_sum",
    )
    return out.select(
        "o_orderkey",
        "o_orderpriority",
        "o_orderdate",
        F.col("__grp_sum").cast("double").alias("grp_sum"),
    ).orderBy("o_orderkey")


WINDOW_PARTITION_AGG_ORACLE = """
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) OVER (PARTITION BY o_custkey) AS DOUBLE)
         AS cust_total,
       CAST(CAST(o_totalprice AS DECIMAL(15,2)) AS DOUBLE)
         / CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) OVER (PARTITION BY o_custkey) AS DOUBLE)
         AS share
FROM orders
WHERE o_custkey < 40
ORDER BY o_custkey, o_orderkey
"""


@register("window_partition_agg", oracle=WINDOW_PARTITION_AGG_ORACLE, tags=("window",))
def window_partition_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-partition aggregate window, no ORDER BY (aggWindowProcessor,
    executor/window.go:188)."""
    orders = _t(spark, sf_dir, "orders").where(F.col("o_custkey") < 40)
    w = Window.partitionBy("o_custkey")
    total = (
        F.sum(F.col("o_totalprice").cast("decimal(15,2)")).over(w).cast("double")
    )
    own = F.col("o_totalprice").cast("decimal(15,2)").cast("double")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        total.alias("cust_total"),
        (own / total).alias("share"),
    ).orderBy("o_custkey", "o_orderkey")


# --------------------------------------------------------------------------
# Sort / limit / offset / distinct / sample (§2.6, §2.1).

LIMIT_OFFSET_ORACLE = """
SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 15 OFFSET 10
"""


@register("limit_offset", oracle=LIMIT_OFFSET_ORACLE, tags=("sort",))
def limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY + OFFSET + LIMIT (LimitExec with offset,
    executor/executor.go:1064)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.select(
            "o_orderkey", F.col("o_totalprice").cast("double").alias("o_totalprice")
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .offset(10)
        .limit(15)
    )


DISTINCT_ORACLE = """
SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
ORDER BY l_returnflag, l_linestatus
"""


@register("distinct_op", oracle=DISTINCT_ORACLE, tags=("agg",))
def distinct_op(spark: SparkSession, sf_dir: str) -> DataFrame:
    lineitem = _t(spark, sf_dir, "lineitem")
    return (
        lineitem.select("l_returnflag", "l_linestatus")
        .distinct()
        .orderBy("l_returnflag", "l_linestatus")
    )


SAMPLE_ORACLE = """
SELECT o_orderkey, o_custkey FROM orders
WHERE o_orderkey % 20 = 3
ORDER BY o_orderkey
"""


@register("sample_deterministic", oracle=SAMPLE_ORACLE, tags=("scan",))
def sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic systematic sample — the oracle-checkable analogue of
    TABLESAMPLE REGIONS() (executor/sample.go:42); Spark's df.sample covers
    the probabilistic path but is seed-engine-specific."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.where(F.col("o_orderkey") % 20 == 3)
        .select("o_orderkey", "o_custkey")
        .orderBy("o_orderkey")
    )


# --------------------------------------------------------------------------
# Aggregate-function inventory (§2.4).

AGG_GROUP_CONCAT_ORACLE = """
SELECT l_returnflag,
       (SELECT string_agg(s, ',' ORDER BY s)
        FROM (SELECT DISTINCT l_linestatus AS s FROM lineitem li
              WHERE li.l_returnflag = l.l_returnflag) d) AS statuses
FROM (SELECT DISTINCT l_returnflag FROM lineitem) l
ORDER BY l_returnflag
"""


@register("agg_group_concat", oracle=AGG_GROUP_CONCAT_ORACLE, tags=("agg",))
def agg_group_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP_CONCAT(DISTINCT ... ORDER BY ...) (func_group_concat.go) →
    concat_ws over sort_array(collect_set)."""
    lineitem = _t(spark, sf_dir, "lineitem")
    return (
        lineitem.groupBy("l_returnflag")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_set("l_linestatus"))).alias(
                "statuses"
            )
        )
        .orderBy("l_returnflag")
    )


AGG_BIT_OPS_ORACLE = """
SELECT o_custkey,
       BIT_AND(o_orderkey) AS band,
       BIT_OR(o_orderkey)  AS bor,
       BIT_XOR(o_orderkey) AS bxor
FROM orders
WHERE o_custkey < 30
GROUP BY o_custkey
ORDER BY o_custkey
"""


@register("agg_bit_ops", oracle=AGG_BIT_OPS_ORACLE, tags=("agg",))
def agg_bit_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bit_and/bit_or/bit_xor aggregates (func_bitfuncs.go)."""
    orders = _t(spark, sf_dir, "orders").where(F.col("o_custkey") < 30)
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.expr("BIT_AND(o_orderkey)").alias("band"),
            F.expr("BIT_OR(o_orderkey)").alias("bor"),
            F.expr("BIT_XOR(o_orderkey)").alias("bxor"),
        )
        .orderBy("o_custkey")
    )


# Variance/stddev via exact decimal moments: both engines evaluate the same
# double expression over exact decimal sums, so results are bit-identical
# (Spark's native var_pop uses a different merge order than DuckDB's — fine
# numerically, but not hash-identical; the capability parity is the formula).
_MOMENTS = (
    "CAST(SUM(CAST(l_quantity AS DECIMAL(15,2)) * CAST(l_quantity AS DECIMAL(15,2))) AS DOUBLE)",
    "CAST(SUM(CAST(l_quantity AS DECIMAL(15,2))) AS DOUBLE)",
)
AGG_VAR_STDDEV_ORACLE = f"""
SELECT l_returnflag,
       ({_MOMENTS[0]} - {_MOMENTS[1]} * {_MOMENTS[1]} / COUNT(*)) / COUNT(*) AS var_pop,
       ({_MOMENTS[0]} - {_MOMENTS[1]} * {_MOMENTS[1]} / COUNT(*)) / (COUNT(*) - 1) AS var_samp,
       SQRT(({_MOMENTS[0]} - {_MOMENTS[1]} * {_MOMENTS[1]} / COUNT(*)) / COUNT(*)) AS stddev_pop,
       SQRT(({_MOMENTS[0]} - {_MOMENTS[1]} * {_MOMENTS[1]} / COUNT(*)) / (COUNT(*) - 1)) AS stddev_samp
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register("agg_var_stddev", oracle=AGG_VAR_STDDEV_ORACLE, tags=("agg",))
def agg_var_stddev(spark: SparkSession, sf_dir: str) -> DataFrame:
    """var_pop/var_samp/stddev_pop/stddev_samp (func_varpop.go) computed from
    exact decimal moments for cross-engine determinism."""
    lineitem = _t(spark, sf_dir, "lineitem")
    m2, m1 = _MOMENTS
    return (
        lineitem.groupBy("l_returnflag")
        .agg(
            F.expr(f"({m2} - {m1} * {m1} / COUNT(*)) / COUNT(*)").alias("var_pop"),
            F.expr(f"({m2} - {m1} * {m1} / COUNT(*)) / (COUNT(*) - 1)").alias(
                "var_samp"
            ),
            F.expr(f"SQRT(({m2} - {m1} * {m1} / COUNT(*)) / COUNT(*))").alias(
                "stddev_pop"
            ),
            F.expr(
                f"SQRT(({m2} - {m1} * {m1} / COUNT(*)) / (COUNT(*) - 1))"
            ).alias("stddev_samp"),
        )
        .orderBy("l_returnflag")
    )


AGG_COUNT_DISTINCT_ORACLE = """
SELECT l_returnflag,
       COUNT(DISTINCT l_suppkey) AS distinct_supp,
       COUNT(DISTINCT l_partkey) AS distinct_part,
       COUNT(*) AS cnt
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register("agg_count_distinct", oracle=AGG_COUNT_DISTINCT_ORACLE, tags=("agg",))
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple COUNT(DISTINCT) in one aggregate (func_count_distinct.go;
    the reference falls back to single-threaded agg for these — Spark expands
    to expand+two-phase agg instead)."""
    lineitem = _t(spark, sf_dir, "lineitem")
    return (
        lineitem.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_suppkey").alias("distinct_supp"),
            F.countDistinct("l_partkey").alias("distinct_part"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .orderBy("l_returnflag")
    )


AGG_MINMAX_FIRST_ORACLE = """
SELECT o_custkey,
       MIN(o_totalprice) AS min_price,
       MAX(o_totalprice) AS max_price,
       ARG_MIN(o_orderdate, o_orderkey) AS first_order_date,
       MIN(o_orderkey) AS first_order_key
FROM orders
WHERE o_custkey < 50
GROUP BY o_custkey
ORDER BY o_custkey
"""


@register("agg_minmax_first", oracle=AGG_MINMAX_FIRST_ORACLE, tags=("agg",))
def agg_minmax_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min/max + deterministic firstrow analogue via min_by (reference
    func_first_row.go is order-dependent; min_by makes it deterministic)."""
    orders = _t(spark, sf_dir, "orders").where(F.col("o_custkey") < 50)
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
            F.min_by("o_orderdate", "o_orderkey").alias("first_order_date"),
            F.min("o_orderkey").alias("first_order_key"),
        )
        .orderBy("o_custkey")
    )


AGG_PERCENTILE_ORACLE = """
SELECT l_returnflag,
       CAST(quantile_cont(l_quantity, 0.5)  AS DOUBLE) AS median_qty,
       CAST(quantile_cont(l_quantity, 0.25) AS DOUBLE) AS p25_qty,
       CAST(quantile_cont(l_quantity, 0.75) AS DOUBLE) AS p75_qty
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register("agg_percentile", oracle=AGG_PERCENTILE_ORACLE, tags=("agg",))
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentile (continuous interpolation) — reference
    approx_percentile (func_percentile.go:50) is sketch-based; the exact
    variant is the oracle-checkable one.  l_quantity is integral so the
    interpolation arithmetic is FP-exact in both engines."""
    lineitem = _t(spark, sf_dir, "lineitem")
    return (
        lineitem.groupBy("l_returnflag")
        .agg(
            F.expr("CAST(percentile(l_quantity, 0.5) AS DOUBLE)").alias("median_qty"),
            F.expr("CAST(percentile(l_quantity, 0.25) AS DOUBLE)").alias("p25_qty"),
            F.expr("CAST(percentile(l_quantity, 0.75) AS DOUBLE)").alias("p75_qty"),
        )
        .orderBy("l_returnflag")
    )


AGG_SKETCH_ORACLE = """
SELECT l_returnflag,
       TRUE AS cd_within_5pct,
       TRUE AS median_within_envelope
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@register("agg_approx_sketches", oracle=AGG_SKETCH_ORACLE, tags=("agg", "approx"))
def agg_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL++ vs the reference's hash-sample sketch,
    func_count_distinct.go:491) and percentile_approx (vs
    func_percentile.go).  Raw sketch outputs are engine-specific, so the
    ACCURACY CONTRACT is what gets oracle-checked: per group, the HLL
    estimate must land within ±5% of the true distinct count (HLL++ with
    default rsd 0.05) and the approx median inside the [p40, p60] exact-
    quantile envelope — the oracle asserts those booleans are TRUE for
    every group, turning the sketch guarantee itself into the hash-compared
    value."""
    lineitem = _t(spark, sf_dir, "lineitem")
    # countDistinct computed in its OWN aggregation: mixing a distinct agg
    # with sketch aggs in one groupBy forces Catalyst's Expand plan and the
    # sketch states then ride the doubled rows (measured 15 s vs 0.5+0.7 s
    # split at sf0.1).  The 3-row join to recombine is free.
    sketches = lineitem.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.percentile_approx("l_quantity", 0.5).alias("approx_median_qty"),
    )
    exact = lineitem.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("exact_parts")
    )
    sketches = sketches.join(exact, on="l_returnflag")
    # Median check by RANK, not by exact percentile: count how much of the
    # group sits at or below the sketch's median (broadcast the 3-row
    # sketch result back over the scan — two codegen'd hash aggregates,
    # where an exact percentile() would be a per-group sort-aggregate over
    # the full column).
    ranked = (
        lineitem.join(F.broadcast(sketches), on="l_returnflag")
        .groupBy("l_returnflag", "approx_parts", "exact_parts")
        .agg(
            (
                F.sum(
                    F.when(
                        F.col("l_quantity") <= F.col("approx_median_qty"), 1
                    ).otherwise(0)
                )
                / F.count(F.lit(1))
            ).alias("median_rank_frac")
        )
    )
    return (
        ranked.select(
            "l_returnflag",
            (
                (F.col("approx_parts") >= F.col("exact_parts") * 0.95)
                & (F.col("approx_parts") <= F.col("exact_parts") * 1.05)
            ).alias("cd_within_5pct"),
            F.col("median_rank_frac")
            .between(F.lit(0.40), F.lit(0.60))
            .alias("median_within_envelope"),
        )
        .orderBy("l_returnflag")
    )


AGG_ROLLUP_ORACLE = """
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS cnt,
       CAST(SUM(CAST(l_quantity AS DECIMAL(15,2))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
"""


@register("agg_rollup", oracle=AGG_ROLLUP_ORACLE, tags=("agg",))
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ROLLUP — beyond reference parity (no GROUPING SETS support
    there, SURVEY §2.4); native in Spark.  The scan is spread on
    l_orderkey first (tpch._t_spread): ROLLUP's Expand triples the rows
    BEFORE the partial aggregate, and on the single-row-group fixture
    that all runs on one core (measured 1.25 → 0.71 s at sf0.1; no-op at
    cluster scale)."""
    from tidb_spark.queries.tpch import _t_spread

    lineitem = _t_spread(spark, sf_dir, "lineitem", "l_orderkey")
    return (
        lineitem.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.expr(
                "CAST(SUM(CAST(l_quantity AS DECIMAL(15,2))) AS DOUBLE)"
            ).alias("sum_qty"),
        )
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


AGG_GROUPING_SETS_ORACLE = """
SELECT l_returnflag, l_linenumber,
       GROUPING(l_returnflag) AS g_flag,
       GROUPING(l_linenumber) AS g_line,
       COUNT(*) AS cnt,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linenumber), (l_returnflag, l_linenumber), ())
ORDER BY g_flag, g_line, l_returnflag NULLS FIRST, l_linenumber NULLS FIRST
"""


@register("agg_grouping_sets", oracle=AGG_GROUPING_SETS_ORACLE, tags=("agg",))
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY GROUPING SETS with GROUPING() markers — the ROLLUP
    sibling (beyond reference parity, SURVEY §2.4; native in Spark: one
    Expand + one aggregate, each grouping set a map-side-combined lane,
    so the cost is #sets × one shuffle's worth of partial rows, never
    #sets scans).  Spread on l_orderkey (tpch._t_spread): the 4-lane
    Expand + decimal partial agg otherwise pipeline into the fixture's
    single scan split (measured 1.76 → 0.74 s at sf0.1)."""
    from tidb_spark.queries.tpch import _t_spread

    lineitem = _t_spread(spark, sf_dir, "lineitem", "l_orderkey")
    return spark.sql(
        """SELECT l_returnflag, l_linenumber,
                  GROUPING(l_returnflag) AS g_flag,
                  GROUPING(l_linenumber) AS g_line,
                  COUNT(*) AS cnt,
                  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
           FROM {li}
           GROUP BY GROUPING SETS ((l_returnflag), (l_linenumber), (l_returnflag, l_linenumber), ())
           ORDER BY g_flag, g_line, l_returnflag NULLS FIRST, l_linenumber NULLS FIRST""",
        li=lineitem,
    )


# --------------------------------------------------------------------------
# CTEs (§2.8).

CTE_NONRECURSIVE_ORACLE = """
WITH big_cust AS (
  SELECT o_custkey, COUNT(*) AS n_orders
  FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 15
)
SELECT c_mktsegment, COUNT(*) AS big_customers,
       CAST(SUM(n_orders) AS BIGINT) AS total_orders
FROM big_cust JOIN customer ON c_custkey = o_custkey
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


@register("cte_nonrecursive", oracle=CTE_NONRECURSIVE_ORACLE, tags=("cte",))
def cte_nonrecursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-recursive CTE referenced once; Catalyst inlines it (the reference
    materializes via CTEExec only when recursive or multiply-referenced)."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    big_cust = (
        orders.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .where(F.col("n_orders") >= 15)
    )
    return (
        big_cust.join(customer, F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("big_customers"),
            F.sum("n_orders").cast("bigint").alias("total_orders"),
        )
        .orderBy("c_mktsegment")
    )


CTE_RECURSIVE_ORACLE = """
WITH RECURSIVE e_knows AS (
  SELECT a.o_custkey AS src, b.o_custkey AS dst
  FROM orders a JOIN orders b ON a.o_orderkey = b.o_orderkey - 1
  WHERE a.o_custkey <> b.o_custkey
), reach(id, depth) AS (
  SELECT c_custkey AS id, 0 AS depth FROM customer WHERE c_custkey < 5
  UNION
  SELECT e.dst AS id, r.depth + 1 AS depth
  FROM reach r JOIN e_knows e ON e.src = r.id
  WHERE r.depth < 3
)
SELECT depth, COUNT(*) AS n_reached FROM (
  SELECT id, MIN(depth) AS depth FROM reach GROUP BY id
) m GROUP BY depth ORDER BY depth
"""


@register("cte_recursive", oracle=CTE_RECURSIVE_ORACLE, tags=("cte", "graph"))
def cte_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE (CTEExec fixpoint, executor/cte.go:38-60): 3-hop BFS
    reachability over the e_knows graph with UNION-DISTINCT visited
    semantics, then min-depth per vertex.

    The recursion is structurally depth-bounded (the step filters
    ``depth < 3``), so the fixpoint loop linearly unrolls into ONE
    adaptive plan — the pruned dataflow (per-level step-join, dedup,
    anti-join against the accumulated visited set) is identical to the
    generic :func:`recursive_cte` loop's, but with zero driver
    round-trips: no per-round convergence counts (the round count is not
    data-dependent upward), no per-round plan compiles, and AQE picks
    each level's join strategy from RUNTIME sizes instead of the loop
    driver's one-round-stale estimate.  Unbounded recursions (the engine's
    ``WITH RECURSIVE``) still use the counted loop — only a static depth
    guard makes the unroll legal.  The unrolled plan's shape is also
    scale-independent, so a warmup run at any sf compiles exactly the
    code the measured run executes."""
    from functools import reduce

    from tidb_spark.catalog import graph_views, load_all

    tables = load_all(spark, sf_dir)
    # The edge view is a derived self-join referenced by all 3 levels —
    # freeze it once (same policy as graph/shortest.py's edge checkpoint);
    # lazy: it materializes inside the single action.
    e_knows = graph_views(tables)["e_knows"].localCheckpoint(eager=False)
    seed = (
        tables["customer"]
        .where(F.col("c_custkey") < 5)
        .select(F.col("c_custkey").alias("id"), F.lit(0).alias("depth"))
    )
    levels = [seed]
    seen = seed.select("id")
    frontier = seed
    for _ in range(3):  # static bound: the step's depth guard is < 3
        nxt = (
            frontier.where(F.col("depth") < 3)
            .join(e_knows, frontier["id"] == e_knows["src"])
            .select(F.col("dst").alias("id"), (F.col("depth") + 1).alias("depth"))
            .dropDuplicates(["id"])
            .join(seen, on="id", how="left_anti")
        )
        levels.append(nxt)
        seen = seen.unionByName(nxt.select("id"))
        frontier = nxt
    reach = reduce(lambda a, b: a.unionByName(b), levels)
    return (
        reach.groupBy("depth")
        .agg(F.count(F.lit(1)).alias("n_reached"))
        .orderBy("depth")
    )


# --------------------------------------------------------------------------
# Point lookups (executor/point_get.go:75, executor/batch_point_get.go:46):
# in Spark, PK lookups are pushed-down scan filters — parquet row-group
# min/max stats prune everything but the matching pages.

POINT_GET_ORACLE = """
SELECT c_custkey, c_name, c_nationkey, c_acctbal
FROM customer WHERE c_custkey = 42
"""


@register("point_get", oracle=POINT_GET_ORACLE, tags=("scan", "pointget"))
def point_get(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PointGetExecutor equivalent: unique-key lookup as a pushed filter
    (PushedFilters: [EqualTo(c_custkey,42)] in the scan node)."""
    return _t(spark, sf_dir, "customer").where(F.col("c_custkey") == 42).select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )


BATCH_POINT_GET_ORACLE = """
SELECT c_custkey, c_name
FROM customer WHERE c_custkey IN (1, 5, 42, 99, 12345678)
ORDER BY c_custkey
"""


@register("batch_point_get", oracle=BATCH_POINT_GET_ORACLE, tags=("scan", "pointget"))
def batch_point_get(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BatchPointGetExec equivalent: IN-list lookup, pushed to the scan
    (In(c_custkey, [...]) filter; absent keys — 12345678 — drop out)."""
    return (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_custkey").isin(1, 5, 42, 99, 12345678))
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


# --------------------------------------------------------------------------
# JSON aggregates (executor/aggfuncs/func_json_arrayagg.go,
# func_json_objectagg.go): JSON_ARRAYAGG / JSON_OBJECTAGG.  MySQL's output
# order is unspecified; we pin sorted order on both sides so the text
# compares exactly.

AGG_JSON_ORACLE = """
SELECT n_regionkey,
       CAST(to_json(list_sort(list(n_name))) AS VARCHAR) AS names_json,
       CAST(json_group_object(n_name, n_nationkey) AS VARCHAR) AS obj_json
FROM (SELECT * FROM nation ORDER BY n_name)
GROUP BY n_regionkey
ORDER BY n_regionkey
"""


@register("agg_json", oracle=AGG_JSON_ORACLE, tags=("agg", "json"))
def agg_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON_ARRAYAGG → to_json(sort_array(collect_list)); JSON_OBJECTAGG →
    to_json(map_from_entries(sorted (k,v) structs))."""
    nation = _t(spark, sf_dir, "nation")
    return (
        nation.groupBy("n_regionkey")
        .agg(
            F.to_json(F.array_sort(F.collect_list("n_name"))).alias("names_json"),
            F.to_json(
                F.map_from_entries(
                    F.array_sort(
                        F.collect_list(F.struct("n_name", "n_nationkey"))
                    )
                )
            ).alias("obj_json"),
        )
        .orderBy("n_regionkey")
    )


# --------------------------------------------------------------------------
# Subquery rewrites (planner/core/expression_rewriter.go:216,396,459: scalar
# subquery → MaxOneRow+apply, IN → semi-apply, EXISTS → semi join; the
# decorrelation rule rule_decorrelate.go pulls them into joins).  Catalyst
# does the identical rewrites natively — these queries pin that behavior.

SUBQ_SCALAR_ORACLE = """
SELECT c_custkey, c_acctbal
FROM customer
WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer) * 1.8
ORDER BY c_custkey
"""


@register("subq_scalar", oracle=SUBQ_SCALAR_ORACLE, tags=("subquery",))
def subq_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery (MaxOneRowExec parity: Catalyst enforces
    single-row in the rewrite)."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("__subq_customer")
    return spark.sql(
        """SELECT c_custkey, c_acctbal FROM __subq_customer
           WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM __subq_customer) * 1.8
           ORDER BY c_custkey"""
    )


SUBQ_CORRELATED_ORACLE = """
SELECT o_orderkey, o_totalprice
FROM orders o
WHERE o_totalprice > 2 * (SELECT AVG(o2.o_totalprice) FROM orders o2
                          WHERE o2.o_custkey = o.o_custkey)
ORDER BY o_orderkey
"""


@register("subq_correlated", oracle=SUBQ_CORRELATED_ORACLE, tags=("subquery",))
def subq_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery — the apply → decorrelated aggregate+join
    rewrite (rule_decorrelate.go; Catalyst: DecorrelateInnerQuery)."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("__subq_orders")
    return spark.sql(
        """SELECT o_orderkey, o_totalprice FROM __subq_orders o
           WHERE o_totalprice > 2 * (SELECT AVG(o2.o_totalprice)
                                     FROM __subq_orders o2
                                     WHERE o2.o_custkey = o.o_custkey)
           ORDER BY o_orderkey"""
    )


SUBQ_EXISTS_BOOL_ORACLE = """
SELECT c_custkey,
       EXISTS(SELECT 1 FROM orders WHERE o_custkey = c_custkey
              AND o_totalprice > 400000) AS has_big_order
FROM customer
ORDER BY c_custkey
"""


@register("subq_exists_bool", oracle=SUBQ_EXISTS_BOOL_ORACLE, tags=("subquery",))
def subq_exists_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS as a projected boolean — the reference's LeftOuterSemi join
    (planner/core/logical_plans.go:59-76 'EXISTS as boolean column')."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("__subq_c2")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("__subq_o2")
    return spark.sql(
        """SELECT c_custkey,
                  EXISTS(SELECT 1 FROM __subq_o2 WHERE o_custkey = c_custkey
                         AND o_totalprice > 400000) AS has_big_order
           FROM __subq_c2 ORDER BY c_custkey"""
    )


SUBQ_IN_NOTIN_ORACLE = """
SELECT c_custkey FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
  AND c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 450000)
ORDER BY c_custkey
"""


@register("subq_in_notin", oracle=SUBQ_IN_NOTIN_ORACLE, tags=("subquery",))
def subq_in_notin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN → semi join, NOT IN → null-aware anti join (the joiner pair in
    executor/joiner.go:173-184)."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("__subq_c3")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("__subq_o3")
    return spark.sql(
        """SELECT c_custkey FROM __subq_c3
           WHERE c_custkey IN (SELECT o_custkey FROM __subq_o3
                               WHERE o_orderstatus = 'F')
             AND c_custkey NOT IN (SELECT o_custkey FROM __subq_o3
                                   WHERE o_totalprice > 450000)
           ORDER BY c_custkey"""
    )


# --------------------------------------------------------------------------
# As-of join (executed extension — the reference's JoinType enum has no
# point-in-time variant, planner/core/logical_plans.go:59; same posture as
# the GROUPS frame / ALL SHORTEST extensions).  One union + one per-key
# window shuffle; see operators/asof.py for the 100 TB argument.

JOIN_ASOF_ORACLE = """
WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
     v AS (SELECT * FROM events WHERE event_type = 'view'),
     m AS (
       SELECT p.event_id, p.user_id, p.ts,
              (SELECT max(v.ts) FROM v
               WHERE v.user_id = p.user_id AND v.ts <= p.ts) AS view_ts
       FROM p)
SELECT event_id, user_id, ts, view_ts,
       epoch_us(ts) - epoch_us(view_ts) AS gap_us
FROM m
ORDER BY event_id
"""


@register("join_asof", oracle=JOIN_ASOF_ORACLE, tags=("join",))
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join: each purchase gets the SAME USER's latest
    at-or-before view event.  Formulated as union + per-user window
    (operators/asof.py) — one shuffle, no range-join pair explosion."""
    from tidb_spark.operators.asof import asof_join

    events = _t(spark, sf_dir, "events")
    purchases = events.where(F.col("event_type") == "purchase")
    views = events.where(F.col("event_type") == "view")
    m = asof_join(
        purchases, views, on=["user_id"], left_time="ts", right_time="ts"
    )
    return m.select(
        "event_id",
        "user_id",
        "ts",
        F.col("ts_r").alias("view_ts"),
        (F.unix_micros(F.col("ts")) - F.unix_micros(F.col("ts_r"))).alias(
            "gap_us"
        ),
    ).orderBy("event_id")


# --------------------------------------------------------------------------
# Equi-width histogram — the reference builds per-column histograms for its
# CBO (statistics/histogram.go:1 Histogram buckets; ANALYZE fills them,
# executor/analyze.go).  Exposed as a query so the distribution pass a data
# pipeline runs before filtering is first-class: one map-side-combined
# groupBy on the bucket id, no sort, no skew (≤ n_buckets groups).

AGG_HISTOGRAM_ORACLE = """
SELECT CAST(least(floor(value / 25.0), 19) AS BIGINT) AS bucket,
       CAST(least(floor(value / 25.0), 19) AS BIGINT) * 25 AS lo,
       COUNT(*) AS n,
       min(value) AS lo_value,
       max(value) AS hi_value
FROM events
GROUP BY 1
ORDER BY bucket
"""


@register("agg_histogram", oracle=AGG_HISTOGRAM_ORACLE, tags=("agg",))
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20-bucket equi-width histogram of events.value over [0, 500), last
    bucket clamped open-ended (statistics/histogram.go bucket layout).
    min/max per bucket are data values (exact); no float accumulation."""
    events = _t(spark, sf_dir, "events")
    bucket = F.least(F.floor(F.col("value") / 25.0), F.lit(19)).cast("long")
    return (
        events.select(bucket.alias("bucket"), "value")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("value").alias("lo_value"),
            F.max("value").alias("hi_value"),
        )
        .select(
            "bucket",
            (F.col("bucket") * 25).alias("lo"),
            "n",
            "lo_value",
            "hi_value",
        )
        .orderBy("bucket")
    )


# --------------------------------------------------------------------------
# Numeric range (interval) join — bucketed equi-join scale path; see
# operators/rangejoin.py.  The reference executes BETWEEN-join predicates
# as Selection over a nested-loop Apply (executor/join.go); the oracle
# below is exactly that naive formulation (DuckDB's IEJoin runs it), so
# correctness pins the bucketed plan against the cross-product semantics.

JOIN_RANGE_ORACLE = """
WITH i AS (SELECT event_id AS interval_id, value AS lo, value + 0.1 AS hi
           FROM events WHERE event_type = 'purchase'),
     p AS (SELECT event_id AS point_id, value AS pv
           FROM events WHERE event_type = 'click')
SELECT interval_id,
       COUNT(point_id)                              AS n_matches,
       CAST(COALESCE(SUM(CAST(round(pv * 100) AS BIGINT)), 0) AS BIGINT)
                                                    AS sum_pv_cents,
       MIN(point_id)                                AS min_point_id
FROM i LEFT JOIN p ON p.pv BETWEEN i.lo AND i.hi
GROUP BY interval_id
ORDER BY interval_id
"""


@register("join_range", oracle=JOIN_RANGE_ORACLE, tags=("join",))
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: each purchase's value-window [v, v+0.1] counts the
    click events whose value falls inside it.  Executed as the bucketed
    equi-join (operators/rangejoin.py) — O(n) with a ≤2× interval
    duplication — then re-aggregated per interval; unmatched intervals
    are restored with ONE outer join from the interval side (count 0),
    matching the oracle's LEFT JOIN without evaluating the range join
    twice (an anti-join + union formulation recomputes it).  Point
    values are summed in exact cents.

    Scale note (sf1 sweep finding): the fixture re-samples values over a
    FIXED range at every SF, so match density — and with it the join's
    OUTPUT cardinality — grows linearly with SF and the output grows
    quadratically.  The operator itself is linear in |output| (the sf1
    sweep measured per-output-row cost FALLING 4.6x while output grew
    100x); a production range join keeps output bounded by choosing a
    selective window, which is what the 0.1 width models."""
    from tidb_spark.operators.rangejoin import range_join

    events = _t(spark, sf_dir, "events")
    intervals = events.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("interval_id"),
        F.col("value").alias("lo"),
        (F.col("value") + F.lit(0.1)).alias("hi"),
    )
    points = events.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("point_id"), F.col("value").alias("pv")
    )
    matched = (
        range_join(
            points, intervals, point_col="pv", lo_col="lo", hi_col="hi",
            bucket_width=0.1,
        )
        .groupBy("interval_id")
        .agg(
            F.count("point_id").alias("n_matches"),
            F.sum(F.round(F.col("pv") * 100).cast("long")).alias("sum_pv_cents"),
            F.min("point_id").alias("min_point_id"),
        )
    )
    return (
        intervals.select("interval_id")
        .join(matched, "interval_id", "left")
        .select(
            "interval_id",
            F.coalesce("n_matches", F.lit(0).cast("long")).alias("n_matches"),
            F.coalesce("sum_pv_cents", F.lit(0).cast("long")).alias(
                "sum_pv_cents"
            ),
            "min_point_id",
        )
        .orderBy("interval_id")
    )


# --------------------------------------------------------------------------
# Batch sessionization — lag-gap + cumulative-sum session ids (the batch
# twin of streaming/events.py's session windows; reference expresses this
# as window functions, planner/core/logical_plans.go window plan).

TS_SESSIONIZE_ORACLE = """
WITH g AS (
  SELECT user_id, event_id, ts,
         CASE WHEN epoch_us(ts) - epoch_us(
                LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              ) > 21600000000 OR
              LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM events
),
s AS (
  SELECT user_id, event_id, ts,
         SUM(new_sess) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS session_idx
  FROM g
)
SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
       COUNT(*) AS n_events, MIN(ts) AS start_ts, MAX(ts) AS end_ts
FROM s
GROUP BY user_id, session_idx
ORDER BY user_id, session_idx
"""


@register("ts_sessionize", oracle=TS_SESSIONIZE_ORACLE, tags=("ts",))
def ts_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization with a 6h inactivity gap: lag → gap flag →
    running sum = session id, then one per-(user, session) aggregate.
    Two window passes over ONE partitioning (user_id) — Catalyst fuses
    them into a single sort+window stage, so the whole operator is one
    shuffle; at 100 TB per-user event streams fit partitions by the same
    contract every sessionizer has."""
    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    g = events.select(
        "user_id",
        "event_id",
        "ts",
        F.when(gap_us.isNull() | (gap_us > 6 * 3600 * 1_000_000), 1)
        .otherwise(0)
        .alias("new_sess"),
    )
    s = g.select(
        "user_id",
        "ts",
        F.sum("new_sess")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("session_idx"),
    )
    return (
        s.groupBy("user_id", "session_idx")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("start_ts"),
            F.max("ts").alias("end_ts"),
        )
        .orderBy("user_id", "session_idx")
    )


# --------------------------------------------------------------------------
# Hypertable-style hourly rollup with gap filling (continuous-aggregate
# shape: every (type, hour) cell exists even when no events landed in it).

TS_ROLLUP_GAPFILL_ORACLE = """
WITH h AS (
  SELECT event_type, date_trunc('hour', ts) AS hr,
         COUNT(*) AS n,
         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1, 2
),
bounds AS (
  SELECT date_trunc('hour', MIN(ts)) AS lo, date_trunc('hour', MAX(ts)) AS hi
  FROM events
),
spine AS (
  SELECT t.event_type, g.hr
  FROM (SELECT DISTINCT event_type FROM events) t,
       (SELECT UNNEST(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr
        FROM bounds) g
)
SELECT s.event_type, s.hr,
       COALESCE(h.n, 0)     AS n,
       COALESCE(h.cents, 0) AS cents
FROM spine s LEFT JOIN h ON s.event_type = h.event_type AND s.hr = h.hr
ORDER BY s.event_type, s.hr
"""


@register("ts_rollup_gapfill", oracle=TS_ROLLUP_GAPFILL_ORACLE, tags=("ts",))
def ts_rollup_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly rollup per event type with a dense gap-filled spine
    (TimescaleDB time_bucket_gapfill shape).  The rollup is one map-side-
    combined groupBy; the spine is (types × hours) built from a 1-row
    bounds aggregate crossed with the distinct types — both broadcast-
    sized at ANY fact scale, so the gap-fill join adds no data-sized
    shuffle beyond the rollup's own."""
    events = _t(spark, sf_dir, "events")
    h = (
        events.groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        )
    )
    bounds = events.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    hours = bounds.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 hour)")).alias("hr")
    )
    spine = events.select("event_type").distinct().crossJoin(F.broadcast(hours))
    return (
        spine.join(h, ["event_type", "hr"], "left")
        .select(
            "event_type",
            "hr",
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
            F.coalesce(F.col("cents"), F.lit(0)).alias("cents"),
        )
        .orderBy("event_type", "hr")
    )


# --------------------------------------------------------------------------
# Modal value per group (MySQL has no MODE() builtin; the reference
# computes it the same way — count + window top-1).

AGG_MODE_ORACLE = """
WITH b AS (
  SELECT event_type, CAST(floor(value / 10) AS BIGINT) AS bucket, COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
r AS (
  SELECT event_type, bucket, n,
         ROW_NUMBER() OVER (
           PARTITION BY event_type ORDER BY n DESC, bucket
         ) AS rn
  FROM b
)
SELECT event_type, bucket AS mode_bucket, n AS mode_n
FROM r WHERE rn = 1
ORDER BY event_type
"""


@register("agg_mode", oracle=AGG_MODE_ORACLE, tags=("agg",))
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mode (most frequent value-decade) per event type, deterministic
    lowest-bucket tiebreak: count groupBy (map-side combined) + a top-1
    window whose input is ≤ |buckets| rows per group — no data-sized
    sort."""
    events = _t(spark, sf_dir, "events")
    b = (
        events.select(
            "event_type",
            F.floor(F.col("value") / 10).cast("long").alias("bucket"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("event_type").orderBy(F.col("n").desc(), "bucket")
    return (
        b.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("bucket").alias("mode_bucket"),
            F.col("n").alias("mode_n"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Skew-salted join — operators/skew.py exposed as a registry query; the
# oracle is the plain join, pinning that salting is correctness-neutral.

JOIN_SKEW_ORACLE = """
SELECT c.c_mktsegment,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) AS cents
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment
ORDER BY c.c_mktsegment
"""


@register("join_skew_salted", oracle=JOIN_SKEW_ORACLE, tags=("join",))
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-dim join through the explicit salting operator
    (operators/skew.py: dim replicated salt ways, fact scattered with a
    random salt, equi-join on (key, salt)) — the manual fallback for skew
    AQE won't split.  The oracle is the unsalted join: same rows, same
    aggregate, pinning that the rewrite is semantics-free."""
    from tidb_spark.operators.skew import salted_join

    events = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    j = salted_join(events, cust, on=["user_id"], salt=8, how="inner")
    return (
        j.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        )
        .orderBy("c_mktsegment")
    )


# --------------------------------------------------------------------------
# Exponentially weighted moving average (α = 1/2, depth 8) — integer-exact.

_EWMA_TERMS_SQL = " + ".join(
    f"COALESCE(CAST(round(LAG(value, {k}) OVER w * 100) AS BIGINT) * {1 << (7 - k)}, 0)"
    for k in range(8)
)
_EWMA_DEN_SQL = " + ".join(
    f"CASE WHEN LAG(value, {k}) OVER w IS NOT NULL THEN {1 << (7 - k)} ELSE 0 END"
    for k in range(8)
)

TS_EWMA_ORACLE = f"""
SELECT event_id, user_id,
       {_EWMA_TERMS_SQL} AS num,
       {_EWMA_DEN_SQL} AS den,
       CAST(({_EWMA_TERMS_SQL}) * 1000000 // ({_EWMA_DEN_SQL}) AS BIGINT)
         AS ewma_micros
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY event_id
"""


@register("ts_ewma", oracle=TS_EWMA_ORACLE, tags=("ts",))
def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA of event values (α=1/2, truncated at depth 8),
    computed in EXACT integers: cents × power-of-two weights, presented
    as micros via integer division — bit-identical in any engine, unlike
    float EWMA whose pow/accumulate order is engine-specific.  One
    shuffle (the user_id window); all 8 lags share one sort."""
    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cents = F.round(F.col("value") * 100).cast("long")
    num = sum(
        (
            F.coalesce(F.lag(cents, k).over(w), F.lit(0)) * (1 << (7 - k))
            for k in range(8)
        ),
        F.lit(0),
    )
    den = sum(
        (
            F.when(F.lag(cents, k).over(w).isNotNull(), F.lit(1 << (7 - k)))
            .otherwise(F.lit(0))
            for k in range(8)
        ),
        F.lit(0),
    )
    return (
        events.select(
            "event_id",
            "user_id",
            num.alias("num"),
            den.alias("den"),
        )
        .withColumn(
            "ewma_micros", F.expr("num * 1000000L div den").cast("long")
        )
        .orderBy("event_id")
    )


TS_FUNNEL_ORACLE = """
WITH fv AS (
  SELECT user_id, MIN(ts) AS v_ts FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
fc AS (
  SELECT e.user_id, MIN(e.ts) AS c_ts
  FROM events e JOIN fv ON e.user_id = fv.user_id
  WHERE e.event_type = 'click' AND e.ts > fv.v_ts
  GROUP BY e.user_id
),
fp AS (
  SELECT e.user_id, MIN(e.ts) AS p_ts
  FROM events e JOIN fc ON e.user_id = fc.user_id
  WHERE e.event_type = 'purchase' AND e.ts > fc.c_ts
  GROUP BY e.user_id
)
SELECT (SELECT COUNT(*) FROM fv) AS n_view,
       (SELECT COUNT(*) FROM fc) AS n_click,
       (SELECT COUNT(*) FROM fp) AS n_purchase,
       (SELECT COUNT(*) FROM fp) * 10000
         // (SELECT COUNT(*) FROM fv) AS conv_bps
"""


@register("ts_funnel", oracle=TS_FUNNEL_ORACLE, tags=("ts",))
def ts_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view → later click → later purchase) per user,
    reported as per-step user counts and basis-point conversion.  Shape:
    one aggregate per step, each keyed on user_id — Catalyst/AQE reuses
    the user_id partitioning across the three steps, so at scale this is
    one shuffle of the events table plus co-partitioned step joins; the
    final 1-row summary is a scalar reduce.  Conversion reported in
    integer basis points so both engines agree exactly."""
    events = _t(spark, sf_dir, "events")
    fv = (
        events.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    fc = (
        events.where(F.col("event_type") == "click")
        .join(fv, "user_id")
        .where(F.col("ts") > F.col("v_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    fp = (
        events.where(F.col("event_type") == "purchase")
        .join(fc, "user_id")
        .where(F.col("ts") > F.col("c_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    n_view = fv.agg(F.count(F.lit(1)).alias("n")).select("n")
    n_click = fc.agg(F.count(F.lit(1)).alias("n")).select("n")
    n_purch = fp.agg(F.count(F.lit(1)).alias("n")).select("n")
    return (
        n_view.crossJoin(n_click.withColumnRenamed("n", "nc"))
        .crossJoin(n_purch.withColumnRenamed("n", "np"))
        .select(
            F.col("n").alias("n_view"),
            F.col("nc").alias("n_click"),
            F.col("np").alias("n_purchase"),
            (F.col("np") * 10000 / F.col("n"))
            .cast("long")
            .alias("conv_bps"),
        )
    )


TS_RETENTION_ORACLE = """
WITH firsts AS (
  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_wk FROM events
  GROUP BY user_id
),
act AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
),
joined AS (
  SELECT f.cohort_wk,
         CAST(datediff('day', f.cohort_wk, a.wk) / 7 AS INT) AS week_offset,
         a.user_id
  FROM act a JOIN firsts f ON a.user_id = f.user_id
),
cells AS (
  SELECT cohort_wk, week_offset, COUNT(DISTINCT user_id) AS n_active
  FROM joined GROUP BY cohort_wk, week_offset
),
sizes AS (
  SELECT cohort_wk, n_active AS cohort_size FROM cells WHERE week_offset = 0
)
SELECT CAST(c.cohort_wk AS TIMESTAMP) AS cohort_wk, c.week_offset,
       c.n_active, s.cohort_size,
       c.n_active * 10000 // s.cohort_size AS retention_bps
FROM cells c JOIN sizes s ON c.cohort_wk = s.cohort_wk
ORDER BY cohort_wk, week_offset
"""


@register("ts_retention_cohort", oracle=TS_RETENTION_ORACLE, tags=("ts",))
def ts_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: users grouped by first-activity
    week, each cell counts distinct users from that cohort active k
    weeks later, with integer basis-point retention.  Shape: one
    user_id-keyed aggregate for cohorts, one distinct over (user, week),
    one co-partitioned join, one (cohort, offset) aggregate — the events
    table is shuffled twice total; week offsets are exact integer
    day-diffs over Monday-anchored date_trunc so both engines agree."""
    events = _t(spark, sf_dir, "events")
    firsts = events.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_wk")
    )
    act = events.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("wk")
    ).distinct()
    joined = act.join(firsts, "user_id").select(
        "cohort_wk",
        (F.datediff(F.col("wk"), F.col("cohort_wk")) / 7)
        .cast("int")
        .alias("week_offset"),
        "user_id",
    )
    cells = joined.groupBy("cohort_wk", "week_offset").agg(
        F.count_distinct("user_id").alias("n_active")
    )
    sizes = cells.where(F.col("week_offset") == 0).select(
        "cohort_wk", F.col("n_active").alias("cohort_size")
    )
    return (
        cells.join(sizes, "cohort_wk")
        .select(
            "cohort_wk",
            "week_offset",
            "n_active",
            "cohort_size",
            F.floor(F.col("n_active") * 10000 / F.col("cohort_size"))
            .cast("long")
            .alias("retention_bps"),
        )
        .orderBy("cohort_wk", "week_offset")
    )


WINDOW_EXCLUDE_ORACLE = """
SELECT l_orderkey, l_linenumber,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER w AS DOUBLE)
         AS neigh_qty,
       COUNT(*) OVER w AS neigh_n
FROM lineitem
WHERE l_orderkey < 200
WINDOW w AS (
  PARTITION BY l_orderkey ORDER BY l_linenumber
  ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING EXCLUDE CURRENT ROW)
ORDER BY l_orderkey, l_linenumber
"""


@register(
    "window_exclude_current", oracle=WINDOW_EXCLUDE_ORACLE, tags=("window",)
)
def window_exclude_current(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL:2011 EXCLUDE CURRENT ROW frames — executed extension (neither
    Spark nor the reference executes EXCLUDE; DuckDB does, so the oracle
    runs the REAL clause).  Emulation: aggregate the full frame, then
    subtract the current row's contribution — exact for decomposable
    aggregates (SUM/COUNT here; decimal accumulation keeps the
    subtraction bit-exact).  Same single window sort as the plain frame;
    no extra shuffle."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") < 200)
    w = (
        Window.partitionBy("l_orderkey")
        .orderBy("l_linenumber")
        .rowsBetween(-2, 2)
    )
    q = F.col("l_quantity").cast("decimal(18,2)")
    neigh_n = F.count(F.lit(1)).over(w) - F.lit(1)
    # An emptied frame yields SUM = NULL (standard semantics), not 0.
    neigh_qty = F.when(neigh_n > 0, (F.sum(q).over(w) - q).cast("double"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        neigh_qty.alias("neigh_qty"),
        neigh_n.cast("long").alias("neigh_n"),
    ).orderBy("l_orderkey", "l_linenumber")


# Quantified subquery comparisons — the reference decorrelates them
# (planner/core/expression_rewriter.go handleCompareSubquery); Spark's
# parser rejects the syntax, so sqlshim/quantified.py lowers them onto
# scalar-subquery aggregates with MySQL's three-valued NULL semantics.
# DuckDB executes the quantifiers natively — the oracle IS the statement.

SUBQ_QUANTIFIED_SQL = """
SELECT o_orderkey, o_totalprice
FROM orders
WHERE o_totalprice > ALL (
        SELECT o_totalprice FROM orders WHERE o_custkey = 1)
  AND o_orderkey < ANY (
        SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')
ORDER BY o_orderkey
LIMIT 100
"""


@register(
    "subq_quantified", oracle=SUBQ_QUANTIFIED_SQL, tags=("subquery",)
)
def subq_quantified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """> ALL and < ANY quantifiers in one predicate, lowered to COUNT/
    MIN/MAX scalar subqueries that Catalyst dedupes (ReusedSubquery) —
    each subquery executes once, as a broadcast scalar, regardless of
    fact-side scale."""
    from tidb_spark.queries.dialectq import _engine

    return _engine(spark, sf_dir).sql(SUBQ_QUANTIFIED_SQL)
