"""Query catalog: the engine's certified query surface.

Each entry pairs a Spark DataFrame implementation with an equivalent ANSI-SQL
oracle (DuckDB dialect) over the same parquet tables. The driver runs both at
sf0.01 and compares row-count + schema + order-insensitive value hash, so:

- every computed column is aliased identically on both sides;
- double-typed aggregates are quantized via DECIMAL before the final cast to
  DOUBLE (`_sum_dec`), making the reduction order-insensitive and therefore
  bit-identical across engines;
- LIMIT queries carry a unique tiebreaker in ORDER BY.

The relational operators here (scan/filter/project/join — broadcast and
shuffle — agg, window, set-ops, subqueries, rollup) are the query surface the
reference delegates to its embedding engines (SURVEY.md §2.F); in this engine
they run natively on Catalyst.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from .caching import persist_tracked
from .functions import sum_dec_sql
from .sources.tables import load_table

SparkQuery = Callable[[SparkSession, str], DataFrame]


@dataclass
class QueryDef:
    spark: SparkQuery
    oracle: Optional[str]  # DuckDB SQL; None → rows-only check
    headline: bool = False  # executed-plan check in tests/test_plan_quality.py


QUERIES: dict[str, QueryDef] = {}

# >0 while building a catalog query; composed queries (a catalog query that
# internally calls another) must not release the parent's tracked persists.
# Thread-LOCAL, matching caching._tracked(): concurrent query builds on
# different threads must not observe each other's depth (a shared counter
# would suppress — or worse, trigger — another thread's release).
import threading as _threading

_DEPTH = _threading.local()


def query(name: str, oracle: Optional[str], headline: bool = False):
    def deco(fn: SparkQuery):
        import functools

        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            from .caching import release_tracked

            depth = getattr(_DEPTH, "value", 0)
            if depth == 0:
                # release the PREVIOUS query's persisted intermediates: the
                # caller has materialized that query's result by now (the
                # driver/bench collect right after each call), so its caches
                # are dead weight — without this, a 118-query session pins
                # every query's lineage for its lifetime
                release_tracked()
            _DEPTH.value = depth + 1
            try:
                return fn(spark, sf_dir)
            finally:
                _DEPTH.value = depth

        QUERIES[name] = QueryDef(spark=wrapped, oracle=oracle, headline=headline)
        return fn

    return deco


def _sum_dec(col, alias: str, scale: int = 6):
    """Order-insensitive double sum: quantize each row value to DECIMAL(25,s),
    sum exactly, cast back to DOUBLE. Matches the SQL pattern
    CAST(SUM(CAST(x AS DECIMAL(25,s))) AS DOUBLE). Delegates to the public
    function library so the quantization scheme exists in exactly one
    place (both sides of the certification depend on it)."""
    from .functions import sum_dec

    return sum_dec(col, alias, scale)


def SUM_DEC(expr: str, alias: str, scale: int = 6) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(25,{scale}))) AS DOUBLE) AS {alias}"


# ---------------------------------------------------------------------------
# TPC-H-style relational queries (adapted to the synthetic star schema)
# ---------------------------------------------------------------------------

@query(
    "q1_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {SUM_DEC('l_quantity', 'sum_qty', 2)},
           {SUM_DEC('l_extendedprice', 'sum_base_price', 2)},
           {SUM_DEC('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
           {SUM_DEC('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 'sum_charge')},
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    headline=True,
)
def q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    # single spark.sql call: ONE parse+analysis instead of one Catalyst
    # analysis per chained DataFrame op (measured ~10x cheaper construction).
    # Plan shape pinned by tests/test_plan_quality.py; the
    # sum_dec/sum_dec_sql lockstep pin is in test_functions.
    l = load_table(spark, sf_dir, "lineitem")
    return spark.sql(
        f"""
        SELECT l_returnflag, l_linestatus,
               {sum_dec_sql('l_quantity', 'sum_qty', 2)},
               {sum_dec_sql('l_extendedprice', 'sum_base_price', 2)},
               {sum_dec_sql('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
               {sum_dec_sql('l_extendedprice * (1 - l_discount) * (l_tax + 1)', 'sum_charge')},
               COUNT(1) AS count_order
        FROM {{l}}
        WHERE l_shipdate <= CAST('1998-09-02 00:00:00' AS TIMESTAMP)
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
        """,
        l=l,
    )


@query(
    "q3_shipping_priority",
    f"""
    SELECT l_orderkey,
           {SUM_DEC('l_extendedprice * (1 - l_discount)', 'revenue')},
           o_orderdate
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '2020-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    headline=True,
)
def q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    # single-statement build (see q1); BROADCAST hint ≡ the former
    # F.broadcast(c) on the dimension side
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    return spark.sql(
        f"""
        SELECT /*+ BROADCAST(c) */
               l_orderkey,
               {sum_dec_sql('l_extendedprice * (1 - l_discount)', 'revenue')},
               o_orderdate
        FROM {{l}} l JOIN {{o}} o ON l_orderkey = o_orderkey
                     JOIN {{c}} c ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < CAST('2020-03-15 00:00:00' AS TIMESTAMP)
          AND l_shipdate > CAST('1995-03-15 00:00:00' AS TIMESTAMP)
        GROUP BY l_orderkey, o_orderdate
        ORDER BY revenue DESC, l_orderkey
        LIMIT 10
        """,
        l=l,
        o=o,
        c=c,
    )


@query(
    "q5_nation_revenue",
    f"""
    SELECT n_name, {SUM_DEC('l_extendedprice * (1 - l_discount)', 'revenue')}
    FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
    headline=True,
)
def q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    # single-statement build (see q1); the nation⋈region dimension stays a
    # broadcast via the hint on the subquery alias
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return spark.sql(
        f"""
        SELECT /*+ BROADCAST(dim) */
               dim.n_name,
               {sum_dec_sql('l_extendedprice * (1 - l_discount)', 'revenue')}
        FROM {{l}} l
          JOIN {{o}} o ON l_orderkey = o_orderkey
          JOIN {{c}} c ON o_custkey = c_custkey
          JOIN (SELECT n_nationkey, n_name
                FROM {{n}} n JOIN {{r}} r ON n_regionkey = r_regionkey
                WHERE r_name = 'ASIA') dim
            ON c_nationkey = dim.n_nationkey
        GROUP BY dim.n_name
        ORDER BY revenue DESC, dim.n_name
        """,
        l=l,
        o=o,
        c=c,
        n=n,
        r=r,
    )


@query(
    "q6_forecast_revenue",
    f"""
    SELECT {SUM_DEC('l_extendedprice * l_discount', 'revenue')}
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.02 AND 0.09
      AND l_quantity < 24
    """,
    headline=True,
)
def q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    # single-statement build (see q1); 0.02D/0.09D/24.0D are double literals,
    # matching the former Python-float/int Column literals exactly
    l = load_table(spark, sf_dir, "lineitem")
    return spark.sql(
        f"""
        SELECT {sum_dec_sql('l_extendedprice * l_discount', 'revenue')}
        FROM {{l}}
        WHERE l_shipdate >= CAST('1996-01-01 00:00:00' AS TIMESTAMP)
          AND l_shipdate < CAST('1997-01-01 00:00:00' AS TIMESTAMP)
          AND l_discount BETWEEN 0.02D AND 0.09D
          AND l_quantity < 24.0D
        """,
        l=l,
    )


@query(
    "q10_returned_items",
    f"""
    SELECT c_custkey, c_name,
           {SUM_DEC('l_extendedprice * (1 - l_discount)', 'revenue')},
           n_name
    FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(_sum_dec(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@query(
    "q_minmax_agg",
    """
    SELECT MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price,
           COUNT(*) AS n_orders, COUNT(DISTINCT o_custkey) AS n_customers
    FROM orders
    """,
)
def q_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.agg(
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
    )


@query(
    "q_filter_sort_project",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders
    WHERE o_totalprice > 100000 AND o_orderstatus = 'O'
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 50
    """,
)
def q_filter_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter((F.col("o_totalprice") > 100000) & (F.col("o_orderstatus") == "O"))
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(50)
    )


# ---- join variants -----------------------------------------------------------

@query(
    "q_semi_join",
    """
    SELECT COUNT(*) AS n
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def q_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "q_anti_join",
    """
    SELECT COUNT(*) AS n
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def q_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "q_outer_join_nulls",
    """
    SELECT n_name, COUNT(s_suppkey) AS n_suppliers
    FROM nation LEFT JOIN supplier ON s_nationkey = n_nationkey
    GROUP BY n_name
    ORDER BY n_name
    """,
)
def q_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation")
    s = load_table(spark, sf_dir, "supplier")
    return (
        n.join(s, s.s_nationkey == n.n_nationkey, "left")
        .groupBy("n_name")
        .agg(F.count("s_suppkey").alias("n_suppliers"))
        .orderBy("n_name")
    )


@query(
    "q_self_join_parts",
    """
    SELECT a.p_brand AS brand, COUNT(*) AS n_pairs
    FROM part a JOIN part b
      ON a.p_brand = b.p_brand AND a.p_size = b.p_size AND a.p_partkey < b.p_partkey
    GROUP BY a.p_brand
    ORDER BY a.p_brand
    """,
)
def q_self_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    a = p.alias("a")
    b = p.alias("b")
    return (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.p_size") == F.col("b.p_size"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey")),
        )
        .groupBy(F.col("a.p_brand").alias("brand"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("brand")
    )


# ---- window functions -----------------------------------------------------------

@query(
    "q_window_topk_orders",
    """
    SELECT c_custkey, o_orderkey, o_totalprice, rn
    FROM (
      SELECT c_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY c_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM customer JOIN orders ON c_custkey = o_custkey
    ) WHERE rn <= 3 AND c_custkey < 100
    ORDER BY c_custkey, rn
    """,
)
def q_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("c_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") <= 3) & (F.col("c_custkey") < 100))
        .select("c_custkey", "o_orderkey", "o_totalprice", "rn")
        .orderBy("c_custkey", "rn")
    )


@query(
    "q_window_running_revenue",
    f"""
    SELECT l_suppkey, l_shipdate, l_orderkey, l_linenumber,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,4)))
                OVER (PARTITION BY l_suppkey
                      ORDER BY l_shipdate, l_orderkey, l_linenumber
                      ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_revenue
    FROM lineitem
    WHERE l_suppkey < 5
    ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber
    """,
)
def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") < 5)
    w = (
        W.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        l.withColumn(
            "running_revenue",
            F.sum(F.col("l_extendedprice").cast("decimal(25,4)")).over(w).cast("double"),
        )
        .select("l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber", "running_revenue")
        .orderBy("l_suppkey", "l_shipdate", "l_orderkey", "l_linenumber")
    )


@query(
    "q_window_lag_events",
    """
    SELECT user_id, ts, event_type,
           lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
    FROM events
    WHERE user_id < 20
    ORDER BY user_id, ts, event_id
    """,
)
def q_window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn("prev_type", F.lag("event_type").over(w))
        .orderBy("user_id", "ts", "event_id")
        .select("user_id", "ts", "event_type", "prev_type")
    )


# ---- grouping sets / rollup -------------------------------------------------------

@query(
    "q_rollup_status",
    f"""
    SELECT o_orderstatus, o_orderpriority,
           {SUM_DEC('o_totalprice', 'total', 2)}, COUNT(*) AS n
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(_sum_dec(F.col("o_totalprice"), "total", 2), F.count(F.lit(1)).alias("n"))
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


# ---- set operations ------------------------------------------------------------

@query(
    "q_set_ops",
    """
    SELECT COUNT(*) AS n FROM (
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      INTERSECT
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    )
    """,
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    f_cust = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    o_cust = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return f_cust.intersect(o_cust).agg(F.count(F.lit(1)).alias("n"))


# ---- subqueries ----------------------------------------------------------------

@query(
    "q_scalar_subquery",
    """
    SELECT COUNT(*) AS n_above
    FROM orders
    WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders)
    """,
)
def q_scalar_subq(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("_orders_ssq")
    return spark.sql(
        """
        SELECT COUNT(*) AS n_above
        FROM _orders_ssq
        WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM _orders_ssq)
        """
    )


# ---- further TPC-H-style shapes --------------------------------------------------

@query(
    "q4_order_priority",
    """
    SELECT o_orderpriority, COUNT(*) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS → semi join with a non-equi conjunct."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    window = o.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    return (
        window.join(
            l,
            (l.l_orderkey == window.o_orderkey) & (l.l_shipdate > window.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    "q7_nation_volume",
    f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           {SUM_DEC('l_extendedprice * (1 - l_discount)', 'revenue')}
    FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON n1.n_nationkey = s_nationkey
      JOIN nation n2 ON n2.n_nationkey = c_nationkey
    WHERE n1.n_name <> n2.n_name
    GROUP BY supp_nation, cust_nation
    ORDER BY supp_nation, cust_nation
    """,
)
def q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: 5-way join, two roles of the same dim (nation), both
    broadcast; the only shuffle is the fact-fact lineitem⋈orders."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("nk1"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("nk2"), F.col("n_name").alias("cust_nation"))
    return (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("nk1"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("nk2"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation")
        .agg(_sum_dec(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
        .orderBy("supp_nation", "cust_nation")
    )


@query(
    "q12_priority_class",
    """
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
             AS BIGINT) AS high_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
             AS BIGINT) AS low_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: join + conditional (CASE) aggregation."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .filter(F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_count"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q14_promo_revenue",
    """
    SELECT CAST(100.0 * SUM(CASE WHEN p_type = 'PROMO'
                       THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))
                       ELSE CAST(0 AS DECIMAL(25,6)) END)
           / SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6)))
           AS DOUBLE) AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1996-07-01 00:00:00'
    """,
)
def q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: broadcast dim join + conditional-aggregate ratio.
    Both sums quantize to DECIMAL so the ratio is reduction-order-invariant."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    disc = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(25,6)")
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-07-01 00:00:00").cast("timestamp"))
        )
        .join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg(
            (
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", disc).otherwise(F.lit(0).cast("decimal(25,6)")))
                / F.sum(disc)
            )
            .cast("double")
            .alias("promo_revenue_pct")
        )
    )


@query(
    "q18_large_orders",
    f"""
    SELECT c_name, o_orderkey, o_totalprice,
           {SUM_DEC('l_quantity', 'sum_qty', 2)}
    FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(25,2))) > 150
    )
    GROUP BY c_name, o_orderkey, o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
)
def q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING-filtered semi join feeding a 3-way join.
    The heavy groupBy(l_orderkey) happens once; its output (few keys) is the
    semi-join probe side."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    big = (
        l.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(25,2)")).alias("q"))
        .filter(F.col("q") > 150)
        .select("l_orderkey")
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey, "left_semi")
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("c_name", "o_orderkey", "o_totalprice")
        .agg(_sum_dec(F.col("l_quantity"), "sum_qty", 2))
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(20)
    )


@query(
    "q19_disjunctive_revenue",
    f"""
    SELECT {SUM_DEC('l_extendedprice * (1 - l_discount)', 'revenue')}
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunctive multi-attribute predicate across both
    join sides (Catalyst extracts the common p_partkey equi-condition)."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")

    def arm(brand: str, max_size: int, qlo: int, qhi: int):
        return (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(1, max_size)
            & F.col("l_quantity").between(qlo, qhi)
        )

    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .filter(arm("Brand#12", 15, 1, 11) | arm("Brand#23", 25, 10, 20) | arm("Brand#34", 35, 20, 30))
        .agg(_sum_dec(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
    )


@query(
    "q22_idle_customers",
    f"""
    SELECT c_nationkey, COUNT(*) AS numcust, {SUM_DEC('c_acctbal', 'totacctbal', 2)}
    FROM customer
    WHERE c_acctbal > (
        SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(25,6))) / COUNT(*) AS DOUBLE)
        FROM customer WHERE c_acctbal > 0
      )
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
    GROUP BY c_nationkey
    ORDER BY c_nationkey
    """,
)
def q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar subquery threshold + anti join. The 1-row
    average is cross-joined (broadcast) rather than collected to the driver;
    the average itself is a DECIMAL sum so the threshold is deterministic."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(
            (F.sum(F.col("c_acctbal").cast("decimal(25,6)")) / F.count(F.lit(1)))
            .cast("double")
            .alias("_avg_bal")
        )
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_avg_bal"))
        .join(o.filter(F.col("o_orderstatus") == "P"), c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("numcust"), _sum_dec(F.col("c_acctbal"), "totacctbal", 2))
        .orderBy("c_nationkey")
    )


@query(
    "q_cube_status_priority",
    f"""
    SELECT o_orderstatus, o_orderpriority,
           {SUM_DEC('o_totalprice', 'total', 2)}, COUNT(*) AS n
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(_sum_dec(F.col("o_totalprice"), "total", 2), F.count(F.lit(1)).alias("n"))
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


@query(
    "q15_top_supplier",
    f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             {SUM_DEC('l_extendedprice * (1 - l_discount)', 'total_revenue')}
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s_suppkey
    """,
)
def q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: CTE aggregate + scalar-subquery max over it. The
    revenue agg is computed once and reused for both the join and the max
    (decimal-quantized so the equality comparison is engine-invariant)."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    revenue = (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(_sum_dec(F.col("l_extendedprice") * (1 - F.col("l_discount")), "total_revenue"))
        # feeds both the max subquery and the final join: persist the
        # supplier-cardinality aggregate so lineitem is scanned once
        .transform(persist_tracked)
    )
    best = revenue.agg(F.max("total_revenue").alias("_best"))
    return (
        s.join(revenue, s.s_suppkey == revenue.supplier_no)
        .crossJoin(F.broadcast(best))
        .filter(F.col("total_revenue") == F.col("_best"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@query(
    "q16_supplier_part_counts",
    """
    SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#45'
      AND p_type NOT IN ('PROMO', 'ECONOMY')
      AND p_size IN (1, 4, 7)
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: NOT IN subquery (anti join — s_suppkey is non-null,
    so the null-semantics trap doesn't bite) + COUNT(DISTINCT) aggregation."""
    p = load_table(spark, sf_dir, "part")
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    bad_supp = s.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        l.join(bad_supp, l.l_suppkey == bad_supp.s_suppkey, "left_anti")
        .join(
            F.broadcast(
                p.filter(
                    (F.col("p_brand") != "Brand#45")
                    & ~F.col("p_type").isin("PROMO", "ECONOMY")
                    & F.col("p_size").isin(1, 4, 7)
                )
            ),
            l.l_partkey == p.p_partkey,
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


@query(
    "q20_promo_volume_suppliers",
    """
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (
      SELECT l_suppkey
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_type = 'PROMO'
      GROUP BY l_suppkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(25,2))) > 100
    )
    ORDER BY s_suppkey
    """,
)
def q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: IN-subquery over a HAVING-filtered aggregate →
    aggregate once, semi join the small key set."""
    s = load_table(spark, sf_dir, "supplier")
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    heavy = (
        l.join(F.broadcast(p.filter(F.col("p_type") == "PROMO")), l.l_partkey == p.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(25,2)")).alias("q"))
        .filter(F.col("q") > 100)
        .select("l_suppkey")
    )
    return (
        s.join(heavy, s.s_suppkey == heavy.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


@query(
    "q21_returned_not_accepted",
    """
    SELECT o_orderstatus, COUNT(*) AS n
    FROM orders
    WHERE EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
      AND NOT EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey AND l_returnflag = 'A')
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: EXISTS + NOT EXISTS on the same fact table — a semi
    join and an anti join chained on the same key."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    returned = l.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    accepted = l.filter(F.col("l_returnflag") == "A").select(
        F.col("l_orderkey").alias("l_orderkey_a")
    )
    return (
        o.join(returned, o.o_orderkey == returned.l_orderkey, "left_semi")
        .join(accepted, o.o_orderkey == accepted.l_orderkey_a, "left_anti")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("o_orderstatus")
    )


# ---- events / time-series --------------------------------------------------------

@query(
    "q_events_hourly",
    f"""
    SELECT date_trunc('hour', ts) AS hour, event_type,
           COUNT(*) AS n, {SUM_DEC('value', 'sum_value')}
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    headline=True,
)
def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    # single-statement build (see q1)
    e = load_table(spark, sf_dir, "events")
    return spark.sql(
        f"""
        SELECT date_trunc('hour', ts) AS hour, event_type,
               COUNT(1) AS n,
               {sum_dec_sql('value', 'sum_value')}
        FROM {{e}}
        GROUP BY date_trunc('hour', ts), event_type
        ORDER BY hour, event_type
        """,
        e=e,
    )


@query(
    "q_events_json_props",
    """
    SELECT json_extract_string(props, '$.device') AS device, COUNT(*) AS n
    FROM events
    WHERE props IS NOT NULL
    GROUP BY 1
    ORDER BY n DESC, device NULLS FIRST
    """,
)
def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").filter(F.col("props").isNotNull())
    return (
        e.withColumn("device", F.get_json_object("props", "$.device"))
        .groupBy("device")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("device").asc_nulls_first())
    )


@query(
    "events_variant_props",
    """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
           MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
    FROM events
    WHERE props IS NOT NULL
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def events_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured analytics through Spark's native VARIANT type: JSON
    props parse ONCE into the binary variant encoding (``parse_json``), then
    typed extraction (``variant_get``) feeds an ordinary aggregate. At scale
    this is the schema-on-read hot path — variant decode is JVM-side and
    columnar, where per-row ``get_json_object`` string-parses every access.
    The same type round-trips through Delta tables via the public
    ``variantType`` table feature (reader 3 / writer 7)."""
    e = load_table(spark, sf_dir, "events").filter(F.col("props").isNotNull())
    k = e.select(
        "event_type",
        F.expr("variant_get(parse_json(props), '$.k', 'bigint')").alias("k"),
    )
    return (
        k.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


@query(
    "q_events_sessions",
    """
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR ts - LAG(ts) OVER w >= INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sess AS (
      SELECT user_id, ts, value,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL '30 minutes' AS session_end,
           COUNT(*) AS n_events
    FROM sess
    GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
)
def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a 30-minute inactivity gap via `F.session_window`
    — the same operator a Structured Streaming job would use; in batch it is
    one shuffle on user_id with sessions merged inside each group. The SQL
    oracle is the classic gaps-and-islands formulation (new session when the
    gap is >= the timeout, matching Spark's exclusive session end:
    end = last event + gap)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


# ---- scalar-function surface ------------------------------------------------------

@query(
    "q_string_functions",
    """
    SELECT p_brand,
           upper(substr(p_type, 1, 3)) AS type_prefix,
           COUNT(*) AS n,
           CAST(SUM(CAST(p_size AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*) AS avg_size,
           MAX(length(p_name)) AS max_name_len,
           MIN(replace(p_brand, 'Brand#', 'B')) AS brand_short
    FROM part
    GROUP BY p_brand, type_prefix
    ORDER BY p_brand, type_prefix
    """,
)
def q_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return (
        p.withColumn("type_prefix", F.upper(F.substring("p_type", 1, 3)))
        .groupBy("p_brand", "type_prefix")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # decimal-exact sum cast to double BEFORE dividing: decimal
            # division scale rules differ between engines, double division
            # of identical operands does not
            (F.sum(F.col("p_size").cast("decimal(25,6)")).cast("double") / F.count(F.lit(1)))
            .alias("avg_size"),
            F.max(F.length("p_name")).alias("max_name_len"),
            F.min(F.replace(F.col("p_brand"), F.lit("Brand#"), F.lit("B"))).alias("brand_short"),
        )
        .orderBy("p_brand", "type_prefix")
    )


@query(
    "q_date_functions",
    f"""
    SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
           CAST(EXTRACT(QUARTER FROM o_orderdate) AS INTEGER) AS o_quarter,
           date_trunc('month', o_orderdate) AS month_start,
           COUNT(*) AS n, {SUM_DEC('o_totalprice', 'total', 2)}
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
    GROUP BY 1, 2, 3
    ORDER BY month_start
    """,
)
def q_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1999-01-01 00:00:00").cast("timestamp"))
        )
        .groupBy(
            F.year("o_orderdate").alias("o_year"),
            F.quarter("o_orderdate").alias("o_quarter"),
            F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        )
        .agg(F.count(F.lit(1)).alias("n"), _sum_dec(F.col("o_totalprice"), "total", 2))
        .orderBy("month_start")
    )


@query(
    "q_percentiles",
    """
    SELECT l_returnflag,
           CAST(quantile_cont(l_quantity, 0.5) AS DOUBLE) AS median_qty,
           CAST(quantile_cont(l_extendedprice, 0.9) AS DOUBLE) AS p90_price
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (Spark `percentile` == SQL
    PERCENTILE_CONT == DuckDB quantile_cont: lo + (hi-lo)·frac on the sorted
    values, so both engines produce the identical double)."""
    l = load_table(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_returnflag")
        .agg(
            F.percentile("l_quantity", 0.5).alias("median_qty"),
            F.percentile("l_extendedprice", 0.9).alias("p90_price"),
        )
        .orderBy("l_returnflag")
    )


# ---- remaining TPC-H shapes (adapted: this schema has no partsupp table, so
# ---- q2/q9/q11/q17 use lineitem as the part-supplier supply relation) -------------

@query(
    "q2_min_cost_supplier",
    """
    WITH supply AS (
      SELECT l_partkey, l_suppkey,
             MIN(CAST(l_extendedprice / l_quantity AS DECIMAL(25,6))) AS unit_cost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ), eu AS (
      SELECT s_suppkey, s_name, s_acctbal, n_name
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
                    JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
    )
    SELECT s_acctbal, s_name, n_name, p_partkey,
           CAST(unit_cost AS DOUBLE) AS unit_cost
    FROM part JOIN supply ON p_partkey = l_partkey
              JOIN eu ON s_suppkey = l_suppkey
    WHERE p_size = 15 AND p_type = 'LARGE'
      AND unit_cost = (SELECT MIN(s2.unit_cost)
                       FROM supply s2 JOIN eu e2 ON s2.l_suppkey = e2.s_suppkey
                       WHERE s2.l_partkey = p_partkey)
    ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
)
def q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (adapted — unit cost observed in lineitem stands in for
    ps_supplycost): correlated MIN subquery → aggregate the supply relation
    once, take the per-part min, and equi-join back on (partkey, cost). The
    unit cost is quantized to DECIMAL(25,6) so the min-equality join key is
    engine-invariant (scale-6 midpoints are never exactly representable as
    doubles, so rounding mode can't diverge). Supplier/nation/region dims are
    broadcast; the only shuffle is the supply aggregation on (part, supp)."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "LARGE")
    )
    eu = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    supply = (
        l.groupBy("l_partkey", "l_suppkey")
        .agg(
            F.min(
                (F.col("l_extendedprice") / F.col("l_quantity")).cast("decimal(25,6)")
            ).alias("unit_cost")
        )
        .join(F.broadcast(eu), F.col("l_suppkey") == F.col("s_suppkey"))
        # feeds both the per-part min and the min-equality join back:
        # persist the (part, supp)-cardinality aggregate so lineitem is
        # scanned/aggregated once
        .transform(persist_tracked)
    )
    best = supply.groupBy(F.col("l_partkey").alias("_bpk")).agg(
        F.min("unit_cost").alias("_best_cost")
    )
    return (
        supply.join(
            best,
            (F.col("l_partkey") == F.col("_bpk"))
            & (F.col("unit_cost") == F.col("_best_cost")),
        )
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            F.col("unit_cost").cast("double").alias("unit_cost"),
        )
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@query(
    "q8_market_share",
    """
    SELECT o_year,
           CAST(100.0 * CAST(SUM(CASE WHEN nation = 'NATION_3' THEN volume
                                      ELSE CAST(0 AS DECIMAL(25,6)) END) AS DOUBLE)
                / CAST(SUM(volume) AS DOUBLE) AS DOUBLE) AS mkt_share
    FROM (
      SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
             CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6)) AS volume,
             n2.n_name AS nation
      FROM lineitem JOIN part ON p_partkey = l_partkey
           JOIN supplier ON s_suppkey = l_suppkey
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation n1 ON c_nationkey = n1.n_nationkey
           JOIN region ON n1.n_regionkey = r_regionkey
           JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'AMERICA' AND p_type = 'LARGE'
        AND o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
                            AND TIMESTAMP '1996-12-31 00:00:00'
    ) GROUP BY o_year ORDER BY o_year
    """,
)
def q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: 7-way star join (every dim broadcast, nation in two
    roles) + conditional-aggregate market-share ratio per year. Both sums are
    exact decimals; the division happens once per group in double."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "LARGE")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between(
            F.lit("1995-01-01 00:00:00").cast("timestamp"),
            F.lit("1996-12-31 00:00:00").cast("timestamp"),
        )
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    n1 = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        F.col("n_nationkey").alias("nk1")
    )
    n2 = n.select(F.col("n_nationkey").alias("nk2"), F.col("n_name").alias("nation"))
    volume = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(25,6)")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("nk1"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("nk2"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (
                F.lit(100.0)
                * F.sum(
                    F.when(F.col("nation") == "NATION_3", volume).otherwise(
                        F.lit(0).cast("decimal(25,6)")
                    )
                ).cast("double")
                / F.sum(volume).cast("double")
            )
            .cast("double")
            .alias("mkt_share")
        )
        .orderBy("o_year")
    )


@query(
    "q9_product_profit",
    f"""
    SELECT n_name AS nation,
           CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS o_year,
           {SUM_DEC('l_extendedprice * (1 - l_discount)', 'profit')}
    FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
         JOIN part ON p_partkey = l_partkey
         JOIN orders ON o_orderkey = l_orderkey
         JOIN nation ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%red%'
    GROUP BY 1, 2
    ORDER BY 1, 2 DESC
    """,
)
def q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (adapted — no ps_supplycost, so profit = discounted
    revenue): LIKE-filtered dim + fact-fact join, grouped by supplier nation
    and order year. part/supplier/nation broadcast; lineitem⋈orders is the
    one shuffle."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
        )
        .agg(
            _sum_dec(F.col("l_extendedprice") * (1 - F.col("l_discount")), "profit")
        )
        .orderBy("nation", F.col("o_year").desc())
    )


@query(
    "q11_important_parts",
    """
    WITH val AS (
      SELECT l_partkey AS partkey,
             SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(25,4))) AS value
      FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
           JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_7'
      GROUP BY l_partkey
    )
    SELECT partkey, CAST(value AS DOUBLE) AS value
    FROM val
    WHERE value > (SELECT CAST(SUM(value) AS DOUBLE) * 0.0002 FROM val)
    ORDER BY value DESC, partkey
    """,
)
def q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (adapted — lineitem value stands in for
    ps_supplycost*ps_availqty): per-part value aggregate reused for both the
    output and the global-fraction threshold (1-row broadcast, no collect).
    The exact decimal sum makes the > comparison engine-invariant."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    supp7 = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select("s_suppkey")
    val = (
        l.join(F.broadcast(supp7), l.l_suppkey == F.col("s_suppkey"))
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(
            F.sum(
                (F.col("l_extendedprice") * F.col("l_quantity")).cast("decimal(25,4)")
            ).alias("value")
        )
        # feeds both the threshold subquery and the final filter: persist
        # the part-cardinality aggregate so lineitem is scanned once
        .transform(persist_tracked)
    )
    thr = val.agg((F.sum("value").cast("double") * F.lit(0.0002)).alias("_thr"))
    return (
        val.crossJoin(F.broadcast(thr))
        .filter(F.col("value") > F.col("_thr"))
        .select("partkey", F.col("value").cast("double").alias("value"))
        .orderBy(F.col("value").desc(), "partkey")
    )


@query(
    "q13_customer_distribution",
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: left outer join with an extra ON-clause predicate
    (filter the right side before the join — equivalent because the predicate
    references only orders), two-level aggregation."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@query(
    "q17_small_qty_revenue",
    """
    SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,2))) AS DOUBLE) / 7.0
           AS DOUBLE) AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#23' AND p_type = 'MEDIUM'
      AND l_quantity < (
        SELECT 0.2 * (CAST(SUM(CAST(l_quantity AS DECIMAL(25,2))) AS DOUBLE)
                      / COUNT(*))
        FROM lineitem l2 WHERE l2.l_partkey = p_partkey)
    """,
)
def q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated per-part AVG subquery → restrict lineitem
    to the ~p/150 filtered parts first (broadcast semi-ish join), aggregate
    the per-part threshold once, broadcast it back. The avg is an exact
    decimal sum divided in double, so the < comparison is engine-invariant."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") == "Brand#23") & (F.col("p_type") == "MEDIUM")
    )
    lp = l.join(F.broadcast(p.select("p_partkey")), l.l_partkey == F.col("p_partkey"))
    thr = lp.groupBy(F.col("l_partkey").alias("_tpk")).agg(
        (
            F.lit(0.2)
            * (
                F.sum(F.col("l_quantity").cast("decimal(25,2)")).cast("double")
                / F.count(F.lit(1))
            )
        ).alias("_thr")
    )
    return (
        lp.join(F.broadcast(thr), lp.l_partkey == F.col("_tpk"))
        .filter(F.col("l_quantity") < F.col("_thr"))
        .agg(
            (
                F.sum(F.col("l_extendedprice").cast("decimal(25,2)")).cast("double")
                / F.lit(7.0)
            )
            .cast("double")
            .alias("avg_yearly")
        )
    )


# ---- registry accessors -----------------------------------------------------------

def queries() -> dict[str, SparkQuery]:
    return {name: qd.spark for name, qd in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    return {name: qd.oracle for name, qd in QUERIES.items() if qd.oracle is not None}


@query(
    "q_grouping_sets",
    f"""
    SELECT o_orderstatus, o_orderpriority,
           {SUM_DEC('o_totalprice', 'total', 2)}, COUNT(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (neither pure rollup nor cube): per-status and
    per-priority totals in one pass — Spark expands to a single expanded
    aggregation, not two scans."""
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("_orders_gs")
    return spark.sql(
        f"""
        SELECT o_orderstatus, o_orderpriority,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(25,2))) AS DOUBLE) AS total,
               COUNT(*) AS n
        FROM _orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
        """
    )


@query(
    "q_array_functions",
    """
    WITH per_cust AS (
      SELECT o_custkey,
             list_sort(list(DISTINCT o_orderpriority)) AS priorities,
             list_sort(list(o_orderkey)) AS order_keys
      FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey,
           array_to_string(priorities, ',') AS priorities,
           len(priorities) AS n_priorities,
           order_keys[1] AS first_order,
           len(list_filter(order_keys, k -> k % 2 = 0)) AS n_even_orders
    FROM per_cust
    WHERE o_custkey < 50
    ORDER BY o_custkey
    """,
)
def q_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array construction + higher-order functions: collect_set/sort,
    element access, lambda filter — the list-manipulation surface (exercised
    against DuckDB's list functions)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 50)
    return (
        o.groupBy("o_custkey")
        .agg(
            F.array_sort(F.collect_set("o_orderpriority")).alias("priorities"),
            F.array_sort(F.collect_list("o_orderkey")).alias("order_keys"),
        )
        .select(
            "o_custkey",
            F.array_join("priorities", ",").alias("priorities"),
            F.size("priorities").alias("n_priorities"),
            F.col("order_keys")[0].alias("first_order"),
            F.size(F.expr("filter(order_keys, k -> k % 2 = 0)")).alias("n_even_orders"),
        )
        .orderBy("o_custkey")
    )


# ---------------------------------------------------------------------------
# Event analytics: funnel, cohort retention, per-user pivot
# ---------------------------------------------------------------------------

@query(
    "q_events_funnel",
    """
    WITH v AS (
      SELECT user_id, MIN(ts) AS first_view
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS first_click
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts > v.first_view
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS first_purchase
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts > c.first_click
      GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM v) AS n_viewed,
           (SELECT COUNT(*) FROM c) AS n_clicked_after_view,
           (SELECT COUNT(*) FROM p) AS n_purchased_after_click
    """,
)
def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view -> click -> purchase: each stage counts
    users whose stage event strictly follows their previous stage's first
    event. Three per-user aggregations chained by joins on user_id — every
    join is keyed on the (already aggregated, one-row-per-user) stage tables,
    so at scale the fact table is scanned once per stage with map-side
    partial aggs and the joins are small. The v/c stage tables are persisted
    (user-cardinality, tiny): each feeds BOTH the next stage's join and its
    own final count, and the chained lineage would otherwise re-derive v
    three times and c twice — 6 fact scans instead of the honest 3."""
    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
        .transform(persist_tracked)
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("first_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_click"))
        .transform(persist_tracked)
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("first_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_viewed"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_clicked_after_view")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_purchased_after_click")))
    )


@query(
    "q_events_retention",
    """
    WITH first_day AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS active_day FROM events
    )
    SELECT strftime(f.cohort_day, '%Y-%m-%d') AS cohort_day,
           CAST(date_diff('day', f.cohort_day, a.active_day) AS BIGINT) AS day_offset,
           COUNT(*) AS n_users
    FROM activity a JOIN first_day f ON a.user_id = f.user_id
    GROUP BY 1, day_offset
    ORDER BY cohort_day, day_offset
    """,
)
def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-seen day, counted on
    each subsequent active day (offset in days). The classic growth-analytics
    rollup; activity is de-duplicated per (user, day) before the join so the
    shuffle carries user-days, not raw events."""
    ev = load_table(spark, sf_dir, "events")
    first_day = ev.groupBy("user_id").agg(F.min(F.to_date("ts")).alias("cohort_day"))
    activity = ev.select("user_id", F.to_date("ts").alias("active_day")).distinct()
    return (
        activity.join(first_day, "user_id")
        .groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            F.datediff(F.col("active_day"), F.col("cohort_day"))
            .cast("long")
            .alias("day_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_day", "day_offset")
    )


@query(
    "q_events_pivot",
    """
    SELECT user_id,
           COUNT(*) FILTER (WHERE event_type = 'view')     AS n_view,
           COUNT(*) FILTER (WHERE event_type = 'click')    AS n_click,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
           COUNT(*) FILTER (WHERE event_type = 'signup')   AS n_signup,
           COUNT(*) FILTER (WHERE event_type = 'error')    AS n_error
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def q_events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-to-wide pivot: per-user event-type counts via groupBy().pivot()
    with an explicit value list (no extra distinct-values job; single
    shuffle with map-side partial aggregation)."""
    ev = load_table(spark, sf_dir, "events")
    types = ["view", "click", "purchase", "signup", "error"]
    pivoted = (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    return pivoted.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in types],
    ).orderBy("user_id")


@query(
    "q_union_except",
    """
    SELECT c_custkey FROM customer
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'
    ORDER BY c_custkey
    """,
)
def q_union_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct) set difference: customers with no finished order.
    Spark's subtract == SQL EXCEPT; Catalyst plans it as an aggregate +
    left-anti hash join with both sides reduced map-side first."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return c.subtract(o).orderBy("c_custkey")


@query(
    "q_part_cooccurrence",
    """
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_orders
    FROM items a JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    HAVING COUNT(*) >= 3
    ORDER BY n_orders DESC, part_a, part_b
    """,
)
def q_part_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent part pairs (market-basket co-occurrence with a support
    threshold): distinct (order, part) first — the self-join then explodes
    per-order pairs, not per-lineitem pairs, and the support HAVING prunes
    the long tail. The join is keyed on l_orderkey (equi, shuffled hash /
    sort-merge — never a cross join); per-order pair count is bounded by
    basket size squared, the classic a-priori cost model."""
    l = load_table(spark, sf_dir, "lineitem")
    items = l.select("l_orderkey", "l_partkey").distinct()
    a = items.alias("a")
    b = items.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 3)
        .orderBy(F.desc("n_orders"), "part_a", "part_b")
    )


@query(
    "q_events_value_stats",
    """
    WITH s AS (
      SELECT event_type,
             COUNT(*) AS n,
             SUM(CAST(value AS DECIMAL(25,6))) AS sv,
             SUM(CAST(value * value AS DECIMAL(25,6))) AS svv
      FROM events GROUP BY event_type
    )
    SELECT event_type, n,
           CAST(CAST(CAST(sv AS DOUBLE) / n AS DECIMAL(25,8)) AS DOUBLE) AS mean_value,
           CAST(CAST(sqrt((CAST(svv AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / n) / (n - 1)) AS DECIMAL(25,8)) AS DOUBLE) AS std_value
    FROM s ORDER BY event_type
    """,
)
def q_events_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean and sample-stddev per event type, computed from exact decimal
    sums (Σv, Σv²) so the result is bit-identical on any engine and any
    reduction order — the textbook one-pass moments formula, but with the
    accumulators made order-insensitive. One scan, map-side partial aggs."""
    ev = load_table(spark, sf_dir, "events")
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(25,6)")).alias("sv"),
        F.sum((F.col("value") * F.col("value")).cast("decimal(25,6)")).alias("svv"),
    )
    sv = F.col("sv").cast("double")
    svv = F.col("svv").cast("double")
    n = F.col("n")
    return s.select(
        "event_type",
        "n",
        (sv / n).cast("decimal(25,8)").cast("double").alias("mean_value"),
        F.sqrt((svv - sv * sv / n) / (n - 1))
        .cast("decimal(25,8)")
        .cast("double")
        .alias("std_value"),
    ).orderBy("event_type")


@query(
    "q_referential_integrity",
    """
    SELECT 'lineitem->orders' AS relation, COUNT(*) AS n_orphans
    FROM lineitem WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
    UNION ALL
    SELECT 'lineitem->part' AS relation, COUNT(*) AS n_orphans
    FROM lineitem WHERE NOT EXISTS (SELECT 1 FROM part WHERE p_partkey = l_partkey)
    UNION ALL
    SELECT 'lineitem->supplier' AS relation, COUNT(*) AS n_orphans
    FROM lineitem WHERE NOT EXISTS (SELECT 1 FROM supplier WHERE s_suppkey = l_suppkey)
    UNION ALL
    SELECT 'orders->customer' AS relation, COUNT(*) AS n_orphans
    FROM orders WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)
    ORDER BY relation
    """,
)
def q_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key audit across the star schema: one left-anti join per
    relation, each reduced to a single orphan count. The anti joins carry
    only the key column on each side (Catalyst prunes the rest), and every
    dim side is broadcastable — at 100 TB the fact scans dominate and
    nothing wide shuffles. This is the standard pre-training-join data
    quality gate: dangling keys silently drop rows in inner joins
    downstream."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")

    def orphans(fact, fact_key, dim, dim_key, label):
        return (
            fact.select(fact_key)
            .join(dim.select(dim_key), F.col(fact_key) == F.col(dim_key), "left_anti")
            .agg(F.count(F.lit(1)).alias("n_orphans"))
            .select(F.lit(label).alias("relation"), "n_orphans")
        )

    return (
        orphans(l, "l_orderkey", o, "o_orderkey", "lineitem->orders")
        .unionAll(
            orphans(
                l,
                "l_partkey",
                load_table(spark, sf_dir, "part"),
                "p_partkey",
                "lineitem->part",
            )
        )
        .unionAll(
            orphans(
                l,
                "l_suppkey",
                load_table(spark, sf_dir, "supplier"),
                "s_suppkey",
                "lineitem->supplier",
            )
        )
        .unionAll(
            orphans(
                o,
                "o_custkey",
                load_table(spark, sf_dir, "customer"),
                "c_custkey",
                "orders->customer",
            )
        )
        .orderBy("relation")
    )


@query(
    "q_daily_revenue_ma7",
    """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             SUM(CAST(o_totalprice AS DECIMAL(25,2))) AS rev
      FROM orders GROUP BY 1
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(rev AS DOUBLE) AS revenue,
           CAST(SUM(rev) OVER w AS DOUBLE) / COUNT(*) OVER w AS revenue_ma7
    FROM daily
    WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    ORDER BY day
    """,
)
def q_daily_revenue_ma7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day moving average of daily revenue. The heavy work is the
    map-side-combined groupBy over orders; the unpartitioned window then runs
    over the *aggregated daily series* (thousands of rows at any scale — one
    row per calendar day), so the single-partition window stage is
    intentionally trivial. Decimal accumulators keep the sums
    order-insensitive; the average is a raw IEEE divide of those exact sums
    (no re-quantization — rounding a quotient to fixed decimals is where
    engines' tie-breaking diverges)."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(25,2)")).alias("rev")
    )
    w = W.orderBy("day").rowsBetween(-6, 0)
    return daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.col("rev").cast("double").alias("revenue"),
        (F.sum("rev").over(w).cast("double") / F.count(F.lit(1)).over(w)).alias(
            "revenue_ma7"
        ),
    ).orderBy("day")


@query(
    "q_customer_value_deciles",
    """
    WITH ranked AS (
      SELECT c_acctbal,
             NTILE(10) OVER (ORDER BY c_acctbal, c_custkey) AS decile
      FROM customer
    )
    SELECT decile,
           COUNT(*) AS n_customers,
           MIN(c_acctbal) AS min_bal,
           MAX(c_acctbal) AS max_bal,
           CAST(CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(25,2))) AS DOUBLE) / COUNT(*)
                AS DECIMAL(25,8)) AS DOUBLE) AS avg_bal
    FROM ranked GROUP BY decile ORDER BY decile
    """,
)
def q_customer_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency decile bucketing of customers by account balance
    (ntile over a total order — c_custkey breaks double ties, so bucket
    assignment is deterministic on every engine), then per-decile
    count/min/max/exact-mean. The unpartitioned ntile is the one global
    sort in the plan; for 100 TB the same segmentation would come from
    approx_percentile cutpoints + a range join, but ntile is the exact
    contract this query certifies."""
    c = load_table(spark, sf_dir, "customer")
    w = W.orderBy("c_acctbal", "c_custkey")
    ranked = c.select("c_acctbal", F.ntile(10).over(w).alias("decile"))
    return (
        ranked.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.min("c_acctbal").alias("min_bal"),
            F.max("c_acctbal").alias("max_bal"),
            (
                F.sum(F.col("c_acctbal").cast("decimal(25,2)")).cast("double")
                / F.count(F.lit(1))
            )
            .cast("decimal(25,8)")
            .cast("double")
            .alias("avg_bal"),
        )
        .orderBy("decile")
    )
