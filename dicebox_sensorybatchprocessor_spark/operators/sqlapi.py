"""SQL-surface operators — the same engine driven through ``spark.sql``
instead of the DataFrame API. The DataFrame API *is* the primary query
language (SURVEY.md §7 "what NOT to build": no parser of our own), but
Spark ships one, and these TPC-H-shaped queries prove the engine's
fixtures + config profile work for SQL-first users too.

Inputs are bound per call: each query names its tables as ``{table}``
placeholders and :func:`io.fixture_sql` passes exactly those tables,
loaded from the call's ``sf_dir``, as ``spark.sql`` DataFrame kwargs. No
view outlives the call, so one session can query several scale factors
without one call's tables leaking into the next. Exact sums are spliced
in from the one builder, ``utils.fixed_point_sum_sql_spark`` (bigint
hi/lo mirroring the oracle's HUGEINT sum, see utils.py rationale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from dicebox_sensorybatchprocessor_spark.io import fixture_sql
from dicebox_sensorybatchprocessor_spark.registry import register
from dicebox_sensorybatchprocessor_spark.utils import (
    fixed_point_sum_sql,
    fixed_point_sum_sql_spark,
)

_VOL = "l_extendedprice * (1 - l_discount)"
_REV_SUM = fixed_point_sum_sql_spark(_VOL, 4)

_REV_DUCK = (
    "CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000.0, 0) AS HUGEINT)) "
    "AS DOUBLE) / 10000.0"
)


@register(
    "sql_q3_shipping_priority",
    oracle=f"""
    SELECT l.l_orderkey, {_REV_DUCK} AS revenue, o.o_orderdate, o.o_orderpriority
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l.l_orderkey LIMIT 10
    """,
)
def sql_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape via spark.sql: 3-way join, filters on both fact and
    dims, grouped exact revenue, top-10. Catalyst broadcasts nothing here
    blindly — customer filters first, and the l_orderkey tiebreaker makes
    the LIMIT cut deterministic on both engines."""
    return fixture_sql(spark, sf_dir, """
        SELECT l.l_orderkey, {rev} AS revenue, o.o_orderdate, o.o_orderpriority
        FROM {customer} c JOIN {orders} o ON c.c_custkey = o.o_custkey
                            JOIN {lineitem} l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP_NTZ '1995-03-15 00:00:00'
          AND l.l_shipdate > TIMESTAMP_NTZ '1995-03-15 00:00:00'
        GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
        ORDER BY revenue DESC, l.l_orderkey LIMIT 10
    """, rev=_REV_SUM)


@register(
    "sql_q5_local_supplier_volume",
    oracle=f"""
    SELECT n.n_name, {_REV_DUCK} AS revenue
    FROM customer c
      JOIN orders o ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n.n_name
    """,
)
def sql_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape via spark.sql: 6-way star join (two facts + four
    dims; region/nation/supplier broadcast) with the customer-nation =
    supplier-nation co-location condition."""
    return fixture_sql(spark, sf_dir, """
        SELECT n.n_name, {rev} AS revenue
        FROM {customer} c
          JOIN {orders} o ON c.c_custkey = o.o_custkey
          JOIN {lineitem} l ON l.l_orderkey = o.o_orderkey
          JOIN {supplier} s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
          JOIN {nation} n ON s.s_nationkey = n.n_nationkey
          JOIN {region} r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'ASIA'
          AND o.o_orderdate >= TIMESTAMP_NTZ '1996-01-01 00:00:00'
          AND o.o_orderdate < TIMESTAMP_NTZ '1997-01-01 00:00:00'
        GROUP BY n.n_name
    """, rev=_REV_SUM)


@register(
    "sql_q6_forecast_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(round(l_extendedprice * l_discount * 10000.0, 0) AS HUGEINT))
                AS DOUBLE) / 10000.0 AS revenue,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def sql_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape via spark.sql: the pure scan-predicate aggregate —
    every filter pushes to parquet, no shuffle at all (global agg)."""
    return fixture_sql(spark, sf_dir, """
        SELECT {rev} AS revenue, count(*) AS n_lines
        FROM {lineitem}
        WHERE l_shipdate >= TIMESTAMP_NTZ '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP_NTZ '1997-01-01 00:00:00'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """, rev=fixed_point_sum_sql_spark("l_extendedprice * l_discount", 4))


@register(
    "sql_exists_subquery",
    oracle="""
    SELECT o.o_orderpriority, count(*) AS n_orders
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
    )
    GROUP BY o.o_orderpriority
    """,
)
def sql_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 *shape* (the fixtures carry no commit/receipt dates, so
    the correlated predicate is shipdate > orderdate): a correlated
    EXISTS that Catalyst must decorrelate into a left-semi join — the
    planner surface that matters at scale, where a per-row subquery probe
    would be O(n²) and the semi-join is one shuffle."""
    return fixture_sql(spark, sf_dir, """
        SELECT o.o_orderpriority, count(*) AS n_orders
        FROM {orders} o
        WHERE EXISTS (
          SELECT 1 FROM {lineitem} l
          WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
        )
        GROUP BY o.o_orderpriority
    """)


@register(
    "sql_scalar_subquery",
    oracle="""
    SELECT count(*) AS n_small, CAST(SUM(CAST(round(l.l_extendedprice * 100.0, 0) AS HUGEINT))
                AS DOUBLE) / 100.0 AS sum_price
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#1'
      AND l.l_quantity < (
        SELECT 0.5 * (CAST(SUM(CAST(round(l2.l_quantity * 100.0, 0) AS HUGEINT)) AS DOUBLE)
                      / 100.0 / count(*))
        FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey
      )
    """,
)
def sql_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: a correlated *scalar aggregate* subquery
    (per-part average quantity) under a comparison — Catalyst
    decorrelates it into an aggregate + join instead of re-running the
    aggregate per outer row. The average is computed in fixed-point
    (exact integer sum / count) on both engines so the comparison
    threshold is bit-identical regardless of accumulation order."""
    return fixture_sql(spark, sf_dir, """
        SELECT count(*) AS n_small, {price} AS sum_price
        FROM {lineitem} l JOIN {part} p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#1'
          AND l.l_quantity < (
            SELECT 0.5 * ({qty} / count(*))
            FROM {lineitem} l2 WHERE l2.l_partkey = l.l_partkey
          )
    """, price=fixed_point_sum_sql_spark("l.l_extendedprice", 2),
        qty=fixed_point_sum_sql_spark("l2.l_quantity", 2))


_VOLUME_SUM = fixed_point_sum_sql_spark("volume", 4)
_Q7_DUCK = fixed_point_sum_sql("volume", 4)


@register(
    "sql_q7_volume_shipping",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year, {_Q7_DUCK} AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l.l_shipdate) AS l_year, {_VOL} AS volume
      FROM supplier s JOIN lineitem l ON s.s_suppkey = l.l_suppkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l.l_shipdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                             AND TIMESTAMP '1997-12-31 00:00:00'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def sql_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape via spark.sql: bidirectional nation-pair volume by
    ship year. Six-way join where BOTH nation dims broadcast and the
    nation-pair disjunction prunes before the fact-fact join; the
    subquery projects volume once so the fixed-point sum sees a single
    expression."""
    return fixture_sql(spark, sf_dir, """
        SELECT supp_nation, cust_nation, l_year, {rev} AS revenue
        FROM (
          SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                 year(l.l_shipdate) AS l_year, {vol} AS volume
          FROM {supplier} s JOIN {lineitem} l ON s.s_suppkey = l.l_suppkey
            JOIN {orders} o ON o.o_orderkey = l.l_orderkey
            JOIN {customer} c ON c.c_custkey = o.o_custkey
            JOIN {nation} n1 ON s.s_nationkey = n1.n_nationkey
            JOIN {nation} n2 ON c.c_nationkey = n2.n_nationkey
          WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
              OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
            AND l.l_shipdate BETWEEN TIMESTAMP_NTZ '1996-01-01 00:00:00'
                                 AND TIMESTAMP_NTZ '1997-12-31 00:00:00'
        ) shipping
        GROUP BY supp_nation, cust_nation, l_year
        ORDER BY supp_nation, cust_nation, l_year
    """, rev=_VOLUME_SUM, vol=_VOL)


_Q8_NUM_SPARK = fixed_point_sum_sql_spark(
    "CASE WHEN nation = 'NATION_3' THEN volume ELSE 0.0 END", 4
)
_Q8_NUM_DUCK = fixed_point_sum_sql(
    "CASE WHEN nation = 'NATION_3' THEN volume ELSE 0.0 END", 4
)
_Q8_DEN_DUCK = fixed_point_sum_sql("volume", 4)


@register(
    "sql_q8_market_share",
    oracle=f"""
    SELECT o_year, round(({_Q8_NUM_DUCK}) / ({_Q8_DEN_DUCK}), 6) AS mkt_share
    FROM (
      SELECT year(o.o_orderdate) AS o_year, {_VOL} AS volume, n2.n_name AS nation
      FROM part p JOIN lineitem l ON p.p_partkey = l.l_partkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
        JOIN region r ON n1.n_regionkey = r.r_regionkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
      WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
        AND o.o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00'
                              AND TIMESTAMP '1997-12-31 00:00:00'
    ) all_nations
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def sql_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape via spark.sql: national market share = one nation's
    volume over total volume per order year — the filtered-sum / total-sum
    ratio computed as TWO exact fixed-point sums divided once, so the
    6-decimal rounding is bit-identical across engines. Eight-way join;
    all five dims broadcast."""
    return fixture_sql(spark, sf_dir, """
        SELECT o_year, round(({num}) / ({den}), 6) AS mkt_share
        FROM (
          SELECT year(o.o_orderdate) AS o_year, {vol} AS volume, n2.n_name AS nation
          FROM {part} p JOIN {lineitem} l ON p.p_partkey = l.l_partkey
            JOIN {orders} o ON o.o_orderkey = l.l_orderkey
            JOIN {customer} c ON c.c_custkey = o.o_custkey
            JOIN {nation} n1 ON c.c_nationkey = n1.n_nationkey
            JOIN {region} r ON n1.n_regionkey = r.r_regionkey
            JOIN {supplier} s ON s.s_suppkey = l.l_suppkey
            JOIN {nation} n2 ON s.s_nationkey = n2.n_nationkey
          WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
            AND o.o_orderdate BETWEEN TIMESTAMP_NTZ '1996-01-01 00:00:00'
                                  AND TIMESTAMP_NTZ '1997-12-31 00:00:00'
        ) all_nations
        GROUP BY o_year
        ORDER BY o_year
    """, num=_Q8_NUM_SPARK, den=_VOLUME_SUM, vol=_VOL)


@register(
    "sql_q10_returned_items",
    oracle=f"""
    SELECT c.c_custkey, c.c_name, {_Q7_DUCK.replace("volume", "l.l_extendedprice * (1 - l.l_discount)")} AS revenue,
           c.c_acctbal, n.n_name
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c.c_custkey LIMIT 20
    """,
)
def sql_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape via spark.sql: top-20 customers by lost revenue on
    returned items in one quarter. Fact-fact join narrowed by the quarter
    predicate before joining lineitem; deterministic LIMIT via the
    c_custkey tiebreaker."""
    return fixture_sql(spark, sf_dir, """
        SELECT c.c_custkey, c.c_name, {rev} AS revenue, c.c_acctbal, n.n_name
        FROM {customer} c JOIN {orders} o ON c.c_custkey = o.o_custkey
          JOIN {lineitem} l ON l.l_orderkey = o.o_orderkey
          JOIN {nation} n ON c.c_nationkey = n.n_nationkey
        WHERE o.o_orderdate >= TIMESTAMP_NTZ '1996-10-01 00:00:00'
          AND o.o_orderdate < TIMESTAMP_NTZ '1997-01-01 00:00:00'
          AND l.l_returnflag = 'R'
        GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
        ORDER BY revenue DESC, c.c_custkey LIMIT 20
    """, rev=fixed_point_sum_sql_spark("l.l_extendedprice * (1 - l.l_discount)", 4))


_Q14_NUM_SPARK = fixed_point_sum_sql_spark(
    "CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END", 4
)
_Q14_NUM_DUCK = fixed_point_sum_sql(
    "CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END", 4
)


@register(
    "sql_q14_promo_effect",
    oracle=f"""
    SELECT round(100.0 * ({_Q14_NUM_DUCK}) / ({_Q8_DEN_DUCK.replace("volume", "l_extendedprice * (1 - l_discount)")}), 6)
             AS promo_revenue_pct
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
      AND l.l_shipdate < TIMESTAMP '1996-10-01 00:00:00'
    """,
)
def sql_q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape via spark.sql: promotion revenue share in one
    month — the canonical conditional-aggregate-over-join, with both the
    conditional and total sums exact fixed-point so the percentage rounds
    identically on both engines. part broadcasts; the month filter pushes
    to the lineitem scan."""
    return fixture_sql(spark, sf_dir, """
        SELECT round(100.0 * ({num}) / ({den}), 6) AS promo_revenue_pct
        FROM {lineitem} l JOIN {part} p ON p.p_partkey = l.l_partkey
        WHERE l.l_shipdate >= TIMESTAMP_NTZ '1996-09-01 00:00:00'
          AND l.l_shipdate < TIMESTAMP_NTZ '1996-10-01 00:00:00'
    """, num=_Q14_NUM_SPARK, den=_REV_SUM)


_QTY_SUM_DUCK = "CAST(SUM(CAST(round(l_quantity * 100.0, 0) AS HUGEINT)) AS DOUBLE) / 100.0"


@register(
    "sql_q18_large_customers",
    oracle=f"""
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
           {_QTY_SUM_DUCK} AS total_qty
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING CAST(SUM(CAST(round(l_quantity * 100.0, 0) AS HUGEINT)) AS DOUBLE) / 100.0 > 300.0
    )
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 100
    """,
)
def sql_q18_large_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape via spark.sql: large-volume customers — an IN over
    a grouped HAVING (Catalyst plans it as an aggregate + semi-join, no
    per-row re-execution), then re-aggregation of the surviving orders.
    Quantity sums are exact single-long fixed-point (≤2 decimals)."""
    return fixture_sql(spark, sf_dir, """
        SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
               {qty} AS total_qty
        FROM {customer} c JOIN {orders} o ON c.c_custkey = o.o_custkey
          JOIN {lineitem} l ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderkey IN (
          SELECT l_orderkey FROM {lineitem} GROUP BY l_orderkey
          HAVING {qty} > 300.0
        )
        GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
        ORDER BY o.o_totalprice DESC, o.o_orderkey LIMIT 100
    """, qty=fixed_point_sum_sql_spark("l_quantity", 2))
