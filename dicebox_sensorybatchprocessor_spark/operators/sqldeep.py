"""Deep SQL surface — the remaining TPC-H query *shapes* (Q2, Q9, Q11,
Q12, Q13, Q15, Q16, Q19, Q20, Q21, Q22), adapted to the fixture star
schema (FIXTURES.md: no ``partsupp``, no ``l_shipmode`` /
``l_commitdate`` / ``l_receiptdate`` / ``c_phone``), completing the SQL
coverage started in :mod:`.sqlapi` (Q1/Q3/Q5/Q6/Q7/Q8/Q10/Q14/Q18 plus
the Q4/Q17-shaped correlated subqueries).

Where TPC-H uses a missing table/column, the adaptation preserves the
*query shape* Catalyst must handle — the part-supplier link comes from
``lineitem`` itself, "supply cost" is ``l_extendedprice / l_quantity``,
and latency classes derive from ``l_shipdate - o_orderdate``:

- Q2  → correlated scalar-min subquery against a 4-dim join stack
- Q9  → multi-fact profit rollup by nation × year
- Q11 → HAVING against an uncorrelated scalar-subquery threshold
- Q12 → CASE-sum pivot over a derived latency bucket
- Q13 → outer join with join-condition filter + double aggregation
- Q15 → CTE reused by both the outer query and a scalar-max subquery
- Q16 → NOT IN subquery + count(DISTINCT) rollup
- Q19 → disjunction of conjunctive range predicates (OR-of-ANDs)
- Q20 → nested IN with a correlated scalar subquery over a grouped
  derived table
- Q21 → EXISTS + NOT EXISTS double correlation on the same fact
- Q22 → scalar-subquery threshold + anti-join (NOT EXISTS) rollup

Each query body is one template for both engines: ``{table}``
placeholders become the plain table names in the DuckDB oracle and, on
the Spark side, DataFrames bound per call by :func:`io.fixture_sql`
(only the tables the body names, loaded from the call's ``sf_dir``; no
view outlives the call). Fragments such as ``{rev}`` and ``{ts}`` are
spliced as SQL text. All money sums come from the one exact-sum builder
(utils.fixed_point_sum_sql_spark ≡ DuckDB HUGEINT sums) so every query
value-hash-matches the oracle exactly; quantity sums are integral doubles
(exact under IEEE754 well past 2^53, order-independent).

Scale notes (100 TB): every correlated subquery here decorrelates to a
join/aggregate (no per-row re-execution — the decorrelation family is
plan-asserted in tests/test_plans.py for the Q4/Q17 shapes); the dim
sides (part, supplier, nation, region, customer at 1/10th of orders) are
broadcast-sized relative to lineitem, and all lineitem aggregates are
partial→final hash aggregates on the join/group keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from dicebox_sensorybatchprocessor_spark.io import fixture_sql
from dicebox_sensorybatchprocessor_spark.registry import register
from dicebox_sensorybatchprocessor_spark.utils import (
    fixed_point_sum_sql,
    fixed_point_sum_sql_spark,
)

_REV = "l.l_extendedprice * (1 - l.l_discount)"


# --- Q2: min-cost supplier (correlated scalar-min subquery) ---------------

_Q2_BODY = """
SELECT DISTINCT p.p_partkey, p.p_name, s.s_name, n.n_name AS nation,
       l.l_extendedprice / l.l_quantity AS unit_cost
FROM {part} p
  JOIN {lineitem} l ON l.l_partkey = p.p_partkey
  JOIN {supplier} s ON s.s_suppkey = l.l_suppkey
  JOIN {nation} n ON n.n_nationkey = s.s_nationkey
  JOIN {region} r ON r.r_regionkey = n.n_regionkey
WHERE p.p_type = 'ECONOMY' AND p.p_size BETWEEN 10 AND 20
  AND r.r_name = 'EUROPE'
  AND l.l_extendedprice / l.l_quantity = (
      SELECT min(l2.l_extendedprice / l2.l_quantity)
      FROM {lineitem} l2
        JOIN {supplier} s2 ON s2.s_suppkey = l2.l_suppkey
        JOIN {nation} n2 ON n2.n_nationkey = s2.s_nationkey
        JOIN {region} r2 ON r2.r_regionkey = n2.n_regionkey
      WHERE l2.l_partkey = p.p_partkey AND r2.r_name = 'EUROPE')
ORDER BY p.p_partkey, s.s_name
"""

_DUCK_T = {t: t for t in ("part", "lineitem", "supplier", "nation", "region", "orders", "customer")}


@register("sql_q2_min_cost_supplier", oracle=_Q2_BODY.format(**_DUCK_T))
def sql_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each qualifying part, the EUROPE supplier(s)
    hitting the region-wide minimum unit cost — a correlated scalar-min
    subquery over the same 4-dim join stack as the outer query. Catalyst
    decorrelates the min into a per-part aggregate joined back on
    p_partkey; unit_cost is the identical IEEE division on both engines,
    so the float equality is exact."""
    return fixture_sql(spark, sf_dir, _Q2_BODY)


# --- Q9: product-type profit by nation × year -----------------------------

_Q9_PROFIT = "l.l_extendedprice * (1 - l.l_discount) - 0.1 * p.p_retailprice * l.l_quantity"

_Q9_BODY = """
SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year, {profit_sum} AS profit
FROM {lineitem} l
  JOIN {part} p ON p.p_partkey = l.l_partkey
  JOIN {supplier} s ON s.s_suppkey = l.l_suppkey
  JOIN {nation} n ON n.n_nationkey = s.s_nationkey
  JOIN {orders} o ON o.o_orderkey = l.l_orderkey
WHERE p.p_name LIKE '%widget%'
GROUP BY n.n_name, year(o.o_orderdate)
ORDER BY nation, o_year DESC
"""


@register(
    "sql_q9_product_profit",
    oracle=_Q9_BODY.format(profit_sum=fixed_point_sum_sql(_Q9_PROFIT, 4), **_DUCK_T),
)
def sql_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit (revenue minus a 10%-of-retail cost proxy for
    the missing ps_supplycost) per supplier nation per order year, for
    parts matching a name pattern. Two fact tables and three dims in one
    join tree; the p_name LIKE filter prunes part before the join."""
    return fixture_sql(
        spark, sf_dir, _Q9_BODY, profit_sum=fixed_point_sum_sql_spark(_Q9_PROFIT, 4)
    )


# --- Q11: important parts (HAVING vs scalar-subquery threshold) -----------

_Q11_BODY = """
SELECT l.l_partkey AS partkey, {val} AS stock_value
FROM {lineitem} l
  JOIN {supplier} s ON s.s_suppkey = l.l_suppkey
  JOIN {nation} n ON n.n_nationkey = s.s_nationkey
WHERE n.n_name = 'NATION_7'
GROUP BY l.l_partkey
HAVING {val} > (
  SELECT {val_total} * 0.001
  FROM {lineitem} l
    JOIN {supplier} s ON s.s_suppkey = l.l_suppkey
    JOIN {nation} n ON n.n_nationkey = s.s_nationkey
  WHERE n.n_name = 'NATION_7')
ORDER BY stock_value DESC, partkey
"""


@register(
    "sql_q11_important_parts",
    oracle=_Q11_BODY.format(
        val=fixed_point_sum_sql("l.l_extendedprice", 2),
        val_total=fixed_point_sum_sql("l.l_extendedprice", 2),
        **_DUCK_T,
    ),
)
def sql_q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-part stock value from one nation's suppliers,
    kept only when above a fraction of that nation's total — the
    uncorrelated scalar subquery re-aggregates the same filtered join.
    The threshold multiply happens on the exact fixed-point total, so the
    HAVING cut is deterministic across engines."""
    val = fixed_point_sum_sql_spark("l.l_extendedprice", 2)
    return fixture_sql(spark, sf_dir, _Q11_BODY, val=val, val_total=val)


# --- Q12: latency classes (CASE-sum pivot on a derived bucket) ------------

_Q12_BODY = """
SELECT CAST(floor({lat} / 30.0) AS INT) AS delay_bucket,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM {orders} o JOIN {lineitem} l ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate >= o.o_orderdate + INTERVAL 60 DAY
GROUP BY CAST(floor({lat} / 30.0) AS INT)
ORDER BY delay_bucket
"""


@register(
    "sql_q12_ship_latency",
    oracle=_Q12_BODY.format(
        lat="datediff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE))", **_DUCK_T
    ),
)
def sql_q12_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: order-priority CASE-sum pivot over a derived
    ship-latency bucket (30-day classes of l_shipdate - o_orderdate,
    standing in for the missing l_shipmode), restricted to late lines
    (>= 60 days). Calendar-day difference on both engines; the counting
    sums are exact integers."""
    return fixture_sql(
        spark,
        sf_dir,
        _Q12_BODY,
        lat="datediff(CAST(l.l_shipdate AS DATE), CAST(o.o_orderdate AS DATE))",
    )


# --- Q13: customer order-count distribution (outer join, double agg) ------

_Q13_BODY = """
WITH c_orders AS (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM {customer} c LEFT OUTER JOIN {orders} o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '4-NOT SPECIFIED'
  GROUP BY c.c_custkey
)
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


@register("sql_q13_order_distribution", oracle=_Q13_BODY.format(**_DUCK_T))
def sql_q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: orders-per-customer histogram. The filter lives in
    the OUTER JOIN condition (not WHERE — zero-order customers must
    survive with c_count = 0), then a second aggregation folds customers
    into distribution buckets."""
    return fixture_sql(spark, sf_dir, _Q13_BODY)


# --- Q15: top supplier (CTE + scalar-max subquery) ------------------------

_Q15_BODY = """
WITH revenue AS (
  SELECT l.l_suppkey AS supplier_no, {rev} AS total_revenue
  FROM {lineitem} l
  WHERE l.l_shipdate >= {ts} '1996-01-01 00:00:00'
    AND l.l_shipdate < {ts} '1996-04-01 00:00:00'
  GROUP BY l.l_suppkey
)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM {supplier} s JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
ORDER BY s.s_suppkey
"""


@register(
    "sql_q15_top_supplier",
    oracle=_Q15_BODY.format(rev=fixed_point_sum_sql(_REV, 4), ts="TIMESTAMP", **_DUCK_T),
)
def sql_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: quarterly revenue per supplier as a CTE consumed
    twice — once joined to supplier, once inside the scalar-max subquery.
    Fixed-point revenue makes the max-equality float compare exact; Spark
    plans the CTE once and reuses the exchange where beneficial."""
    return fixture_sql(
        spark, sf_dir, _Q15_BODY, rev=fixed_point_sum_sql_spark(_REV, 4), ts="TIMESTAMP_NTZ"
    )


# --- Q16: supplier counts by part attrs (NOT IN + count distinct) ---------

_Q16_BODY = """
SELECT p.p_brand, p.p_size, CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM {lineitem} l JOIN {part} p ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#3'
  AND p.p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM {supplier} WHERE s_acctbal < 0)
GROUP BY p.p_brand, p.p_size
ORDER BY supplier_cnt DESC, p.p_brand, p.p_size
"""


@register("sql_q16_supplier_part_counts", oracle=_Q16_BODY.format(**_DUCK_T))
def sql_q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per (brand, size) with a
    NOT IN exclusion subquery (negative-balance suppliers standing in for
    the complaints filter). NOT IN over a non-nullable key compiles to a
    null-aware anti join; the distinct count shuffles once on the group
    keys."""
    return fixture_sql(spark, sf_dir, _Q16_BODY)


# --- Q19: disjunctive conjunctive ranges ----------------------------------

_Q19_BODY = """
SELECT {rev} AS revenue, CAST(count(*) AS BIGINT) AS n_lines
FROM {lineitem} l JOIN {part} p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25 AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 35 AND l.l_quantity BETWEEN 20 AND 30)
"""


@register(
    "sql_q19_disjunctive_ranges",
    oracle=_Q19_BODY.format(rev=fixed_point_sum_sql(_REV, 4), **_DUCK_T),
)
def sql_q19_disjunctive_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under an OR of three conjunctive
    brand/size/quantity range blocks. The common-factor partkey join stays
    an equi-join; the disjunction is a residual filter — Catalyst pushes
    the l_quantity bounds (1..30 envelope) and the p_brand IN set down to
    both scans via constraint extraction."""
    return fixture_sql(spark, sf_dir, _Q19_BODY, rev=fixed_point_sum_sql_spark(_REV, 4))


# --- Q20: nested IN + correlated scalar over grouped derived table --------

_Q20_BODY = """
SELECT s.s_suppkey, s.s_name
FROM {supplier} s
WHERE s.s_suppkey IN (
  SELECT q.l_suppkey FROM (
    SELECT l1.l_suppkey, sum(l1.l_quantity) AS qty97
    FROM {lineitem} l1 JOIN {part} p1 ON p1.p_partkey = l1.l_partkey
    WHERE p1.p_type = 'PROMO'
      AND l1.l_shipdate >= {ts} '1997-01-01 00:00:00'
      AND l1.l_shipdate < {ts} '1998-01-01 00:00:00'
    GROUP BY l1.l_suppkey) q
  WHERE q.qty97 > 0.15 * (
    SELECT sum(l2.l_quantity)
    FROM {lineitem} l2 JOIN {part} p2 ON p2.p_partkey = l2.l_partkey
    WHERE p2.p_type = 'PROMO' AND l2.l_suppkey = q.l_suppkey))
ORDER BY s.s_suppkey
"""


@register("sql_q20_promo_concentration", oracle=_Q20_BODY.format(ts="TIMESTAMP", **_DUCK_T))
def sql_q20_promo_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers whose 1997 PROMO-part shipments exceed
    15% of their all-time PROMO shipments — an IN subquery whose inner
    relation carries a correlated scalar subquery against a grouped
    derived table (the availqty > 0.5*qty correlation of the original).
    Both aggregates decorrelate to hash aggregates joined on l_suppkey;
    quantity sums are integral doubles, exact on both engines."""
    return fixture_sql(spark, sf_dir, _Q20_BODY, ts="TIMESTAMP_NTZ")


# --- Q21: EXISTS + NOT EXISTS double correlation --------------------------

_Q21_BODY = """
SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
FROM {supplier} s
  JOIN {nation} n ON s.s_nationkey = n.n_nationkey
  JOIN {lineitem} l1 ON l1.l_suppkey = s.s_suppkey
  JOIN {orders} o ON o.o_orderkey = l1.l_orderkey
WHERE o.o_orderstatus = 'F' AND l1.l_returnflag = 'R'
  AND n.n_name = 'NATION_5'
  AND EXISTS (
    SELECT 1 FROM {lineitem} l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM {lineitem} l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_returnflag = 'R')
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name
"""


@register("sql_q21_sole_blame", oracle=_Q21_BODY.format(**_DUCK_T))
def sql_q21_sole_blame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: on finished multi-supplier orders, count per
    supplier the lines where *this* supplier returned goods and no other
    supplier on the order did (l_returnflag='R' standing in for the
    missing receipt-past-commit predicate). The EXISTS becomes a
    left-semi and the NOT EXISTS a left-anti join on l_orderkey, both
    with non-equi residuals — no per-row subquery execution."""
    return fixture_sql(spark, sf_dir, _Q21_BODY)


# --- Q22: scalar threshold + anti join ------------------------------------

_Q22_BODY = """
SELECT substring(c.c_name, 17, 2) AS cntrycode,
       CAST(count(*) AS BIGINT) AS numcust,
       {bal} AS totacctbal
FROM {customer} c
WHERE c.c_acctbal > (
    SELECT {bal_avg} / count(*) FROM {customer} WHERE c_acctbal > 0.0)
  AND NOT EXISTS (
    SELECT 1 FROM {orders} o
    WHERE o.o_custkey = c.c_custkey
      AND o.o_orderdate >= {ts} '2000-01-01 00:00:00')
GROUP BY substring(c.c_name, 17, 2)
ORDER BY cntrycode
"""


@register(
    "sql_q22_dormant_value",
    oracle=_Q22_BODY.format(
        bal=fixed_point_sum_sql("c.c_acctbal", 2),
        bal_avg=fixed_point_sum_sql("c_acctbal", 2),
        ts="TIMESTAMP",
        **_DUCK_T,
    ),
)
def sql_q22_dormant_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers with no recent
    orders (every fixture customer has *some* order, so dormancy is
    date-scoped), rolled up by the last-two-digits code of c_name (the
    cntrycode substring of the missing c_phone). The average is computed
    as exact fixed-point sum / count so the threshold compare is
    bit-identical across engines; NOT EXISTS anti-joins against the
    date-filtered orders."""
    return fixture_sql(
        spark,
        sf_dir,
        _Q22_BODY,
        bal=fixed_point_sum_sql_spark("c.c_acctbal", 2),
        bal_avg=fixed_point_sum_sql_spark("c_acctbal", 2),
        ts="TIMESTAMP_NTZ",
    )
