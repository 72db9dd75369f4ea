"""§2.3 joins (SURVEY.md).

Join strategy at scale (the 100 TB design point):

- Dimension tables (region 5 … part 20k rows) sit far under
  ``spark.sql.autoBroadcastJoinThreshold`` — Catalyst broadcasts them, and
  ``join_multiway`` additionally hints ``broadcast()`` so the star join
  never shuffles the fact table for a dimension.
- Fact⋈fact equi joins (lineitem⋈orders) shuffle on the key — correct and
  AQE-coalesced; at 1000 executors this is the bucketing candidate.
- The theta join runs on pre-aggregated per-key cardinalities (50 rows),
  never on raw rows — a BroadcastNestedLoop over raw 100 TB would be a
  non-starter.
- The range join equi-joins on user_id first, so the quadratic part is
  bounded per key; skewed keys would be salted (documented, not needed at
  fixture scale).
- The as-of join uses the union + last(ignorenulls) window formulation —
  one shuffle by key, no per-row probe — which scales linearly, unlike a
  broadcast + max_by probe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dicebox_sensorybatchprocessor_spark.io import load
from dicebox_sensorybatchprocessor_spark.registry import register
from dicebox_sensorybatchprocessor_spark.utils import fixed_point_sum, fixed_point_sum_sql


@register(
    "join_inner",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, l.l_extendedprice, o.o_orderstatus, o.o_totalprice
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderstatus = 'F'
    """,
)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈fact equi inner join (shuffle exchange on the key; AQE picks
    the physical strategy)."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return li.join(o, li.l_orderkey == o.o_orderkey, "inner").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "o_orderstatus", "o_totalprice"
    )


@register(
    "join_left",
    oracle="""
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
    FROM customer c LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 300000) o
      ON c.c_custkey = o.o_custkey
    """,
)
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join with null extension for customers lacking big orders."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@register(
    "join_right",
    oracle="""
    SELECT o.o_orderkey, c.c_custkey, c.c_mktsegment
    FROM (SELECT * FROM orders WHERE o_orderstatus = 'P') o
    RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join (null-extended order side)."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    c = load(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "right").select(
        "o_orderkey", "c_custkey", "c_mktsegment"
    )


@register(
    "join_full",
    oracle="""
    SELECT rich.c_custkey AS rich_key, rich.c_acctbal, pend.o_custkey AS pending_key,
           pend.n_pending
    FROM (SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 7000) rich
    FULL JOIN (SELECT o_custkey, count(*) AS n_pending FROM orders
               WHERE o_orderstatus = 'P' GROUP BY o_custkey) pend
      ON rich.c_custkey = pend.o_custkey
    """,
)
def join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join — null extension on both sides."""
    rich = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 7000)
        .select(F.col("c_custkey"), F.col("c_acctbal"))
    )
    pend = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "P")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_pending"))
    )
    return rich.join(pend, rich.c_custkey == pend.o_custkey, "full").select(
        F.col("c_custkey").alias("rich_key"),
        "c_acctbal",
        F.col("o_custkey").alias("pending_key"),
        "n_pending",
    )


@register(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left semi join (EXISTS): customers with at least one big order."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_acctbal"
    )


@register(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti join (NOT EXISTS): customers with no orders at all."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@register(
    "join_cross",
    oracle="""
    SELECT r.r_name, n.n_name FROM region r CROSS JOIN nation n
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product of the two smallest dimensions (5 × 25)."""
    r = load(spark, sf_dir, "region").select("r_name")
    n = load(spark, sf_dir, "nation").select("n_name")
    return r.crossJoin(n)


@register(
    "join_theta",
    oracle="""
    WITH sizes AS (SELECT p_size, count(*) AS n_parts FROM part GROUP BY p_size)
    SELECT a.p_size, CAST(SUM(b.n_parts) AS BIGINT) AS n_larger
    FROM sizes a JOIN sizes b ON a.p_size < b.p_size
    GROUP BY a.p_size
    """,
)
def join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (inequality) join. Runs on the 50-row per-size aggregate, not
    raw part rows — the only sane shape for a nested-loop join at scale."""
    sizes = load(spark, sf_dir, "part").groupBy("p_size").agg(F.count("*").alias("n_parts"))
    a = sizes.alias("a")
    b = sizes.alias("b")
    return (
        a.join(b, F.col("a.p_size") < F.col("b.p_size"))
        .groupBy(F.col("a.p_size").alias("p_size"))
        .agg(F.sum("b.n_parts").alias("n_larger"))
    )


@register(
    "join_range",
    oracle="""
    SELECT e1.user_id, CAST(count(*) AS BIGINT) AS n_pairs
    FROM events e1 JOIN events e2
      ON e1.user_id = e2.user_id
     AND e2.ts > e1.ts
     AND e2.ts <= e1.ts + INTERVAL 1 HOUR
    GROUP BY e1.user_id
    """,
)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval/band self-join: ordered event pairs within one hour, equi on
    user_id so the range condition only runs within a key partition. A hot
    user key would be salted; AQE skew-join handles moderate skew."""
    ev = load(spark, sf_dir, "events").select("user_id", "ts")
    e1 = ev.alias("e1")
    e2 = ev.alias("e2")
    cond = (
        (F.col("e1.user_id") == F.col("e2.user_id"))
        & (F.col("e2.ts") > F.col("e1.ts"))
        & (F.col("e2.ts") <= F.col("e1.ts") + F.expr("INTERVAL 1 HOUR"))
    )
    return (
        e1.join(e2, cond)
        .groupBy(F.col("e1.user_id").alias("user_id"))
        .agg(F.count("*").alias("n_pairs"))
    )


@register(
    "join_asof",
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id, c.event_id AS last_click_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase, the latest click of the same user at or
    before its timestamp. See :func:`asof_last_click` for the formulation
    and tie semantics."""
    ev = load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("event_id").alias("purchase_id")
    )
    return asof_last_click(clicks, purchases)


def asof_last_click(clicks: DataFrame, purchases: DataFrame) -> DataFrame:
    """Union+window as-of core: (user_id, ts, click_id) ⟕ (user_id, ts,
    purchase_id), matching each purchase to the latest click at or before
    its timestamp.

    Spark has no native as-of join; the scalable formulation is
    union-both-sides + ``last(click_id, ignorenulls=True)`` over a window
    ordered by (ts, side, click_id) per user — a single shuffle on
    user_id, linear in events, no per-row probe. ``side`` orders clicks
    before purchases at identical timestamps so the match is inclusive
    (>=), mirroring DuckDB's ASOF semantics.

    Tie semantics (pinned by tests/test_asof_ties.py): duplicate
    (user_id, ts) click pairs are ordered by click_id, so the **greatest
    click_id among latest-ts candidates** wins — a deterministic total
    order. DuckDB's ASOF is physical-row-order-dependent under such ties
    (verified: same data, two orderings, two answers), so determinism here
    is strictly stronger than engine parity; the property test checks
    equality against a deterministic SQL argmax oracle on tie-bearing
    data, and against native ASOF whenever (user_id, ts) is right-unique.
    """
    clicks = clicks.withColumn("side", F.lit(0)).withColumn(
        "purchase_id", F.lit(None).cast("long")
    )
    purchases = purchases.withColumn("side", F.lit(1)).withColumn(
        "click_id", F.lit(None).cast("long")
    )
    unioned = clicks.unionByName(purchases)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", "click_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        unioned.withColumn("last_click_id", F.last("click_id", ignorenulls=True).over(w))
        .filter(F.col("side") == 1)
        .select(F.col("purchase_id"), "user_id", "last_click_id")
    )


@register(
    "join_multiway",
    oracle=f"""
    SELECT n.n_name, r.r_name,
           {fixed_point_sum_sql("l.l_extendedprice * (1 - l.l_discount)", 4)} AS revenue,
           count(*) AS n_items
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY n.n_name, r.r_name
    """,
    aliases=("join_agg_revenue_by_nation",),
)
def join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema 5-way join + aggregate (the BASELINE.md
    join_agg_revenue_by_nation headline). customer/nation/region are
    broadcast (hinted explicitly); only lineitem⋈orders shuffles. Revenue
    uses the fixed-point sum so the result is order-insensitive and
    bit-identical to the oracle."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = load(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = load(spark, sf_dir, "region").select("r_regionkey", "r_name")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(
            fixed_point_sum(revenue, 4).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "join_asof_nearest",
    oracle="""
    WITH p AS (SELECT event_id AS pid, user_id, ts FROM events WHERE event_type = 'purchase'),
    c AS (SELECT event_id AS cid, user_id, ts FROM events WHERE event_type = 'click'),
    ranked AS (
      SELECT p.pid AS purchase_id, p.user_id, c.cid AS nearest_click_id,
             abs(epoch_us(p.ts) - epoch_us(c.ts)) AS delta_us,
             row_number() OVER (
               PARTITION BY p.pid
               ORDER BY abs(epoch_us(p.ts) - epoch_us(c.ts)),
                        CASE WHEN c.ts <= p.ts THEN 0 ELSE 1 END,
                        CASE WHEN c.ts <= p.ts THEN -c.cid ELSE c.cid END
             ) AS rn
      FROM p LEFT JOIN c ON p.user_id = c.user_id
    )
    SELECT purchase_id, user_id, nearest_click_id, delta_us
    FROM ranked WHERE rn = 1
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-direction as-of join: each purchase matches the click of
    the same user closest in time in EITHER direction (backward wins
    exact-distance ties; within a side, the asof_last_click tie order:
    greatest click_id among latest earlier clicks, smallest click_id
    among earliest later clicks).

    Scalable formulation: ONE union + two frames over the same
    (user_id, ts, side, click_id) sort — a running `last` for the
    backward candidate and a `first` over the forward frame — then a
    JVM-side CASE picks the nearer. Single shuffle on user_id, linear in
    events, no per-row probe; the oracle is the O(pairs) argmin join,
    affordable only at fixture scale."""
    ev = load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("event_id").alias("click_id"),
        F.lit(0).alias("side"),
        F.lit(None).cast("long").alias("purchase_id"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(None).cast("long").alias("click_id"),
        F.lit(1).alias("side"),
        F.col("event_id").alias("purchase_id"),
    )
    unioned = clicks.unionByName(purchases).withColumn(
        "click_ts", F.when(F.col("side") == 0, F.col("ts"))
    )
    order = [F.col("ts"), F.col("side"), F.col("click_id")]
    w_back = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    annotated = (
        unioned.withColumn("b_id", F.last("click_id", ignorenulls=True).over(w_back))
        .withColumn("b_ts", F.last("click_ts", ignorenulls=True).over(w_back))
        .withColumn("f_id", F.first("click_id", ignorenulls=True).over(w_fwd))
        .withColumn("f_ts", F.first("click_ts", ignorenulls=True).over(w_fwd))
        .filter(F.col("side") == 1)
    )
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    b_delta = us("ts") - us("b_ts")
    f_delta = us("f_ts") - us("ts")
    pick_back = F.col("f_id").isNull() | (
        F.col("b_id").isNotNull() & (b_delta <= f_delta)
    )
    return annotated.select(
        "purchase_id",
        "user_id",
        F.when(pick_back, F.col("b_id")).otherwise(F.col("f_id")).alias("nearest_click_id"),
        F.when(pick_back, b_delta).otherwise(f_delta).alias("delta_us"),
    )


@register(
    "join_interval_chunked",
    oracle="""
    WITH p AS (
      SELECT event_id AS purchase_id, user_id,
             epoch_us(ts) AS p_start, epoch_us(ts) + 1800000000 AS p_end
      FROM events WHERE event_type = 'purchase'
    ),
    c AS (
      SELECT event_id AS click_id, user_id,
             epoch_us(ts) AS c_start, epoch_us(ts) + 1800000000 AS c_end
      FROM events WHERE event_type = 'click'
    )
    SELECT p.purchase_id, c.click_id, p.user_id,
           least(p.p_end, c.c_end) - greatest(p.p_start, c.c_start) AS overlap_us
    FROM p JOIN c ON p.user_id = c.user_id
     AND p.p_start <= c.c_end AND c.c_start <= p.p_end
    """,
)
def join_interval_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join via time chunking: 30-minute activity windows
    around purchases and clicks, matched when they overlap for the same
    user. The naive form is a theta-join — O(rows²) per user key. Here
    each interval is exploded onto the 1-hour grid chunks it touches
    (≤ 2 for a 30-minute interval), the join is an EQUI-join on
    (user_id, chunk) with the exact overlap predicate as a residual, and
    duplicates (pairs meeting in two chunks) collapse with one distinct.
    That turns the per-key cross product into hash lookups — the standard
    interval-join decomposition at 100 TB, where chunk width trades join
    fan-out (intervals/chunk)² against duplicate factor (chunks/interval).
    The exact overlap length is integer µs arithmetic, identical on both
    engines; the oracle runs the naive theta-join."""
    _HALF_H = 1_800_000_000  # 30 min in µs
    _GRID = 3_600_000_000  # 1 h chunk grid in µs
    ev = load(spark, sf_dir, "events")
    start = F.unix_micros(F.col("ts").cast("timestamp"))

    def side(etype: str, idc: str, s: str, e: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == etype)
            .select(
                F.col("event_id").alias(idc),
                "user_id",
                start.alias(s),
                (start + _HALF_H).alias(e),
            )
            .withColumn(
                "chunk",
                F.explode(
                    F.sequence(
                        (F.col(s) / _GRID).cast("bigint"),
                        (F.col(e) / _GRID).cast("bigint"),
                    )
                ),
            )
        )

    p = side("purchase", "purchase_id", "p_start", "p_end")
    c = side("click", "click_id", "c_start", "c_end")
    return (
        p.join(c, ["user_id", "chunk"])
        .filter(
            (F.col("p_start") <= F.col("c_end")) & (F.col("c_start") <= F.col("p_end"))
        )
        .select(
            "purchase_id",
            "click_id",
            "user_id",
            (
                F.least("p_end", "c_end") - F.greatest("p_start", "c_start")
            ).alias("overlap_us"),
        )
        .distinct()
    )


@register(
    "join_asof_tolerance",
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id,
           CASE WHEN p.ts - c.ts <= INTERVAL 6 HOUR THEN c.event_id END AS click_id_fresh,
           CASE WHEN p.ts - c.ts <= INTERVAL 6 HOUR
                THEN CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) // 1000000 END
             AS staleness_sec
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a staleness bound (the feature-store form: a
    feature value older than the tolerance is MISSING, not
    approximated by an even older one): latest same-user click at or
    before each purchase, nulled when more than 6 hours stale, with the
    observed staleness. Same union + last(ignorenulls) single-shuffle
    core as join_asof — the tolerance is a post-match per-row predicate,
    NOT a join-condition change, which is what makes it free at scale
    (and is also why the stale match must be found first: the bound
    filters the match, it must not fall back to older candidates)."""
    ev = load(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id", "ts", F.col("event_id").alias("click_id"))
        .withColumn("side", F.lit(0))
        .withColumn("purchase_id", F.lit(None).cast("long"))
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", "ts", F.col("event_id").alias("purchase_id"))
        .withColumn("side", F.lit(1))
        .withColumn("click_id", F.lit(None).cast("long"))
    )
    both = clicks.unionByName(purchases).withColumn(
        "click_ts", F.when(F.col("side") == 0, F.col("ts"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", "click_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    matched = (
        both.withColumn("last_click", F.last("click_id", ignorenulls=True).over(w))
        .withColumn("last_click_ts", F.last("click_ts", ignorenulls=True).over(w))
        .filter(F.col("side") == 1)
    )
    stale_us = F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(
        F.col("last_click_ts").cast("timestamp")
    )
    fresh = stale_us <= 6 * 3600 * 1_000_000
    return matched.select(
        "purchase_id",
        "user_id",
        F.when(fresh, F.col("last_click")).alias("click_id_fresh"),
        F.when(fresh, (stale_us / 1_000_000).cast("bigint")).alias("staleness_sec"),
    )
