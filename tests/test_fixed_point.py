"""Property-based check of the exact fixed-point sum — the helper every
hash-compared aggregate rests on — on both surfaces: the DataFrame-API
utils.fixed_point_sum and the SQL text of utils.fixed_point_sum_sql_spark
spliced into spark.sql. Drives randomized fixed-decimal inputs through
Spark under adversarial partitioning and compares against exact
decimal.Decimal summation (what the DuckDB HUGEINT oracle computes)."""

from __future__ import annotations

from decimal import Decimal

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from dicebox_sensorybatchprocessor_spark.utils import fixed_point_sum, fixed_point_sum_sql_spark

_DEC6 = st.integers(min_value=-(10**14), max_value=10**14)  # value * 1e6 units


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(units=st.lists(_DEC6, min_size=1, max_size=200), decimals=st.sampled_from([0, 2, 4, 6]))
def test_fixed_point_sum_matches_exact_decimal(spark, units, decimals):
    factor = Decimal(10) ** decimals
    values = [float(Decimal(u) / Decimal(10**6)) for u in units]
    # quantize inputs to the declared decimal count (the helper's contract:
    # inputs carry <= `decimals` fixed decimals)
    values = [round(v, decimals) for v in values]
    expected = float(sum(Decimal(str(v)) * factor for v in values) / factor)
    # a bigint input: both surfaces scale by a double literal, so integer
    # columns take the same double arithmetic and come back as a double
    ints = [u // 10**6 for u in units]

    df = spark.createDataFrame(list(zip(values, ints)), "v double, k bigint").repartition(7)
    api = df.agg(
        fixed_point_sum(F.col("v"), decimals).alias("s"),
        fixed_point_sum(F.col("k"), decimals).alias("sk"),
    ).first()
    sql = spark.sql(
        f"SELECT {fixed_point_sum_sql_spark('v', decimals)} AS s,"
        f" {fixed_point_sum_sql_spark('k', decimals)} AS sk FROM {{t}}",
        t=df,
    ).first()
    for got in (api, sql):
        assert got["s"] == expected, f"{got['s']!r} != {expected!r} for {len(values)} values"
        assert isinstance(got["sk"], float) and got["sk"] == float(sum(ints)), got["sk"]


def test_fixed_point_sum_partition_order_invariance(spark):
    """The same multiset summed under different partitionings must produce
    the bit-identical double — the invariant plain float sums violate."""
    vals = [(i * 0.01 + 0.001 * (i % 7),) for i in range(5000)]
    df = spark.createDataFrame(vals, "v double")
    results = {
        df.repartition(n).agg(fixed_point_sum(F.col("v"), 4).alias("s")).first()["s"]
        for n in (1, 3, 17, 32)
    }
    assert len(results) == 1, results
