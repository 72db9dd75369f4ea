"""Fixture table loaders (SURVEY.md §2.1 scan_parquet / scan_parquet_ns).

One shared loader for all operators so the ``events`` timestamp repair
(FIXTURES.md "events") is applied exactly once, in one place:

* the fixture parquet stores ``events.ts`` as timestamp[us], which Spark
  reads as TIMESTAMP_NTZ with nothing to repair;
* a timestamp[ns] ``events.ts`` read with
  ``spark.sql.legacy.parquet.nanosAsLong=true`` arrives as a LONG of
  nanoseconds since epoch, and ``timestamp_micros(ts div 1000)`` rebuilds
  a microsecond TIMESTAMP_NTZ.
  Integer ``div`` (JVM-side long division) is exact; a double-precision
  ``/`` would lose up to ~128 ns on epoch-scale nanos. DuckDB also floors
  ns → µs, so both sides agree to the microsecond.
"""

from __future__ import annotations

import string

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dicebox_sensorybatchprocessor_spark.session import ensure_engine_conf

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


_LOAD_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table; repairs ``events.ts`` to TIMESTAMP_NTZ(µs).

    Memoized per (session, path): ``spark.read.parquet`` builds a fresh
    file index + footer schema read each call (~70 ms); the returned
    DataFrame is an immutable plan, so reuse is free and data is still
    re-scanned at execution."""
    key = (spark.sparkContext.applicationId, sf_dir, name)
    if key not in _LOAD_CACHE:
        ensure_engine_conf(spark)
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if name == "events":
            df = _repair_events(df)
        _LOAD_CACHE[key] = df
    return _LOAD_CACHE[key]


def _repair_events(df: DataFrame) -> DataFrame:
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load(spark, sf_dir, name) for name in TABLES}


def fixture_sql(spark: SparkSession, sf_dir: str, text: str, **fragments: str) -> DataFrame:
    """``spark.sql(text)`` with its inputs bound per call, not by name.

    Every ``{table}`` placeholder in ``text`` is :func:`load`-ed from
    ``sf_dir`` and passed to ``spark.sql`` as a DataFrame kwarg; Spark
    gives each one a uniquely named temp view for this statement's
    analysis and drops it afterwards, so no session state outlives the
    call and another ``sf_dir`` in the same session can never resolve to
    these tables. A table named twice is loaded and registered once.
    ``fragments`` are SQL text (sum builders, type keywords) spliced in
    first, because ``spark.sql`` quotes a ``str`` kwarg as a literal."""
    tables = sorted({f for _, f, _, _ in string.Formatter().parse(text) if f} - fragments.keys())
    text = text.format(**fragments, **{t: "{" + t + "}" for t in tables})
    return spark.sql(text, **{t: load(spark, sf_dir, t) for t in tables})
