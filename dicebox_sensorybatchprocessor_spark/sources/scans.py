"""§2.1 scans, sources, sinks (SURVEY.md).

Reference parity: the reference's persist path is a category-partitioned
dataset directory (SURVEY.md §1.1 "Training dataset on disk", R5) — here
``sink_parquet_part``. CSV/JSON ingest covers the config-declared
fixed-schema decode path (R2).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dicebox_sensorybatchprocessor_spark.io import load
from dicebox_sensorybatchprocessor_spark.registry import register
from dicebox_sensorybatchprocessor_spark.utils import (
    scratch_dir,
    scratch_stage,
)


@register(
    "scan_parquet",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain parquet scan with column projection (pruned at the reader)."""
    return load(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")


@register(
    "scan_parquet_ns",
    oracle="""
    SELECT event_id, ts, user_id FROM events
    WHERE event_type = 'purchase'
    """,
)
def scan_parquet_ns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nanosecond-timestamp parquet scan + repair (§1.2 [V]).

    Spark reads ts as LONG nanos (nanosAsLong) and the loader rebuilds
    microsecond TIMESTAMP_NTZ; DuckDB truncates ns→µs natively on read, so
    both sides agree to the microsecond.
    """
    ev = load(spark, sf_dir, "events")
    return ev.filter(F.col("event_type") == "purchase").select("event_id", "ts", "user_id")


@register(
    "scan_csv_json",
    oracle="""
    SELECT n.n_nationkey, n.n_name, r.r_name
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)
def scan_csv_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-applied CSV + JSON ingest (reference R2 fixed-schema decode).

    Round-trips ``nation`` through CSV and ``region`` through JSON lines,
    re-reads both with explicit schemas, and joins — so the oracle can
    verify the ingest against the original fixture tables.
    """
    tmp = scratch_dir(prefix="sbp_csvjson_")
    csv_dir = os.path.join(tmp, "nation_csv")
    json_dir = os.path.join(tmp, "region_json")
    load(spark, sf_dir, "nation").write.mode("overwrite").option("header", "true").csv(csv_dir)
    load(spark, sf_dir, "region").write.mode("overwrite").json(json_dir)

    nation = (
        spark.read.schema("n_nationkey INT, n_name STRING, n_regionkey INT")
        .option("header", "true")
        .csv(csv_dir)
    )
    region = spark.read.schema("r_regionkey INT, r_name STRING").json(json_dir)
    return nation.join(region, nation.n_regionkey == region.r_regionkey).select(
        "n_nationkey", "n_name", "r_name"
    )


@register(
    "sink_parquet_part",
    oracle="""
    SELECT event_type, count(*) AS n_rows,
           CAST(SUM(CAST(round(value * 1000000.0, 0) AS HUGEINT)) AS DOUBLE) / 1000000.0 AS sum_value
    FROM events GROUP BY event_type
    """,
)
def sink_parquet_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned parquet sink + read-back (reference R5 category routing).

    Writes events partitioned by ``event_type`` — the same layout the
    reference uses for its category-partitioned training dataset — then
    re-reads and aggregates per partition, which the oracle checks against
    the source table. Partition pruning applies on the read-back path.
    """
    tmp = scratch_dir(prefix="sbp_sink_")
    out = os.path.join(tmp, "events_by_type")
    load(spark, sf_dir, "events").write.mode("overwrite").partitionBy("event_type").parquet(out)
    back = spark.read.parquet(out)
    factor = F.lit(1000000.0)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_rows"),
        (F.sum(F.round(F.col("value") * factor, 0).cast("decimal(38,0)")).cast("double") / factor).alias(
            "sum_value"
        ),
    )


@register(
    "sink_scan_orc",
    cache_plan=False,
    oracle="""
    SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(round(l_extendedprice * 100.0, 0) AS HUGEINT)) AS DOUBLE) / 100.0 AS sum_price
    FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
)
def sink_scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + scan round-trip: the second columnar lake format Spark
    ships natively (vectorized reader, predicate pushdown, partition
    pruning — same scan machinery as parquet). Writes a lineitem
    projection partitioned by l_returnflag, re-reads it, and aggregates;
    the oracle checks against the parquet source, so the round-trip must
    be value-exact including the double money columns."""
    with scratch_stage("sbp_orc_", cache_key=sf_dir) as (tmp, fresh):
        out = os.path.join(tmp, "lineitem_orc")
        if fresh:  # stage once per (process, sf_dir) — deterministic content
            (
                load(spark, sf_dir, "lineitem")
                .select("l_returnflag", "l_linestatus", "l_extendedprice")
                .write.mode("overwrite")
                .partitionBy("l_returnflag")
                .orc(out)
            )
    back = spark.read.orc(out)
    factor = F.lit(100.0)
    return back.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_rows"),
        (
            F.sum(F.round(F.col("l_extendedprice") * factor, 0).cast("decimal(38,0)")).cast("double")
            / factor
        ).alias("sum_price"),
    )


@register(
    "scan_schema_evolution",
    cache_plan=False,
    oracle="""
    SELECT o_orderkey, o_totalprice,
           CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
                THEN o_orderpriority END AS priority_v2,
           o_orderdate >= TIMESTAMP '1998-01-01 00:00:00' AS from_v2
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
    """,
)
def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: a lake directory whose older files lack a
    column added later (v1 = 1997 orders without priority_v2, v2 = 1998
    orders with it), read back with mergeSchema — Spark unions the file
    schemas and NULL-fills the missing column for old files, which is how
    a 100 TB lake absorbs additive schema changes without rewriting
    history. The oracle derives the same NULL pattern from o_orderdate.
    mergeSchema costs one footer read per file at planning; production
    pins the merged schema in a metastore instead — the read path
    exercised here is identical."""
    o = load(spark, sf_dir, "orders")
    with scratch_stage("sbp_evo_", cache_key=sf_dir) as (tmp, fresh):
        if fresh:  # stage once per (process, sf_dir) — deterministic content
            v1 = o.filter(
                (F.col("o_orderdate") >= F.expr("TIMESTAMP_NTZ '1997-01-01 00:00:00'"))
                & (F.col("o_orderdate") < F.expr("TIMESTAMP_NTZ '1998-01-01 00:00:00'"))
            ).select("o_orderkey", "o_totalprice", "o_orderdate")
            v2 = o.filter(
                (F.col("o_orderdate") >= F.expr("TIMESTAMP_NTZ '1998-01-01 00:00:00'"))
                & (F.col("o_orderdate") < F.expr("TIMESTAMP_NTZ '1999-01-01 00:00:00'"))
            ).select(
                "o_orderkey",
                "o_totalprice",
                "o_orderdate",
                F.col("o_orderpriority").alias("priority_v2"),
            )
            v1.write.mode("overwrite").parquet(os.path.join(tmp, "d=v1"))
            v2.write.mode("overwrite").parquet(os.path.join(tmp, "d=v2"))
    back = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(tmp, "d=v1"), os.path.join(tmp, "d=v2")
    )
    return back.select(
        "o_orderkey",
        "o_totalprice",
        "priority_v2",
        F.col("priority_v2").isNotNull().alias("from_v2"),
    )


@register(
    "sink_range_partitioned",
    cache_plan=False,
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           min(o_orderdate) AS min_date,
           max(o_orderdate) AS max_date,
           TRUE AS file_ranges_disjoint,
           TRUE AS file_count_in_bounds
    FROM orders
    """,
)
def sink_range_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-time clustering: repartitionByRange + sortWithinPartitions on
    o_orderdate before the write, so each output file owns a disjoint
    date range and its parquet row-group min/max statistics prune
    date-filtered scans to the few files that can match — the layout move
    that makes time-range queries on a 100 TB lake read 1/Nth of the
    data. The disjointness is CHECKED: per-file min/max via
    input_file_name(), ordered by min, every file's min must exceed the
    previous file's max (range partitioning sends equal keys to one
    partition, so boundaries cannot straddle files). That claim plus the
    row-count/min/max round-trip ride the value hash."""
    o = load(spark, sf_dir, "orders")
    with scratch_stage("sbp_range_", cache_key=sf_dir) as (tmp, fresh):
        out = os.path.join(tmp, "orders_by_date")
        if fresh:  # stage once per (process, sf_dir) — deterministic content
            (
                o.repartitionByRange(8, "o_orderdate")
                .sortWithinPartitions("o_orderdate")
                .write.mode("overwrite")
                .parquet(out)
            )
    back = spark.read.parquet(out)
    per_file = (
        back.groupBy(F.input_file_name().alias("f"))
        .agg(F.min("o_orderdate").alias("fmin"), F.max("o_orderdate").alias("fmax"))
    )
    from pyspark.sql import Window as W

    w = W.orderBy("fmin")
    overlaps = (
        per_file.select("fmin", "fmax", F.lag("fmax").over(w).alias("prev_max"))
        .filter(F.col("prev_max").isNotNull() & (F.col("fmin") <= F.col("prev_max")))
        .count()
    )
    n_files = per_file.count()
    return back.agg(
        F.count("*").alias("n_rows"),
        F.min("o_orderdate").alias("min_date"),
        F.max("o_orderdate").alias("max_date"),
    ).select(
        "*",
        F.lit(bool(overlaps == 0)).alias("file_ranges_disjoint"),
        F.lit(bool(1 <= n_files <= 8)).alias("file_count_in_bounds"),
    )


@register(
    "scan_csv_corrupt",
    cache_plan=False,
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_good,
           CAST((SELECT count(*) FROM orders WHERE o_orderkey % 100 = 7) AS BIGINT) AS n_bad,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM orders WHERE o_orderkey % 100 <> 7
    """,
)
def scan_csv_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-row tolerant CSV ingest (reference R2 decode + R10 poison
    handling at the batch layer): orders rendered to CSV with every
    o_orderkey ≡ 7 (mod 100) row deliberately corrupted (non-numeric key
    field), read back under PERMISSIVE mode with a corrupt-record
    column — bad rows surface as rows with the raw line captured instead
    of failing the job, exactly how a 100 TB ingest quarantines poison
    records without a second pass. Good rows must round-trip value-exact
    (key sum), and the good/bad split must match the injection rule the
    oracle recomputes."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    line_good = F.format_string("%d,%s,%.2f", "o_orderkey", "o_orderstatus", "o_totalprice")
    line_bad = F.format_string("BAD_%d,%s,%.2f", "o_orderkey", "o_orderstatus", "o_totalprice")
    lines = o.select(
        F.when(F.col("o_orderkey") % 100 == 7, line_bad).otherwise(line_good).alias("value")
    )
    with scratch_stage("sbp_csv_corrupt_", cache_key=sf_dir) as (tmp, fresh):
        src = os.path.join(tmp, "lines")
        if fresh:  # stage once per (process, sf_dir) — deterministic content
            lines.write.mode("overwrite").text(src)
    back = (
        spark.read.schema(
            "o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE, _corrupt_record STRING"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(src)
    )
    back = back.cache()  # corrupt-record column requires a materialized referenced plan
    good = back.filter(F.col("_corrupt_record").isNull())
    bad = back.filter(F.col("_corrupt_record").isNotNull())
    n_bad = bad.count()
    return good.agg(
        F.count("*").alias("n_good"),
        F.lit(n_bad).cast("bigint").alias("n_bad"),
        F.sum("o_orderkey").cast("bigint").alias("key_sum"),
    )


@register(
    "scan_binaryfile",
    oracle="""
    SELECT doc_id,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5
    FROM documents WHERE doc_id % 10 = 0 AND text IS NOT NULL
    """,
)
def scan_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-file ingest via Spark's ``binaryFile`` source (r12) — the
    entry point of every multimodal pipeline: a directory of opaque
    blobs becomes (path, modificationTime, length, content) rows that
    the mm_* decode kernels consume. Here one ``.bin`` file per sampled
    document (10% of doc_ids, utf-8 text bytes — deterministic, so the
    oracle recomputes length and md5 from the documents table without
    touching the filesystem), read back distributed, ids parsed from
    filenames with regexp_extract, content value-checked by md5.

    Staging writes the fixture files driver-side once per (sf_dir)
    scratch key — fixture construction, not the operator under test.
    The SCAN is the operator: binaryFile splits the listing across the
    cluster, prunes column-wise (length-only queries never read bytes),
    and at 100 TB is exactly how image/audio corpora land — with
    ``pathGlobFilter``/``recursiveFileLookup`` for layout and
    ``spark.sql.files.maxPartitionBytes`` sizing the per-task batch."""
    with scratch_stage("sbp_binfiles_", cache_key=f"binf|{sf_dir}") as (
        out,
        fresh,
    ):
        # a raise inside this block (driver failure mid write-loop)
        # evicts the cache entry and removes the partial dir, so a later
        # call re-stages instead of reading an incomplete fixture
        if fresh:
            rows = (
                load(spark, sf_dir, "documents")
                .filter("doc_id % 10 = 0 AND text IS NOT NULL")
                .select("doc_id", "text")
                .collect()
            )
            for r in rows:
                with open(
                    os.path.join(out, f"{r['doc_id']}.bin"), "wb"
                ) as fh:
                    fh.write(r["text"].encode("utf-8"))
    back = spark.read.format("binaryFile").load(out)
    return back.select(
        F.regexp_extract(F.col("path"), r"(\d+)\.bin$", 1)
        .cast("bigint")
        .alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.md5(F.col("content")).alias("content_md5"),
    )
