"""Manifest-recorded table schema and the one snapshot reader.

Every commit records the Spark schema its live files share, read from
the footer key Spark's own inference reads, and ``ManifestTable._scan``
hands it to the reader, so creating a snapshot DataFrame starts no
Spark job. These tests pin, per write verb, that the recorded schema is
the one Spark infers from the files; that a schema-evolving merge and a
file Spark did not write record none; that ``read``, ``read_point`` and
``MaterializedAgg.read`` start no job; and that ``lake.py`` and
``mv.py`` read snapshot data files only through ``_scan``.
"""

from __future__ import annotations

import ast
import os
import uuid
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.types import StructType

from dicebox_sensorybatchprocessor_spark.lake import (
    ManifestTable,
    delete_where,
    merge_into,
    merge_upsert,
    update_where,
)
from dicebox_sensorybatchprocessor_spark.mv import MaterializedAgg

PKG = Path(__file__).resolve().parent.parent / "dicebox_sensorybatchprocessor_spark"

# a non-nullable key, timestamp_ntz, decimal, array, map and struct
_COLS = (
    "CAST(id AS INT) AS k",
    "concat('v', id) AS v",
    "id * 0.5 AS x",
    "timestamp_seconds(id) AS ts",
    "CAST(timestamp_seconds(id) AS TIMESTAMP_NTZ) AS ts_ntz",
    "CAST(id AS DECIMAL(10, 2)) AS d",
    "array(CAST(id AS INT)) AS arr",
    "map('a', CAST(id AS INT)) AS m",
    "named_struct('a', CAST(id AS INT), 'b', 'x') AS st",
)


def _df(spark, lo, hi):
    return spark.range(lo, hi).selectExpr(*_COLS)


def _assert_recorded(spark, t: ManifestTable) -> None:
    snap = t.snapshot()
    assert snap.get("schema") is not None, snap["version"]
    inferred = spark.read.parquet(*t.data_files()).schema
    assert StructType.fromJson(snap["schema"]) == inferred
    assert t.read(spark).schema == inferred


def _table(tmp_path) -> ManifestTable:
    return ManifestTable(str(tmp_path / uuid.uuid4().hex))


def test_every_write_verb_records_the_inferred_schema(spark, tmp_path):
    t = _table(tmp_path)
    t.commit(t.stage(_df(spark, 0, 20), n_files=2), 0)
    _assert_recorded(spark, t)
    t.append(_df(spark, 20, 30), n_files=1)
    _assert_recorded(spark, t)
    t.overwrite(_df(spark, 0, 40), n_files=2)
    _assert_recorded(spark, t)
    merge_upsert(t, _df(spark, 35, 45), ("k",))  # unbucketed
    _assert_recorded(spark, t)
    t.compact_small(spark, small_file_bytes=1 << 30)
    _assert_recorded(spark, t)
    update_where(t, spark, {"v": "upper(v)"}, "k < 3")
    _assert_recorded(spark, t)
    delete_where(t, spark, "k = 7")
    _assert_recorded(spark, t)
    t.compact(spark)
    _assert_recorded(spark, t)
    t.set_constraint("k_nonneg", "k >= 0", spark)  # adds no file: carried
    _assert_recorded(spark, t)

    b = _table(tmp_path)
    merge_upsert(b, _df(spark, 0, 40), ("k",), n_buckets=4)  # bucketed
    _assert_recorded(spark, b)
    merge_upsert(b, _df(spark, 38, 42), ("k",))
    _assert_recorded(spark, b)
    merge_into(
        b,
        _df(spark, 10, 12),
        ("k",),
        matched_update={"v": "s.v"},
        insert_unmatched=False,
    )
    _assert_recorded(spark, b)
    b.append(_df(spark, 100, 110))
    _assert_recorded(spark, b)
    b.compact_buckets(spark)
    _assert_recorded(spark, b)


def test_mv_state_records_its_schema(spark, tmp_path):
    base = _table(tmp_path)
    merge_upsert(base, _df(spark, 0, 40), ("k",), n_buckets=4)
    mv = MaterializedAgg(
        base,
        str(tmp_path / "mv"),
        ("v",),
        {"n": ("count", "*"), "s": ("sum", "x"), "lo": ("min", "x")},
    )
    assert mv.refresh(spark)["mode"] == "recompute"
    _assert_recorded(spark, mv.table)
    merge_upsert(base, _df(spark, 39, 41), ("k",))
    assert mv.refresh(spark, mode="incremental")["mode"] == "incremental"
    _assert_recorded(spark, mv.table)


def test_schema_evolution_and_foreign_files_record_none(spark, tmp_path):
    # a bucketed evolving merge rewrites the touched buckets only: the
    # kept files keep the narrow schema, so no one schema is shared
    t = _table(tmp_path)
    narrow = spark.range(0, 40).selectExpr("id AS k", "concat('v', id) AS v")
    merge_upsert(t, narrow, ("k",), n_buckets=4)
    assert t.snapshot().get("schema") is not None
    wide = spark.createDataFrame([(3, "w", 1.5)], "k long, v string, score double")
    merge_upsert(t, wide, ("k",), schema_evolution=True)
    assert t.snapshot().get("schema") is None
    got = {r.k: r.score for r in t.read(spark, merge_schema=True).collect()}
    assert got[3] == 1.5 and len(got) == 40

    # a file written by pyarrow carries no Spark schema key
    p = _table(tmp_path)
    rel = os.path.join("data", "foreign", "part-0.parquet")
    os.makedirs(os.path.join(p.root, "data", "foreign"))
    pq.write_table(pa.table({"k": [1, 2]}), os.path.join(p.root, rel))
    p.commit([rel], 0)
    assert p.snapshot().get("schema") is None
    assert sorted(r.k for r in p.read(spark).collect()) == [1, 2]


def _jobs_started(spark, build) -> list[int]:
    """Spark jobs started while ``build()`` creates (not runs) a
    DataFrame, counted with the status tracker under a fresh job
    group."""
    sc = spark.sparkContext
    group = f"probe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "DataFrame creation")
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_snapshot_reads_start_no_spark_job(spark, tmp_path):
    t = _table(tmp_path)
    merge_upsert(t, _df(spark, 0, 200), ("k",), n_buckets=4)
    t.set_bloom_index(("k",))
    mv = MaterializedAgg(t, str(tmp_path / "mv"), ("v",), {"n": ("count", "*")})
    mv.refresh(spark)
    # a fresh handle: nothing memoised from the writes above
    t2 = ManifestTable(t.root)
    mv2 = MaterializedAgg(t2, mv.table.root, ("v",), {"n": ("count", "*")})
    assert _jobs_started(spark, lambda: t2.read(spark)) == []
    assert _jobs_started(spark, lambda: t2.read_point(spark, "k", 17)) == []
    assert _jobs_started(spark, lambda: mv2.read(spark)) == []
    assert t2.read_point(spark, "k", 17).count() == 1


def test_snapshot_data_files_are_read_only_through_scan():
    """No code in lake.py or mv.py outside ``ManifestTable._scan`` calls
    ``<reader>.parquet(...)`` — every chained ``.parquet`` call that is
    not a write must sit in ``_scan``, so a data-file read cannot skip
    the recorded schema."""
    offenders = []
    for name in ("lake.py", "mv.py"):
        tree = ast.parse((PKG / name).read_text())
        parents = {}
        for node in ast.walk(tree):
            for child in ast.iter_child_nodes(node):
                parents[child] = node
        for node in ast.walk(tree):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "parquet"
            ):
                continue
            chain, cur = [], node.func.value
            while isinstance(cur, (ast.Attribute, ast.Call)):
                if isinstance(cur, ast.Attribute):
                    chain.append(cur.attr)
                    cur = cur.value
                else:
                    cur = cur.func
            if "write" in chain:
                continue
            fn = parents.get(node)
            while fn is not None and not isinstance(fn, ast.FunctionDef):
                fn = parents.get(fn)
            if fn is None or fn.name != "_scan":
                offenders.append(f"{name}:{node.lineno}")
    assert offenders == [], offenders
