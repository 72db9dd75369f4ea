"""Exactly-once streaming sinks under checkpoint replay.

After a crash, Structured Streaming replays the last micro-batch from
its checkpoint: the batch function runs again with a ``batch_id`` the
sink may already have committed. Patching
``DataStreamWriter.foreachBatch`` so every batch function runs twice
with the same ``batch_id`` injects that replay into every sink at once.
An exactly-once sink returns the same rows as an un-replayed run.

The guard tests pin the shape that makes this hold: one
``foreachBatch`` call site in the package (``api._micro_batch_sink``,
whose commits carry the ``(app_id, batch_id)`` manifest txn), no raw
parquet append sink in api.py or streams.py, and streaming read-backs
through ``ManifestTable.read`` instead of ``spark.read.parquet``.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql.streaming.readwriter import DataStreamWriter

from dicebox_sensorybatchprocessor_spark import all_queries, api, lake
from tests.conftest import SF_SMOKE
from tests.oracle import _canon_rows, assert_query_matches
from tests.test_manifest_schema import _jobs_started

PKG = Path(__file__).resolve().parent.parent / "dicebox_sensorybatchprocessor_spark"

_SINK_OPS = (
    "sink_foreach_batch",
    "stream_watermark",
    "stream_dedup_wm",
    "stream_join_outer",
    "stream_update_mode",
    "stream_quarantine",
)


def _replay_every_batch(monkeypatch) -> None:
    """Run every foreachBatch function twice per micro-batch, with the
    same batch DataFrame and ``batch_id``: the replay a restarted query
    performs for a batch whose commit landed before the crash."""
    register = DataStreamWriter.foreachBatch

    def twice(self, func):
        def replayed(batch_df, batch_id):
            func(batch_df, batch_id)
            func(batch_df, batch_id)

        return register(self, replayed)

    monkeypatch.setattr(DataStreamWriter, "foreachBatch", twice)


@pytest.mark.parametrize("name", _SINK_OPS)
def test_replayed_sink_op_matches_clean_run_and_oracle(spark, monkeypatch, name):
    spec = all_queries()[name]
    clean = _canon_rows(spec.fn(spark, SF_SMOKE).toPandas())

    _replay_every_batch(monkeypatch)
    reads: list[list[int]] = []
    table_read = lake.ManifestTable.read

    def counted_read(self, spark_, *args, **kw):
        out = []
        reads.append(
            _jobs_started(spark_, lambda: out.append(table_read(self, spark_, *args, **kw)))
        )
        return out[0]

    monkeypatch.setattr(lake.ManifestTable, "read", counted_read)
    replayed = spec.fn(spark, SF_SMOKE)

    assert _canon_rows(replayed.toPandas()) == clean
    assert_query_matches(replayed, spec.oracle, SF_SMOKE)
    # every read-back is a recorded-schema snapshot scan: 0 jobs to create
    assert all(jobs == [] for jobs in reads), reads


def test_replayed_builders_commit_each_batch_once(spark, tmp_path, monkeypatch):
    """The five api builders over one small user stream of two
    micro-batches, every batch replayed: each table holds each row once."""
    schema = "id bigint, label string, amount double, op string, text string"
    batches = [
        spark.createDataFrame(
            [(1, "a", 1.0, "insert", "x y z w"), (2, None, 2.0, "insert", "x y z q")],
            schema,
        ),
        spark.createDataFrame(
            [(3, "b", -3.0, "insert", "p x y z"), (4, "b", 4.0, "insert", "r s t u")],
            schema,
        ),
    ]
    stream = api.replay_stream(
        spark, batches, name="replay_builders", max_files_per_trigger=1
    )
    _replay_every_batch(monkeypatch)

    def table(name: str) -> lake.ManifestTable:
        return lake.ManifestTable(str(tmp_path / name))

    def ck(name: str) -> str:
        return str(tmp_path / f"ck_{name}")

    ok, dlq = table("ok"), table("dlq")
    api.quarantine_stream(
        stream,
        F.col("label").isNull() | (F.col("amount") < 0),
        ok,
        dlq,
        checkpoint_dir=ck("quar"),
    ).awaitTermination()
    ups, app, cdc = table("upsert"), table("append"), table("cdc")
    api.upsert_stream(stream, ups, ("id",), checkpoint_dir=ck("ups")).awaitTermination()
    api.append_stream(stream, app, checkpoint_dir=ck("app")).awaitTermination()
    api.cdc_stream(stream, cdc, ("id",), checkpoint_dir=ck("cdc")).awaitTermination()
    res, state = table("res"), table("state")
    api.substring_dedup_stream(
        stream.select(F.col("id").alias("doc_id"), "text"),
        res,
        state,
        k=3,
        checkpoint_dir=ck("substr"),
    ).awaitTermination()

    def ids(t: lake.ManifestTable, col: str = "id") -> list[int]:
        return sorted(r[0] for r in t.read(spark).select(col).collect())

    assert ids(ok) == [1, 4]
    assert ids(dlq) == [2, 3]
    assert ids(ups) == ids(app) == ids(cdc) == [1, 2, 3, 4]
    assert ids(res, "doc_id") == [1, 2, 3, 4]
    # each batch committed one version per table, replays included
    for t in (ok, dlq, ups, app, cdc, res, state):
        assert t.latest_version() == 2, t.root
    # the default txn app id is "<builder>:<checkpoint dir name>"
    assert ok.txn_version("quarantine_stream:ck_quar") == 1
    assert dlq.txn_version("quarantine_stream:ck_quar") == 1
    assert ups.txn_version("upsert_stream:ck_ups") == 1
    assert app.txn_version("append_stream:ck_app") == 1
    assert cdc.txn_version("cdc_stream:ck_cdc") == 1
    assert res.txn_version("substring_dedup_stream:ck_substr:res") == 1
    assert state.txn_version("substring_dedup_stream:ck_substr:state") == 1


def test_upsert_stream_output_mode_for_stream_stream_join(spark, tmp_path):
    """Spark runs a stream-stream join only in append output mode: it
    rejects upsert_stream's default ``update`` at ``start()``, and
    ``output_mode="append"`` upserts the joined rows."""
    left = api.replay_stream(
        spark, [spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, l string")],
        name="join_left",
    )
    right = api.replay_stream(
        spark, [spark.createDataFrame([(1, 10.0), (2, 20.0)], "id bigint, r double")],
        name="join_right",
    )
    joined = left.join(right, "id")
    t = lake.ManifestTable(str(tmp_path / "joined"))
    with pytest.raises(AnalysisException, match="only in Append output mode"):
        api.upsert_stream(joined, t, ("id",), checkpoint_dir=str(tmp_path / "ck_update"))
    api.upsert_stream(
        joined, t, ("id",), checkpoint_dir=str(tmp_path / "ck_append"), output_mode="append"
    ).awaitTermination()
    rows = t.read(spark).select("id", "l", "r").collect()
    assert sorted(map(tuple, rows)) == [(1, "a", 10.0), (2, "b", 20.0)]


# --- guards ------------------------------------------------------------


def _calls(path: Path):
    """(enclosing top-level function name or None, Call node) for every
    call in the module."""
    tree = ast.parse(path.read_text())
    for top in tree.body:
        owner = top.name if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef)) else None
        for node in ast.walk(top):
            if isinstance(node, ast.Call):
                yield owner, node


def test_one_foreach_batch_call_site():
    sites = [
        (str(p.relative_to(PKG)), owner)
        for p in sorted(PKG.rglob("*.py"))
        for owner, call in _calls(p)
        if isinstance(call.func, ast.Attribute) and call.func.attr == "foreachBatch"
    ]
    assert sites == [("api.py", "_micro_batch_sink")]


def test_no_raw_parquet_append_sink():
    sinks = []
    for rel in ("api.py", "streaming/streams.py"):
        for owner, call in _calls(PKG / rel):
            func = call.func
            if not (isinstance(func, ast.Attribute) and func.attr == "parquet"):
                continue
            mode = func.value
            if (
                isinstance(mode, ast.Call)
                and isinstance(mode.func, ast.Attribute)
                and mode.func.attr == "mode"
                and isinstance(mode.func.value, ast.Attribute)
                and mode.func.value.attr == "write"
                and any(
                    isinstance(a, ast.Constant) and a.value == "append"
                    for a in mode.args
                )
            ):
                sinks.append((rel, owner))
    assert sinks == []


def test_streams_read_parquet_only_for_raw_events_and_file_sink():
    owners = {
        owner
        for owner, call in _calls(PKG / "streaming" / "streams.py")
        if isinstance(call.func, ast.Attribute)
        and call.func.attr == "parquet"
        and isinstance(call.func.value, ast.Attribute)
        and call.func.value.attr == "read"
    }
    assert owners == {"_events_raw", "stream_sink_parquet"}
