"""The benchmark's workloads: how each stages its inputs, which ops a
pass runs, how results are checked and which per-layer numbers it
reports.

Every op goes through the engine's public entry points only: the
registered callables (``all_queries()[name].fn``), ``lake.ManifestTable``
with ``lake.merge_upsert``, and ``mv.MaterializedAgg``.
"""

from __future__ import annotations

import importlib.util
import os
import random
import time
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import datagen
import layers

ROOT = Path(__file__).resolve().parent.parent

# Short star-schema and events ops: plan build, Catalyst, several short
# jobs and the Arrow fetch are a large share of each op's time.
ADHOC_OPS = (
    "q1_pricing_summary",
    "join_agg_revenue_by_nation",
    "topk_orders",
    "win_topk_group",
    "events_tumbling",
    "sim_cosine_topk",
    "sql_q3_shipping_priority",
    "sql_q5_local_supplier_volume",
    "sql_q10_returned_items",
    "sql_q18_large_customers",
    "pipeline_sensory_ingest",
    "agg_cube",
)


@dataclass
class OpRecord:
    index: int
    name: str
    wall_s: float = 0.0
    error: str | None = None
    jobs: layers.OpJobs | None = None
    parts: dict = field(default_factory=dict)  # span name -> ms
    layer: dict = field(default_factory=dict)  # traced per-op numbers
    out: dict = field(default_factory=dict)  # results kept for the checks

    @property
    def group(self) -> str:
        return f"op{self.index}"


def _load_oracle():
    """tests/oracle.py: DuckDB oracle runner and canonical row form."""
    spec = importlib.util.spec_from_file_location("perfbench_oracle", ROOT / "tests" / "oracle.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _now_ms() -> float:
    return time.time() * 1e3


def _trace_spark(engine, rec: OpRecord, dfs, fetch_since_ms: float, fetch_ms: float) -> None:
    """Per-op Spark numbers: jobs and stages, Catalyst phases and the
    pandas-UDF boundary of the fetched DataFrames, and the fetch time
    left once Catalyst and the jobs started by the fetch are taken out."""
    rec.jobs = layers.op_jobs(engine.spark, rec.group, detail=True)
    cat = {p: 0.0 for p in layers.PHASES}
    udf = {"rows": 0, "bytes_sent": 0, "bytes_received": 0}
    for df in dfs:
        for k, v in layers.catalyst_ms(df).items():
            cat[k] += v
        for k, v in layers.udf_metrics(df).items():
            udf[k] += v
    ran = rec.jobs.ran()
    rec.layer.update(
        {
            "spark.analysis_ms": cat["analysis"],
            "spark.optimization_ms": cat["optimization"],
            "spark.planning_ms": cat["planning"],
            "spark.jobs": len(rec.jobs.job_ids),
            "spark.stages": len(ran),
            "spark.stages_skipped": len(rec.jobs.skipped()),
            "spark.tasks": sum(s.tasks for s in ran),
            "spark.job_ms": rec.jobs.wall_ms(),
            "spark.task_cpu_ms": sum(s.cpu_ms for s in ran),
            "spark.gc_ms": sum(s.gc_ms for s in ran),
            "spark.shuffle_read_bytes": sum(s.shuffle_read_bytes for s in ran),
            "spark.shuffle_write_bytes": sum(s.shuffle_write_bytes for s in ran),
            "spark.spill_bytes": sum(s.spill_bytes for s in ran),
            "udf.rows": udf["rows"],
            "udf.bytes_sent": udf["bytes_sent"],
            "udf.bytes_received": udf["bytes_received"],
            "io.fetch_ms": fetch_ms
            - cat["optimization"]
            - cat["planning"]
            - rec.jobs.wall_ms(since_ms=fetch_since_ms),
        }
    )


# per-op numbers reported as a median; the rest as a mean per op
_MEDIAN = {
    "registry.build_ms",
    "spark.analysis_ms",
    "spark.optimization_ms",
    "spark.planning_ms",
    "spark.job_ms",
    "io.fetch_ms",
    "lake.commit_ms",
    "lake.read_ms",
    "mv.refresh_ms",
    "mv.read_ms",
}


def _aggregate(records: list[OpRecord]) -> dict[str, float]:
    keys = {k for r in records for k in r.layer}
    out = {}
    for k in keys:
        values = [r.layer[k] for r in records if k in r.layer]
        agg = np.median if k in _MEDIAN else np.mean
        out[k] = float(agg(values))
    return out


# -- adhoc_sql ---------------------------------------------------------------


@dataclass
class AdhocInputs:
    data: Path
    calls: Path


class AdhocSql:
    """The 12 ``ADHOC_OPS`` in a seeded shuffled order per pass. Each
    call gets its own input path (a symlink to the staged tables), as a
    newly landed batch would, so the registry's per-path plan memo and
    ``io.load``'s memo both build afresh."""

    ops = ADHOC_OPS

    def __init__(self, seed: int):
        self.tables = datagen.star_tables(seed)
        self.rng = random.Random(seed)
        self.inputs: AdhocInputs | None = None

    def stage(self, engine, stage_dir: Path) -> AdhocInputs:
        data = stage_dir / "data"
        data.mkdir(parents=True)
        for name, table in self.tables.items():
            pq.write_table(table, data / f"{name}.parquet")
        (stage_dir / "calls").mkdir()
        return AdhocInputs(data, stage_dir / "calls")

    def cold_pass(self):
        return self.next_pass()

    def next_pass(self):
        order = list(self.ops)
        self.rng.shuffle(order)
        return [(name, self._call) for name in order]

    def _call(self, engine, rec: OpRecord, trace: int) -> None:
        link = self.inputs.calls / f"c{rec.index:05d}"
        os.symlink(self.inputs.data, link)
        fn = engine.queries[rec.name].fn
        t0 = time.perf_counter()
        df = fn(engine.spark, str(link))
        t1 = time.perf_counter()
        rec.out["fetch_since_ms"] = _now_ms()
        if trace:
            rec.layer["registry.build_jobs"] = layers.jobs_in_group(engine.spark, rec.group)
            rec.out["df"] = df
        t2 = time.perf_counter()
        rec.out["result"] = df.toPandas()
        t3 = time.perf_counter()
        rec.parts = {"build_ms": (t1 - t0) * 1e3, "fetch_ms": (t3 - t2) * 1e3}

    def trace(self, engine, rec: OpRecord) -> None:
        df = rec.out.pop("df")
        rec.layer["registry.build_ms"] = rec.parts["build_ms"]
        rec.layer["io.result_rows"] = len(rec.out["result"])
        _trace_spark(engine, rec, [df], rec.out["fetch_since_ms"], rec.parts["fetch_ms"])

    def check(self, engine, records: list[OpRecord]) -> None:
        """Each result against the op's DuckDB oracle over the staged
        tables, compared as tests/oracle.py compares them."""
        oracle = _load_oracle()
        expected: dict[str, tuple[list[str], list]] = {}
        verified: dict[str, list[pd.DataFrame]] = {}
        for rec in records:
            if rec.error is not None:
                continue
            got = rec.out.pop("result")
            if rec.name not in expected:
                want = oracle.run_oracle(engine.queries[rec.name].oracle, str(self.inputs.data))
                expected[rec.name] = (sorted(want.columns), oracle._canon_rows(want))
                verified[rec.name] = []
            if any(_same_frame(got, ok) for ok in verified[rec.name]):
                continue
            cols, rows = expected[rec.name]
            if sorted(got.columns) != cols:
                rec.error = f"columns {sorted(got.columns)} != oracle {cols}"
            elif len(got) != len(rows):
                rec.error = f"{len(got)} rows != oracle {len(rows)}"
            elif oracle._canon_rows(got) != rows:
                rec.error = "values differ from the oracle"
            else:
                verified[rec.name].append(got)

    def layer_metrics(self, timed: list[OpRecord]) -> dict[str, float]:
        ok = [r for r in timed if r.error is None]
        out = _aggregate(ok)
        for name in self.ops:
            walls = [r.wall_s * 1e3 for r in ok if r.name == name]
            out[f"op.{name}.ms"] = float(np.median(walls)) if walls else 0.0
        return out


def _same_frame(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    """Exactly equal up to row order (False when rows cannot be sorted)."""
    if list(a.columns) != list(b.columns) or len(a) != len(b):
        return False
    cols = list(a.columns)
    try:
        a = a.sort_values(cols).reset_index(drop=True)
        b = b.sort_values(cols).reset_index(drop=True)
    except TypeError:
        return False
    return a.equals(b)


# -- sensor_lake_ingest ------------------------------------------------------

MEASURES = {
    "n": ("count", "*"),
    "sum_value": ("sum", "value"),
    "avg_value": ("avg", "value"),
    "min_value": ("min", "value"),
    "max_value": ("max", "value"),
}


@dataclass
class IngestInputs:
    batches: list[Path]
    table: object  # lake.ManifestTable
    view: object  # mv.MaterializedAgg


class SensorLakeIngest:
    """The reference's ingest loop, one op per newly landed batch: write
    (validate, dedup, ``merge_upsert`` into a bucketed table with a
    Bloom index on the key), refresh (``MaterializedAgg.refresh`` in auto
    mode) and read (``MaterializedAgg.read`` and a point lookup of one
    event of the batch)."""

    n_batches = 40
    batch_rows = 10_000
    cold_batches = 2

    def __init__(self, seed: int):
        self.batches = datagen.ingest_batches(seed, self.n_batches, self.batch_rows)
        rng = np.random.default_rng([seed, 3])
        self.probe_ids = []
        for b in self.batches:
            ids = b["event_id"].to_numpy()[: self.batch_rows][datagen.valid_mask(b)[: self.batch_rows]]
            self.probe_ids.append(int(rng.choice(ids)))
        self.next_batch = 0
        self.inputs: IngestInputs | None = None

    def stage(self, engine, stage_dir: Path) -> IngestInputs:
        from dicebox_sensorybatchprocessor_spark.lake import ManifestTable
        from dicebox_sensorybatchprocessor_spark.mv import MaterializedAgg

        bdir = stage_dir / "batches"
        bdir.mkdir(parents=True)
        paths = []
        for i, batch in enumerate(self.batches):
            paths.append(bdir / f"b{i:03d}.parquet")
            pq.write_table(batch, paths[-1])
        table = ManifestTable(str(stage_dir / "lake" / "events"))
        table.set_bloom_index(("event_id",))
        view = MaterializedAgg(table, str(stage_dir / "lake" / "by_type"), ("event_type",), MEASURES)
        return IngestInputs(paths, table, view)

    def cold_pass(self):
        return [self._take() for _ in range(self.cold_batches)]

    def next_pass(self):
        return [self._take()]

    def _take(self):
        if self.next_batch == self.n_batches:
            raise RuntimeError(f"all {self.n_batches} staged batches ingested; raise n_batches")
        self.next_batch += 1
        return (f"batch{self.next_batch - 1}", self._batch)

    def _batch(self, engine, rec: OpRecord, trace: int) -> None:
        from dicebox_sensorybatchprocessor_spark.lake import merge_upsert

        spark, inp = engine.spark, self.inputs
        i = int(rec.name[len("batch") :])
        t0 = time.perf_counter()
        valid = (
            spark.read.parquet(str(inp.batches[i]))
            .filter(
                F.col("event_type").isNotNull()
                & F.col("user_id").isNotNull()
                & (F.col("value") >= 0)
            )
            .dropDuplicates(["event_id"])
        )
        rec.out["version"] = merge_upsert(inp.table, valid, ("event_id",), n_buckets=8)
        t1 = time.perf_counter()
        rec.out["ledger"] = inp.view.refresh(spark)
        t2 = time.perf_counter()
        rec.out["fetch_since_ms"] = _now_ms()
        view_df = inp.view.read(spark)
        rec.out["view"] = view_df.toPandas()
        t3 = time.perf_counter()
        point_df = inp.table.read_point(spark, "event_id", self.probe_ids[i])
        rec.out["point"] = point_df.toPandas()
        t4 = time.perf_counter()
        rec.parts = {
            "commit_ms": (t1 - t0) * 1e3,
            "refresh_ms": (t2 - t1) * 1e3,
            "view_read_ms": (t3 - t2) * 1e3,
            "point_read_ms": (t4 - t3) * 1e3,
        }
        if trace:
            rec.out["dfs"] = (view_df, point_df)

    def trace(self, engine, rec: OpRecord) -> None:
        dfs = rec.out.pop("dfs")
        table, version, ledger = self.inputs.table, rec.out["version"], rec.out["ledger"]
        before = set(table.snapshot(version - 1)["files"])
        after = set(table.snapshot(version)["files"])
        added = after - before
        p = rec.parts
        rec.layer.update(
            {
                "io.result_rows": len(rec.out["view"]) + len(rec.out["point"]),
                "lake.commit_ms": p["commit_ms"],
                "lake.files_added": len(added),
                "lake.files_removed": len(before - after),
                "lake.bytes_written": sum(os.path.getsize(os.path.join(table.root, f)) for f in added),
                "lake.read_ms": p["point_read_ms"],
                "lake.files_read_ratio": len(dfs[1].inputFiles()) / max(1, len(after)),
                "mv.refresh_ms": p["refresh_ms"],
                "mv.read_ms": p["view_read_ms"],
                "mv.incremental_share": float(ledger["mode"] == "incremental"),
                "mv.files_scanned": ledger["plus_files"] + ledger["minus_files"],
            }
        )
        _trace_spark(
            engine, rec, dfs, rec.out["fetch_since_ms"], p["view_read_ms"] + p["point_read_ms"]
        )

    def check(self, engine, records: list[OpRecord]) -> None:
        """Per batch: the commit and refresh versions, the view against
        the aggregates of every valid event delivered so far, and the
        point lookup against the generated row. After the last batch: the
        view against a from-scratch GROUP BY of the table's files, and
        one table row per distinct event id."""
        import duckdb

        seen = pd.DataFrame()
        last_ok = None
        for rec in records:
            i = int(rec.name[len("batch") :])
            batch = self.batches[i]
            rows = batch.filter(datagen.valid_mask(batch)).to_pandas()
            seen = pd.concat([seen, rows]).drop_duplicates("event_id")
            if rec.error is not None:
                continue
            # version 1 is the Bloom-index commit made at set-up
            if rec.out["version"] != i + 2:
                rec.error = f"commit version {rec.out['version']} != {i + 2}"
            elif rec.out["ledger"]["to_version"] != i + 2:
                rec.error = f"view refreshed to {rec.out['ledger']['to_version']}"
            elif not _same_frame(rec.out["view"], _expected_view(seen)):
                rec.error = "view differs from the aggregates of the ingested events"
            elif not _point_matches(rec.out["point"], seen, self.probe_ids[i]):
                rec.error = f"point lookup of event {self.probe_ids[i]} is wrong"
            else:
                last_ok = rec
        final = records[-1]
        if final is not last_ok or final.error is not None:
            return
        files = self.inputs.table.data_files()
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet({files!r})")
            n, distinct = con.execute("SELECT count(*), count(DISTINCT event_id) FROM t").fetchone()
            scratch = con.execute(
                "SELECT event_type, count(*) AS n,"
                " CAST(sum(CAST(round(value * 1e6) AS HUGEINT)) AS DOUBLE) / 1e6 AS sum_value,"
                " CAST(sum(CAST(round(value * 1e6) AS HUGEINT)) AS DOUBLE) / 1e6"
                "   / CAST(count(*) AS DOUBLE) AS avg_value,"
                " min(value) AS min_value, max(value) AS max_value"
                " FROM t GROUP BY event_type"
            ).fetchdf()
        finally:
            con.close()
        if not n == distinct == len(seen):
            final.error = f"table holds {n} rows, {distinct} ids; {len(seen)} delivered"
        elif not _same_frame(final.out["view"], scratch):
            final.error = "view differs from a from-scratch GROUP BY of the table"

    def layer_metrics(self, timed: list[OpRecord]) -> dict[str, float]:
        return _aggregate([r for r in timed if r.error is None])


def _expected_view(rows: pd.DataFrame) -> pd.DataFrame:
    fp = np.round(rows["value"].to_numpy() * 1e6).astype(np.int64)
    g = rows.assign(fp=fp).groupby("event_type")
    n = g.size()
    sums = g["fp"].sum()
    return pd.DataFrame(
        {
            "event_type": n.index,
            "n": n.to_numpy(),
            "sum_value": sums.to_numpy() / 1e6,
            "avg_value": sums.to_numpy() / 1e6 / n.to_numpy(),
            "min_value": g["value"].min().to_numpy(),
            "max_value": g["value"].max().to_numpy(),
        }
    )


def _point_matches(got: pd.DataFrame, seen: pd.DataFrame, event_id: int) -> bool:
    want = seen[seen["event_id"] == event_id]
    if len(got) != 1 or len(want) != 1:
        return False
    g, w = got.iloc[0], want.iloc[0]
    return all(
        pd.Timestamp(g[c]) == pd.Timestamp(w[c]) if c == "ts" else g[c] == w[c]
        for c in want.columns
    )


WORKLOADS = {
    "adhoc_sql": AdhocSql,
    "sensor_lake_ingest": SensorLakeIngest,
}
