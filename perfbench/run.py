"""Benchmark of the engine as a caller sees it, one workload per process.

    python3 perfbench/run.py --workload adhoc_sql --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from
``--seed``, sets the engine up, runs one cold pass over the workload's
ops in the fresh JVM, then runs whole passes until ``--seconds`` have
elapsed, one closed-loop client issuing each op after the previous
result was fetched. Every result is checked off the clock. The last
line of stdout is one JSON object; ``--trace 0`` reports the end-to-end
metrics, ``--trace 1`` the per-layer ones (see README.md). The line
before it holds the pinned settings and the host-noise context.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
ENGINE = "dicebox_sensorybatchprocessor_spark"
WORK = ROOT / ".perfbench_run"
# below the engine's 16g default, so the JVM fits hosts with less RAM and no swap
DRIVER_MEM_GB = 4
# a run that hangs is stopped after this many seconds
RUN_BUDGET_S = 170
SETUPS = 3
# prctl option: orphaned descendants are re-parented to this process
PR_SET_CHILD_SUBREAPER = 36

sys.path[:0] = [str(HERE), str(ROOT)]

import layers  # noqa: E402
from workloads import ADHOC_OPS, WORKLOADS, OpRecord  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "op_geomean_s": "s",
    "cpu_s_per_op": "s",
}

PER_LAYER = {
    "setup.first_s": "s",
    "cold_s": "s",
    "session.start_ms": "ms",
    "session.conf_ms": "ms",
    "registry.build_ms": "ms",
    "registry.build_jobs": "count/op",
    "spark.analysis_ms": "ms",
    "spark.optimization_ms": "ms",
    "spark.planning_ms": "ms",
    "spark.jobs": "count/op",
    "spark.stages": "count/op",
    "spark.stages_skipped": "count/op",
    "spark.tasks": "count/op",
    "spark.job_ms": "ms",
    "spark.task_cpu_ms": "ms/op",
    "spark.gc_ms": "ms/op",
    "spark.shuffle_read_bytes": "B/op",
    "spark.shuffle_write_bytes": "B/op",
    "spark.spill_bytes": "B/op",
    "udf.rows": "rows/op",
    "udf.bytes_sent": "B/op",
    "udf.bytes_received": "B/op",
    "io.fetch_ms": "ms",
    "io.result_rows": "rows/op",
    "lake.commit_ms": "ms",
    "lake.files_added": "count/op",
    "lake.files_removed": "count/op",
    "lake.bytes_written": "B/op",
    "lake.read_ms": "ms",
    "lake.files_read_ratio": "ratio",
    "mv.refresh_ms": "ms",
    "mv.read_ms": "ms",
    "mv.incremental_share": "ratio",
    "mv.files_scanned": "count/op",
    **{f"op.{name}.ms": "ms" for name in ADHOC_OPS},
    "cpu.driver_s": "s/op",
    "cpu.jvm_s": "s/op",
    "cpu.workers_s": "s/op",
    "host.steal_pct": "%",
    "host.loadavg_1m": "load",
    "traced.ops_per_s": "1/s",
    "traced.op_geomean_s": "s",
    "traced.op_p50_s": "s",
}


def _worker_probe(batches):
    """Runs in a Spark Python worker: fails there if the engine package is
    not importable by workers, as every pandas-UDF op would."""
    import dicebox_sensorybatchprocessor_spark  # noqa: F401

    yield from batches


def pin_environment() -> dict:
    """Pin what the run depends on and keep every file it writes inside
    the checkout. Must run before pyspark starts its JVM."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_gb = int(fh.readline().split()[1]) / 2**20
    if mem_gb < DRIVER_MEM_GB + 2:
        raise SystemExit(f"need {DRIVER_MEM_GB + 2} GiB of RAM, host has {mem_gb:.1f}")
    tmp = WORK / "tmp"
    for sub in ("tmp", "spark-local", "scratch"):
        (WORK / sub).mkdir(parents=True, exist_ok=True)
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env = {
        "SPARK_LOCAL_DIRS": str(WORK / "spark-local"),
        "TMPDIR": str(tmp),
        "SPARK_LAUNCHER_OPTS": jvm_opts,
        "SBP_SCRATCH_BASE": str(WORK / "scratch"),
        "SPARK_GRAFT_DRIVER_MEM": f"{DRIVER_MEM_GB}g",
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            "--conf spark.ui.retainedJobs=100000 "
            "--conf spark.ui.retainedStages=100000 "
            f'--driver-java-options "{jvm_opts}" '
            "pyspark-shell"
        ),
    }
    os.environ.update(env)
    tempfile.tempdir = str(tmp)
    return {
        "master": f"local[{cpus}]",
        "driver_memory": env["SPARK_GRAFT_DRIVER_MEM"],
        "host_mem_gib": round(mem_gb, 1),
        **{k: env[k] for k in ("SPARK_LOCAL_DIRS", "TMPDIR", "SBP_SCRATCH_BASE", "PYTHONPATH")},
    }


class Engine:
    """The engine under test: its set-ups (import, session, worker probe,
    inputs) and its shutdown."""

    def __init__(self, master: str):
        self.master = master
        self.spark = None
        self.queries = None
        self.session_ms = 0.0

    def set_up(self, workload, stage_dir: Path):
        if self.spark is not None:
            self.spark.stop()
            for name in [m for m in sys.modules if m.split(".")[0] == ENGINE]:
                del sys.modules[name]
        import dicebox_sensorybatchprocessor_spark as engine

        self.queries = engine.all_queries()
        t0 = time.perf_counter()
        self.spark = engine.get_session(app_name="perfbench", master=self.master)
        self.session_ms = (time.perf_counter() - t0) * 1e3
        self.spark.sparkContext.setLogLevel("ERROR")
        n = self.spark.range(4, numPartitions=1).mapInPandas(_worker_probe, "id long").count()
        if n != 4:
            raise RuntimeError(f"worker probe returned {n} rows, expected 4")
        return workload.stage(self, stage_dir)

    def stop(self) -> None:
        """Stop the session and wait for the JVM and its workers to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=10)


def stop_leftovers() -> None:
    """Stop every process this run started that still runs and wait for
    each to end: the pyspark daemon after its JVM exited, or a JVM whose
    gateway never came up, which Engine.stop cannot reach."""
    pids = layers.live_descendants()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 10
        while pids and time.monotonic() < deadline:
            try:
                while os.waitpid(-1, os.WNOHANG)[0]:
                    pass
            except ChildProcessError:
                pass
            pids = [p for p in pids if p in layers.live_descendants()]
            time.sleep(0.05)
        if not pids:
            return
    raise RuntimeError(f"processes {pids} did not exit")


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def run(args) -> tuple[dict, dict]:
    context = {"settings": pin_environment(), "workload": args.workload, "seed": args.seed}
    t_gen = time.perf_counter()
    workload = WORKLOADS[args.workload](args.seed)
    gen_s = time.perf_counter() - t_gen

    engine = Engine(context["settings"]["master"])
    try:
        return _measure(args, workload, engine, context, gen_s)
    finally:
        engine.stop()


def _measure(args, workload, engine: Engine, context: dict, gen_s: float) -> tuple[dict, dict]:
    setups = []
    workload.inputs = engine.set_up(workload, WORK / "stage1")
    # the first set-up counts from interpreter start; input generation is
    # the benchmark's work, not the engine's
    setups.append(layers.process_age_s() - gen_s)
    session_start_ms = engine.session_ms
    spark = engine.spark
    sc = spark.sparkContext

    records: list[OpRecord] = []

    def run_pass(ops) -> None:
        for name, fn in ops:
            rec = OpRecord(len(records), name)
            records.append(rec)
            sc.setJobGroup(rec.group, name)
            t0 = time.perf_counter()
            try:
                fn(engine, rec, args.trace)
            except Exception:
                rec.error = traceback.format_exc(limit=4)
            rec.wall_s = time.perf_counter() - t0
            if args.trace and rec.error is None:
                workload.trace(engine, rec)

    steal0, total0 = layers.cpu_times()
    t0 = time.perf_counter()
    run_pass(workload.cold_pass())
    cold_s = time.perf_counter() - t0
    n_untimed = len(records)

    cpu0 = layers.cpu_tree()
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < args.seconds:
        run_pass(workload.next_pass())
    timed_s = time.perf_counter() - t0
    cpu1 = layers.cpu_tree()
    steal1, total1 = layers.cpu_times()
    timed = records[n_untimed:]
    t_checks = time.perf_counter()

    # off the clock: shuffle-reuse guard and result checks
    for rec in records:
        if rec.jobs is None:
            rec.jobs = layers.op_jobs(spark, rec.group, detail=False)
        reused = layers.reused_stages(rec.jobs)
        if reused and rec.error is None:
            rec.error = f"reused shuffle output of an earlier op: stages {reused}"
    workload.check(engine, records)
    failed = [r for r in records if r.error is not None]
    for rec in failed:
        print(f"op {rec.index} {rec.name} failed: {rec.error}", file=sys.stderr)
    checks_s = time.perf_counter() - t_checks

    conf_ms = []
    if args.trace:
        from dicebox_sensorybatchprocessor_spark.session import ensure_engine_conf

        for _ in range(20):
            t = time.perf_counter()
            ensure_engine_conf(spark)
            conf_ms.append((time.perf_counter() - t) * 1e3)

    for k in range(2, SETUPS + 1):
        t = time.perf_counter()
        engine.set_up(workload, WORK / f"stage{k}")
        setups.append(time.perf_counter() - t)
        shutil.rmtree(WORK / f"stage{k}", ignore_errors=True)

    n_ops = len(timed)
    cpu = {k: cpu1[k] - cpu0[k] for k in cpu0}
    lat = [r.wall_s for r in timed]
    context.update(
        attempted=len(records),
        failed=len(failed),
        timed_ops=n_ops,
        untimed_ops=n_untimed,
        cold_s=round(cold_s, 3),
        checks_s=round(checks_s, 3),
        op_ms={
            name: round(median(r.wall_s * 1e3 for r in timed if r.name == name), 1)
            for name in sorted({r.name for r in timed})
        },
        timed_s=round(timed_s, 3),
        op_p50_s=round(median(lat), 3),
        setups_s=[round(s, 3) for s in setups],
        **{
            "host.steal_pct": 100.0 * (steal1 - steal0) / max(1, total1 - total0),
            "host.loadavg_1m": layers.loadavg_1m(),
        },
    )
    if not args.trace:
        metrics = {
            "setup_s": median(setups),
            "ops_per_s": n_ops / timed_s,
            "op_geomean_s": statistics.geometric_mean(lat),
            "cpu_s_per_op": sum(cpu.values()) / n_ops,
        }
        units = END_TO_END
    else:
        units = PER_LAYER
        metrics = dict.fromkeys(units, 0.0)
        metrics.update(workload.layer_metrics(timed))
        metrics.update(
            {
                "setup.first_s": setups[0],
                "cold_s": cold_s,
                "session.start_ms": session_start_ms,
                "session.conf_ms": median(conf_ms),
                "cpu.driver_s": cpu["driver"] / n_ops,
                "cpu.jvm_s": cpu["jvm"] / n_ops,
                "cpu.workers_s": cpu["workers"] / n_ops,
                "host.steal_pct": context["host.steal_pct"],
                "host.loadavg_1m": context["host.loadavg_1m"],
                "traced.ops_per_s": n_ops / timed_s,
                "traced.op_geomean_s": statistics.geometric_mean(lat),
                "traced.op_p50_s": median(lat),
            }
        )
        if set(metrics) != set(units):
            raise RuntimeError(f"per-layer metrics out of step: {set(metrics) ^ set(units)}")
    result = {
        "correct": not failed,
        "attempted": len(records),
        "failed": len(failed),
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
    }
    return context, result


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()
    if args.seconds <= 0:
        parser.error("--seconds must be positive")
    if not (ROOT / ENGINE / "__init__.py").is_file():
        print(f"engine package {ENGINE}/ not found under {ROOT}", file=sys.stderr)
        return 2

    def over_budget(signum, frame):
        raise TimeoutError(f"run exceeded {RUN_BUDGET_S} s")

    def terminated(signum, frame):
        raise SystemExit(f"stopped by signal {signum}")

    # descendants whose parent exits stay visible to stop_leftovers
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    signal.signal(signal.SIGALRM, over_budget)
    signal.signal(signal.SIGTERM, terminated)
    signal.alarm(RUN_BUDGET_S)
    shutil.rmtree(WORK, ignore_errors=True)
    try:
        context, result = run(args)
    finally:
        signal.alarm(0)
        stop_leftovers()
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(context, sort_keys=True))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
