"""Per-layer readings taken from outside the engine.

Nothing here changes what the engine does. Each function reads one
source a caller of the engine can see:

* Spark's status store (jobs and stages of one op, by job group);
* a DataFrame's ``QueryPlanningTracker`` (Catalyst phase times);
* its executed plan's SQL metrics (the pandas-UDF boundary);
* ``/proc`` (CPU of the driver, the JVM and the Python workers, and
  the host's steal time).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

_CLK_TCK = os.sysconf("SC_CLK_TCK")


# -- Spark status store --------------------------------------------------


@dataclass
class StageRecord:
    stage_id: int
    status: str
    rdd_ids: frozenset[int]
    tasks: int = 0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


@dataclass
class OpJobs:
    """The Spark jobs one op launched, with their stages."""

    job_ids: list[int] = field(default_factory=list)
    # (submission, completion) epoch ms per job
    spans: list[tuple[int, int]] = field(default_factory=list)
    stages: dict[int, StageRecord] = field(default_factory=dict)

    def ran(self) -> list[StageRecord]:
        return [s for s in self.stages.values() if s.status != "SKIPPED"]

    def skipped(self) -> list[StageRecord]:
        return [s for s in self.stages.values() if s.status == "SKIPPED"]

    def wall_ms(self, since_ms: float = 0.0) -> float:
        """Length of the union of the job intervals that start at or
        after ``since_ms``; AQE runs some jobs concurrently, so summing
        their durations would count the overlap twice."""
        total, end = 0, 0
        for lo, hi in sorted(s for s in self.spans if s[0] >= since_ms):
            lo = max(lo, end)
            if hi > lo:
                total += hi - lo
                end = hi
        return float(total)


def reused_stages(jobs: OpJobs) -> list[int]:
    """Stages an op skipped whose shuffle output no job of the op wrote.

    A skipped stage gets a fresh stage id but keeps the RDDs of the stage
    that wrote the shuffle. Under AQE a fresh plan's last job skips the
    map stage its own earlier job ran: same RDDs, so that skip is the
    op's own work. A cached plan called again skips a stage whose RDDs
    ran only in an earlier op: that is shuffle output reused across
    calls, and the op's time does not include the work.
    """
    ran_rdds: set[int] = set()
    for s in jobs.ran():
        ran_rdds |= s.rdd_ids
    return sorted(s.stage_id for s in jobs.skipped() if not s.rdd_ids <= ran_rdds)


def _seq(scala_seq) -> list[int]:
    text = scala_seq.mkString(",")
    return [int(x) for x in text.split(",")] if text else []


def op_jobs(spark, group: str, detail: bool) -> OpJobs:
    """Jobs and stages launched under job group ``group``. With
    ``detail`` also read each stage's task, CPU, GC, shuffle and spill
    totals."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = OpJobs()
    for jid in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        job = store.job(jid)
        out.job_ids.append(jid)
        sub, done = job.submissionTime(), job.completionTime()
        if sub.isDefined() and done.isDefined():
            out.spans.append((sub.get().getTime(), done.get().getTime()))
        for sid in _seq(job.stageIds()):
            if sid in out.stages:
                continue
            st = store.lastStageAttempt(sid)
            rec = StageRecord(sid, str(st.status()), frozenset(_seq(st.rddIds())))
            if detail and rec.status != "SKIPPED":
                rec.tasks = st.numTasks()
                rec.cpu_ms = st.executorCpuTime() / 1e6
                rec.gc_ms = float(st.jvmGcTime())
                rec.shuffle_read_bytes = st.shuffleReadBytes()
                rec.shuffle_write_bytes = st.shuffleWriteBytes()
                rec.spill_bytes = st.memoryBytesSpilled() + st.diskBytesSpilled()
            out.stages[sid] = rec
    return out


def jobs_in_group(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


# -- Catalyst and the executed plan ----------------------------------------

PHASES = ("analysis", "optimization", "planning")


def catalyst_ms(df) -> dict[str, float]:
    """Catalyst phase times of ``df``'s query execution. Analysis runs
    when the DataFrame is built; optimization and planning on the first
    action."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in PHASES:
        got = phases.get(name)
        out[name] = float(got.get().durationMs()) if got.isDefined() else 0.0
    return out


_UDF_METRICS = {
    "pythonNumRowsReceived": "rows",
    "pythonDataSent": "bytes_sent",
    "pythonDataReceived": "bytes_received",
}


def udf_metrics(df) -> dict[str, int]:
    """Rows and bytes that crossed the Python/Arrow boundary, summed over
    the pandas-UDF nodes of ``df``'s executed plan (AQE's final plan,
    query stages included; reused exchanges are not counted twice)."""
    totals = dict.fromkeys(_UDF_METRICS.values(), 0)
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if kind.startswith("Reused"):
            continue
        if kind.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        metrics = node.metrics()
        for key, name in _UDF_METRICS.items():
            got = metrics.get(key)
            if got.isDefined():
                totals[name] += int(got.get().value())
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return totals


# -- /proc ---------------------------------------------------------------


def _proc_table() -> dict[int, tuple[int, str, float, float]]:
    """pid -> (ppid, comm, own CPU s, reaped-children CPU s)."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue  # exited while listing
        comm = raw[raw.index("(") + 1 : raw.rindex(")")]
        f = raw[raw.rindex(")") + 2 :].split()
        own = (int(f[11]) + int(f[12])) / _CLK_TCK
        children = (int(f[13]) + int(f[14])) / _CLK_TCK
        table[int(name)] = (int(f[1]), comm, own, children)
    return table


def cpu_tree() -> dict[str, float]:
    """CPU seconds so far of this process (``driver``), its JVM child
    (``jvm``) and everything the JVM forked (``workers``: the pyspark
    daemon and its Python workers, reaped ones included)."""
    table = _proc_table()
    me = os.getpid()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out = {"driver": table[me][2], "jvm": 0.0, "workers": 0.0}
    for pid in kids.get(me, []):
        if table[pid][1] != "java":
            continue
        out["jvm"] += table[pid][2]
        todo = list(kids.get(pid, []))
        while todo:
            p = todo.pop()
            out["workers"] += table[p][2] + table[p][3]
            todo.extend(kids.get(p, []))
    return out


def live_descendants() -> list[int]:
    """Pids of every process below this one that has not exited yet
    (zombies count as exited)."""
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], list(kids.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/stat") as fh:
                state = fh.read().rsplit(")", 1)[1].split()[0]
        except OSError:
            continue
        if state not in ("Z", "X"):
            out.append(pid)
    return out


def process_age_s() -> float:
    """Seconds since this process started (``/proc`` tick resolution)."""
    with open("/proc/self/stat") as fh:
        raw = fh.read()
    start_ticks = int(raw[raw.rindex(")") + 2 :].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / _CLK_TCK


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of the host from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already inside user/nice
    return fields[7], sum(fields[:8])


def loadavg_1m() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])
