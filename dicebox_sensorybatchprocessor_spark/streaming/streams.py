"""§2.8 streaming operators (SURVEY.md) — the reference's actual runtime
shape (R1 consume → R2/R3 decode → R6 batch → R5 persist, with R7 dedup
and R10 late/poison handling) re-expressed as Structured Streaming.

Test/oracle protocol (§5.2 batch-equivalence): each operator replays the
events fixture as a file-source stream, runs with trigger(availableNow)
into a memory sink, and returns the collected result as a batch
DataFrame — which the DuckDB oracle can then check like any other query.
Multi-batch behaviors (watermark eviction, late-drop, micro-batch
accumulation) stage the fixture into multiple files with controlled
modification times so batch boundaries are deterministic.

Scale: all operators keyed by user_id/event_id shuffle once into the
state store; at 100 TB the state store is RocksDB and watermarks bound
state size — the unbounded-state variants (plain dropDuplicates) are
flagged in docstrings with their WithinWatermark production forms.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dicebox_sensorybatchprocessor_spark.io import load
from dicebox_sensorybatchprocessor_spark.registry import register
from dicebox_sensorybatchprocessor_spark.session import ensure_engine_conf
from dicebox_sensorybatchprocessor_spark.utils import fixed_point_sum, scratch_dir

# Streaming file sources need the schema up front. Every streaming read in
# this module goes through a *staged* parquet dir whose ts column is
# normalized to LONG nanoseconds by _events_raw (see below), so this schema
# is environment-independent — unlike the raw fixture file, whose read type
# varies across Spark builds (ns-as-LONG under
# spark.sql.legacy.parquet.nanosAsLong, native TIMESTAMP_NTZ(µs) where the
# reader grew TIMESTAMP(NANOS) support and the legacy knob is ignored).
_EVENTS_RAW_SCHEMA = (
    "event_id BIGINT, ts BIGINT, user_id BIGINT, event_type STRING, "
    "value DOUBLE, props STRING"
)


def _repair(df: DataFrame) -> DataFrame:
    return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))


def _events_stream(spark: SparkSession, path: str, max_files: int | None = None) -> DataFrame:
    reader = spark.readStream.schema(_EVENTS_RAW_SCHEMA)
    if max_files is not None:
        reader = reader.option("maxFilesPerTrigger", max_files)
    return _repair(reader.parquet(path))


# Stateful streaming operators create one state-store instance per shuffle
# partition per micro-batch; at fixture scale (10k-600k rows) the engine
# default of 32 mostly buys state-store setup/commit overhead. Scope the
# streaming runs to a smaller shuffle width — at 100 TB this is exactly
# the knob you'd raise (state partitions ≈ executor-cores × a small
# factor), so it stays a module constant rather than a hidden literal.
# Width 4 measured best at fixture scale (VERDICT r4 #3 profile:
# stream_tumbling addBatch 0.56 s at 16, 0.38 s at 8, 0.29 s at 4 —
# state-store open/commit dominates, the data batch itself is ~50 ms).
_STREAM_SHUFFLE_PARTITIONS = 4


_STREAM_SESSIONS: dict[tuple[int, bool, bool], SparkSession] = {}


def _streaming_session(
    spark: SparkSession, rocksdb: bool = False, one_shot: bool = False
) -> SparkSession:
    """Isolated child session for streaming ops (ADVICE r2): shares the
    SparkContext/executors with the driver-owned session but owns its
    SQLConf, so pinning spark.sql.shuffle.partitions to the streaming
    state-store width cannot leak into batch queries planned concurrently
    on the parent session (the previous context-manager approach mutated
    the shared conf for the duration of every streaming run). Cached per
    parent session; every streaming op routes through it, so stream
    construction, staging reads, and sink read-backs all plan under the
    scoped conf.

    ``rocksdb=True`` returns a SEPARATE cached child whose state-store
    provider is RocksDB, set once at session creation — the ops that need
    it (transformWithStateInPandas) get the conf without any
    mutate-then-restore on a live session (VERDICT r3 #5: no
    session-global conf mutation anywhere in the streaming path).

    ``one_shot=True`` is the variant for COMPLETE-output-mode ops
    (tumbling/sliding/session aggregates): no-data micro-batches are
    disabled, saving one trigger cycle per availableNow run. Complete
    mode re-emits the whole result on every data batch, so the trailing
    no-data batch contributes nothing there — but append-mode ops MUST
    NOT use this variant (watermark-driven emission, e.g. the outer
    join's null rows, happens exactly in that final no-data batch;
    verified: stream_join_outer loses its null-padded rows under this
    conf)."""
    key = (id(spark), rocksdb, one_shot)
    child = _STREAM_SESSIONS.get(key)
    if child is None:
        from dicebox_sensorybatchprocessor_spark.session import PINNED_SHUFFLE_KEY

        child = spark.newSession()
        ensure_engine_conf(child)
        child.conf.set("spark.sql.shuffle.partitions", str(_STREAM_SHUFFLE_PARTITIONS))
        # pin the width so later ensure_engine_conf calls on this child
        # (load() of static join sides, _events_raw staging) re-assert the
        # streaming width instead of the batch default — see session.py
        child.conf.set(PINNED_SHUFFLE_KEY, str(_STREAM_SHUFFLE_PARTITIONS))
        if rocksdb:
            child.conf.set(
                "spark.sql.streaming.stateStore.providerClass",
                "org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider",
            )
        if one_shot:
            child.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
        _STREAM_SESSIONS[key] = child
    return child


# Per-op durations of the last completed streaming run (ms, from
# StreamingQueryProgress): bench.py reads this to report the
# steady-state micro-batch cost (addBatch / triggerExecution) separately
# from availableNow setup+teardown — at 100 TB the stream is resident,
# so the per-run query start/commit cost the local wall-clock pays is
# not part of the production per-batch cost (VERDICT r3 #2).
LAST_PROGRESS: dict[str, dict[str, float]] = {}


def _run_to_table(spark: SparkSession, df: DataFrame, name: str, mode: str) -> DataFrame:
    """Run a streaming DataFrame to completion (availableNow) into a memory
    sink and return the sink contents as a batch DataFrame."""
    qname = f"{name}_{uuid.uuid4().hex[:8]}"
    ck = scratch_dir(prefix=f"sbp_ck_{name}_")
    q = (
        df.writeStream.format("memory")
        .queryName(qname)
        .outputMode(mode)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    last = q.lastProgress
    if last and "durationMs" in last:
        LAST_PROGRESS[name] = dict(last["durationMs"])
    return df.sparkSession.table(qname)


# Staged replay directories are deterministic functions of (layout name,
# sf_dir): cache them so repeated invocations (driver correctness run +
# bench + pytest in one session) and ops sharing a layout (stream_dedup /
# stream_dedup_wm both stage [raw, every-10th-redelivered]) pay the
# parquet write exactly once. A cached dir is immutable: an op that adds
# or renames files mid-replay (stream_watermark, stream_join_outer) takes
# a private hard-linked copy via _stage_linked and mutates only that,
# and links files out of a cached dir rather than moving them.
_STAGE_CACHE: dict[tuple[str, str], str] = {}


def _stage_files(
    spark: SparkSession,
    parts: list[DataFrame],
    name: str,
    cache_key: str | None = None,
) -> str:
    """Write each DataFrame as one parquet file in a directory, with strictly
    increasing modification times so the file source processes them in list
    order — deterministic micro-batch composition."""
    if cache_key is not None and (name, cache_key) in _STAGE_CACHE:
        return _STAGE_CACHE[(name, cache_key)]
    root = scratch_dir(prefix=f"sbp_stage_{name}_")
    for i, part in enumerate(parts):
        sub = os.path.join(root, f"_w{i}")
        part.coalesce(1).write.mode("overwrite").parquet(sub)
        src = next(f for f in os.listdir(sub) if f.endswith(".parquet"))
        dst = os.path.join(root, f"part-{i:03d}.parquet")
        os.rename(os.path.join(sub, src), dst)
        os.utime(dst, (1700000000 + i * 100, 1700000000 + i * 100))
    if cache_key is not None:
        _STAGE_CACHE[(name, cache_key)] = root
    return root


def _link_or_copy(src: str, dst: str) -> None:
    """Hardlink with a cross-filesystem copy fallback (scratch dirs can
    land on different mounts when the tmpfs free-space probe flips)."""
    import shutil

    try:
        os.link(src, dst)
    except OSError:
        shutil.copy2(src, dst)


def _stage_linked(staged_src: str, name: str) -> str:
    """Private mutable hardlink copy of a cached staged dir (r16,
    VERDICT r15 #6): the replay ops that MUTATE their staged directory
    mid-protocol (stream_watermark renames a late file in,
    stream_join_outer appends a watermark advancer) could not share the
    stage cache and re-wrote the whole events fixture to parquet on
    every invocation — the dominant per-lifecycle cost after the
    state-store floor. Hardlinking gives each run its own mutable
    directory for the cost of a few inodes; the parquet bytes are
    written once per (layout, sf_dir). mtimes ride the shared inode and
    were set deterministically at first staging, so batch composition
    is unchanged."""
    dst = scratch_dir(prefix=f"sbp_stage_{name}_lnk_")
    for f in sorted(os.listdir(staged_src)):
        if f.endswith(".parquet"):
            _link_or_copy(os.path.join(staged_src, f), os.path.join(dst, f))
    return dst


def _events_dir(spark: SparkSession, sf_dir: str) -> str:
    """Single-file staged dir holding the events fixture with ts normalized
    to LONG nanos — the directory all whole-table streaming reads consume.

    Previously this was a symlink to the raw fixture file, but the raw
    file's streaming read type is Spark-build-dependent (TIMESTAMP(NANOS)
    parquet arrives as ns-LONG on builds honoring nanosAsLong, as a
    µs-truncated TIMESTAMP_NTZ on builds with native nanos read support —
    where a user-supplied BIGINT schema silently yields *microseconds*, a
    1000× unit error). Staging through _events_raw pins the on-disk type
    to INT64 nanos so _EVENTS_RAW_SCHEMA + _repair are exact everywhere.
    Cached per sf_dir via _stage_files."""
    return _stage_files(spark, [_events_raw(spark, sf_dir)], "rawev", cache_key=sf_dir)


def _events_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with ts as LONG nanos (for re-staging to parquet that the
    streaming schema above can read back). On Spark builds that read
    TIMESTAMP(NANOS) parquet natively as TIMESTAMP_NTZ (µs-truncated,
    nanosAsLong ignored), the column is converted back to ns-LONG —
    sub-µs digits are already gone in that case, which matches the µs
    resolution the DuckDB oracle compares at."""
    from dicebox_sensorybatchprocessor_spark.session import ensure_engine_conf

    ensure_engine_conf(spark)
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(df.dtypes).get("ts") != "bigint":
        df = df.withColumn(
            "ts", F.expr("unix_micros(cast(ts as timestamp)) * CAST(1000 AS BIGINT)")
        )
    return df


@register(
    cache_plan=False,
    name="source_stream_replay",
    oracle="SELECT event_id, ts, user_id, event_type, value FROM events",
)
def source_stream_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1: replay the events table as an unbounded file-source stream
    (at-least-once consume loop ≡ file source + checkpoint) and land every
    row — proves the source path end-to-end incl. the ns-ts repair."""
    spark = _streaming_session(spark)
    stream = _events_stream(spark, _events_dir(spark, sf_dir))
    out = stream.select("event_id", "ts", "user_id", "event_type", "value")
    return _run_to_table(spark, out, "replay", "append")


@register(
    cache_plan=False,
    name="sink_foreach_batch",
    oracle="""
    SELECT event_id % 3 AS batch_id, count(*) AS n_rows
    FROM events GROUP BY event_id % 3
    """,
)
def sink_foreach_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R6 micro-batch accumulation + R5 persist: three staged files →
    maxFilesPerTrigger=1 → one exactly-once lake append per micro-batch
    (api.append_stream); each table version's added rows, counted from
    the parquet footers, are its batch's count, and the version's txn
    record names the batch. Files are split by event_id%3 with ordered
    mtimes, so batch_id ↔ residue class deterministically."""
    import pyarrow.parquet as pq

    from dicebox_sensorybatchprocessor_spark import api, lake

    spark = _streaming_session(spark)
    raw = _events_raw(spark, sf_dir)
    parts = [raw.filter(F.col("event_id") % 3 == i) for i in range(3)]
    staged = _stage_files(spark, parts, "feb", cache_key=sf_dir)
    table = lake.ManifestTable(scratch_dir(prefix="sbp_feb_out_"))
    stream = _events_stream(spark, staged, max_files=1)
    api.append_stream(
        stream,
        table,
        checkpoint_dir=scratch_dir(prefix="sbp_ck_feb_"),
        txn_app_id="sink_foreach_batch",
    ).awaitTermination()

    def added_rows(v: int) -> int:
        new = set(table.snapshot(v)["files"]) - set(table.snapshot(v - 1)["files"])
        return sum(pq.read_metadata(os.path.join(table.root, f)).num_rows for f in new)

    return spark.createDataFrame(
        [
            (table.txn_version("sink_foreach_batch", v), added_rows(v))
            for v in range(1, table.latest_version() + 1)
        ],
        "batch_id INT, n_rows BIGINT",
    )


@register(
    cache_plan=False,
    name="stream_tumbling",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS hour_start, event_type,
           count(*) AS n_events,
           CAST(SUM(CAST(round(value * 1000000.0, 0) AS HUGEINT)) AS DOUBLE) / 1000000.0
             AS sum_value
    FROM events GROUP BY date_trunc('hour', ts), event_type
    """,
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window × event_type aggregation over the stream;
    must equal the batch events_tumbling exactly (batch-equivalence).
    The window/agg core is api.windowed_stream (round 6), so a user's
    own stream shares this oracle-checked plan."""
    from dicebox_sensorybatchprocessor_spark import api

    spark = _streaming_session(spark, one_shot=True)
    stream = _events_stream(spark, _events_dir(spark, sf_dir))
    agg = api.windowed_stream(
        stream,
        ts_col="ts",
        window="1 hour",
        group_cols=("event_type",),
        aggs=[
            F.count("*").alias("n_events"),
            fixed_point_sum(F.col("value"), 6).alias("sum_value"),
        ],
    )
    out = _run_to_table(spark, agg, "tumbling", "complete")
    return out.select(
        F.col("window.start").alias("hour_start"), "event_type", "n_events", "sum_value"
    )


@register(
    cache_plan=False,
    name="stream_sliding",
    oracle="""
    SELECT time_bucket(INTERVAL '15 minutes', ts) - k.k * INTERVAL '15 minutes' AS win_start,
           count(*) AS n_events
    FROM events, generate_series(0, 3) k(k)
    GROUP BY 1
    """,
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window (1 h length, 15 min slide): each event lands in 4
    windows; the oracle expands the same 4 windows per event. Core:
    api.windowed_stream with a slide (round 6)."""
    from dicebox_sensorybatchprocessor_spark import api

    spark = _streaming_session(spark, one_shot=True)
    stream = _events_stream(spark, _events_dir(spark, sf_dir))
    agg = api.windowed_stream(stream, ts_col="ts", window="1 hour", slide="15 minutes")
    out = _run_to_table(spark, agg, "sliding", "complete")
    return out.select(F.col("window.start").alias("win_start"), "n_events")


@register(
    cache_plan=False,
    name="stream_session",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts), 1, epoch_us(ts))
                        OVER (PARTITION BY user_id ORDER BY ts) > 1800000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), numbered AS (
      SELECT user_id, ts,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events
    FROM numbered GROUP BY user_id, session_id
    """,
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session window (30-minute gap) per user. The oracle is the batch
    gap-sessionization (sessionize_batch) — Spark's session_window end is
    last-event + gap, which the oracle mirrors. This is the §5.2
    batch-equivalence check binding the two sessionizers together.
    Core: api.session_stream (round 6), the streaming twin of
    api.sessionize."""
    from dicebox_sensorybatchprocessor_spark import api

    spark = _streaming_session(spark, one_shot=True)
    stream = _events_stream(spark, _events_dir(spark, sf_dir))
    agg = api.session_stream(
        stream, ts_col="ts", gap="30 minutes", group_cols=("user_id",)
    )
    out = _run_to_table(spark, agg, "session", "complete")
    return out.select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        "n_events",
    )


@register(
    cache_plan=False,
    name="stream_watermark",
    oracle="""
    WITH agg AS (
      SELECT date_trunc('hour', ts) AS hour_start, count(*) AS n_events
      FROM events GROUP BY 1
    )
    SELECT hour_start, n_events FROM agg
    WHERE hour_start + INTERVAL 1 HOUR <= (SELECT max(ts) - INTERVAL 1 HOUR FROM events)
    """,
)
def stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R10 late-data handling: 1-hour watermark, two *runs* sharing one
    checkpoint (a restarted consumer). Run 1 drains the on-time data and
    commits watermark = max_ts − 1 h; then day-1 rows are re-delivered
    (re-tagged ids, days late) and run 2 restores the watermark from the
    checkpoint and drops them. Result = tumbling aggregate over on-time
    rows only, restricted to windows the watermark closed (open windows
    stay in state, unemitted in append mode).

    Within a single availableNow run the watermark only advances at run
    end (measured: numRowsDroppedByWatermark=0 for a same-run late batch),
    so the cross-run checkpoint restore is the semantics-bearing path —
    and the one a 100 TB at-least-once ingest actually exercises. Both
    runs land in one lake table through api.append_stream; the shared
    checkpoint keeps one txn app id, so a replayed batch appends once."""
    from dicebox_sensorybatchprocessor_spark import api, lake

    spark = _streaming_session(spark)
    raw = _events_raw(spark, sf_dir)
    cutoff_ns = raw.agg(F.expr("min(ts) + 86400000000000")).first()[0]  # min + 1 day, in ns
    early = raw.filter(F.col("ts") < cutoff_ns)
    late_redelivery = early.withColumn("event_id", -F.col("event_id") - 1)
    # the on-time layout equals the shared single-file events stage —
    # link a private mutable copy instead of re-writing it (r16); the
    # late redelivery is content-deterministic per sf_dir, so its stage
    # caches too and is linked (not moved) into the replay dir below
    staged = _stage_linked(_events_dir(spark, sf_dir), "wm")
    late_dir = _stage_files(spark, [late_redelivery], "wm_late", cache_key=sf_dir)

    ck = scratch_dir(prefix="sbp_ck_wm_")
    table = lake.ManifestTable(scratch_dir(prefix="sbp_wm_out_"))

    def run_once() -> None:
        stream = _events_stream(spark, staged)
        # api.windowed_stream with a watermark (round 6): the bounded-state
        # append-mode form a user's own late-data stream runs.
        agg = api.windowed_stream(
            stream, ts_col="ts", window="1 hour", watermark="1 hour"
        )
        api.append_stream(agg, table, checkpoint_dir=ck).awaitTermination()

    run_once()  # drain on-time data; checkpoint commits the advanced watermark
    _link_or_copy(
        os.path.join(late_dir, "part-000.parquet"),
        os.path.join(staged, "part-100.parquet"),
    )
    run_once()  # restart: late redelivery arrives below the restored watermark
    return table.read(spark).select(
        F.col("window.start").alias("hour_start"), "n_events"
    )


@register(
    cache_plan=False,
    name="stream_dedup",
    oracle="""
    SELECT event_type, count(*) AS n_events FROM events GROUP BY event_type
    """,
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R7 at-least-once dedup: batch 2 redelivers every 10th event verbatim
    (same event_id — simulated broker redelivery); streaming
    dropDuplicates on the id restores exactly-once, so per-type counts
    equal the clean source. Unbounded-state variant for the bounded
    fixture; production uses dropDuplicatesWithinWatermark so state ages
    out with the watermark. Thin wrapper over api.dedup_stream (r8)."""
    from dicebox_sensorybatchprocessor_spark import api

    spark = _streaming_session(spark)
    raw = _events_raw(spark, sf_dir)
    dups = raw.filter(F.col("event_id") % 10 == 0)
    staged = _stage_files(spark, [raw, dups], "dedup10", cache_key=sf_dir)
    stream = _events_stream(spark, staged, max_files=1)
    deduped = api.dedup_stream(stream, ("event_id",))
    out = _run_to_table(spark, deduped, "dedup", "append")
    return out.groupBy("event_type").agg(F.count("*").alias("n_events"))


@register(
    cache_plan=False,
    name="stream_stateful",
    oracle="""
    SELECT user_id,
           count(*) AS n_events,
           CAST(SUM(CAST(round(value * 1000000.0, 0) AS HUGEINT)) AS DOUBLE) / 1000000.0
             AS total_value,
           max_by(event_type, ts) AS last_type
    FROM events GROUP BY user_id
    """,
)
def stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary per-key state (applyInPandasWithState): running per-user
    counters (count, fixed-point value sum, last event type) carried in
    GroupState across micro-batches; each batch emits the updated state.
    Two staged batches → the memory sink holds one row per user per batch
    it appeared in; the *final* state per user (latest emission) must equal
    the batch aggregate."""
    spark = _streaming_session(spark)
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    raw = _events_raw(spark, sf_dir)
    parts = [raw.filter(F.col("event_id") % 2 == i) for i in range(2)]
    staged = _stage_files(spark, parts, "mod2", cache_key=sf_dir)

    def track(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            n, total_units, last_ts, last_type, batch_no = state.get
        else:
            n, total_units, last_ts, last_type, batch_no = 0, 0, -1, "", -1
        for pdf in pdfs:
            n += len(pdf)
            total_units += int((pdf["value"] * 1000000.0).round().astype("int64").sum())
            idx = pdf["ts"].astype("int64").idxmax()
            ts_max = int(pdf["ts"].astype("int64")[idx])
            if ts_max > last_ts:
                last_ts = ts_max
                last_type = str(pdf["event_type"][idx])
        batch_no += 1
        state.update((n, total_units, last_ts, last_type, batch_no))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "batch_no": [batch_no],
                "n_events": [n],
                "total_value": [total_units / 1000000.0],
                "last_type": [last_type],
            }
        )

    stream = _events_stream(spark, staged, max_files=1)
    tracked = stream.groupBy("user_id").applyInPandasWithState(
        track,
        outputStructType="user_id BIGINT, batch_no INT, n_events BIGINT, "
        "total_value DOUBLE, last_type STRING",
        stateStructType="n BIGINT, total_units BIGINT, last_ts BIGINT, "
        "last_type STRING, batch_no INT",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = _run_to_table(spark, tracked, "stateful", "append")
    w = F.row_number().over(
        Window.partitionBy("user_id").orderBy(F.col("batch_no").desc())
    )
    return (
        out.withColumn("rn", w)
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "total_value", "last_type")
    )


@register(
    cache_plan=False,
    name="stream_static_join",
    oracle="""
    SELECT c.c_mktsegment, count(*) AS n_events,
           CAST(SUM(CAST(round(e.value * 1000000.0, 0) AS HUGEINT)) AS DOUBLE) / 1000000.0
             AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream⋈static dimension enrichment (broadcast — the dimension ships
    to every task once; stateless) followed by a streaming aggregate."""
    spark = _streaming_session(spark, one_shot=True)
    stream = _events_stream(spark, _events_dir(spark, sf_dir))
    dim = F.broadcast(load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment"))
    joined = stream.join(dim, stream.user_id == dim.c_custkey, "inner")
    agg = joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_events"),
        fixed_point_sum(F.col("value"), 6).alias("sum_value"),
    )
    out = _run_to_table(spark, agg, "static_join", "complete")
    return out


@register(
    cache_plan=False,
    name="stream_stream_join",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL 1 HOUR
     AND c.ts <= p.ts
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream⋈stream join with watermarks + event-time range condition:
    purchases matched to same-user clicks in the preceding hour. Watermarks
    bound both sides' state; the range condition lets Spark evict rows
    older than (watermark − 1 h)."""
    spark = _streaming_session(spark)
    p = (
        _events_stream(spark, _events_dir(spark, sf_dir))
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    c = (
        _events_stream(spark, _events_dir(spark, sf_dir))
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    joined = p.join(
        c,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "inner",
    ).select("purchase_id", "click_id", "user_id")
    return _run_to_table(spark, joined, "ss_join", "append")


def _tws_available() -> bool:
    """transformWithStateInPandas needs the protobuf-based state server;
    register the operator only where google.protobuf is importable (it is
    absent in some minimal containers — the applyInPandasWithState twin
    stream_stateful covers the semantics there)."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


@register(
    cache_plan=False,
    name="stream_stateful_tws",
    oracle="""
    SELECT user_id,
           count(*) AS n_events,
           CAST(SUM(CAST(round(value * 1000000.0, 0) AS HUGEINT)) AS DOUBLE) / 1000000.0
             AS total_value
    FROM events GROUP BY user_id
    """,
) if _tws_available() else (lambda fn: fn)
def stream_stateful_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 transformWithStateInPandas (the successor API to
    applyInPandasWithState used by stream_stateful): a StatefulProcessor
    with typed ValueState carries per-user running (count, fixed-point
    value sum) across two staged micro-batches; the final emission per
    user must equal the batch aggregate. Requires the RocksDB state store
    provider — which is also the 100 TB production choice (state spills
    to disk instead of executor heap)."""
    spark = _streaming_session(spark, rocksdb=True)
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    raw = _events_raw(spark, sf_dir)
    parts = [raw.filter(F.col("event_id") % 2 == i) for i in range(2)]
    staged = _stage_files(spark, parts, "mod2", cache_key=sf_dir)

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("batch_no", LongType()),
            StructField("n_events", LongType()),
            StructField("total_value", DoubleType()),
        ]
    )

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "totals",
                StructType(
                    [
                        StructField("n", LongType()),
                        StructField("units", LongType()),
                        StructField("batch_no", LongType()),
                    ]
                ),
            )

        def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
            n, units, batch_no = (
                self._state.get() if self._state.exists() else (0, 0, -1)
            )
            for pdf in rows:
                n += len(pdf)
                units += int((pdf["value"] * 1000000.0).round().astype("int64").sum())
            batch_no += 1
            self._state.update((n, units, batch_no))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "batch_no": [batch_no],
                    "n_events": [n],
                    "total_value": [units / 1000000.0],
                }
            )

        def close(self) -> None:
            pass

    stream = _events_stream(spark, staged, max_files=1)
    tracked = stream.groupBy("user_id").transformWithStateInPandas(
        RunningTotals(),
        outputStructType=out_schema,
        outputMode="Append",
        timeMode="None",
    )
    out = _run_to_table(spark, tracked, "tws", "append")
    w = F.row_number().over(
        Window.partitionBy("user_id").orderBy(F.col("batch_no").desc())
    )
    return (
        out.withColumn("rn", w)
        .filter(F.col("rn") == 1)
        .select("user_id", "n_events", "total_value")
    )


@register(
    cache_plan=False,
    name="stream_quarantine",
    oracle="""
    WITH stamped AS (
      SELECT event_type, value,
             CASE WHEN event_id % 7 = 0 THEN NULL ELSE event_type END AS d_type,
             CASE WHEN event_id % 11 = 0 THEN -abs(value) - 1.0 ELSE value END AS d_value
      FROM events
    )
    SELECT CASE WHEN d_type IS NULL OR d_value < 0 THEN 'quarantine' ELSE 'dataset' END
             AS sink,
           coalesce(d_type, '_invalid') AS category,
           count(*) AS n_rows
    FROM stamped GROUP BY 1, 2
    """,
)
def stream_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R10 poison-message handling: a replay where some messages are
    malformed (null category ≈ missing label, negative value ≈ failed
    decode). Each micro-batch routes valid rows to the category dataset
    table and malformed rows to a dead-letter quarantine table — two
    exactly-once lake appends per micro-batch sharing the batch's txn,
    the idiomatic Spark form of the reference's nack/dead-letter loop.
    Read back and count per (sink, category); the oracle recomputes the
    same routing in SQL. Thin wrapper over api.quarantine_stream (r8)."""
    from dicebox_sensorybatchprocessor_spark import api, lake

    spark = _streaming_session(spark)
    raw = _events_raw(spark, sf_dir)
    damaged = raw.withColumn(
        "event_type",
        F.when(F.col("event_id") % 7 == 0, F.lit(None)).otherwise(F.col("event_type")),
    ).withColumn(
        "value",
        F.when(F.col("event_id") % 11 == 0, -F.abs(F.col("value")) - 1.0).otherwise(
            F.col("value")
        ),
    )
    parts = [damaged.filter(F.col("event_id") % 2 == i) for i in range(2)]
    staged = _stage_files(spark, parts, "quar", cache_key=sf_dir)
    ok_t = lake.ManifestTable(scratch_dir(prefix="sbp_quar_ok_"))
    dlq_t = lake.ManifestTable(scratch_dir(prefix="sbp_quar_dlq_"))

    invalid = F.col("event_type").isNull() | (F.col("value") < 0)

    def repair(bad: DataFrame) -> DataFrame:
        return bad.withColumn(
            "event_type", F.coalesce("event_type", F.lit("_invalid"))
        )

    stream = _events_stream(spark, staged, max_files=1)
    api.quarantine_stream(
        stream,
        invalid,
        ok_t,
        dlq_t,
        repair=repair,
        checkpoint_dir=scratch_dir(prefix="sbp_ck_quar_"),
    ).awaitTermination()
    ok = ok_t.read(spark).select("event_type").withColumn("sink", F.lit("dataset"))
    dlq = dlq_t.read(spark).select("event_type").withColumn(
        "sink", F.lit("quarantine")
    )
    return (
        ok.unionByName(dlq)
        .groupBy("sink", F.col("event_type").alias("category"))
        .agg(F.count("*").alias("n_rows"))
    )


@register(
    cache_plan=False,
    name="stream_dedup_wm",
    oracle="""
    SELECT event_type, count(*) AS n_events FROM events GROUP BY event_type
    """,
)
def stream_dedup_wm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R7 production form: dropDuplicatesWithinWatermark — dedup state is
    evicted once the watermark passes an id's event time + delay, so
    state size is bounded by the redelivery horizon instead of growing
    forever (the 100 TB requirement stream_dedup's plain dropDuplicates
    cannot meet). Replay: every 10th event redelivered in a second
    micro-batch; within one availableNow run the watermark holds (see
    stream_watermark), so the redelivery is in-horizon and dropped — the
    per-type counts must equal the clean source. Thin wrapper over
    api.dedup_stream(within_watermark=...) (r8), landed exactly-once
    through api.append_stream."""
    from dicebox_sensorybatchprocessor_spark import api, lake

    spark = _streaming_session(spark)
    raw = _events_raw(spark, sf_dir)
    dups = raw.filter(F.col("event_id") % 10 == 0)
    staged = _stage_files(spark, [raw, dups], "dedup10", cache_key=sf_dir)
    stream = _events_stream(spark, staged, max_files=1)
    deduped = api.dedup_stream(
        stream, ("event_id",), ts_col="ts", within_watermark="2 hours"
    )
    table = lake.ManifestTable(scratch_dir(prefix="sbp_dedupwm_out_"))
    api.append_stream(
        deduped, table, checkpoint_dir=scratch_dir(prefix="sbp_ck_dedupwm_")
    ).awaitTermination()
    return table.read(spark).groupBy("event_type").agg(
        F.count("*").alias("n_events")
    )


@register(
    cache_plan=False,
    name="stream_sink_parquet",
    oracle="""
    SELECT event_type, count(*) AS n_rows,
           CAST(SUM(CAST(round(value * 1000000.0, 0) AS HUGEINT)) AS DOUBLE) / 1000000.0 AS sum_value
    FROM events GROUP BY event_type
    """,
)
def stream_sink_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R5 streaming persist to a partitioned lake layout: the events stream
    lands via the native parquet sink partitioned by event_type (exactly-
    once per file through the checkpoint's file-manifest commit protocol),
    then the read-back aggregates per partition. This is the streaming
    twin of sink_parquet_part — at scale the same writeStream runs
    continuously and downstream batch readers see only committed files,
    with partition pruning on event_type."""
    spark = _streaming_session(spark)
    stream = _events_stream(spark, _events_dir(spark, sf_dir))
    out_dir = scratch_dir(prefix="sbp_ssink_out_")
    ck = scratch_dir(prefix="sbp_ck_ssink_")
    q = (
        stream.select("event_id", "ts", "event_type", "value")
        .writeStream.format("parquet")
        .partitionBy("event_type")
        .option("path", out_dir)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    back = spark.read.parquet(out_dir)
    factor = F.lit(1000000.0)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n_rows"),
        (
            F.sum(F.round(F.col("value") * factor, 0).cast("decimal(38,0)")).cast("double")
            / factor
        ).alias("sum_value"),
    )


@register(
    cache_plan=False,
    name="stream_join_outer",
    oracle="""
    SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON c.user_id = p.user_id
     AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
    """,
)
def stream_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked LEFT OUTER stream⋈stream join: purchases with their
    same-user clicks in the preceding hour, *including* purchases with no
    such click — the null-extended rows a funnel/attribution pipeline
    needs. Matches emit as they are found; an unmatched purchase can only
    emit once the global watermark proves no matching click can still
    arrive, so the state-eviction machinery — not the join condition — is
    what this op exercises. The replay appends a far-future
    watermark-advancer file (impossible user_ids: its click joins
    nothing, its purchase stays in state, never past its own watermark)
    and re-runs on the shared checkpoint until the sink stops growing —
    outer emission frequently needs one batch beyond the watermark
    commit, which a single availableNow run does not deliver. Every run
    appends to one lake table through api.append_stream, exactly-once
    per batch."""
    from dicebox_sensorybatchprocessor_spark import api, lake

    spark = _streaming_session(spark)
    # base layout == the shared single-file events stage; the advancer is
    # a constant two-row file — both cache, each run links its own
    # mutable replay dir (r16, see _stage_linked)
    staged = _stage_linked(_events_dir(spark, sf_dir), "ssoj")
    future_ns = 1735689600 * 1_000_000_000  # 2025-01-01, ~11 months past fixture end
    advancer = spark.createDataFrame(
        [(-10, future_ns, -1, "click", 0.0, "{}"), (-11, future_ns, -2, "purchase", 0.0, "{}")],
        schema=_EVENTS_RAW_SCHEMA,
    )
    adv_dir = _stage_files(spark, [advancer], "ssoj_adv", cache_key=sf_dir)
    ck = scratch_dir(prefix="sbp_ck_ssoj_")
    table = lake.ManifestTable(scratch_dir(prefix="sbp_ssoj_out_"))

    def run_once() -> None:
        src = _events_stream(spark, staged)
        p = (
            src.filter(F.col("event_type") == "purchase")
            .select(
                F.col("event_id").alias("purchase_id"),
                F.col("user_id"),
                F.col("ts").alias("p_ts"),
            )
            .withWatermark("p_ts", "1 hour")
        )
        c = (
            src.filter(F.col("event_type") == "click")
            .select(
                F.col("event_id").alias("click_id"),
                F.col("user_id").alias("c_user_id"),
                F.col("ts").alias("c_ts"),
            )
            .withWatermark("c_ts", "1 hour")
        )
        joined = p.join(
            c,
            (F.col("user_id") == F.col("c_user_id"))
            & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
            & (F.col("c_ts") <= F.col("p_ts")),
            "left_outer",
        ).select("purchase_id", "click_id", "user_id")
        api.append_stream(joined, table, checkpoint_dir=ck).awaitTermination()

    run_once()  # drains the data; outer rows still held back by the watermark
    _link_or_copy(
        os.path.join(adv_dir, "part-000.parquet"),
        os.path.join(staged, "part-100.parquet"),
    )
    # Re-run on the shared checkpoint until the sink stops growing: the
    # advancer batch commits the far-future watermark, the next batch
    # evicts state and emits the null-extended rows. Bounded retries keep
    # this deterministic without relying on per-build batch scheduling.
    prev = -1
    for _ in range(4):
        run_once()
        n = table.read(spark).count()
        if n == prev:
            break
        prev = n
    return table.read(spark).filter(F.col("purchase_id") >= 0)


@register(
    cache_plan=False,
    name="stream_session_dynamic",
    oracle="""
    WITH g AS (
      SELECT user_id, ts,
             epoch_us(ts) + CASE WHEN event_type = 'purchase'
                                 THEN 3600000000 ELSE 1800000000 END AS end_us
      FROM events
    ), flagged AS (
      SELECT user_id, ts, end_us,
             CASE WHEN epoch_us(ts) > max(end_us) OVER (
                    PARTITION BY user_id ORDER BY ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS new_session
      FROM g
    ), numbered AS (
      SELECT user_id, ts, end_us,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged
    )
    SELECT user_id,
           min(ts) AS session_start,
           make_timestamp(max(end_us)) AS session_end,
           count(*) AS n_events
    FROM numbered GROUP BY user_id, session_id
    """,
)
def stream_session_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic-gap session windows: purchases hold a session open for
    60 minutes, everything else 30 — session_window with a per-row gap
    expression, the form engagement analytics actually needs (heavier
    events imply longer attention). Each event spans [ts, ts+gap);
    overlapping spans merge; the session end is the max event end. The
    oracle is the interval-union sessionization: break when ts exceeds
    the running max end of all prior events (a plain lag is wrong here —
    a long-gap event can bridge over a later short-gap event's break
    point, which is exactly what distinguishes dynamic from fixed-gap
    semantics)."""
    spark = _streaming_session(spark, one_shot=True)
    stream = _events_stream(spark, _events_dir(spark, sf_dir))
    gap = F.when(F.col("event_type") == "purchase", F.lit("60 minutes")).otherwise(
        F.lit("30 minutes")
    )
    agg = stream.groupBy(F.session_window("ts", gap), F.col("user_id")).agg(
        F.count("*").alias("n_events")
    )
    out = _run_to_table(spark, agg, "session_dyn", "complete")
    return out.select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        F.col("session_window.end").alias("session_end"),
        "n_events",
    )


@register(
    cache_plan=False,
    name="stream_upsert_merge",
    oracle="""
    WITH versions AS (
      SELECT user_id, event_id % 3 AS version,
             count(*) AS n_events,
             CAST(SUM(CAST(round(value * 1000000.0, 0) AS HUGEINT)) AS DOUBLE) / 1000000.0
               AS sum_value
      FROM events GROUP BY user_id, event_id % 3
    )
    SELECT user_id, n_events, sum_value
    FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY version DESC) AS rn
          FROM versions) t
    WHERE rn = 1
    """,
)
def stream_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming UPSERT sink (foreachBatch merge): each micro-batch holds a
    new VERSION of per-user aggregates (batches = event_id%3 slices with
    ordered mtimes ⇒ deterministic batch↔version mapping); the sink
    merges by key — later versions overwrite earlier ones, unseen keys
    survive — through the manifest-commit protocol (lake.merge_upsert,
    VERDICT r7 #2): each batch stages immutable data files and atomically
    publishes the merged snapshot as the next table version, so a reader
    concurrent with the sink resolves a complete snapshot (never a torn
    directory) and a sink crash mid-batch leaves the previous version
    readable with the checkpoint replaying the batch to convergence.
    This is the CDC-sink / Delta-MERGE pattern: at scale the store is
    partitioned by key-hash and only partitions containing changed keys
    rewrite. The final table must equal keep-latest-version-per-user,
    which the oracle computes from raw events. Thin wrapper over
    api.upsert_stream (r8)."""
    from dicebox_sensorybatchprocessor_spark import api, lake

    spark = _streaming_session(spark)
    raw = _events_raw(spark, sf_dir)
    parts = [raw.filter(F.col("event_id") % 3 == i) for i in range(3)]
    staged = _stage_files(spark, parts, "upsert3", cache_key=sf_dir)
    table = lake.ManifestTable(scratch_dir(prefix="sbp_upsert_store_"))

    def to_user_agg(batch_df: DataFrame) -> DataFrame:
        return batch_df.groupBy("user_id").agg(
            F.count("*").alias("n_events"),
            fixed_point_sum(F.col("value"), 6).alias("sum_value"),
        )

    stream = _events_stream(spark, staged, max_files=1)
    q = api.upsert_stream(
        stream,
        table,
        ("user_id",),
        transform=to_user_agg,
        checkpoint_dir=scratch_dir(prefix="sbp_ck_upsert_"),
    )
    q.awaitTermination()
    return table.read(spark)


@register(
    cache_plan=False,
    name="stream_update_mode",
    oracle="""
    SELECT event_type, count(*) AS n_events FROM events GROUP BY event_type
    """,
)
def stream_update_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The third output mode: UPDATE emits only the state rows changed by
    each micro-batch (append can't emit running aggregates; complete
    re-emits everything — at 100 TB of keys, update is the only mode
    whose sink traffic is proportional to the delta). Three
    maxFilesPerTrigger=1 batches over event_id%3 slices; every batch
    touches all 5 event types, so the sink sees 3 versions per type and
    the LAST version per type must equal the full-table counts — which is
    also what distinguishes update (overwrites keyed rows downstream)
    from append (immutable rows) at the consumer. The consumer is
    api.upsert_stream keyed by event_type, so the table holds the latest
    row per type."""
    from dicebox_sensorybatchprocessor_spark import api, lake

    spark = _streaming_session(spark)
    raw = _events_raw(spark, sf_dir)
    parts = [raw.filter(F.col("event_id") % 3 == i) for i in range(3)]
    staged = _stage_files(spark, parts, "updmode", cache_key=sf_dir)
    stream = _events_stream(spark, staged, max_files=1)
    agg = stream.groupBy("event_type").agg(F.count("*").alias("n_events"))
    table = lake.ManifestTable(scratch_dir(prefix="sbp_upd_out_"))
    api.upsert_stream(
        agg, table, ("event_type",), checkpoint_dir=scratch_dir(prefix="sbp_ck_upd_")
    ).awaitTermination()
    return table.read(spark).select("event_type", "n_events")


_LAKEMV_SUM = (
    "CAST(SUM(CAST(round(value * 1000000.0, 0) AS HUGEINT)) AS DOUBLE)"
    " / 1000000.0"
)


@register(
    cache_plan=False,
    name="stream_lake_mv",
    oracle=f"""
    SELECT event_type, count(*) AS n_events,
           {_LAKEMV_SUM} AS sum_value,
           ({_LAKEMV_SUM}) / CAST(count(*) AS DOUBLE) AS avg_value,
           min(value) AS min_value, max(value) AS max_value,
           TRUE AS append_only, TRUE AS mv_stepped, TRUE AS exactly_once
    FROM events GROUP BY event_type
    """,
)
def stream_lake_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming rollup, end-to-end through the lake: an immutable
    fact stream (events in three maxFilesPerTrigger=1 micro-batches)
    lands via the blind-APPEND sink (api.append_stream — one atomic
    lake commit per batch, O(batch), exactly-once via manifest txn
    records keyed by batch id), and an incremental materialized view
    over the table refreshes after EVERY commit, reading only that
    commit's files. Per-trigger cost is proportional to the trigger on
    both legs — the shape a resident 100 TB ingest needs, where neither
    the table nor the rollup can be recomputed per batch. Claim columns
    the oracle checks as values: append_only (each base version's files
    are a superset of the previous — appends never rewrite),
    mv_stepped (the view committed a refresh per batch and its
    watermark reached the base head — maintained, not recomputed at the
    end), exactly_once (the manifest holds the last batch's txn id).
    The view's content must equal the from-scratch GROUP BY over all
    events, which the oracle computes directly."""
    from dicebox_sensorybatchprocessor_spark import api, lake
    from dicebox_sensorybatchprocessor_spark.mv import MaterializedAgg

    spark = _streaming_session(spark)
    raw = _events_raw(spark, sf_dir)
    parts = [raw.filter(F.col("event_id") % 3 == i) for i in range(3)]
    staged = _stage_files(spark, parts, "lakemv", cache_key=sf_dir)
    table = lake.ManifestTable(scratch_dir(prefix="sbp_lakemv_store_"))
    view = MaterializedAgg(
        table,
        scratch_dir(prefix="sbp_lakemv_state_"),
        ("event_type",),
        {
            "n_events": ("count", "*"),
            "sum_value": ("sum", "value"),
            "avg_value": ("avg", "value"),
            "min_value": ("min", "value"),
            "max_value": ("max", "value"),
        },
    )
    stream = _events_stream(spark, staged, max_files=1)
    q = api.append_stream(
        stream,
        table,
        checkpoint_dir=scratch_dir(prefix="sbp_ck_lakemv_"),
        txn_app_id="stream_lake_mv",
        refresh_views=(view,),
        n_files=1,
    )
    q.awaitTermination()

    v_base = table.latest_version()
    append_only = v_base == 3 and all(
        set(table.snapshot(v - 1)["files"]) < set(table.snapshot(v)["files"])
        for v in range(2, v_base + 1)
    )
    mv_stepped = (
        view.refreshed_version() == v_base
        and view.table.latest_version() >= v_base
    )
    exactly_once = table.txn_version("stream_lake_mv") == 2
    return view.read(spark).select(
        "event_type",
        "n_events",
        "sum_value",
        "avg_value",
        "min_value",
        "max_value",
        F.lit(append_only).alias("append_only"),
        F.lit(mv_stepped).alias("mv_stepped"),
        F.lit(exactly_once).alias("exactly_once"),
    )


@register(
    cache_plan=False,
    name="stream_lake_cdc",
    oracle="""
    SELECT event_type, count(*) AS n_events,
           CAST(SUM(CAST(round(value * 1000000.0, 0) AS HUGEINT)) AS DOUBLE)
             / 1000000.0 AS sum_value,
           TRUE AS exactly_once
    FROM events e
    WHERE e.event_id % 5 <> 0
      AND NOT EXISTS (
        SELECT 1 FROM events d
        WHERE d.event_id = e.event_id + 1
          AND d.event_id % 11 = 0 AND d.event_id % 3 >= 1
      )
    GROUP BY event_type
    """,
)
def stream_lake_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC consumption end-to-end (api.cdc_stream — the
    Debezium-topic → lake-table path): three micro-batches of a derived
    change feed land as three atomic net-effect commits. The feed
    exercises the two orderings that break naive consumers: keys whose
    IN-BATCH history is insert@1 → delete@2 (net-effect collapse must
    drop them — event_id % 5 = 0), and CROSS-BATCH deletes where a
    later batch retracts a key an earlier commit inserted (batch i
    deletes key e-1 for its events with e % 11 = 0 — strictly
    backward-pointing so arrival order is deterministic). Deletes route
    to buckets exactly like upserts, so each commit rewrites only
    touched buckets; the exactly_once claim pins the manifest txn
    record of the last batch id. The final table must equal the
    oracle's closed-form filter over raw events."""
    from dicebox_sensorybatchprocessor_spark import api, lake

    spark = _streaming_session(spark)
    raw = _events_raw(spark, sf_dir).select(
        "event_id", "event_type", "value"
    )
    nul_s, nul_d = F.lit(None).cast("string"), F.lit(None).cast("double")

    def feed_slice(i: int) -> DataFrame:
        sl = raw.filter(F.col("event_id") % 3 == i)
        ins = sl.select(
            "event_id", "event_type", "value",
            F.lit("insert").alias("op"), F.lit(1).alias("seq"),
        )
        inbatch_del = sl.filter(F.col("event_id") % 5 == 0).select(
            "event_id", nul_s.alias("event_type"), nul_d.alias("value"),
            F.lit("delete").alias("op"), F.lit(2).alias("seq"),
        )
        crossbatch_del = (
            sl.filter((F.col("event_id") % 11 == 0) & (F.lit(i) >= 1))
            .select(
                (F.col("event_id") - 1).alias("event_id"),
                nul_s.alias("event_type"), nul_d.alias("value"),
                F.lit("delete").alias("op"), F.lit(2).alias("seq"),
            )
        )
        return ins.unionByName(inbatch_del).unionByName(crossbatch_del)

    staged = _stage_files(
        spark, [feed_slice(i) for i in range(3)], "lakecdc", cache_key=sf_dir
    )
    feed_schema = "event_id BIGINT, event_type STRING, value DOUBLE, op STRING, seq INT"
    stream = (
        spark.readStream.schema(feed_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
    )
    table = lake.ManifestTable(scratch_dir(prefix="sbp_lakecdc_store_"))
    lake.merge_upsert(  # schema-bearing empty v1 so batch 1 can route buckets
        table,
        raw.limit(0),
        ("event_id",),
        n_buckets=8,
    )
    q = api.cdc_stream(
        stream,
        table,
        ("event_id",),
        op_col="op",
        seq_col="seq",
        checkpoint_dir=scratch_dir(prefix="sbp_ck_lakecdc_"),
        txn_app_id="stream_lake_cdc",
    )
    q.awaitTermination()
    exactly_once = table.txn_version("stream_lake_cdc") == 2
    return table.read(spark).groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        fixed_point_sum(F.col("value"), 6).alias("sum_value"),
        F.lit(exactly_once).alias("exactly_once"),
    )


_EMBEDDINGS_SCHEMA = "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"


@register(
    "stream_ann_ingest",
    oracle="""
    WITH q AS (SELECT embedding AS qe, vec_id AS qid FROM embeddings ORDER BY vec_id LIMIT 1)
    SELECT e.vec_id, e.label,
           round(list_cosine_similarity(e.embedding::DOUBLE[], q.qe::DOUBLE[]), 6) AS cosine,
           TRUE AS stream_ingest_identical,
           TRUE AS exactly_once
    FROM embeddings e, q
    WHERE e.vec_id <> q.qid
    ORDER BY cosine DESC, e.vec_id ASC
    LIMIT 5
    """,
    cache_plan=False,
)
def stream_ann_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ANN ingest end-to-end (r11) — the composition a live
    embedding pipeline actually runs: a STANDING corpus (70% of the
    vectors) trains the IVF-PQ quantizers and is indexed once; the rest
    ARRIVES as three file-source micro-batches, each encoded against
    the FROZEN quantizers inside the stream (api.ivfpq_encode — dense
    numpy argmins per Arrow batch, map-only) and blind-appended to a
    lake table in one atomic manifest commit per batch
    (api.append_stream; exactly-once via the (app_id, batch_id) txn
    record, claimed below). No retraining inside the stream, so the
    streamed codes are comparable with the standing index by
    construction.

    The checked guarantee makes the whole composition falsifiable:
    probing standing ∪ streamed codes returns EXACTLY what probing a
    one-shot batch rebuild over the full corpus (same quantizers)
    returns — streaming ingest ≡ batch rebuild, surfaced as
    ``stream_ingest_identical`` on the in-engine exact top-5 rows the
    DuckDB oracle recomputes value-for-value. At 100 TB the sink's
    per-trigger cost is O(batch) encode + one manifest commit; the
    standing index never rewrites."""
    from dicebox_sensorybatchprocessor_spark import api, lake

    spark = _streaming_session(spark)
    e = load(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    qrow = e.orderBy("vec_id").select("vec_id", "embedding").first()
    qvec = [float(x) for x in qrow["embedding"]]
    corpus = e.filter(F.col("vec_id") != qrow["vec_id"])
    standing = corpus.filter(F.pmod(F.col("vec_id"), F.lit(10)) < 7)
    arriving = corpus.filter(F.pmod(F.col("vec_id"), F.lit(10)) >= 7)
    n_std = standing.count()

    std_codes, centers, books = api.ivfpq_index(
        standing, vec_col="embedding", n_cells=16, n_segments=16, n_codes=32,
        seed=42, train_rows=2048, corpus_n=n_std,
    )
    std_codes = std_codes.select("vec_id", "cell", "codes")

    parts = [
        arriving.filter(F.pmod(F.col("vec_id"), F.lit(3)) == i) for i in range(3)
    ]
    staged = _stage_files(spark, parts, "annstream", cache_key=sf_dir)
    stream = spark.readStream.schema(_EMBEDDINGS_SCHEMA).option(
        "maxFilesPerTrigger", 1
    ).parquet(staged)

    table = lake.ManifestTable(scratch_dir(prefix="sbp_ann_ingest_"))
    q = api.append_stream(
        stream,
        table,
        transform=lambda b: api.ivfpq_encode(
            b, centers, books, vec_col="embedding", id_cols=("vec_id",)
        ),
        checkpoint_dir=scratch_dir(prefix="sbp_ck_annstream_"),
        n_files=1,
        txn_app_id="stream_ann_ingest",
    )
    q.awaitTermination()
    exactly_once = table.txn_version("stream_ann_ingest") == 2  # batches 0..2

    shortlist = max(100, int(corpus.count() * 0.05))

    def probe(codes_df) -> set:
        rows = api.ivfpq_search(
            corpus, codes_df, centers, books, qvec, k=5, nprobe=10,
            shortlist=shortlist,
        ).collect()
        return {(r["vec_id"], r["cosine"]) for r in rows}

    ingested = std_codes.unionByName(
        table.read(spark).select("vec_id", "cell", "codes")
    )
    rebuilt = api.ivfpq_encode(
        corpus, centers, books, vec_col="embedding", id_cols=("vec_id",)
    ).select("vec_id", "cell", "codes")
    identical = probe(ingested) == probe(rebuilt)

    exact = api.knn_query(
        corpus, qvec, id_col="vec_id", vec_col="embedding", k=5,
        extra_cols=("label",),
    )
    return exact.withColumn("stream_ingest_identical", F.lit(identical)).withColumn(
        "exactly_once", F.lit(exactly_once)
    )


# --- banked in r12 (window budget), registered r13 ---------------------

_SUBSTR_STREAM_ORACLE = """
    WITH base AS (
      SELECT doc_id, doc_id % 3 AS b, string_split(text, ' ') AS t,
             len(string_split(text, ' ')) AS n
      FROM documents WHERE text IS NOT NULL
    ),
    sh AS (
      SELECT bb.doc_id, bb.b, g.k AS p,
             md5(array_to_string(bb.t[g.k + 1 : g.k + 8], ' ')) AS h
      FROM base bb, generate_series(0, 4096) g(k)
      WHERE bb.n >= 8 AND g.k <= bb.n - 8
    ),
    cum AS (
      SELECT h, b, sum(count(*)) OVER (PARTITION BY h ORDER BY b) AS cc
      FROM sh GROUP BY h, b
    ),
    dup AS (
      SELECT s.doc_id, s.p
      FROM sh s JOIN cum c ON c.h = s.h AND c.b = s.b
      WHERE c.cc >= 2
    ),
    isl AS (
      SELECT doc_id, p,
             sum(CASE WHEN prev IS NULL OR p > prev + 8 THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY p
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
      FROM (SELECT doc_id, p,
                   lag(p) OVER (PARTITION BY doc_id ORDER BY p) AS prev
            FROM dup)
    ),
    spans AS (
      SELECT doc_id, g, min(p) AS s, max(p) + 7 AS e
      FROM isl GROUP BY doc_id, g
    ),
    per_doc AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS dup_spans,
             CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens
      FROM spans GROUP BY doc_id
    )
    SELECT b.doc_id,
           CAST(b.n AS BIGINT) AS n_tokens,
           CAST(coalesce(p.dup_spans, 0) AS BIGINT) AS dup_spans,
           CAST(coalesce(p.dup_tokens, 0) AS BIGINT) AS dup_tokens,
           floor((coalesce(p.dup_tokens, 0) * 1.0 / b.n) * 1000000.0 + 0.5)
             / 1000000.0 AS dup_ratio,
           coalesce(p.dup_tokens, 0) * 1000000 <= b.n * 500000 AS keep
    FROM base b LEFT JOIN per_doc p ON p.doc_id = b.doc_id
    """


@register(
    "stream_substring_dedup", oracle=_SUBSTR_STREAM_ORACLE, cache_plan=False
)
def stream_substring_dedup_banked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming substring-span dedup end-to-end (banked in r12,
    registered r13): the documents corpus ARRIVES as three file-source
    micro-batches (doc_id % 3 — a deterministic split the oracle can
    reproduce), each flagged in O(batch) against the persisted
    shingle-count state (api.substring_dedup_stream: results append +
    state merge, both exactly-once manifest commits), and the returned
    rows are the accumulated results table.

    The oracle is FULLY value-checked, not a rows-only claim: a
    cumulative per-(shingle, batch) count window reproduces the
    incremental semantics in pure SQL — a shingle in a batch-b document
    is duplicated iff its count over batches ≤ b reaches 2 — so every
    per-document span statistic the stream emits is recomputed
    engine-independently, including the asymmetry that an early copy
    stays clean while its later twin is flagged (the defining
    difference from the batch dedup_substring oracle)."""
    from dicebox_sensorybatchprocessor_spark import api, lake

    spark = _streaming_session(spark)
    d = load(spark, sf_dir, "documents").select("doc_id", "text").filter(
        F.col("text").isNotNull()
    )
    parts = [d.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    staged = _stage_files(spark, parts, "substrdedup", cache_key=sf_dir)
    stream = spark.readStream.schema("doc_id BIGINT, text STRING").option(
        "maxFilesPerTrigger", 1
    ).parquet(staged)
    res_t = lake.ManifestTable(scratch_dir(prefix="sbp_substr_res_"))
    state_t = lake.ManifestTable(scratch_dir(prefix="sbp_substr_state_"))
    q = api.substring_dedup_stream(
        stream,
        res_t,
        state_t,
        checkpoint_dir=scratch_dir(prefix="sbp_ck_substrdedup_"),
        txn_app_id="stream_substring_dedup",
    )
    q.awaitTermination()
    return res_t.read(spark)
