"""SparkSession factory and the engine config profile (SURVEY.md §4).

The profile pins the behaviors every operator depends on:

- ``spark.sql.legacy.parquet.nanosAsLong=true`` — the fixture
  ``events.ts`` is microsecond parquet, but a nanosecond-precision one
  must load too (FIXTURES.md). Early PySpark 4.x builds
  refuse the read otherwise (PARQUET_TYPE_ILLEGAL) and deliver ns-LONG
  with it; current builds read TIMESTAMP(NANOS) natively as µs-truncated
  TIMESTAMP_NTZ and ignore this knob, so :mod:`.io` (batch) and
  :mod:`.streaming.streams` (staged streams) branch on the observed
  dtype rather than assuming either behavior.
- UTC session timezone — fixture timestamps are naive; the DuckDB
  correctness oracle compares naive microsecond values.
- AQE on — runtime shuffle-partition coalescing and skew-join splitting;
  free at test scale, load-bearing at the 100 TB design point.
- Arrow on — vectorized JVM↔Python boundary for every pandas UDF.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

_log = logging.getLogger(__name__)

# Conf keys where a failed runtime set is acceptable (perf-only, or not
# runtime-settable on some builds). Anything else failing to apply is
# correctness-bearing (nanosAsLong, timeZone) and must be loud.
_OPTIONAL_CONF_KEYS = {
    "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes",
    "spark.sql.execution.arrow.pyspark.enabled",
    "spark.sql.shuffle.partitions",
}

# Conf that is safe (and necessary) to (re)apply at runtime on a session we
# did not create — e.g. the driver-owned session passed to entry()/queries().
_RUNTIME_CONF = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Streaming stateful operators run one state store per shuffle
    # partition and AQE cannot coalesce them; the vanilla default of 200
    # costs ~6× wall-clock on the §2.8 ops at local scale (measured:
    # stream_stream_join 43 s → 7 s). Batch shuffles are AQE-coalesced
    # regardless. A cluster deployment overrides via SPARK_GRAFT_SHUFFLE_
    # PARTITIONS / --conf to ~2-3× total cores.
    "spark.sql.shuffle.partitions": os.environ.get(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"
    ),
    # AQE's parallelism-first coalescing only keeps post-shuffle
    # parallelism down to this floor; the 1 MB default collapses small
    # shuffles (a 1.4 MB window/agg result) onto ONE task while 31 cores
    # idle — measured 185 ms → 81 ms on win_topk_group at sf0.1. At the
    # 100 TB design point target sizes are governed by
    # advisoryPartitionSizeInBytes (64 MB), so a 64 KB floor only affects
    # shuffles that are tiny relative to the cluster — where keeping
    # parallelism is equally right.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64KB",
    # Same blindness one level up (r13): AQE's 64 MB advisory TARGET is
    # byte-based, so a CPU-dense reduce stage over a compact shuffle —
    # the near-dup verify aggregation hashes every candidate pair's
    # shingles but ships only ids — coalesces to a handful of tasks on
    # a 32-core box (measured: dedup_near_verified 3.6 → 2.7 s at sf0.1
    # with a 4 MB target; file-split size had no effect — the reduce
    # side was the bottleneck). At the 100 TB design point production
    # shuffle partitions dwarf any advisory so coalescing never binds;
    # deployments should instead watch the skew-join interaction (the
    # advisory is also the skew-SPLIT target — raise it back toward
    # 64 MB where skew splitting dominates: env-overridable here
    # (ADVICE r14) exactly like SPARK_GRAFT_SHUFFLE_PARTITIONS, so a
    # deployment restores 64m without forking the profile.
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": os.environ.get(
        "SPARK_GRAFT_ADVISORY_PARTITION_SIZE", "4m"
    ),
}


# Marker conf: a session that pins its own shuffle width (the streaming
# child sessions pin the state-store width) sets this to the pinned value;
# ensure_engine_conf then re-asserts THAT width instead of the batch
# default. Without it, any load()/_events_raw() call routed through the
# child re-applied the batch width mid-session — the silent cause of the
# r2→r4 stream_tumbling cost creep (state ran with 32 stores per
# micro-batch, not the pinned streaming width; VERDICT r4 #3).
PINNED_SHUFFLE_KEY = "spark.sbp.pinnedShuffleWidth"

# One-line justification per cluster_profile() key — each cites the
# in-repo measurement or ledger entry that pinned the value. Kept next
# to the function so the profile and its evidence cannot drift apart;
# README.md §"100 TB deployment profile" renders this as a table.
CLUSTER_PROFILE_RATIONALE = {
    "spark.sql.legacy.parquet.nanosAsLong": (
        "correctness-bearing: ns-precision event timestamps must not be "
        "refused/truncated differently across builds (io.py dtype branch)"
    ),
    "spark.sql.session.timeZone": (
        "correctness-bearing: naive fixture timestamps compare against "
        "naive µs oracle values; UTC everywhere or hashes diverge"
    ),
    "spark.sql.adaptive.enabled": (
        "AQE runtime coalesce + skew split; free at test scale, "
        "load-bearing at 100 TB (every stress matrix ran under it)"
    ),
    "spark.sql.adaptive.coalescePartitions.enabled": (
        "post-shuffle right-sizing from a high initial width — the "
        "profile's shuffle.partitions is deliberately oversized for it"
    ),
    "spark.sql.shuffle.partitions": (
        "3× total cores as the AQE-coalesced ceiling; streaming pins its "
        "own state-store width instead (PINNED_SHUFFLE_KEY — the r2→r4 "
        "stream_tumbling cost-creep lesson, NOTES r4)"
    ),
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": (
        "64m at cluster scale: production shuffles dwarf the advisory so "
        "coalescing never binds, and the advisory doubles as the "
        "skew-SPLIT target (4m is a LOCAL 32-core override — measured "
        "dedup_near_verified 3.6→2.7 s where a CPU-dense reduce "
        "byte-coalesced to 3 tasks; NOTES r13)"
    ),
    "spark.sql.files.maxPartitionBytes": (
        "128m ÷ scan expression fan-out: bytes-blind splits starve "
        "CPU-dense scans (md5-per-shingle behind an 8× explode read as "
        "3 tasks on 32 cores at 128m; NOTES r13 honest-parallelism fix)"
    ),
    "spark.sql.autoBroadcastJoinThreshold": (
        "64m: dimension sides here (nation/region/date dims, "
        "decontamination bench sets, ANN centroid tables) are ≤ tens of "
        "MB and every such join is plan-asserted broadcast in tests — "
        "shuffling the 100 TB fact side instead is the failure mode"
    ),
    "spark.sql.adaptive.skewJoin.enabled": (
        "skewed keys (one giant user/session) are the documented hazard "
        "in windows.py/joins.py; AQE splits them at the advisory size"
    ),
    "spark.sql.execution.arrow.pyspark.enabled": (
        "every Python seam is an Arrow-batched pandas UDF/mapInPandas; "
        "row-at-a-time transfer is the 10-100× slow path"
    ),
    "spark.sql.streaming.stateStore.providerClass": (
        "RocksDB state store: unbounded-key streaming state (dedup "
        "fingerprints, session windows) must spill off-heap; the HDFS "
        "provider OOMs at 100 TB key cardinality (streams.py:649)"
    ),
}


def cluster_profile(
    total_cores: int = 4000,
    *,
    scan_expression_fanout: int = 1,
) -> dict[str, str]:
    """The documented 100 TB cluster conf set (VERDICT r13 Next #5).

    Consolidates the per-operator scale notes scattered across module
    docstrings and NOTES.md into one deployment-ready mapping; every key
    carries its justifying measurement in :data:`CLUSTER_PROFILE_RATIONALE`
    (rendered as the README "100 TB deployment profile" table).

    ``total_cores`` sizes the initial shuffle width (AQE coalesces down
    from 3×cores). ``scan_expression_fanout`` divides the file-split
    size for CPU-dense scan pipelines — pass the explode/hash fan-out of
    the hottest curation scan (e.g. shingle width for substring dedup)
    so split sizing accounts for expression density, not just bytes
    (the r13 stress-harness lesson: 128 MB splits of a few-MB compressed
    fixture pinned a ~2×10⁹-md5 stage to 3 tasks).

    This returns the CLUSTER values: notably the 64m AQE advisory —
    the engine's always-applied local profile overrides it to 4m for
    32-core single-box runs (see ``_RUNTIME_CONF``), restorable via
    ``SPARK_GRAFT_ADVISORY_PARTITION_SIZE``.
    """
    if total_cores < 1:
        raise ValueError(f"total_cores must be >= 1, got {total_cores}")
    if scan_expression_fanout < 1:
        raise ValueError(
            f"scan_expression_fanout must be >= 1, got {scan_expression_fanout}"
        )
    # floor 4 MB: below that, per-file/task scheduling overhead dominates
    split_mb = max(128 // scan_expression_fanout, 4)
    profile = {
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.shuffle.partitions": str(3 * total_cores),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
        "spark.sql.files.maxPartitionBytes": f"{split_mb}m",
        "spark.sql.autoBroadcastJoinThreshold": "64m",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        ),
    }
    assert set(profile) == set(CLUSTER_PROFILE_RATIONALE)
    return profile


def ensure_engine_conf(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable engine profile to an existing session.

    Idempotent and cheap; every registered query runs through this so the
    engine behaves identically on driver-owned sessions.
    """
    pinned = spark.conf.get(PINNED_SHUFFLE_KEY, None)
    for key, value in _RUNTIME_CONF.items():
        if key == "spark.sql.shuffle.partitions" and pinned is not None:
            value = pinned
        try:
            spark.conf.set(key, value)
        except Exception as exc:
            if key in _OPTIONAL_CONF_KEYS:
                continue  # perf-only knob; session behavior stays correct
            # Correctness-bearing key (nanosAsLong, UTC timeZone): a silent
            # miss would mean silently divergent results, so say so.
            _log.warning(
                "engine conf %s=%s could not be applied to this session: %s",
                key,
                value,
                exc,
            )
    return spark


def _driver_memory() -> str:
    """``$SPARK_GRAFT_DRIVER_MEM`` if set, else half the host's physical
    RAM capped at 16g: a 16g heap on a 16 GiB host gets OOM-killed."""
    override = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if override:
        return override
    half_mib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**21
    return f"{min(16 * 1024, half_mib)}m"


def get_session(
    app_name: str = "dicebox-sensorybatchprocessor-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession with the full engine profile.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when the env var is
    set, else ``local[*]``. ``shuffle_partitions`` defaults to 32 — sized to
    local core count; a real cluster deployment sets it to ~2-3× total
    cores (or relies on AQE coalescing from a high initial value).
    """
    # getOrCreate() on an already-running session silently ignores builder
    # configs — don't mkdtemp a warehouse dir (leaked, unused) or pretend
    # the profile applied; just re-assert the runtime-settable conf.
    active = SparkSession.getActiveSession()
    if active is not None:
        ensure_engine_conf(active)
        if shuffle_partitions is not None:  # runtime-settable: honor the ask
            active.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
        return active

    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

    from dicebox_sensorybatchprocessor_spark.utils import scratch_dir

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", _driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.fallback.enabled", "true")
        # keep catalog metadata (bucketed-table entries) out of the repo cwd
        .config("spark.sql.warehouse.dir", scratch_dir("sbp_warehouse_"))
    )
    for key, value in _RUNTIME_CONF.items():
        builder = builder.config(key, value)
    return ensure_engine_conf(builder.getOrCreate())
