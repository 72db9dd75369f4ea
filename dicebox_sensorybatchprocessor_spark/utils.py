"""Shared expression helpers.

The driver's correctness gate hash-compares values against DuckDB, so any
aggregate whose floating-point result depends on accumulation order is a
mismatch hazard (SURVEY.md §5.2 discipline). Money/measure columns in the
fixtures carry ≤2 fixed decimals (FIXTURES.md), so sums over them are
computed in fixed-point: scale to integer units per row (exact — each
row value is within ~1e-10 of an integer after scaling), sum the units
exactly, and descale to double once. The oracle SQL mirrors the identical
computation with HUGEINT, so both engines produce bit-identical doubles
regardless of partial-aggregation order.

A single ``sum(decimal(38,0))`` would be the obvious exact accumulator,
but Spark's >18-digit decimal aggregation leaves the long-backed
fast path (measured 7× slower on TPC-H Q1 at sf0.1). Instead each row's
integer units are split hi/lo around 2**20 and summed as two plain
``bigint`` aggregates — full whole-stage codegen — then recombined in
decimal once per *group*. Overflow headroom: per-row units ≲ 1e11
(charge at 6 decimals), so ``sum(hi)`` ≲ 1e5·n and ``sum(lo)`` < 2**20·n
stay inside int64 up to n ≈ 8e12 rows — beyond the 100 TB design point.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_CHUNK = 2**20  # hi/lo split base for exact long-only summation

_SCRATCH_DIRS: list[str] = []
_SCRATCH_CACHE: dict[tuple[str, str], tuple[str, bool]] = {}


# tmpfs is typically capped at 50% of RAM and competes with executor
# memory; below this free headroom NEW scratch dirs route to disk instead
# (checked per mkdtemp, so a large staged write mid-run flips subsequent
# dirs to disk rather than exhausting the mount). ADVICE r5.
_SHM_MIN_FREE_BYTES = int(
    os.environ.get("SBP_SCRATCH_SHM_MIN_FREE", 8 * (1 << 30))
)


def _scratch_base() -> str | None:
    """Base directory for scratch dirs. Default: a tmpfs mount when one is
    writable (/dev/shm on Linux) AND has at least _SHM_MIN_FREE_BYTES free
    (os.statvfs, re-checked on every call) — every scratch consumer here is
    ephemeral test state (streaming checkpoints/WALs, staged replay inputs,
    sink read-back dirs) that is reaped at process exit, and putting it on
    disk just charges fsync latency to every state-store commit (measured
    ~10% of stream_tumbling's micro-batch at sf0.1). Production checkpoints
    go to durable shared storage, which is a deployment setting, not this
    harness's concern. Override with SBP_SCRATCH_BASE=<dir> (set it to
    /tmp to force disk); None falls back to tempfile's default."""
    env = os.environ.get("SBP_SCRATCH_BASE")
    if env:
        return env
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        try:
            st = os.statvfs("/dev/shm")
            if st.f_bavail * st.f_frsize >= _SHM_MIN_FREE_BYTES:
                return "/dev/shm"
        except OSError:
            pass
    return None


def scratch_dir(prefix: str) -> str:
    """``mkdtemp`` that is removed at process exit (ADVICE r3: one bench +
    correctness process runs each disk-materializing op several times, so
    un-reaped scratch dirs accumulate full table copies under /tmp).
    Input staging written once per (prefix, key) goes through
    :func:`scratch_stage` instead."""
    return scratch_dir_cached(prefix)[0]


def scratch_dir_cached(prefix: str, cache_key: str | None = None) -> tuple[str, bool]:
    """A fresh :func:`scratch_dir`, or with ``cache_key`` the dir an
    earlier call made for (prefix, key): returns ``(path, fresh)``, and
    ``fresh`` False means an earlier call already staged it. Staging
    code calls :func:`scratch_stage`, which un-caches a half-written
    dir."""
    if cache_key is not None and (prefix, cache_key) in _SCRATCH_CACHE:
        path, _ = _SCRATCH_CACHE[(prefix, cache_key)]
        return path, False
    path = tempfile.mkdtemp(prefix=prefix, dir=_scratch_base())
    _SCRATCH_DIRS.append(path)
    if cache_key is not None:
        _SCRATCH_CACHE[(prefix, cache_key)] = (path, True)
    return path, True


@contextmanager
def scratch_stage(prefix: str, cache_key: str):
    """Crash-safe fixture staging over :func:`scratch_dir_cached`: yields
    ``(path, fresh)``; if the caller's staging body raises part-way, the
    cache entry is EVICTED and the half-written directory removed, so
    the next call re-stages from scratch instead of silently reusing an
    incomplete dir as complete (ADVICE r13 #4 — a mid-loop failure must
    not publish a short fixture that underfills every later read).

    Eviction only applies while ``fresh`` is True: when the dir came out
    of the cache it was completed by an earlier call, and a failure in
    the caller's post-staging work (a read, a downstream plan) must not
    destroy the known-good fixture (ADVICE r14 — previously ANY
    exception inside the block rmtree'd the cached dir too)."""
    path, fresh = scratch_dir_cached(prefix, cache_key)
    try:
        yield path, fresh
    except BaseException:
        if fresh:
            _SCRATCH_CACHE.pop((prefix, cache_key), None)
            shutil.rmtree(path, ignore_errors=True)
        raise


@atexit.register
def _cleanup_scratch() -> None:
    for d in _SCRATCH_DIRS:
        shutil.rmtree(d, ignore_errors=True)


def fixed_point_sum(col: Column, decimals: int) -> Column:
    """Order-insensitive exact sum of a fixed-decimal double column."""
    factor = float(10**decimals)
    units = F.round(col * F.lit(factor), 0).cast("long")
    if decimals <= 2:
        # ≤2-decimal measures (quantities, prices ≲ 1e6) keep per-row units
        # under ~1e8, so a single int64 sum is exact up to ~9e10 rows per
        # group — beyond the 100 TB design point for any one group.
        return F.sum(units).cast("double") / F.lit(factor)
    lo = F.pmod(units, F.lit(_CHUNK))  # in [0, CHUNK) for any sign
    hi = ((units - lo) / F.lit(_CHUNK)).cast("long")  # exact: |hi| < 2**53
    total = (
        F.sum(hi).cast("decimal(38,0)") * F.lit(_CHUNK)
        + F.sum(lo).cast("decimal(38,0)")
    )
    return total.cast("double") / F.lit(factor)


def fixed_point_sum_sql(expr: str, decimals: int) -> str:
    """DuckDB SQL mirroring :func:`fixed_point_sum` bit-for-bit."""
    factor = float(10**decimals)
    return f"CAST(SUM(CAST(round(({expr}) * {factor}, 0) AS HUGEINT)) AS DOUBLE) / {factor}"


def fixed_point_sum_sql_spark(expr: str, decimals: int) -> str:
    """Spark SQL string form of :func:`fixed_point_sum` (same single-long
    and hi/lo long decompositions), the one builder every spark.sql-surface
    query splices in to hash-match the DuckDB HUGEINT oracle. ``expr`` may
    be any SQL expression, including a CASE WHEN for filtered sums. The
    factor is a double literal, as in the Column form: a bare
    ``10000.0`` is a DECIMAL in Spark SQL."""
    factor = f"{float(10**decimals)}D"
    units = f"CAST(round(({expr}) * {factor}, 0) AS BIGINT)"
    if decimals <= 2:
        return f"CAST(SUM({units}) AS DOUBLE) / {factor}"
    lo = f"pmod({units}, {_CHUNK})"
    return (
        f"CAST(CAST(SUM(CAST(({units} - {lo}) / CAST({_CHUNK} AS DOUBLE) AS BIGINT))"
        f" AS DECIMAL(38,0)) * {_CHUNK}"
        f" + CAST(SUM({lo}) AS DECIMAL(38,0)) AS DOUBLE) / {factor}"
    )


def ts_ntz(literal: str) -> Column:
    """TIMESTAMP_NTZ literal — fixture timestamps are naive (FIXTURES.md)."""
    return F.expr(f"TIMESTAMP_NTZ '{literal}'")


def stable_round(col: Column, decimals: int = 6) -> Column:
    """Cross-engine-stable display rounding: floor(x·10^d + 0.5)/10^d.

    ``round(x, d)`` is a hash hazard when x·10^d lands exactly on .5 in
    binary: Spark rounds HALF_UP (away from zero), DuckDB uses C rint
    (half-to-even). The floor form computes identical IEEE operations on
    both engines, so the hashed doubles are bit-identical. Pair with
    :func:`stable_round_sql` on the oracle side.
    """
    s = float(10**decimals)
    return F.floor(col * F.lit(s) + F.lit(0.5)) / F.lit(s)


def stable_round_sql(expr: str, decimals: int = 6) -> str:
    """DuckDB SQL mirroring :func:`stable_round` bit-for-bit."""
    s = float(10**decimals)
    return f"floor(({expr}) * {s} + 0.5) / {s}"


def md5_prefix_int(col: Column, salt: str | None = None) -> Column:
    """The portable 60-bit uniform hash used across the engine: BIGINT
    from the first 15 hex chars of md5 — Spark
    ``conv(substring(md5(x),1,15),16,10)`` ≡ DuckDB
    ``('0x' || substr(md5(x),1,15))::BIGINT``, bit-identical by
    construction, which is what makes every hash-keyed sampler/dedup
    value-checkable cross-engine. ``salt`` prepends ``"<salt>|"``.
    (Several pre-r12 call sites inline the same expression next to
    their hand-written SQL twins; new code should use this helper.)"""
    if salt is not None:
        col = F.concat(F.lit(f"{salt}|"), col)
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def fan_out_scan(df: DataFrame) -> DataFrame:
    """Honest parallelism for CPU-dense scan pipelines (r15, guide §2.5
    "input skew: repartition immediately after the read").

    A fixture-scale compressed parquet (documents.parquet at sf0.1 is
    0.6 MB) lands in ONE file split under the 128 MB default
    ``spark.sql.files.maxPartitionBytes``, which pins every downstream
    explode → md5 expression stage to a single core while the other 31
    idle — measured 9.6 s → 0.7 s on the banded-MinHash signature
    subtree at sf0.1. When the scan's natural split count is below the
    session's core count, round-robin repartition to
    ``defaultParallelism``: the exchange moves only the corpus text
    (trivial next to the expression work it spreads), and the width
    adapts to however many cores the driver gives the bench instead of
    hard-coding either the local or the cluster shape. On a real
    cluster corpus the scan has orders of magnitude more splits than
    cores, so the guard makes this a provable no-op there.
    """
    sc = df.sparkSession.sparkContext
    n = sc.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df


# ---------------------------------------------------------------------------
# Parquet footer metadata probes (r16, VERDICT r15 #3).
#
# The budget-gated operators (sim_cosine_topk's dense index, the embedding
# all-pairs family, text_containment) used to issue a count() plus a
# first() at plan-build time just to pick a route — at 100 TB that is one
# or two full-table Spark jobs before the first real action. Parquet
# footers already carry exact row counts and per-column uncompressed page
# sizes, and reading them is a driver-side metadata read (pyarrow ships
# with PySpark), so the route decision now costs zero Spark jobs.

_PARQUET_META_CACHE: dict[tuple, tuple[int, dict[str, int]]] = {}


def _parquet_files(path: str) -> list[str]:
    if os.path.isdir(path):
        return sorted(
            os.path.join(path, f)
            for f in os.listdir(path)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        )
    return [path]


def parquet_footer_stats(path: str) -> tuple[int, dict[str, int]]:
    """(row_count, {column: total uncompressed bytes}) from the parquet
    footers of ``path`` (a file or a directory of part files). Exact row
    counts; sizes are the encoded-page uncompressed totals the writer
    recorded. No Spark job. Cached per (file, mtime, size)."""
    import pyarrow.parquet as pq

    files = _parquet_files(path)
    key = tuple(
        (f, int(os.stat(f).st_mtime_ns), os.stat(f).st_size) for f in files
    )
    hit = _PARQUET_META_CACHE.get(key)
    if hit is not None:
        return hit
    n_rows = 0
    col_bytes: dict[str, int] = {}
    for f in files:
        md = pq.ParquetFile(f).metadata
        n_rows += md.num_rows
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                c = g.column(ci)
                root = c.path_in_schema.split(".", 1)[0]
                col_bytes[root] = col_bytes.get(root, 0) + c.total_uncompressed_size
    _PARQUET_META_CACHE[key] = (n_rows, col_bytes)
    return n_rows, col_bytes


def parquet_first_value(path: str, column: str):
    """First non-null value of ``column`` in the first row group — one
    driver-side page read via pyarrow, no Spark job. None if the file
    has no rows."""
    import pyarrow.parquet as pq

    for f in _parquet_files(path):
        pf = pq.ParquetFile(f)
        for batch in pf.iter_batches(batch_size=64, columns=[column]):
            col = batch.column(0)
            for v in col:
                if v.is_valid:
                    return v.as_py()
    return None


def embedding_shape(sf_dir: str, table: str = "embeddings", col: str = "embedding") -> tuple[int, int]:
    """(n_rows, dim) of a fixture embedding relation from parquet
    metadata (footer row count + one first-row page read) — the inputs
    every _INDEX_BYTE_BUDGET route gate needs, with zero Spark jobs."""
    path = f"{sf_dir}/{table}.parquet"
    n_rows, _ = parquet_footer_stats(path)
    if n_rows == 0:
        return 0, 0
    first = parquet_first_value(path, col)
    return n_rows, (len(first) if first is not None else 0)
