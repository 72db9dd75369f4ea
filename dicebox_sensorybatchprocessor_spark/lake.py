"""Minimal manifest-commit table protocol over plain parquet (VERDICT r7
Next #2).

``stream_upsert_merge`` and ``maintenance_compact`` previously rewrote
their stores by deleting + renaming files inside a live directory —
correct single-writer, but a reader listing the directory mid-rewrite
sees a torn table, and a crash between the delete and the rename loses
the old snapshot entirely. Real lake formats (Delta, Iceberg, Hudi)
close that seam the same way: data files are immutable and
write-once-never-overwritten; a tiny MANIFEST names the exact file set
of each table version; publishing a version is ONE atomic
create-if-absent of the next manifest; readers resolve the newest
manifest and read exactly the files it names. This module is that
protocol reduced to its load-bearing core:

    <root>/
      data/<writer-uuid>/part-*.parquet     immutable, staged by writers
      _sbp_manifests/v000000000042.json     {"version", "base", "fmt": 2, "ts",
                                             "add", "remove", ...}

* **Crash safety** — a writer that dies after staging data but before
  the manifest link leaves only invisible orphans; the previous
  snapshot stays fully readable, and re-running the job converges
  (``vacuum`` reclaims orphans).
* **Concurrency** — commits are optimistic: version N+1 publishes via
  ``os.link`` (atomic fail-if-exists on POSIX), so two writers racing
  the same base get exactly one winner; the loser sees
  :class:`CommitConflict` and retries against the new snapshot.
* **Scale seam** — the commit primitive is "put-if-absent on the
  manifest path". POSIX link and HDFS create-no-overwrite provide it
  natively; S3-class object stores do not, which is exactly why Delta
  ships a LogStore abstraction (DynamoDB mutex) and Iceberg a catalog
  with atomic swap. :class:`ManifestTable` therefore refuses non-local
  roots rather than pretending rename is atomic there; plugging an
  object-store commit service in means overriding ``_publish`` only.
* **Manifest scale (round 10)** — manifests are DELTA-encoded: each
  version's JSON names only the files its commit added/removed (plus
  the small table metadata in full), and every ``_CKPT_EVERY`` commits
  a parquet CHECKPOINT (one row per live file: path, bucket, stats)
  snapshots the full state — Delta's checkpoint + log-segment shape.
  Snapshot resolution reads the nearest checkpoint (columnar, no JSON
  parse of the file list) plus at most ``_CKPT_EVERY`` delta JSONs, so
  a million-file table resolves in O(checkpoint + recent deltas), not
  O(full file list as JSON) per version; per-file zone-map stats are
  likewise collected only for ADDED files and carried forward.
* **One format** — every manifest is format 2: ``fmt`` 2, the in-commit
  publish instant ``ts``, and the recorded byte size of every file it
  adds; every checkpoint has the ``size`` and ``blooms`` columns.
  :meth:`ManifestTable._read_manifest_json`, the one manifest parser,
  rejects anything else with a ``ValueError`` naming the version, so
  no reader keeps a fallback for an older shape. Each
  manifest also carries the table ``schema`` its live files share (read
  from the added files' Spark footer key at commit, Delta's
  ``schemaString``), and per-file Bloom filters of a bucketed commit are
  DERIVED from the filters of the files it replaces, so a commit's
  driver work scales with the batch, not the table.

Readers load the snapshot's files through one reader,
``ManifestTable._scan``: ``spark.read.schema(<recorded>).parquet(*files)``,
so no schema-inference job runs — partition pruning, filter pushdown,
and column pruning behave exactly as on a directory scan, and the file
list itself enables the next-level optimization (data skipping by
per-file stats) that a bare directory listing cannot.

One write path: every write verb (append, merges, UPDATE/DELETE, the
compactions, the Bloom-index commit, and a materialized view's refresh)
is a step function that names the live files it replaces and the rows
that replace them. ``ManifestTable._write`` owns the rest: the retry on
:class:`CommitConflict`, the ``txn`` exactly-once skip, staging in the
table's bucket shape, and carrying the zone-map columns forward.
"""

from __future__ import annotations

import json
import math
import os
import tempfile
import time
import uuid
from collections import Counter
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

_MANIFEST_DIR = "_sbp_manifests"
_DATA_DIR = "data"
_V_DIGITS = 12
# a parquet checkpoint of the full live-file state lands every N commits;
# snapshot resolution therefore reads <= N delta JSONs + one checkpoint
_CKPT_EVERY = 10
# per-file keys of a resolved snapshot — delta-encoded on disk, never
# stored whole in a v2 manifest JSON
_PER_FILE_KEYS = (
    "add",
    "remove",
    "add_buckets",
    "add_stats",
    "add_blooms",
    "add_sizes",
    "fmt",
    "n_files",
)
# resolved per-file map -> the manifest key of its added files' entries
_FILE_MAPS = {
    "file_buckets": "add_buckets",
    "file_stats": "add_stats",
    "file_blooms": "add_blooms",
    "file_sizes": "add_sizes",
}
# footer key under which Spark records a data file's schema as JSON — the
# key Spark's own parquet schema inference reads
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _as_nullable(dt):
    """Spark's ``asNullable`` over schema JSON: a file-source read sees
    every field, array element and map value as nullable, whatever the
    writer declared, so files differing only in nullability read alike."""
    if not isinstance(dt, dict):
        return dt
    if dt.get("type") == "struct":
        fields = [
            {**f, "nullable": True, "type": _as_nullable(f["type"])}
            for f in dt["fields"]
        ]
        return {**dt, "fields": fields}
    if dt.get("type") == "array":
        return {**dt, "containsNull": True, "elementType": _as_nullable(dt["elementType"])}
    if dt.get("type") == "map":
        return {
            **dt,
            "valueContainsNull": True,
            "keyType": _as_nullable(dt["keyType"]),
            "valueType": _as_nullable(dt["valueType"]),
        }
    return dt


def _bloom_n_bits(
    n_values: int, bits_per_value: int = 10, max_bits: int = 1 << 17
) -> int:
    """Filter size for ``n_values`` distinct values: the next power of
    two of ``bits_per_value × n_values`` (≈1% false positives at k=7),
    at least 64 and capped so a single file's filter stays ≤16 KiB."""
    return max(64, min(max_bits, 1 << (bits_per_value * max(1, n_values)).bit_length()))


def _bloom_bitset(values, n_bits: int, k: int = 7):
    """Packed bitset (numpy uint8, bit ``h`` at byte ``h >> 3``, bit
    ``h & 7``) of canonical-string ``values`` under a PORTABLE hash
    family (md5-prefix, like the minhash family) — the filter must
    verify identically on any future reader. md5 runs once per (value,
    hash index); the modulo and the bit-set are vectorised."""
    import hashlib

    import numpy as np

    md5 = hashlib.md5
    prefixes = b"".join(
        md5(f"{i}|{v}".encode()).digest()[:8] for v in values for i in range(k)
    )
    hit = np.zeros(n_bits, dtype=bool)
    hit[np.frombuffer(prefixes, dtype=">u8") % np.uint64(n_bits)] = True
    return np.packbits(hit, bitorder="little")


def _bloom_may_contain(n_bits: int, hexstr: str, value, k: int = 7) -> bool:
    import hashlib

    bits = bytes.fromhex(hexstr)
    for i in range(k):
        h = (
            int.from_bytes(hashlib.md5(f"{i}|{value}".encode()).digest()[:8], "big")
            % n_bits
        )
        if not (bits[h >> 3] >> (h & 7)) & 1:
            return False
    return True


def _bloom_canon(value) -> str:
    """Canonical string form hashed into a file bloom. Restricted to the
    types whose text form is unambiguous across engines — point lookups
    on floats would need an epsilon anyway, which a bloom cannot serve."""
    if isinstance(value, bool) or not isinstance(value, (int, str)):
        raise TypeError(
            f"bloom index supports int/string columns; got {type(value).__name__}"
        )
    return str(value)


def _bloom_distinct(pf, col: str):
    """Distinct non-null values of ``col`` in the open parquet file
    ``pf``, as a pyarrow string array of their canonical forms (an int
    casts to the same decimal text ``str`` gives it). The column streams
    through ``iter_batches`` (ADVICE r10): peak driver memory is one
    Arrow batch plus the distinct values, never the whole column. Same
    type rule as :func:`_bloom_canon`; an all-null column of any type
    yields no values and raises nothing."""
    import pyarrow as pa
    import pyarrow.compute as pc

    typ = pf.schema_arrow.field(col).type
    parts = [
        pc.unique(batch.column(0).drop_null())
        for batch in pf.iter_batches(columns=[col], batch_size=65536)
    ]
    vals = pc.unique(pa.chunked_array(parts, type=typ))
    if len(vals) and not (
        pa.types.is_integer(typ) or pa.types.is_string(typ)
        or pa.types.is_large_string(typ)
    ):
        raise TypeError(f"bloom index supports int/string columns; got {typ}")
    return vals.cast(pa.string())


def _bloom_parents(manifest: dict, base_snap: dict, base_blooms: dict) -> dict:
    """{added file: {removed file: its filters}} for a bucketed commit:
    each added file paired with the files of its bucket that the commit
    removes — the filters :meth:`ManifestTable.collect_file_blooms` may
    derive from. A bucket whose removed files are not all indexed gets
    no entry; unbucketed commits get none."""
    old_buckets = base_snap.get("file_buckets", {})
    removed: dict[int, list[str]] = {}
    for f in manifest["remove"]:
        if f in old_buckets:
            removed.setdefault(old_buckets[f], []).append(f)
    out = {}
    for f, b in manifest.get("add_buckets", {}).items():
        ps = removed.get(b)
        if ps and all(p in base_blooms for p in ps):
            out[f] = {p: base_blooms[p] for p in ps}
    return out


class CommitConflict(RuntimeError):
    """Another writer published the version this commit targeted."""


class _Rewrite(NamedTuple):
    """One attempt of a write verb, planned against a snapshot: the live
    files it replaces and what replaces them."""

    drop: list[str]
    # rows to stage in the table's shape, files already staged, or None
    # for a commit that adds no file
    rows: DataFrame | list[str] | None = None
    n_files: int | None = None  # file count for unbucketed rows
    meta: dict | None = None  # extra manifest metadata
    info: dict | None = None  # the verb's own ledger fields


def _carried(snap: dict, extra: dict | None = None, stat_cols=()) -> dict:
    """commit() arguments that carry ``snap``'s bucket shape and zone-map
    columns into the next version, with ``extra`` metadata on top;
    ``stat_cols`` apply only where the snapshot records none."""
    meta = {
        k: snap[k] for k in ("n_buckets", "bucket_keys", "file_buckets") if k in snap
    }
    meta.update(extra or {})
    return dict(bucket_meta=meta, stat_cols=tuple(snap.get("stat_cols") or stat_cols))


def _bucket_of(key_cols: tuple[str, ...], n_buckets: int):
    """Deterministic key -> bucket expression (pmod over xxhash64). The
    SAME expression plans writes and routes merges, so a key's bucket
    never drifts between versions."""
    from pyspark.sql import functions as F

    return F.pmod(
        F.xxhash64(*[F.col(k) for k in key_cols]), F.lit(n_buckets)
    ).cast("int")


def _zorder_key(df: DataFrame, cols: tuple[str, ...], bits: int = 8):
    """Morton (interleaved-bit) key over rank-quantized columns — the
    multi-dimensional clustering curve (Delta OPTIMIZE ZORDER BY's
    shape). Each column is quantized to ``2^bits`` cells by its OWN
    approximate quantiles (so skew cannot collapse the grid: every cell
    holds ~equal rows regardless of the value distribution), then the
    cell numbers' bits interleave. Sorting by the key gives every file a
    small hyper-rectangle of the value space, so per-file [min, max]
    zone maps prune on ANY clustered dimension — linear clustering
    prunes only its leading column. One approxQuantile pass (driver,
    |cuts| scalars) + a per-row JVM fold over the cut array; no
    shuffle beyond the final range partition."""
    from pyspark.sql import functions as F

    # The interleave must stay inside a 64-bit long: bit positions run
    # up to bits*len(cols)-1 and Java shiftleft wraps its distance mod
    # the operand width, so 32-bit cells put bit 31 in the SIGN position
    # (high cells sort first) and >=5 columns collide bits entirely.
    if bits * len(cols) > 63:
        raise ValueError(
            f"zorder key needs {bits * len(cols)} interleaved bits; "
            f"only 63 fit a long — lower bits or cluster fewer columns"
        )
    n_cells = 1 << bits
    qs = [i / n_cells for i in range(1, n_cells)]
    cutlists = df.stat.approxQuantile(
        [c for c in cols], qs, 0.001
    ) if len(cols) > 1 else [df.stat.approxQuantile(cols[0], qs, 0.001)]
    def cell_of(col: str, cuts: list[float]):
        arr = F.array(*[F.lit(float(c)) for c in cuts])
        return F.aggregate(
            arr,
            F.lit(0),
            lambda acc, c: acc
            + F.when(F.col(col).cast("double") > c, 1).otherwise(0),
        )

    cells = [
        cell_of(col, cuts).cast("long") for col, cuts in zip(cols, cutlists)
    ]
    z = F.lit(0).cast("long")
    for b in range(bits):
        for i, cell in enumerate(cells):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(cell, b).bitwiseAND(F.lit(1)),
                    b * len(cells) + i,
                )
            )
    return z.cast("long")


def _fsync(path: str) -> None:
    """fsync ``path``: a file's bytes, or a directory's entries."""
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


class ManifestTable:
    """A versioned parquet table rooted at a local/POSIX directory."""

    def __init__(self, root: str):
        scheme = root.split("://", 1)[0] if "://" in root else "file"
        if scheme != "file":
            raise NotImplementedError(
                f"ManifestTable commit primitive needs put-if-absent; "
                f"scheme {scheme!r} requires an external commit service "
                f"(the Delta-LogStore / Iceberg-catalog seam) — override "
                f"_publish to supply one"
            )
        self.root = root.split("://", 1)[-1]
        os.makedirs(os.path.join(self.root, _MANIFEST_DIR), exist_ok=True)
        os.makedirs(os.path.join(self.root, _DATA_DIR), exist_ok=True)
        # resolved-snapshot memo: versions are immutable once published,
        # so a resolution never goes stale (vacuum clears it — expiry is
        # the one event that invalidates time travel)
        self._snap_cache: dict[int, dict] = {}
        self._ts_cache: dict[int, float] = {}  # version -> in-commit publish ts

    # -- snapshot resolution ------------------------------------------
    def _manifest_path(self, version: int) -> str:
        return os.path.join(
            self.root, _MANIFEST_DIR, f"v{version:0{_V_DIGITS}d}.json"
        )

    def _ckpt_path(self, version: int) -> str:
        return os.path.join(
            self.root, _MANIFEST_DIR, f"ckpt_v{version:0{_V_DIGITS}d}.parquet"
        )

    def _read_manifest_json(self, version: int) -> dict:
        """The one parse of a manifest. Only format 2 (``fmt`` 2 with an
        in-commit ``ts``) is a manifest; anything else raises."""
        with open(self._manifest_path(version)) as fh:
            m = json.load(fh)
        if m.get("fmt") != 2 or "ts" not in m:
            raise ValueError(
                f"{self.root}: manifest v{version} is not format 2 "
                f"(fmt={m.get('fmt')!r}, ts {'set' if 'ts' in m else 'missing'})"
            )
        return m

    def _versions(self) -> list[int]:
        """Every published version: the ``v*.json`` names of the
        manifest dir. Torn or in-flight manifests are invisible by
        construction (only the atomic link creates those names)."""
        out = []
        for name in os.listdir(os.path.join(self.root, _MANIFEST_DIR)):
            if name.startswith("v") and name.endswith(".json"):
                try:
                    out.append(int(name[1 : 1 + _V_DIGITS]))
                except ValueError:
                    continue  # stray non-canonical file
        return out

    def _write_checkpoint(self, version: int, snap: dict) -> None:
        """Materialize the resolved state at ``version`` as one parquet
        file (path, size, bucket, stats and blooms JSON per live file). Deterministic
        content — racing writers of the same version produce identical
        bytes, so a plain atomic replace suffices."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        files = snap["files"]

        def column(key: str, encode, typ):
            m = snap.get(key, {})
            return pa.array([encode(m[f]) if f in m else None for f in files], type=typ)

        table = pa.table(
            {
                "path": pa.array(files, type=pa.string()),
                "size": column("file_sizes", int, pa.int64()),
                "bucket": column("file_buckets", int, pa.int64()),
                "stats": column("file_stats", json.dumps, pa.string()),
                "blooms": column("file_blooms", json.dumps, pa.string()),
            }
        )
        final = self._ckpt_path(version)
        tmp = final + "." + uuid.uuid4().hex + ".tmp"
        pq.write_table(table, tmp)
        # durability like the manifest path: fsync file + dir, or a
        # crash could leave a PRESENT-but-torn checkpoint — readers do
        # fall back to the delta chain on a bad checkpoint, but vacuum
        # deletes that chain past the pinned version
        _fsync(tmp)
        os.replace(tmp, final)
        _fsync(os.path.dirname(final))

    def _read_checkpoint(self, version: int) -> dict:
        """Full per-file state at a checkpointed version — columnar read,
        no JSON parse of the file list."""
        import pyarrow.parquet as pq

        t = pq.read_table(self._ckpt_path(version)).to_pydict()
        files = t["path"]

        def per_file(col: str, parse) -> dict:
            return {f: parse(x) for f, x in zip(files, t[col]) if x is not None}

        return {
            "files": files,
            "file_buckets": per_file("bucket", int),
            "file_stats": per_file("stats", json.loads),
            "file_blooms": per_file("blooms", json.loads),
            "file_sizes": per_file("size", int),
        }

    def _resolve(self, v: int) -> dict:
        """Resolve version ``v`` to a full snapshot dict (files +
        per-file maps + metadata): the nearest readable checkpoint at or
        below ``v`` plus the delta manifests above it — at most
        ``_CKPT_EVERY`` O(delta) JSON reads and one columnar checkpoint
        read. A torn checkpoint is skipped for the delta chain below it."""
        m = self._read_manifest_json(v)
        chain, state, cur = [], None, v
        while cur > 0:
            if os.path.exists(self._ckpt_path(cur)):
                try:
                    state = self._read_checkpoint(cur)
                    break
                except Exception:
                    pass  # torn checkpoint: keep walking the delta chain
            d = m if cur == v else self._read_manifest_json(cur)
            chain.append(d)
            cur = d["base"]
        state = state or {"files": []}
        files: dict[str, None] = dict.fromkeys(state["files"])
        maps = {k: dict(state.get(k, {})) for k in _FILE_MAPS}
        for d in reversed(chain):
            for f in d["remove"]:
                files.pop(f, None)
                for per_file in maps.values():
                    per_file.pop(f, None)
            files.update(dict.fromkeys(d["add"]))
            for k, add_key in _FILE_MAPS.items():
                maps[k].update(d.get(add_key, {}))
        out = {k: val for k, val in m.items() if k not in _PER_FILE_KEYS}
        out["files"] = list(files)
        # a per-file map rides only while its metadata does; sizes always
        for k, kept in (
            ("file_buckets", out.get("n_buckets")),
            ("file_stats", out.get("stat_cols")),
            ("file_blooms", out.get("bloom_cols")),
            ("file_sizes", True),
        ):
            if kept:
                out[k] = {f: maps[k][f] for f in files if f in maps[k]}
        return out

    def latest_version(self) -> int:
        """Newest committed version, 0 if the table is empty."""
        return max(self._versions(), default=0)

    def snapshot(self, version: int | None = None) -> dict:
        v = self.latest_version() if version is None else version
        if v == 0:
            return {"version": 0, "base": 0, "files": []}
        hit = self._snap_cache.get(v)
        # validate hits against manifest existence (ADVICE r10): this
        # instance's own vacuum clears the cache, but ANOTHER process
        # vacuuming the same root cannot — a stale hit would let time
        # travel to an expired version fail later at scan time with
        # deleted data files instead of failing explicitly here, as the
        # vacuum docstring promises. One os.stat per snapshot() call.
        if hit is not None and not os.path.exists(self._manifest_path(v)):
            self._snap_cache.pop(v, None)
            hit = None
        if hit is None:
            if len(self._snap_cache) > 64:
                self._snap_cache.clear()
            hit = self._snap_cache[v] = self._resolve(v)
        # shallow-copy the mutable top level; nested maps are treated as
        # read-only by every consumer
        out = dict(hit)
        out["files"] = list(hit["files"])
        return out

    def version_at(self, timestamp) -> int:
        """Largest retained version published at or before ``timestamp``
        (unix seconds, or ISO ``YYYY-MM-DD[ HH:MM:SS]`` local time) —
        Delta's timestamp travel. The publish instant is the ``ts`` the
        manifest itself records at commit time (ADVICE r10: in-commit
        timestamps survive rsync/backup-restore, which resets the mtimes
        a directory-listing approach would read). Versions are published
        in order, so the scan is one directory listing plus one tiny
        delta-sized JSON per retained manifest; a manifest vacuumed
        between the listing and its read is skipped. Raises if the
        timestamp predates the oldest RETAINED version (vacuum expired
        the history), if the table is empty, or if a manifest is not
        format 2."""
        import datetime

        ts = (
            datetime.datetime.fromisoformat(timestamp).timestamp()
            if isinstance(timestamp, str)
            else float(timestamp)
        )
        best, oldest = 0, None
        for v in self._versions():
            # manifests are immutable once committed, so the publish ts
            # caches per (table handle, version): repeated time travel
            # pays one full-JSON parse per retained version per process,
            # not per call (ADVICE r11 — manifests also carry per-file
            # stats/bloom deltas, so the parse is not tiny on wide
            # commits; a ts sidecar/filename stamp is the structural fix
            # if retained-version counts ever grow past local scales)
            if v not in self._ts_cache:
                try:
                    self._ts_cache[v] = float(self._read_manifest_json(v)["ts"])
                except OSError:
                    # vanished between listing and read: concurrently
                    # vacuumed, so no longer retained (r11 reader-race
                    # matrix)
                    continue
            published = self._ts_cache[v]
            oldest = published if oldest is None else min(oldest, published)
            if published <= ts:
                best = max(best, v)
        if best == 0:
            raise ValueError(
                f"no retained version at or before {timestamp!r}"
                + (
                    f" (oldest retained manifest was published at {oldest})"
                    if oldest is not None
                    else " (table has no committed version)"
                )
            )
        return best

    def data_files(self, version: int | None = None) -> list[str]:
        return [
            os.path.join(self.root, f) for f in self.snapshot(version)["files"]
        ]

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        merge_schema: bool = False,
        timestamp=None,
    ) -> DataFrame:
        """Load a snapshot. ``merge_schema=True`` reconciles data files
        written under different (widened) schemas — columns absent from
        older files read as null. Off by default: schema merging pays a
        footer-union per read and an evolved table only needs it until
        compaction rewrites every file under the widest schema.
        ``timestamp`` (unix seconds or ISO string) resolves the version
        via :meth:`version_at` — mutually exclusive with ``version``."""
        if timestamp is not None:
            if version is not None:
                raise ValueError("pass version OR timestamp, not both")
            version = self.version_at(timestamp)
        if version is None:
            version = self.latest_version()
        files = self.snapshot(version)["files"]
        if not files:
            raise ValueError(f"ManifestTable {self.root} has no committed version")
        return self._scan(spark, files, version, merge_schema)

    def _scan(
        self,
        spark: SparkSession,
        rels: list[str],
        version: int,
        merge_schema: bool = False,
    ) -> DataFrame:
        """The one reader of the table's data files: ``rels``
        (root-relative, live at ``version``) load with the schema the
        manifest recorded at ``version``, so creating the DataFrame
        opens no footer and starts no Spark job. ``merge_schema=True``
        (a footer union) and versions with no recorded schema infer
        from the footers, as a bare ``spark.read.parquet`` does."""
        from pyspark.sql.types import StructType

        reader = spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        else:
            schema = self.snapshot(version).get("schema")
            if schema is not None:
                reader = reader.schema(StructType.fromJson(schema))
        return reader.parquet(*[os.path.join(self.root, r) for r in rels])

    # -- writer protocol ----------------------------------------------
    def _validate(self, df: DataFrame) -> DataFrame:
        """Enforce the table's CHECK constraints on data about to be
        staged — the write boundary, so bad rows are rejected BEFORE a
        commit can name them (a reader never sees a violating row, and
        the error points at the writer that produced it). One combined
        O(batch) pass with take(1) early-exit; existing rows pass by
        induction (they were validated when staged). Raises with the
        names of every violated constraint for the first bad row."""
        from pyspark.sql import functions as F

        cons = self.snapshot().get("constraints", {})
        if not cons:
            return df
        combined = F.lit(True)
        probes = []
        for name, expr in cons.items():
            ok = F.coalesce(F.expr(expr), F.lit(False))
            combined = combined & ok
            probes.append(ok.alias(f"__c_{name}"))
        bad = (
            df.filter(~combined)
            .select(F.struct(*df.columns).alias("__row"), *probes)
            .take(1)
        )
        if bad:
            failed = [name for name in cons if not bad[0][f"__c_{name}"]]
            raise ValueError(
                f"constraint violation {failed}: first bad row "
                f"{bad[0]['__row'].asDict()!r}"
            )
        return df

    def set_constraint(
        self, name: str, expr: str, spark: SparkSession | None = None
    ) -> int:
        """Add a CHECK constraint (SQL boolean expression over the
        table's columns; NULL counts as a violation, as in SQL CHECK
        with Delta's stricter null handling). Existing data is
        validated FIRST — a constraint the table already violates is
        rejected, never recorded. The constraint rides the manifest and
        every later append / merge / overwrite enforces it on the data
        it writes. Returns the metadata-only commit's version."""
        from pyspark.sql import functions as F

        snap = self.snapshot()
        if snap["files"]:
            spark = spark or SparkSession.getActiveSession()
            if spark is None:
                raise ValueError(
                    "set_constraint on a non-empty table needs a spark "
                    "session to validate existing data"
                )
            bad = (
                self.read(spark)
                .filter(~F.coalesce(F.expr(expr), F.lit(False)))
                .take(1)
            )
            if bad:
                raise ValueError(
                    f"existing data violates {name!r}: {bad[0].asDict()!r}"
                )
        cons = dict(snap.get("constraints", {}))
        cons[name] = expr
        return self._metadata_commit(snap, {"constraints": cons})

    def drop_constraint(self, name: str) -> int:
        snap = self.snapshot()
        cons = dict(snap.get("constraints", {}))
        cons.pop(name, None)
        return self._metadata_commit(snap, {"constraints": cons})

    def _metadata_commit(self, snap: dict, extra: dict) -> int:
        """Commit the current file set unchanged with updated metadata,
        preserving bucket shape and stat columns."""
        return self.commit(snap["files"], snap["version"], **_carried(snap, extra))

    def restore(self, version: int) -> int:
        """RESTORE: make an earlier snapshot current by committing its
        file set (and bucket/constraint metadata) as a NEW version —
        history is never rewritten, so readers of intermediate versions
        are unaffected and the bad versions stay inspectable. The
        restored files must still exist (i.e. the version is inside the
        vacuum retention window); zero data movement otherwise."""
        old = self.snapshot(version)
        for f in old["files"]:
            if not os.path.exists(os.path.join(self.root, f)):
                raise ValueError(
                    f"cannot restore v{version}: data file {f} was vacuumed"
                )
        # pin the OLD constraint set (possibly none) — restore reverts
        # metadata too, and commit's carry-forward must not resurrect
        # constraints added after the restored version
        return self.commit(
            old["files"],
            self.latest_version(),
            **_carried(old, {"constraints": old.get("constraints", {})}),
        )

    def stage_bucketed(
        self, df: DataFrame, key_cols: tuple[str, ...], n_buckets: int
    ) -> dict[str, int]:
        """Stage ``df`` hash-bucketed by key: rows land under
        ``__sbp_bucket=N`` subdirs of a writer-unique dir, and the
        returned {relative path: bucket} map travels in the manifest so
        a later MERGE can rewrite ONLY the buckets its keys touch. The
        bucket column is derived (pmod(xxhash64(keys), n)), never
        stored — readers see exactly the user's columns."""
        from pyspark.sql import functions as F

        sub = os.path.join(_DATA_DIR, uuid.uuid4().hex)
        out = os.path.join(self.root, sub)
        bucketed = df.withColumn("__sbp_bucket", _bucket_of(key_cols, n_buckets))
        # co-locate each bucket into one task -> one file per present
        # bucket (a MERGE stages only its touched buckets, so this stays
        # proportional to the delta, and compaction gets its target
        # file count for free)
        bucketed = bucketed.repartition(n_buckets, F.col("__sbp_bucket"))
        bucketed.write.partitionBy("__sbp_bucket").parquet(out)
        mapping: dict[str, int] = {}
        for dirpath, _dirs, names in os.walk(out):
            base = os.path.basename(dirpath)
            if not base.startswith("__sbp_bucket="):
                continue
            bucket = int(base.split("=", 1)[1])
            for name in names:
                if name.endswith(".parquet"):
                    rel = os.path.relpath(os.path.join(dirpath, name), self.root)
                    mapping[rel] = bucket
        return mapping

    def stage(self, df: DataFrame, n_files: int | None = None) -> list[str]:
        """Write ``df`` as immutable data files under a writer-unique
        subdir and return their root-relative paths. NOT visible to
        readers until a commit names them."""
        sub = os.path.join(_DATA_DIR, uuid.uuid4().hex)
        out = os.path.join(self.root, sub)
        (df.repartition(n_files) if n_files else df).write.parquet(out)
        return sorted(
            os.path.join(sub, f)
            for f in os.listdir(out)
            if f.endswith(".parquet")
        )

    def _num_rows(self, rel: str) -> int:
        """Row count from a data file's parquet footer (no Spark job)."""
        import pyarrow.parquet as pq

        return pq.read_metadata(os.path.join(self.root, rel)).num_rows

    def _publish(self, tmp: str, final: str) -> None:
        """Atomic put-if-absent of a fully-written manifest. POSIX
        ``link`` fails with EEXIST if another writer won the version —
        the one primitive an object-store backend must replace."""
        try:
            os.link(tmp, final)
        except FileExistsError as exc:
            raise CommitConflict(os.path.basename(final)) from exc
        finally:
            os.unlink(tmp)
        _fsync(os.path.dirname(final))

    def txn_version(self, app_id: str, version: int | None = None) -> int:
        """Highest transaction id committed under ``app_id`` as of the
        snapshot (-1 if the app never committed). The idempotence check
        an exactly-once writer performs before re-applying a batch."""
        return int(self.snapshot(version).get("txns", {}).get(app_id, -1))

    def _commit_schema(
        self, added: list[str], n_kept: int, base_snap: dict
    ) -> dict | None:
        """The Spark schema (JSON, nullable as readers see it) that every
        live file of a commit shares, or None. It comes from the added
        files' footer key that Spark's own inference reads, so no Spark
        job runs; a commit that adds no file carries the base's forward.
        None when the added files disagree, when the kept files' recorded
        schema differs or is unknown (a ``schema_evolution`` merge), or
        when a file lacks Spark's key (a pyarrow-written file): readers
        then infer, as a bare ``spark.read.parquet`` does. Delta's log
        keeps ``schemaString`` for the same reason."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        base = base_snap.get("schema")
        if not added:
            return base
        if n_kept and base is None:
            return None
        schema = None
        for rel in added:
            try:
                meta = pq.read_metadata(os.path.join(self.root, rel)).metadata
            except (OSError, pa.ArrowException):
                return None
            raw = (meta or {}).get(_SPARK_SCHEMA_KEY)
            if raw is None:
                return None
            got = _as_nullable(json.loads(raw))
            if schema is not None and got != schema:
                return None
            schema = got
        return schema if not n_kept or schema == base else None

    def commit(
        self,
        files: list[str],
        base_version: int,
        bucket_meta: dict | None = None,
        stat_cols: tuple[str, ...] = (),
        txn: tuple[str, int] | None = None,
        bloom_cols: tuple[str, ...] = (),
        bloom_max_bits: int | None = None,
    ) -> int:
        """Publish ``files`` as version ``base_version + 1``. Raises
        :class:`CommitConflict` if that version already exists (the
        caller re-reads the new snapshot and retries its merge).
        ``bucket_meta`` (bucketed tables) carries {n_buckets,
        bucket_keys, file_buckets} so merges can plan partial rewrites;
        ``stat_cols`` records per-file [min, max] zone maps for those
        columns so read_range/prune_files can skip files without
        opening them.

        ``txn=(app_id, txn_id)`` records a writer transaction in the
        manifest (the Delta ``txn`` action): the table remembers, per
        application id, the highest transaction id it has absorbed —
        carried forward through every later commit — so an idempotent
        writer (a streaming foreachBatch replaying after a crash) checks
        :meth:`txn_version` and SKIPS batches the table already holds.
        Content-idempotent merges make replays harmless; the txn record
        makes them FREE (no re-stage, no re-shuffle) and protects
        non-idempotent transforms (appends) too.

        STORAGE is delta-encoded (round 10): the JSON names only the
        files this commit added/removed relative to ``base_version``
        (plus the full small metadata); per-file buckets, byte sizes and
        zone-map stats ride only for the ADDED files (a named file that
        does not exist raises before anything publishes), with stats collected
        incrementally — carried files keep the stats their adding commit
        recorded, so commit cost is O(delta), never O(table). Every
        ``_CKPT_EVERY`` versions a parquet checkpoint snapshots the full
        state for O(1)-ish resolution. The table schema the live files
        share rides every manifest (:meth:`_commit_schema`), and an
        added bucket file's Bloom filters derive from the removed files
        of its bucket (:func:`_bloom_parents`)."""
        next_v = base_version + 1
        base_snap = self.snapshot(base_version)
        base_files = base_snap.get("files", [])
        base_set = set(base_files)
        file_set = set(files)
        manifest: dict = {
            "version": next_v,
            "base": base_version,
            "fmt": 2,
            "n_files": len(files),
            # in-commit publish instant (ADVICE r10): mtime-based
            # timestamp travel breaks the moment the table directory is
            # rsync'd/restored (mtimes reset); the manifest's own record
            # survives any copy, and version_at travels by it alone.
            "ts": time.time(),
            "add": [f for f in files if f not in base_set],
            "remove": [f for f in base_files if f not in file_set],
        }
        # every added file's size; a file that is not there raises here,
        # before anything is published
        manifest["add_sizes"] = {
            f: os.path.getsize(os.path.join(self.root, f)) for f in manifest["add"]
        }
        txns = dict(base_snap.get("txns", {}))
        if txn is not None:
            app_id, txn_id = txn
            txns[app_id] = max(int(txn_id), int(txns.get(app_id, -1)))
        if txns:
            manifest["txns"] = txns
        if bucket_meta:
            meta = dict(bucket_meta)
            fb = meta.pop("file_buckets", None)
            manifest.update(meta)
            if fb is not None:
                # kept files' buckets carry from base via resolution (a
                # file's bucket never changes); only added files need rows
                manifest["add_buckets"] = {
                    f: fb[f] for f in manifest["add"] if f in fb
                }
        # constraints ride every commit unless the caller overrides them
        # (set/drop_constraint, restore); dropping the key would silently
        # disarm the table on the next merge
        if "constraints" not in manifest and base_snap.get("constraints"):
            manifest["constraints"] = base_snap["constraints"]
        if stat_cols:
            scols = sorted(stat_cols)
            manifest["stat_cols"] = scols
            # incremental: footers are opened only for files without
            # carried stats (added files, or every file if the stat
            # column set changed)
            base_stats = (
                base_snap.get("file_stats", {})
                if base_snap.get("stat_cols") == scols
                else {}
            )
            need = [f for f in files if f not in base_stats]
            if need:
                manifest["add_stats"] = self.collect_file_stats(
                    need, tuple(stat_cols)
                )
        # bloom index columns carry through every commit once set (unlike
        # stat_cols, which each verb restates) — a point-lookup index
        # that silently lapsed on the next merge would be worse than none
        bcols = sorted(bloom_cols) if bloom_cols else base_snap.get("bloom_cols")
        if bcols:
            manifest["bloom_cols"] = list(bcols)
            mb = bloom_max_bits or base_snap.get("bloom_max_bits")
            if mb:
                manifest["bloom_max_bits"] = int(mb)
            base_blooms = (
                base_snap.get("file_blooms", {})
                if base_snap.get("bloom_cols") == list(bcols)
                else {}
            )
            need_b = [f for f in files if f not in base_blooms]
            if need_b:
                manifest["add_blooms"] = self.collect_file_blooms(
                    need_b,
                    tuple(bcols),
                    max_bits=mb,
                    parents=_bloom_parents(manifest, base_snap, base_blooms),
                )
        schema = self._commit_schema(
            manifest["add"], len(files) - len(manifest["add"]), base_snap
        )
        if schema is not None:
            manifest["schema"] = schema
        fd, tmp = tempfile.mkstemp(
            dir=os.path.join(self.root, _MANIFEST_DIR), suffix=".tmp"
        )
        with os.fdopen(fd, "w") as fh:
            json.dump(manifest, fh)
            fh.flush()
            os.fsync(fh.fileno())
        self._publish(tmp, self._manifest_path(next_v))
        if next_v % _CKPT_EVERY == 0:
            # only the publish winner reaches this line, so the
            # checkpoint is written once; resolution re-derives the full
            # state through the very path later readers will use.
            # BEST-EFFORT: the version is already durably published — a
            # checkpoint failure (disk full, missing pyarrow) must not
            # make commit() report failure, or a retrying caller would
            # double-apply against its own committed version; readers
            # fall back to the delta chain when the checkpoint is absent.
            try:
                self._write_checkpoint(next_v, self._resolve(next_v))
            except Exception:
                pass
        return next_v

    def _write(
        self,
        step,
        max_retries: int = 5,
        txn: tuple[str, int] | None = None,
        key_cols: tuple[str, ...] = (),
        n_buckets: int | None = None,
        stat_cols: tuple[str, ...] = (),
        commit_kw: dict | None = None,
    ) -> tuple[dict, int, _Rewrite | None, list[str]]:
        """The optimistic commit every write verb runs. Each attempt
        resolves the latest snapshot, returns early if it already holds
        ``txn`` (:meth:`txn_version`), and asks ``step(snap)`` for a
        :class:`_Rewrite` (None is a no-op). The rewrite's rows stage in
        the snapshot's shape: a bucketed table through
        :meth:`stage_bucketed`, its kept files keeping their buckets; an
        unbucketed one given ``n_buckets`` is bucketed by ``key_cols``;
        otherwise ``stage(n_files)``. There a 0-row file lives only as an
        empty table's one schema-bearing file: staged 0-row files are
        dropped when the new snapshot holds another file (an empty
        micro-batch still publishes its ``txn``, with no file), and the
        schema file goes once rows arrive. The commit carries the snapshot's
        stat columns (``stat_cols`` where it has none), and ``commit_kw``
        override any commit() argument. A :class:`CommitConflict`
        re-plans against the new snapshot, up to ``max_retries``
        attempts. Returns (snapshot, version, rewrite, added files); a
        no-op returns the snapshot's version, None and no files."""
        for _ in range(max_retries):
            snap = self.snapshot()
            if txn is not None and self.txn_version(
                txn[0], snap["version"]
            ) >= int(txn[1]):
                return snap, snap["version"], None, []
            plan = step(snap)
            if plan is None:
                return snap, snap["version"], None, []
            dropped = set(plan.drop)
            keep = [f for f in snap["files"] if f not in dropped]
            kw = _carried(snap, plan.meta, stat_cols)
            nb = snap.get("n_buckets") or n_buckets
            if plan.rows is None or isinstance(plan.rows, list):
                added = list(plan.rows or ())
            elif nb:
                keys = list(snap.get("bucket_keys") or key_cols)
                new_map = self.stage_bucketed(plan.rows, tuple(keys), nb)
                added = sorted(new_map)
                kw["bucket_meta"].update(
                    n_buckets=nb,
                    bucket_keys=keys,
                    file_buckets={**snap.get("file_buckets", {}), **new_map},
                )
            else:
                added = self.stage(plan.rows, n_files=plan.n_files)
                nonempty = [f for f in added if self._num_rows(f)]
                if nonempty and len(keep) == 1 and not self._num_rows(keep[0]):
                    keep = []  # an empty table's schema file, now superseded
                if keep or nonempty:
                    # a 0-row file adds nothing but a footer; an otherwise
                    # empty snapshot keeps one for the schema it carries
                    added = nonempty
            kw.update(commit_kw or {})
            try:
                version = self.commit(keep + added, snap["version"], txn=txn, **kw)
            except CommitConflict:
                continue
            return snap, version, plan, added
        raise CommitConflict(f"gave up after {max_retries} retries")

    def overwrite(
        self,
        df: DataFrame,
        max_retries: int = 5,
        cluster_by: tuple[str, ...] = (),
        n_files: int | None = None,
        stat_cols: tuple[str, ...] = (),
        cluster_method: str = "range",
        zorder_bits: int = 8,
    ) -> int:
        """Full-replace commit (last-writer-wins): stage once, retry the
        publish against whatever the latest version becomes.

        ``cluster_by`` range-partitions + sorts the data on those
        columns before staging, so each file owns a narrow value range —
        zone maps (``stat_cols``, which defaults to the cluster columns)
        then make ``read_range`` skip almost every file instead of
        almost none. Clustering is what turns file stats from metadata
        into skipped I/O; unclustered tables keep stats but overlap.

        ``cluster_method="zorder"`` (≥2 cluster columns) clusters on the
        Morton curve instead of the linear sort: every file owns a small
        hyper-rectangle of the multi-column value space, so zone maps
        prune queries filtering ANY clustered column — the layout for
        tables queried along more than one axis (``read_box``). Linear
        clustering stays the better choice when one column dominates
        the workload (it prunes that column perfectly)."""
        from pyspark.sql import functions as F

        df = self._validate(df)
        if cluster_by:
            stat_cols = stat_cols or tuple(cluster_by)
            if cluster_method == "zorder" and len(cluster_by) > 1:
                zk = "__sbp_zorder"
                zdf = df.withColumn(
                    zk, _zorder_key(df, tuple(cluster_by), zorder_bits)
                )
                zdf = (
                    zdf.repartitionByRange(n_files, F.col(zk))
                    if n_files
                    else zdf.repartitionByRange(F.col(zk))
                ).sortWithinPartitions(zk)
                df = zdf.drop(zk)
            elif cluster_method not in ("range", "zorder"):
                raise ValueError(f"unknown cluster_method {cluster_method!r}")
            else:
                cols = [df[c] for c in cluster_by]
                df = (
                    df.repartitionByRange(n_files, *cols)
                    if n_files
                    else df.repartitionByRange(*cols)
                ).sortWithinPartitions(*cols)
            files = self.stage(df)
        else:
            files = self.stage(df, n_files=n_files)
        # blind: every attempt replaces whatever is live with the one
        # staging, unbucketed and zone-mapped on this call's columns
        return self._write(
            lambda snap: _Rewrite(snap["files"], files),
            max_retries,
            commit_kw={"bucket_meta": None, "stat_cols": stat_cols},
        )[1]

    def append(
        self,
        df: DataFrame,
        n_files: int | None = None,
        max_retries: int = 5,
        txn: tuple[str, int] | None = None,
    ) -> int:
        """Blind append: stage ``df`` and commit old ∪ new files. Never
        reads existing data — the O(batch) ingest verb a streaming sink
        uses when rows are immutable facts (events, logs) and MERGE's
        key semantics would buy nothing. On a bucketed table the batch
        is staged bucket-partitioned and the bucket map extends, so
        later keyed merges still rewrite only touched buckets (a bucket
        may then hold several files; merges read them all). Appends
        fragment by design — :meth:`compact_small` is the matching
        maintenance verb, O(small files) not O(table). ``txn`` gives a
        replaying writer the exactly-once skip, which appends need even
        more than merges: a replayed append DUPLICATES rows."""
        df = self._validate(df)
        return self._write(
            lambda snap: _Rewrite([], df, n_files), max_retries, txn=txn
        )[1]

    # -- data skipping ---------------------------------------------------
    def collect_file_stats(
        self, files: list[str], stat_cols: tuple[str, ...]
    ) -> dict[str, dict[str, list]]:
        """{relative path: {col: [min, max]}} from the parquet footers
        (pyarrow, driver-local, no Spark job) — the per-file zone maps a
        manifest can serve that a bare directory listing cannot. Columns
        with no usable stats (all-null files, unsupported types) are
        omitted for that file, which prune_files treats as
        must-keep."""
        import pyarrow.parquet as pq

        out: dict[str, dict[str, list]] = {}
        for rel in files:
            meta = pq.ParquetFile(os.path.join(self.root, rel)).metadata
            cols: dict[str, list] = {}
            if meta.num_row_groups == 0:  # empty file: no stats, must-keep
                out[rel] = cols
                continue
            for ci in range(meta.num_columns):
                name = meta.row_group(0).column(ci).path_in_schema
                if name not in stat_cols:
                    continue
                mins, maxs = [], []
                for ri in range(meta.num_row_groups):
                    st = meta.row_group(ri).column(ci).statistics
                    if st is None or not st.has_min_max:
                        mins = []
                        break
                    mins.append(st.min)
                    maxs.append(st.max)
                if mins:
                    cols[name] = [min(mins), max(maxs)]
            out[rel] = cols
        return out

    def collect_file_blooms(
        self,
        files: list[str],
        bloom_cols: tuple[str, ...],
        max_bits: int | None = None,
        parents: dict[str, dict[str, dict]] | None = None,
    ) -> dict[str, dict[str, list]]:
        """{relative path: {col: [n_bits, hex bitset]}} — per-file Bloom
        filters over the column's distinct values (streamed pyarrow
        batches, driver-local; see :func:`_bloom_distinct`). The
        point-lookup complement to zone maps: min/max cannot prune an
        unclustered high-cardinality column, a bloom prunes any file
        that provably lacks the value. Columns missing from a file's
        schema are skipped (must-keep, like stats).

        DERIVED FILTERS: ``parents`` maps a file to the files it
        replaces, {parent path: parent's {col: [n_bits, hex]}} — for a
        bucketed table's commit, the same bucket's files it removes. A
        column's filter is then OR(parent bitsets) | bits(values no
        parent holds), so md5 runs over the batch's new values instead
        of the whole bucket. Two checks gate it: every parent filter
        has the n_bits this file's distinct count sizes to, and every
        parent value is still in this file. Under them the bits equal a
        full build's, since a set's filter is the OR of its members'
        bits. A failed check (a deleted key, a changed non-key value, a
        size step, an unreadable parent) takes the full build."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        cap = {"max_bits": int(max_bits)} if max_bits else {}
        parents = parents or {}

        def parent_values(rel: str, col: str):
            try:
                pf = pq.ParquetFile(os.path.join(self.root, rel))
                if col in pf.schema_arrow.names:
                    return _bloom_distinct(pf, col)
            except (OSError, pa.ArrowException):
                pass  # unreadable or vacuumed parent: full build
            return None

        out: dict[str, dict[str, list]] = {}
        for rel in files:
            pf = pq.ParquetFile(os.path.join(self.root, rel))
            names = set(pf.schema_arrow.names)
            cols: dict[str, list] = {}
            for col in bloom_cols:
                if col not in names:
                    continue
                vals = _bloom_distinct(pf, col)
                n = _bloom_n_bits(len(vals), **cap)
                inherited, fresh = None, vals
                ps = parents.get(rel, {})
                if ps and all(p.get(col, (None,))[0] == n for p in ps.values()):
                    pvals = [parent_values(p, col) for p in ps]
                    if all(v is not None for v in pvals):
                        held = pa.concat_arrays(pvals)
                        if pc.is_in(held, value_set=vals).false_count == 0:
                            inherited = np.bitwise_or.reduce(
                                [
                                    np.frombuffer(bytes.fromhex(p[col][1]), np.uint8)
                                    for p in ps.values()
                                ]
                            )
                            fresh = vals.filter(
                                pc.invert(pc.is_in(vals, value_set=held))
                            )
                bits = _bloom_bitset(fresh.to_pylist(), n)
                if inherited is not None:
                    bits |= inherited
                cols[col] = [n, bits.tobytes().hex()]
            out[rel] = cols
        return out

    def set_bloom_index(
        self,
        cols: tuple[str, ...],
        max_retries: int = 5,
        max_bits: int | None = None,
    ) -> int:
        """Record a Bloom point-lookup index on ``cols``: one metadata
        commit computing filters for every CURRENT file; later commits
        extend the index incrementally (added files only — carried
        files keep their filters, footers never re-read), and a
        bucketed commit derives a rewritten file's filter from the
        files it replaces, hashing only the values they lacked (see
        :meth:`collect_file_blooms`).

        SIZING: filters target ~10 bits per distinct value (≈1% false
        positives at k=7) up to a per-file cap — default 2^17 bits
        (16 KiB). A file whose distinct count exceeds cap/10 degrades
        gracefully (fpp rises, pruning weakens, correctness unaffected);
        pass ``max_bits`` (recorded in the manifest and applied to every
        later commit) to match the table's per-file cardinality — e.g.
        2^20 for ~100k distinct keys per file (128 KiB per file per
        column, still manifest-scale next to a 128 MB data file)."""
        if not cols:
            raise ValueError("set_bloom_index needs at least one column")
        return self._write(
            lambda snap: _Rewrite([]),
            max_retries,
            commit_kw={"bloom_cols": tuple(cols), "bloom_max_bits": max_bits},
        )[1]

    def prune_files_point(
        self, col: str, value, version: int | None = None
    ) -> list[str]:
        """Files of the snapshot that MAY contain ``col = value`` per
        their Bloom filters (files without a filter are kept — skipping
        must never drop a row). False-positive rate ≈1% per file at the
        default sizing; false negatives are impossible, so
        ``read_point`` is exact."""
        snap = self.snapshot(version)
        blooms = snap.get("file_blooms", {})
        key = _bloom_canon(value)
        kept = []
        for rel in snap["files"]:
            b = blooms.get(rel, {}).get(col)
            if b is None or _bloom_may_contain(int(b[0]), b[1], key):
                kept.append(rel)
        return kept

    def read_point(
        self, spark: SparkSession, col: str, value, version: int | None = None
    ) -> DataFrame:
        """Point lookup served by the manifest: bloom pruning ∩ zone-map
        pruning choose the files, then the exact equality filter applies
        on top (pushed to the parquet scan). Equal to
        ``read().filter(col = value)`` by construction; cheaper by every
        skipped file — the primary-key-fetch shape a 100 TB store needs
        without a secondary index."""
        from pyspark.sql import functions as F

        def keep(v: int) -> list[str]:
            maybe = set(self.prune_files_point(col, value, v))
            return [f for f in self.prune_files(col, value, value, v) if f in maybe]

        return self._read_pruned(spark, keep, F.col(col) == F.lit(value), version)

    def prune_files(
        self, col: str, lo, hi, version: int | None = None
    ) -> list[str]:
        """Root-relative data files of the snapshot whose [min, max] for
        ``col`` intersects [lo, hi] (None = unbounded); see
        :meth:`prune_files_box`."""
        return self.prune_files_box({col: (lo, hi)}, version)

    def read_range(
        self, spark: SparkSession, col: str, lo, hi, version: int | None = None
    ) -> DataFrame:
        """Range scan served by manifest zone maps: ``read_box`` over
        the one predicate ``col`` in [lo, hi]."""
        return self.read_box(spark, {col: (lo, hi)}, version)

    def prune_files_box(
        self, preds: dict[str, tuple], version: int | None = None
    ) -> list[str]:
        """Files whose zone maps intersect EVERY [lo, hi] in ``preds``
        ({col: (lo, hi)}, None = unbounded) — conjunctive multi-column
        skipping, over ONE resolution of the snapshot. Files without
        recorded stats for a column are kept — skipping must never drop
        a row. On a z-ordered table each file owns a hyper-rectangle,
        so the per-column intersections each discard files and the
        conjunction compounds; on a linearly-clustered table only the
        leading column's predicate skips anything."""
        snap = self.snapshot(version)
        stats = snap.get("file_stats", {})

        def overlaps(rel: str) -> bool:
            for col, (lo, hi) in preds.items():
                rng = stats.get(rel, {}).get(col)
                if rng is not None and (
                    (hi is not None and rng[0] > hi) or (lo is not None and rng[1] < lo)
                ):
                    return False
            return True

        return [f for f in snap["files"] if overlaps(f)]

    def read_box(
        self, spark: SparkSession, preds: dict[str, tuple], version: int | None = None
    ) -> DataFrame:
        """Multi-column range scan served by zone maps: only files whose
        stats intersect every predicate are opened (no footer read, no
        task for the others), then the exact filters apply on top. Equal
        to ``read().filter(...)`` by construction; cheaper by the
        skipped files."""
        from pyspark.sql import functions as F

        cond = F.lit(True)
        for col, (lo, hi) in preds.items():
            if lo is not None:
                cond = cond & (F.col(col) >= F.lit(lo))
            if hi is not None:
                cond = cond & (F.col(col) <= F.lit(hi))
        return self._read_pruned(
            spark, lambda v: self.prune_files_box(preds, v), cond, version
        )

    def _read_pruned(self, spark: SparkSession, keep, cond, version: int | None):
        """The one pruned scan behind the point, range and box reads:
        resolve ``version`` ONCE (ADVICE r10: independent ``None``
        resolutions could straddle a concurrent commit and drop its
        files), scan the files ``keep(version)`` returns — the empty
        read when none survives — and apply the exact filter ``cond``."""
        from pyspark.sql import functions as F

        if version is None:
            version = self.latest_version()
        files = keep(version)
        if not files:
            return self.read(spark, version).filter(F.lit(False))
        return self._scan(spark, files, version).filter(cond)

    def changes(
        self,
        spark: SparkSession,
        v_from: int,
        v_to: int | None = None,
        key_cols: tuple[str, ...] = (),
        tracked_cols: tuple[str, ...] = (),
    ) -> DataFrame:
        """Row-level change feed between two committed versions —
        (keys, change_type ∈ {insert, update, delete}) — the table-
        changes read a downstream incremental consumer tails instead of
        re-reading the table. Thin glue over api.snapshot_diff (the CDC
        reconciliation core): one co-partitioned full-outer join of the
        two snapshots, so the cost is the two snapshots' scan + one
        keyed shuffle, independent of how many commits separate them.
        Keys default to the table's bucket keys when bucketed."""
        from dicebox_sensorybatchprocessor_spark import api

        keys = (
            tuple(key_cols)
            or tuple(self.snapshot(v_to).get("bucket_keys") or ())
            or tuple(self.snapshot(v_from).get("bucket_keys") or ())
        )
        if not keys:
            raise ValueError("changes() needs key_cols (or a bucketed endpoint)")
        old = self.read(spark, v_from)
        new = self.read(spark, v_to)
        tracked = tuple(tracked_cols) or tuple(
            c for c in new.columns if c not in keys
        )
        return api.snapshot_diff(old, new, keys, tracked)

    # -- maintenance ----------------------------------------------------
    def _file_sizes(self, snap: dict) -> dict[str, int]:
        """{relative path: bytes} for the snapshot — the sizes its
        manifests recorded at commit (one stat per ADDED file ever,
        never a stat at read). At millions of files this is what keeps
        ``optimize``'s decision a manifest read instead of millions of
        filesystem stat calls."""
        return snap.get("file_sizes", {})

    def file_stats(self, version: int | None = None) -> tuple[int, int]:
        """(file count, total bytes) of the snapshot's data files — from
        the manifest, not a directory walk, so orphans never skew the
        compaction plan."""
        snap = self.snapshot(version)
        return len(snap["files"]), sum(self._file_sizes(snap).values())

    def history(self) -> list[dict]:
        """DESCRIBE HISTORY: one row per retained version, newest first —
        version, base, file/add/remove counts, the in-commit publish
        ``timestamp``, whether it is checkpointed, and the small metadata
        (bucket shape, txn apps, constraint names, mv watermark). Reads
        ONLY the per-version metadata: an O(delta) JSON each, never a
        checkpoint or a resolved file list, so inspecting a million-file
        table's history stays manifest-sized. A manifest vacuumed
        between the listing and its read is skipped; one that is not
        format 2 raises."""
        out = []
        for v in sorted(self._versions(), reverse=True):
            try:
                m = self._read_manifest_json(v)
            except OSError:
                # vanished between the listing and the read: a concurrent
                # vacuum expired it. It is no longer retained history —
                # skip it, exactly as if the listing had run a moment
                # later (reader-race matrix, r11).
                continue
            out.append(
                {
                    "version": v,
                    "base": m["base"],
                    "n_files": m["n_files"],
                    "n_added": len(m["add"]),
                    "n_removed": len(m["remove"]),
                    "timestamp": float(m["ts"]),
                    "checkpointed": os.path.exists(self._ckpt_path(v)),
                    "n_buckets": m.get("n_buckets"),
                    "txn_apps": sorted(m.get("txns", {})),
                    "constraints": sorted(m.get("constraints", {})),
                    "bloom_cols": m.get("bloom_cols"),
                    "mv_base_version": m.get("mv_base_version"),
                }
            )
        return out

    def compact(
        self,
        spark: SparkSession,
        target_file_bytes: int = 128 * 1024 * 1024,
        max_retries: int = 5,
    ) -> dict:
        """Rewrite the current snapshot toward ``target_file_bytes`` per
        file and commit the compacted file set as the next version. A
        concurrent commit landing mid-rewrite conflicts; compaction then
        restarts from the NEW snapshot (its rewrite must include the
        interleaved writer's rows — dropping them is the lost-update the
        manifest protocol exists to prevent). Data movement is one scan
        + one round-robin repartition write; no value-keyed shuffle."""

        def step(snap: dict) -> _Rewrite:
            total = sum(self._file_sizes(snap).values())
            # bucketed tables compact per bucket (one file each) so the
            # bucket map — and partial-rewrite merges — survive
            n_out = snap.get("n_buckets") or max(
                1, math.ceil(total / target_file_bytes)
            )
            # always schema-merge here: a compaction is exactly the pass
            # that settles an evolved table under its widest schema, and
            # a plain read's schema inference samples files — it could
            # silently drop a column added by schema_evolution merges
            df = self.read(spark, snap["version"], merge_schema=True)
            info = {"total_bytes": total, "n_output_files_planned": n_out}
            return _Rewrite(snap["files"], df, n_out, info=info)

        snap, version, plan, added = self._write(step, max_retries)
        return {
            "version": version,
            "n_files_before": len(snap["files"]),
            "n_files_after": len(added),
            **plan.info,
        }

    def compact_small(
        self,
        spark: SparkSession,
        target_file_bytes: int = 128 * 1024 * 1024,
        small_file_bytes: int | None = None,
        max_retries: int = 5,
    ) -> dict:
        """Bin-packing compaction: rewrite ONLY the files smaller than
        ``small_file_bytes`` (default ``target_file_bytes // 2``) into
        ~target-sized files, and carry every already-right-sized file
        into the next snapshot byte-identical. Maintenance cost scales
        with the fragmented tail a streaming ingest leaves behind, not
        the table — ``compact()`` is O(table) and at lake scale a
        nightly OPTIMIZE must be O(small files) or it never finishes.
        Zone maps for carried files are re-read from unchanged footers,
        so skipping survives the commit. Fewer than two small files is a
        no-op (version unchanged, nothing staged). Bucketed tables are
        rejected: each MERGE already rewrites a touched bucket into one
        file, so their fragmentation is bounded by design — use
        ``compact()`` to re-settle an evolved schema instead."""
        small = (
            small_file_bytes
            if small_file_bytes is not None
            else target_file_bytes // 2
        )

        def step(snap: dict) -> _Rewrite | None:
            if snap.get("n_buckets"):
                raise ValueError(
                    "bucketed tables stay one-file-per-bucket; use compact()"
                )
            sizes = self._file_sizes(snap)
            tail = [f for f in snap["files"] if sizes[f] < small]
            if len(tail) < 2:
                return None
            nbytes = sum(sizes[f] for f in tail)
            n_out = max(1, math.ceil(nbytes / target_file_bytes))
            # mergeSchema: the small tail may straddle a schema evolution;
            # the packed files settle under the widest schema of the TAIL
            # only — carried files are untouched by contract
            df = self._scan(spark, tail, snap["version"], merge_schema=True)
            info = {"bytes_rewritten": nbytes, "n_output_files_planned": n_out}
            return _Rewrite(tail, df, n_out, info=info)

        snap, version, plan, added = self._write(step, max_retries)
        n, n_tail = len(snap["files"]), len(plan.drop) if plan else 0
        return {
            "version": version,
            "n_files_before": n,
            "n_files_after": n - n_tail + len(added),
            "n_files_rewritten": n_tail,
            "n_files_carried": n - n_tail,
            **(plan.info if plan else {"bytes_rewritten": 0, "n_output_files_planned": 0}),
        }

    def compact_buckets(
        self, spark: SparkSession, max_retries: int = 5
    ) -> dict:
        """Partial per-bucket compaction: re-coalesce ONLY the buckets
        that hold more than one file (the residue of blind appends on a
        bucketed table) and carry every single-file bucket's file
        byte-identical. Maintenance cost is O(fragmented buckets) —
        :meth:`compact` stays the O(table) pass that also settles an
        evolved schema under one widest footer."""

        def step(snap: dict) -> _Rewrite | None:
            if not snap.get("n_buckets"):
                raise ValueError("compact_buckets needs a bucketed table")
            fb = snap["file_buckets"]
            multi = {b for b, n in Counter(fb.values()).items() if n > 1}
            if not multi:
                return None
            rewrite = [f for f in snap["files"] if fb[f] in multi]
            df = self._scan(spark, rewrite, snap["version"])
            return _Rewrite(rewrite, df, info={"n_buckets_rewritten": len(multi)})

        snap, version, plan, _ = self._write(step, max_retries)
        return {
            "version": version,
            "n_buckets_rewritten": plan.info["n_buckets_rewritten"] if plan else 0,
            "n_files_carried": len(snap["files"]) - (len(plan.drop) if plan else 0),
            "noop": plan is None,
        }

    def optimize(
        self,
        spark: SparkSession,
        target_file_bytes: int = 128 * 1024 * 1024,
        small_file_bytes: int | None = None,
        min_small_files: int = 4,
    ) -> dict:
        """Stats-driven maintenance router — the verb a scheduler calls
        without knowing the table's shape. Reads ONLY the manifest +
        file sizes (no data scan) and routes:

        * bucketed table whose appends have piled files past
          2 × n_buckets → :meth:`compact_buckets` (re-coalesces ONLY
          the multi-file buckets, carries the rest byte-identical);
        * unbucketed table with ≥ ``min_small_files`` files under the
          threshold → :meth:`compact_small` (O(small files));
        * otherwise → no-op (no version burned, no job submitted).

        The decision costs a directory-stat, so calling it after every
        ingest batch is safe; the expensive pass only runs when the
        manifest says fragmentation crossed the line."""
        snap = self.snapshot()
        if not snap["files"]:
            return {"action": "noop", "reason": "empty table"}
        if snap.get("n_buckets"):
            if len(snap["files"]) >= 2 * int(snap["n_buckets"]):
                ledger = self.compact_buckets(spark)
                return {"action": "compact_buckets", **ledger}
            return {"action": "noop", "reason": "buckets within bound"}
        small = (
            small_file_bytes
            if small_file_bytes is not None
            else target_file_bytes // 2
        )
        n_small = sum(
            1 for v in self._file_sizes(snap).values() if v < small
        )
        if n_small >= min_small_files:
            ledger = self.compact_small(
                spark, target_file_bytes, small_file_bytes
            )
            return {"action": "compact_small", **ledger}
        return {"action": "noop", "reason": f"{n_small} small files < {min_small_files}"}

    def vacuum(
        self,
        retain_versions: int = 1,
        min_file_age_s: float = 3600.0,
        dry_run: bool = False,
    ) -> int:
        """Delete data files referenced by NO retained manifest (crash
        orphans and files superseded more than ``retain_versions`` ago),
        AND the expired manifests themselves — a manifest whose files
        are gone is a dangling promise, so time travel past the retained
        window fails explicitly at snapshot resolution instead of at
        scan time. Returns the number of data files removed.

        ``dry_run=True`` is Delta's VACUUM DRY RUN: count the data files
        the same orphan walk WOULD reclaim under these settings and touch
        NOTHING — no manifest expiry, no checkpoint pin, no deletion,
        caches intact. The safety verb to run before the first horizoned
        vacuum on a table with live writers.

        ``min_file_age_s`` is the concurrent-writer horizon (Delta's
        retention-duration mitigation): an in-flight writer's staged
        files are referenced by NO manifest until its commit publishes,
        so a vacuum racing it would reclaim them as orphans and the
        commit would then name deleted files. Files younger than the
        horizon are never touched. The DEFAULT is a conservative 1 hour
        (ADVICE r10 — Delta defaults to hours-to-days for the same
        reason): safe-by-default when maintenance overlaps writers; set
        it above the longest write job's duration on busier tables, and
        pass 0 EXPLICITLY only when every writer is known quiesced
        (stop-the-world maintenance that reclaims crash orphans
        immediately). A file that vanishes mid-walk (a concurrent vacuum
        or writer) is skipped, not counted."""
        latest = self.latest_version()
        keep_versions = range(max(1, latest - retain_versions + 1), latest + 1)
        oldest_keep = keep_versions[0] if keep_versions else 0
        # resolve every retained snapshot BEFORE any manifest is removed
        # (delta chains may run through the versions being expired), and
        # pin the oldest retained version with a checkpoint so it keeps
        # resolving once its ancestors' JSONs are gone
        snaps = {v: self.snapshot(v) for v in keep_versions}
        live = {
            os.path.normpath(os.path.join(self.root, f))
            for snap in snaps.values()
            for f in snap["files"]
        }
        if not dry_run:
            if oldest_keep and not os.path.exists(self._ckpt_path(oldest_keep)):
                self._write_checkpoint(oldest_keep, snaps[oldest_keep])
            for v in self._versions():
                if v not in keep_versions:
                    os.remove(self._manifest_path(v))
            mdir = os.path.join(self.root, _MANIFEST_DIR)
            for name in os.listdir(mdir):
                if name.startswith("ckpt_v") and name.endswith(".parquet"):
                    try:
                        v = int(name[len("ckpt_v") : len("ckpt_v") + _V_DIGITS])
                    except ValueError:
                        continue
                    if v < oldest_keep:
                        os.remove(os.path.join(mdir, name))
            self._snap_cache.clear()
            self._ts_cache.clear()
        removed = 0
        now = time.time()
        data_root = os.path.join(self.root, _DATA_DIR)
        for dirpath, _dirs, names in os.walk(data_root, topdown=False):
            for name in names:
                p = os.path.normpath(os.path.join(dirpath, name))
                if p in live:
                    continue
                try:
                    if (
                        min_file_age_s > 0
                        and now - os.path.getmtime(p) < min_file_age_s
                    ):
                        continue  # possibly an in-flight writer's staging
                    if not dry_run:
                        os.remove(p)
                except OSError:
                    continue  # vanished mid-walk (concurrent vacuum/writer)
                removed += 1
            try:
                if not dry_run and dirpath != data_root and not os.listdir(dirpath):
                    os.rmdir(dirpath)
            except OSError:
                pass
        return removed


def merge_upsert(
    table: ManifestTable,
    updates: DataFrame,
    key_cols: tuple[str, ...],
    max_retries: int = 5,
    n_buckets: int | None = None,
    schema_evolution: bool = False,
    stat_cols: tuple[str, ...] = (),
    txn: tuple[str, int] | None = None,
    delete_keys: DataFrame | None = None,
) -> int:
    """Keyed MERGE (upsert) through the manifest protocol: rows in
    ``updates`` replace same-key rows of the current snapshot, unseen
    keys survive (anti-join ⊎ updates — the CDC-sink / Delta-MERGE
    shape). Optimistic: a conflicting commit re-drives the merge from
    the NEW snapshot, so concurrent mergers serialize without locks.

    PARTIAL REWRITE (round 8): pass ``n_buckets`` on the first merge to
    hash-bucket the table by key. Every later merge then derives the
    buckets its update keys land in, reads and rewrites ONLY those
    buckets' files, and carries every untouched bucket's files into the
    new manifest verbatim — commit cost scales with the delta's key
    spread, not the table (a 1-user update against a 1B-user store
    rewrites 1/n_buckets of it, and the untouched files are reused
    byte-identical, which the tests pin by path). Unbucketed tables
    keep the whole-snapshot rewrite — correct at any size, linear cost.
    Bucket shape is table metadata: later merges inherit it and reject
    mismatched keys.

    ``stat_cols`` (first merge) records per-file [min, max] zone maps in
    every manifest so ``read_range`` can skip files; later merges
    inherit the table's stat columns.

    ``schema_evolution=True`` lets ``updates`` WIDEN the table: new
    columns merge in, existing rows (and old data files) read them as
    null; reads of an evolved table need ``merge_schema=True`` until a
    compaction rewrites every file under the widest schema. Off by
    default so an accidental column rename surfaces as an
    analysis error instead of silently forking the schema.

    ``txn=(app_id, txn_id)`` makes the merge EXACTLY-ONCE under replay:
    if the snapshot already records ``txn_id`` (or newer) for
    ``app_id``, the merge returns the current version without staging a
    byte — the idempotent-foreachBatch contract a streaming sink needs
    when its checkpoint replays a batch whose commit DID land before
    the crash.

    ``delete_keys`` (rows carrying at least ``key_cols``) removes those
    keys in the same atomic commit — the WHEN MATCHED DELETE leg;
    :func:`merge_apply` builds on it to apply a full CDC feed."""
    spark = updates.sparkSession
    updates = table._validate(updates)
    keys = list(key_cols)
    change_keys = updates.select(*keys)
    if delete_keys is not None:
        change_keys = change_keys.unionByName(delete_keys.select(*keys))

    def step(snap: dict) -> _Rewrite:
        drop = _keyed_region(snap, keys, change_keys)
        if not drop:
            return _Rewrite([], updates)
        old = table._scan(spark, drop, snap["version"], merge_schema=schema_evolution)
        merged = old.join(change_keys, keys, "left_anti").unionByName(
            updates, allowMissingColumns=schema_evolution
        )
        return _Rewrite(drop, merged)

    return table._write(
        step,
        max_retries,
        txn=txn,
        key_cols=tuple(keys),
        n_buckets=n_buckets,
        stat_cols=stat_cols,
    )[1]


def _keyed_region(snap: dict, keys: list[str], changes: DataFrame) -> list[str]:
    """The live files a keyed merge rewrites: on a bucketed table, only
    the files of the buckets ``changes``' keys hash to; otherwise all.
    Bucket shape is read from the snapshot, not from its files: a
    schema-bearing EMPTY bucketed v1 (e.g. cdc_stream's raw.limit(0)
    seed) still rejects mismatched keys and keeps its bucketing."""
    if snap.get("n_buckets") and list(snap["bucket_keys"]) != keys:
        raise ValueError(
            f"table is bucketed by {snap['bucket_keys']}, merge keyed "
            f"by {keys} cannot route buckets"
        )
    if not (snap["files"] and snap.get("n_buckets")):
        return snap["files"]
    hit = {
        r["b"]
        for r in changes.select(
            _bucket_of(tuple(keys), snap["n_buckets"]).alias("b")
        ).distinct().collect()
    }
    fb = snap["file_buckets"]
    return [f for f in snap["files"] if fb[f] in hit]


def merge_apply(
    table: ManifestTable,
    changes: DataFrame,
    key_cols: tuple[str, ...],
    op_col: str = "op",
    seq_col: str | None = None,
    delete_ops: tuple[str, ...] = ("delete", "d"),
    max_retries: int = 5,
    n_buckets: int | None = None,
    schema_evolution: bool = False,
    stat_cols: tuple[str, ...] = (),
    txn: tuple[str, int] | None = None,
) -> int:
    """Apply a CDC change feed — rows tagged insert/update/delete — to
    the table in ONE atomic commit: the consumer side of a Debezium /
    table-changes stream. ``changes`` carries the payload columns plus
    ``op_col``; ops in ``delete_ops`` (case-insensitive) remove the key,
    anything else upserts the row.

    ``seq_col`` (an ordering column: LSN, commit ts, version) collapses
    multi-event keys to their LAST event before applying — without it a
    key may appear at most once per feed (violations raise, because
    silently applying both orders of {update, delete} forks replicas).
    Collapse-then-apply is what makes the op NET-EFFECT semantics: a key
    whose history ends in delete is absent even if inserted in the same
    feed, and the whole feed costs one window (or none) + one merge,
    whatever its event count. Bucketed tables route BOTH upserts and
    deletes to their buckets, so the commit still rewrites only touched
    buckets; ``txn`` gives replayed feeds the exactly-once skip."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    keys = list(key_cols)
    payload = [c for c in changes.columns if c not in (op_col, seq_col)]
    op_norm = F.lower(F.col(op_col).cast("string"))
    if seq_col is not None:
        w = W.partitionBy(*keys).orderBy(
            F.col(seq_col).desc(), op_norm.desc()
        )
        last = (
            changes.withColumn("__sbp_rn", F.row_number().over(w))
            .filter(F.col("__sbp_rn") == 1)
            .drop("__sbp_rn")
        )
    else:
        dup = (
            changes.groupBy(*keys).count().filter(F.col("count") > 1).limit(1)
        )
        if dup.take(1):
            raise ValueError(
                "merge_apply without seq_col requires at most one change "
                "per key; pass seq_col to collapse multi-event keys"
            )
        last = changes
    is_delete = op_norm.isin([o.lower() for o in delete_ops])
    upserts = last.filter(~is_delete).select(*payload)
    deletes = last.filter(is_delete).select(*keys)
    return merge_upsert(
        table,
        upserts,
        tuple(keys),
        max_retries=max_retries,
        n_buckets=n_buckets,
        schema_evolution=schema_evolution,
        stat_cols=stat_cols,
        txn=txn,
        delete_keys=deletes,
    )


def merge_into(
    table: ManifestTable,
    source: DataFrame,
    key_cols: tuple[str, ...],
    matched_update: dict[str, str] | None = None,
    matched_update_condition: str | None = None,
    matched_delete_condition: str | None = None,
    insert_unmatched: bool = True,
    insert_condition: str | None = None,
    max_retries: int = 5,
    n_buckets: int | None = None,
    txn: tuple[str, int] | None = None,
    schema_evolution: bool = False,
) -> int:
    """Conditional MERGE (the full Delta/SQL:2003 MERGE INTO statement,
    where :func:`merge_upsert` is the replace-whole-row special case):

    * WHEN MATCHED [AND ``matched_delete_condition``] THEN DELETE
    * WHEN MATCHED [AND ``matched_update_condition``] THEN UPDATE SET
      ``matched_update`` — {target column: SQL expression over ``t.*``
      (current row) and ``s.*`` (source row)}, unlisted columns keep
      their target values; matched rows failing both conditions stay
      byte-for-byte (delete is tested first, as in Delta)
    * WHEN NOT MATCHED [AND ``insert_condition`` over ``s.*``] THEN
      INSERT (source must carry every target column; extra source
      columns are join inputs only and never land)

    Execution is ONE plan over the touched region: full-outer join of
    region rows with the (broadcast-eligible) source on the keys, one
    CASE per column — no per-leg passes. Bucketed tables rewrite only
    the buckets holding source keys and carry every other file
    byte-identical, exactly like merge_upsert; ``txn`` gives replays
    the exactly-once skip. Duplicate source keys raise (two legs
    updating one target row is nondeterministic — same rule as Delta),
    which costs one O(source) aggregate, never an O(table) pass.

    ``schema_evolution=True`` is Delta's automatic MERGE evolution:
    source columns absent from the target are ADDED (existing rows read
    NULL), update expressions may set them, and the insert leg fills
    target-only columns the source lacks with NULL instead of raising.
    As with merge_upsert, read the evolved table with
    ``merge_schema=True`` until a compaction settles every file under
    the widest schema."""
    from pyspark.sql import functions as F

    spark = source.sparkSession
    keys = list(key_cols)
    matched_update = dict(matched_update or {})
    if source.groupBy(*keys).count().filter(F.col("count") > 1).take(1):
        raise ValueError(
            "merge_into source has duplicate keys: collapse the feed first "
            "(merge_apply seq_col does this for CDC streams)"
        )

    def rewrite(region: DataFrame) -> DataFrame:
        if schema_evolution:
            for fld in source.schema.fields:
                if fld.name not in region.columns:
                    region = region.withColumn(
                        fld.name, F.lit(None).cast(fld.dataType)
                    )
        tcols = region.columns
        missing = [c for c in tcols if c not in source.columns]
        if insert_unmatched and missing and not schema_evolution:
            raise ValueError(
                f"insert leg needs every target column in the source; "
                f"missing {missing} — pass insert_unmatched=False for "
                f"an update/delete-only merge, or schema_evolution=True "
                f"to fill them with NULL"
            )
        # LEFT join + anti-join insert leg, never a full outer: both legs
        # are broadcast-eligible on the (usually small) source, so the
        # region — the big side — is scanned WITHOUT being shuffled. A
        # full-outer equi-join would force a key shuffle of the whole
        # region even for a one-row source.
        src = source.withColumn("__s", F.lit(1)).alias("s")
        tgt = region.alias("t")
        cond = F.lit(True)
        for k in keys:
            cond = cond & (F.col(f"t.{k}") == F.col(f"s.{k}"))
        j = tgt.join(src, cond, "left_outer")
        matched = F.col("s.__s").isNotNull()
        # SQL/Delta MERGE treats a NULL leg condition as NOT satisfied —
        # coalesce to False so three-valued logic can't make
        # ~(matched & NULL) silently DROP the row from the kept set
        # (filter discards NULL predicates, which turned "condition
        # unknown" into a delete).
        del_c = (
            F.coalesce(F.expr(matched_delete_condition), F.lit(False))
            if matched_delete_condition
            else F.lit(False)
        )
        upd_c = (
            F.coalesce(F.expr(matched_update_condition), F.lit(False))
            if matched_update_condition
            else F.lit(True)
        )
        updated = matched & ~del_c & upd_c & F.lit(bool(matched_update))
        kept = j.filter(~(matched & del_c))
        out = []
        for c in tcols:
            val = F.col(f"t.{c}")
            if c in matched_update:
                val = F.when(updated, F.expr(matched_update[c])).otherwise(val)
            out.append(val.alias(c))
        result = kept.select(*out)
        if insert_unmatched:
            ins_c = (
                F.coalesce(F.expr(insert_condition), F.lit(False))
                if insert_condition
                else F.lit(True)
            )
            inserts = (
                source.alias("s")
                .join(region.select(*keys), keys, "left_anti")
                .filter(ins_c)
            )
            if schema_evolution and missing:
                types = {f.name: f.dataType for f in region.schema.fields}
                for c in missing:
                    inserts = inserts.withColumn(
                        c, F.lit(None).cast(types[c])
                    )
            result = result.unionByName(inserts.select(*tcols))
        return result

    def step(snap: dict) -> _Rewrite:
        if not snap["files"]:
            raise ValueError(
                "merge_into needs an existing target; create the table "
                "first (overwrite / append / merge_upsert)"
            )
        drop = _keyed_region(snap, keys, source)
        # no touched bucket: the region is empty but keeps the schema
        region = table._scan(
            spark, drop or snap["files"], snap["version"], merge_schema=schema_evolution
        )
        rewritten = rewrite(region if drop else region.limit(0))
        return _Rewrite(drop, table._validate(rewritten.select(*rewritten.columns)))

    return table._write(
        step, max_retries, txn=txn, key_cols=tuple(keys), n_buckets=n_buckets
    )[1]


def _touched_files(
    table: ManifestTable, spark: SparkSession, snap: dict, condition: str
) -> list[str]:
    """Root-relative data files that contain at least one row matching
    ``condition`` — the file-pruning pass behind UPDATE/DELETE: one
    scan with the predicate PUSHED DOWN (parquet row-group stats and
    manifest zone maps both help), emitting only distinct file names.
    Files with no matching row are carried into the next version
    byte-identical, so the rewrite cost is O(files with matches), not
    O(table)."""
    from pyspark.sql import functions as F

    rows = (
        table.read(spark, snap["version"])
        .filter(F.expr(condition))
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    )
    prefix = "file://" + os.path.abspath(table.root) + "/"
    touched = set()
    for r in rows:
        p = r["f"]
        if p.startswith(prefix):
            touched.add(p[len(prefix):])
        else:  # no scheme (local FS without file:// normalization)
            touched.add(os.path.relpath(p, os.path.abspath(table.root)))
    return [f for f in snap["files"] if f in touched]


def _rewrite_where(
    table: ManifestTable,
    spark: SparkSession,
    verb: str,
    condition: str,
    rewrite,
    max_retries: int,
    txn: tuple[str, int] | None,
    set_cols=(),
) -> dict:
    """DELETE and UPDATE's one write: each attempt replaces the files
    holding a row that matches ``condition`` (:func:`_touched_files`)
    with ``rewrite(their rows)``; ``set_cols`` may not name a bucket
    key. Returns the {version, n_files_touched, n_files_carried, noop}
    ledger."""

    def step(snap: dict) -> _Rewrite | None:
        if not snap["files"]:
            raise ValueError(f"{verb} needs an existing table")
        bad = set(set_cols) & set(snap.get("bucket_keys") or ())
        if bad:
            raise ValueError(
                f"cannot update bucket key columns {sorted(bad)}; "
                f"route a key change as delete+insert (merge_apply)"
            )
        touched = _touched_files(table, spark, snap, condition)
        if not touched:
            return None
        return _Rewrite(touched, rewrite(table._scan(spark, touched, snap["version"])))

    snap, version, plan, _ = table._write(step, max_retries, txn=txn)
    n = len(plan.drop) if plan else 0
    return {"version": version, "n_files_touched": n,
            "n_files_carried": len(snap["files"]) - n, "noop": plan is None}


def delete_where(
    table: ManifestTable,
    spark: SparkSession,
    condition: str,
    max_retries: int = 5,
    txn: tuple[str, int] | None = None,
) -> dict:
    """DELETE FROM table WHERE condition, as one atomic commit: files
    containing matching rows are rewritten with the predicate inverted;
    every other file is carried byte-identical (see
    :func:`_touched_files`). Bucketed tables restage the touched rows
    bucket-partitioned so the bucket map stays exact. Returns a ledger
    {version, n_files_touched, n_files_carried}."""
    from pyspark.sql import functions as F

    def remainder(region: DataFrame) -> DataFrame:
        return region.filter(~F.coalesce(F.expr(condition), F.lit(False)))

    return _rewrite_where(
        table, spark, "delete_where", condition, remainder, max_retries, txn
    )


def update_where(
    table: ManifestTable,
    spark: SparkSession,
    set_exprs: dict[str, str],
    condition: str,
    max_retries: int = 5,
    txn: tuple[str, int] | None = None,
) -> dict:
    """UPDATE table SET col = expr, ... WHERE condition, as one atomic
    commit with the same touched-file pruning as :func:`delete_where`:
    only files holding matching rows rewrite (non-matching rows in
    those files are carried through the rewrite unchanged), everything
    else is reused byte-identical. On bucketed tables the bucket KEY
    columns cannot be updated (a key change moves the row's bucket —
    that is a delete + insert, i.e. :func:`merge_apply`'s job). CHECK
    constraints validate the rewritten rows."""
    from pyspark.sql import functions as F

    hit = F.coalesce(F.expr(condition), F.lit(False))

    def updated(region: DataFrame) -> DataFrame:
        cols = [
            F.when(hit, F.expr(set_exprs[c])).otherwise(F.col(c)).alias(c)
            if c in set_exprs
            else F.col(c)
            for c in region.columns
        ]
        return table._validate(region.select(*cols))

    return _rewrite_where(
        table, spark, "update_where", condition, updated, max_retries, txn,
        set_cols=tuple(set_exprs),
    )
