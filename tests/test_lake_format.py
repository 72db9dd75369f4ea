"""One code path per lake decision: the manifest format-2 rule, the
size every commit records, empty micro-batches that publish their txn
without a file, and zone-map pruning over one snapshot resolution."""

from __future__ import annotations

import json
import os
import time

import pyarrow.parquet as pq
import pytest

from dicebox_sensorybatchprocessor_spark import all_queries
from dicebox_sensorybatchprocessor_spark.lake import ManifestTable
from dicebox_sensorybatchprocessor_spark.mv import MaterializedAgg
from tests.conftest import SF_SMOKE


def _df(spark, pairs):
    return spark.createDataFrame(pairs, "k int, v string")


def _row_counts(t: ManifestTable) -> list[int]:
    return [
        pq.read_metadata(os.path.join(t.root, f)).num_rows
        for f in t.snapshot()["files"]
    ]


@pytest.mark.parametrize("key", ["fmt", "ts"])
def test_non_format2_manifest_is_rejected_naming_its_version(spark, tmp_path, key):
    """A manifest without ``fmt`` 2 or its in-commit ``ts`` is not a
    manifest: snapshot resolution, timestamp travel and history all
    raise a ValueError that names the version, with no fallback."""
    t = ManifestTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]), n_files=1)
    t.append(_df(spark, [(2, "b")]), n_files=1)
    p = t._manifest_path(2)
    with open(p) as fh:
        m = json.load(fh)
    del m[key]
    with open(p, "w") as fh:
        json.dump(m, fh)
    fresh = ManifestTable(t.root)  # no resolution cached
    for call in (
        fresh.snapshot,
        lambda: fresh.version_at(time.time()),
        fresh.history,
    ):
        with pytest.raises(ValueError, match="manifest v2 is not format 2"):
            call()


def test_commit_naming_a_missing_file_publishes_nothing(spark, tmp_path):
    """commit records the size of every file it adds, so a file that is
    not there raises before any manifest (or its temp file) is written."""
    t = ManifestTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]), n_files=1)
    snap = t.snapshot()
    mdir = os.path.join(t.root, "_sbp_manifests")
    listing = sorted(os.listdir(mdir))
    with pytest.raises(FileNotFoundError):
        t.commit(snap["files"] + ["data/gone/part-0.parquet"], snap["version"])
    assert t.latest_version() == snap["version"]
    assert sorted(os.listdir(mdir)) == listing
    sizes = t.snapshot()["file_sizes"]
    assert sizes == {
        f: os.path.getsize(os.path.join(t.root, f)) for f in snap["files"]
    }


def test_empty_append_publishes_its_txn_without_a_file(spark, tmp_path):
    """An empty micro-batch appended onto a non-empty table publishes a
    version that records its txn and adds no 0-row file."""
    t = ManifestTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b")]), txn=("app", 0))
    files = t.snapshot()["files"]
    v = t.append(_df(spark, []), txn=("app", 1))
    assert v == 2
    assert t.snapshot()["files"] == files
    assert t.txn_version("app") == 1
    assert t.history()[0]["n_added"] == 0
    assert t.append(_df(spark, []), txn=("app", 1)) == 2  # replay: skipped
    assert sorted((r.k, r.v) for r in t.read(spark).collect()) == [(1, "a"), (2, "b")]


def test_empty_append_onto_empty_table_keeps_the_schema_file(spark, tmp_path):
    """With no other file to carry the schema, the 0-row file stays: an
    empty table (cdc_stream's ``limit(0)`` seed) still reads with its
    columns, until the first rows arrive."""
    t = ManifestTable(str(tmp_path / "t"))
    assert t.append(_df(spark, []), txn=("app", 0)) == 1
    assert _row_counts(t) == [0]
    back = t.read(spark)
    assert back.columns == ["k", "v"] and back.count() == 0
    # the first rows supersede the schema file
    t.append(_df(spark, [(1, "a")]), txn=("app", 1))
    assert 0 not in _row_counts(t) and t.txn_version("app") == 1


def test_watermark_sinks_leave_no_empty_live_file(spark, monkeypatch):
    """The three watermark-driven sinks whose trailing micro-batches
    emit no rows publish those batches without a file: no live file of
    any table they commit to has 0 rows."""
    roots: set[str] = set()
    orig = ManifestTable.commit

    def spy(self, *args, **kwargs):
        roots.add(self.root)
        return orig(self, *args, **kwargs)

    monkeypatch.setattr(ManifestTable, "commit", spy)
    queries = all_queries()
    for name in ("stream_watermark", "stream_join_outer", "stream_dedup_wm"):
        roots.clear()
        assert queries[name].fn(spark, SF_SMOKE).count() > 0
        assert roots, name
        for root in roots:
            counts = _row_counts(ManifestTable(root))
            assert counts and 0 not in counts, (name, root, counts)


def test_prune_files_box_resolves_version_once(spark, tmp_path, monkeypatch):
    """prune_files_box(version=None) resolves the latest snapshot once:
    a commit that replaces every file right after that resolution cannot
    make the result a mix of two versions (at worst it is the older
    version's survivors, never an empty or torn list)."""
    t = ManifestTable(str(tmp_path / "t"))
    t.overwrite(
        spark.range(400).selectExpr("CAST(id AS INT) k", "CAST(id % 7 AS STRING) v"),
        cluster_by=("k",),
        n_files=4,
    )
    preds = {"k": (50, 250), "v": (None, None)}
    want = t.prune_files_box(preds)
    assert 0 < len(want) < 4
    other = ManifestTable(t.root)
    orig = ManifestTable.snapshot
    fired: list[int] = []

    def snapshot(self, version=None):
        out = orig(self, version)
        if not fired:
            fired.append(out["version"])
            # a concurrent writer replaces the whole table
            staged = other.stage(_df(spark, [(100, "x")]), n_files=1)
            other.commit(staged, other.latest_version())
        return out

    monkeypatch.setattr(ManifestTable, "snapshot", snapshot)
    got = t.prune_files_box(preds)
    assert got == want and fired == [1]


def test_noop_refresh_ledger_carries_mode(spark, tmp_path):
    """A refresh with nothing pending reports mode ``noop`` (bench
    reads the key on every ledger)."""
    base = ManifestTable(str(tmp_path / "base"))
    base.append(_df(spark, [(1, "a"), (2, "a")]))
    mv = MaterializedAgg(base, str(tmp_path / "mv"), ("v",), {"n": ("count", "*")})
    assert mv.refresh(spark)["mode"] == "recompute"
    assert mv.refresh(spark)["mode"] == "noop"
