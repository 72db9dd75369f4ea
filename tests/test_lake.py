"""Manifest-commit protocol (lake.ManifestTable) — the crash-injection
and concurrency properties VERDICT r7 #2 demands:

* a writer dying between the data-file write and the manifest publish
  leaves the OLD snapshot fully readable and the new files invisible;
  re-running the job converges and vacuum reclaims the orphans;
* two writers racing the same base version get exactly one winner;
* a torn (partially written) manifest is invisible to readers;
* compaction commits atomically and loses no rows, and a writer landing
  mid-compaction forces the compaction to retry from the new snapshot
  rather than dropping that writer's rows.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dicebox_sensorybatchprocessor_spark import lake
from dicebox_sensorybatchprocessor_spark.lake import (
    CommitConflict,
    ManifestTable,
    merge_upsert,
)


def _df(spark, pairs):
    return spark.createDataFrame(pairs, "k int, v string")


def _rows(df):
    return sorted((r.k, r.v) for r in df.collect())


def _touch(t, files):
    """Create empty stand-ins for ``files`` under ``t``'s root: a commit
    records every added file's size, so the files it names must exist."""
    for f in files:
        p = os.path.join(t.root, f)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        open(p, "wb").close()
    return files


def test_commit_and_read_roundtrip(spark, tmp_path):
    t = ManifestTable(str(tmp_path / "t"))
    v = t.commit(t.stage(_df(spark, [(1, "a"), (2, "b")])), base_version=0)
    assert v == 1
    assert _rows(t.read(spark)) == [(1, "a"), (2, "b")]


def test_crash_between_stage_and_publish_keeps_old_snapshot(spark, tmp_path):
    t = ManifestTable(str(tmp_path / "t"))
    t.commit(t.stage(_df(spark, [(1, "a")])), base_version=0)

    # simulated crash: data files staged, process dies before commit
    orphaned = t.stage(_df(spark, [(1, "CRASH"), (9, "CRASH")]))
    assert orphaned  # files exist on disk ...
    assert _rows(t.read(spark)) == [(1, "a")]  # ... but readers see v1
    assert t.latest_version() == 1

    # re-running the job converges on the intended state
    t.commit(t.stage(_df(spark, [(1, "b"), (9, "z")])), base_version=1)
    assert _rows(t.read(spark)) == [(1, "b"), (9, "z")]

    # vacuum reclaims the crash orphans (and the superseded v1 files);
    # min_file_age_s=0 is the explicit stop-the-world opt-in — the
    # default horizon (1 h) would protect these freshly-staged orphans
    # as possible in-flight writers
    removed = t.vacuum(retain_versions=1, min_file_age_s=0)
    assert removed >= len(orphaned)
    assert _rows(t.read(spark)) == [(1, "b"), (9, "z")]


def test_torn_manifest_is_invisible(spark, tmp_path):
    t = ManifestTable(str(tmp_path / "t"))
    t.commit(t.stage(_df(spark, [(1, "a")])), base_version=0)
    # simulated crash mid-manifest-write: only the atomic link creates
    # v*.json names, so a torn temp file can never be resolved
    torn = os.path.join(t.root, "_sbp_manifests", "garbage.tmp")
    with open(torn, "w") as fh:
        fh.write('{"version": 99, "files": [')
    assert t.latest_version() == 1
    assert _rows(t.read(spark)) == [(1, "a")]


def test_concurrent_commits_get_one_winner(spark, tmp_path):
    t = ManifestTable(str(tmp_path / "t"))
    t.commit(t.stage(_df(spark, [(1, "a")])), base_version=0)
    files_w1 = t.stage(_df(spark, [(2, "w1")]))
    files_w2 = t.stage(_df(spark, [(3, "w2")]))
    assert t.commit(files_w1, base_version=1) == 2
    with pytest.raises(CommitConflict):
        t.commit(files_w2, base_version=1)
    assert _rows(t.read(spark)) == [(2, "w1")]


def test_merge_upsert_semantics_and_conflict_retry(spark, tmp_path):
    t = ManifestTable(str(tmp_path / "t"))
    merge_upsert(t, _df(spark, [(1, "a"), (2, "b")]), ("k",))
    # later version overwrites same keys, unseen keys survive
    merge_upsert(t, _df(spark, [(2, "B"), (3, "c")]), ("k",))
    assert _rows(t.read(spark)) == [(1, "a"), (2, "B"), (3, "c")]

    # inject a competing commit between snapshot resolution and publish:
    # the merge must retry against the NEW snapshot, keeping (9, "race")
    real_commit, injected = t.commit, []

    def racing_commit(files, base_version, **kwargs):
        if not injected:
            injected.append(True)
            real_commit(t.stage(_df(spark, [(9, "race")])
                                .unionByName(t.read(spark))), base_version)
        return real_commit(files, base_version, **kwargs)

    t.commit = racing_commit
    merge_upsert(t, _df(spark, [(1, "A")]), ("k",))
    t.commit = real_commit
    assert _rows(t.read(spark)) == [(1, "A"), (2, "B"), (3, "c"), (9, "race")]


def test_compact_preserves_rows_and_reduces_files(spark, tmp_path):
    t = ManifestTable(str(tmp_path / "t"))
    df = spark.range(1000).selectExpr("CAST(id AS INT) k", "CAST(id AS STRING) v")
    t.commit(t.stage(df, n_files=16), base_version=0)
    n_before, _ = t.file_stats()
    assert n_before == 16
    stats = t.compact(spark, target_file_bytes=1 << 30)
    assert stats["n_files_after"] < n_before
    assert stats["version"] == 2
    assert t.read(spark).count() == 1000
    # old snapshot still time-travel readable until vacuumed
    assert t.read(spark, version=1).count() == 1000


def test_remote_scheme_refused(tmp_path):
    with pytest.raises(NotImplementedError):
        ManifestTable("s3a://bucket/table")


def test_concurrent_merge_upsert_threads_lose_nothing(spark, tmp_path):
    """Four writer threads merge disjoint key ranges into one table
    concurrently. The optimistic protocol must serialize them into
    exactly 4 committed versions with every row present — no lost
    updates, no torn reads — whatever the interleaving."""
    import threading

    t = ManifestTable(str(tmp_path / "t"))
    errors = []

    def writer(i):
        try:
            merge_upsert(
                t,
                _df(spark, [(i * 10 + j, f"w{i}") for j in range(5)]),
                ("k",),
                max_retries=20,
            )
        except Exception as exc:  # surfaced below — threads swallow otherwise
            errors.append(exc)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors
    assert t.latest_version() == 4
    got = _rows(t.read(spark))
    assert got == sorted((i * 10 + j, f"w{i}") for i in range(4) for j in range(5))


def test_manifest_read_keeps_pushdown_and_pruning(spark, tmp_path):
    """Reading through the manifest (explicit file list) must behave like
    a directory scan for Catalyst: filters reach the parquet scan as
    PushedFilters and the ReadSchema carries only the projected columns
    — the manifest changes WHICH files are read, never how well."""
    t = ManifestTable(str(tmp_path / "t"))
    df = spark.range(10_000).selectExpr(
        "CAST(id AS INT) k", "CAST(id AS STRING) v", "CAST(id % 7 AS INT) grp"
    )
    t.commit(t.stage(df, n_files=4), base_version=0)
    plan = (
        t.read(spark)
        .filter("k > 9000")
        .select("k")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [IsNotNull(k), GreaterThan(k,9000)]" in plan, plan
    assert "ReadSchema: struct<k:int>" in plan, plan


def test_bucketed_merge_rewrites_only_touched_buckets(spark, tmp_path):
    """The partial-rewrite contract: after bucketing by key, a merge
    touching few keys must carry every untouched bucket's files into
    the new manifest VERBATIM (same paths — zero rewrite) and produce
    the same rows a whole-snapshot merge would."""
    t = ManifestTable(str(tmp_path / "t"))
    base = _df(spark, [(k, "v0") for k in range(64)])
    merge_upsert(t, base, ("k",), n_buckets=8)
    snap1 = t.snapshot()
    assert snap1["n_buckets"] == 8 and snap1["bucket_keys"] == ["k"]
    assert set(snap1["file_buckets"].values()) <= set(range(8))

    # single-key update: at most one bucket rewrites
    merge_upsert(t, _df(spark, [(5, "v1")]), ("k",))
    snap2 = t.snapshot()
    from dicebox_sensorybatchprocessor_spark.lake import _bucket_of

    touched = spark.createDataFrame([(5,)], "k int").select(
        _bucket_of(("k",), 8).alias("b")
    ).first()["b"]
    untouched_v1 = {f for f, b in snap1["file_buckets"].items() if b != touched}
    assert untouched_v1 <= set(snap2["files"])  # reused byte-identical by path
    rewritten = set(snap2["files"]) - set(snap1["files"])
    assert all(snap2["file_buckets"][f] == touched for f in rewritten)

    rows = dict(_rows(t.read(spark)))
    assert rows[5] == "v1" and rows[4] == "v0" and len(rows) == 64

    # mismatched merge keys cannot route buckets -> explicit error
    with pytest.raises(ValueError, match="bucketed"):
        merge_upsert(t, _df(spark, [(1, "x")]).withColumnRenamed("k", "q"), ("q",))


def test_bucketed_compact_and_merge_after_compact(spark, tmp_path):
    """A bucketed table's file count stays bounded by n_buckets across
    merges (touched buckets REPLACE their file, untouched reuse — no
    fragmentation to accumulate), compaction preserves the bucket map,
    and partial-rewrite merges keep working afterwards."""
    t = ManifestTable(str(tmp_path / "t"))
    for i in range(4):
        merge_upsert(
            t, _df(spark, [(k, f"v{i}") for k in range(i, 64, 4)]), ("k",),
            n_buckets=4,
        )
    n_files, _ = t.file_stats()
    assert n_files <= 4  # bounded by n_buckets after ANY merge history
    stats = t.compact(spark)
    snap = t.snapshot()
    assert stats["n_files_after"] <= 4
    assert snap["n_buckets"] == 4 and len(snap["file_buckets"]) == len(snap["files"])
    assert t.read(spark).count() == 64

    before = set(t.snapshot()["files"])
    merge_upsert(t, _df(spark, [(7, "post")]), ("k",))
    after = t.snapshot()
    assert len(before & set(after["files"])) >= 3  # ≥3 of 4 buckets reused
    assert dict(_rows(t.read(spark)))[7] == "post"


def test_schema_evolution_widens_and_compaction_settles(spark, tmp_path):
    """schema_evolution=True lets an update add a column (old rows read
    null under merge_schema=True); compaction rewrites every file under
    the widest schema so plain reads work again. Without the flag, a
    widened update is an analysis error, not a silent fork."""
    t = ManifestTable(str(tmp_path / "t"))
    merge_upsert(t, _df(spark, [(1, "a"), (2, "b")]), ("k",))
    widened = spark.createDataFrame(
        [(2, "B", 9.5)], "k int, v string, score double"
    )
    with pytest.raises(Exception):  # strict default refuses the widening
        merge_upsert(t, widened, ("k",))
    merge_upsert(t, widened, ("k",), schema_evolution=True)

    rows = {r.k: (r.v, r.score)
            for r in t.read(spark, merge_schema=True).collect()}
    assert rows == {1: ("a", None), 2: ("B", 9.5)}

    t.compact(spark)  # compaction always schema-merges, then rewrites
    rows = {r.k: (r.v, r.score) for r in t.read(spark).collect()}
    assert rows == {1: ("a", None), 2: ("B", 9.5)}


def test_file_stats_data_skipping(spark, tmp_path):
    """Zone-map pruning: a commit with stat_cols records per-file
    [min, max] from the parquet footers; read_range hands Spark only
    intersecting files (never opening the rest) and equals
    read().filter() row-for-row. Files lacking stats are must-keep."""
    t = ManifestTable(str(tmp_path / "t"))
    # 4 files with disjoint k ranges via range-partitioned staging
    df = spark.range(4000).selectExpr("CAST(id AS INT) k", "CAST(id AS STRING) v")
    files = t.stage(df.repartitionByRange(4, "k"), )
    t.commit(files, base_version=0, stat_cols=("k",))
    snap = t.snapshot()
    assert set(snap["stat_cols"]) == {"k"}
    assert all("k" in s for s in snap["file_stats"].values())

    pruned = t.prune_files("k", 100, 150)
    assert 0 < len(pruned) < len(snap["files"])

    got = sorted(r.k for r in t.read_range(spark, "k", 100, 150).collect())
    want = sorted(
        r.k for r in t.read(spark).filter("k >= 100 and k <= 150").collect()
    )
    assert got == want == list(range(100, 151))

    # out-of-range scan touches zero files but stays a valid (empty) plan
    assert t.prune_files("k", 10_000, None) == []
    assert t.read_range(spark, "k", 10_000, None).count() == 0

    # stats survive merges (inherited) and compaction
    merge_upsert(t, _df(spark, [(42, "updated")]), ("k",))
    assert t.snapshot().get("stat_cols") == ["k"]
    t.compact(spark)
    snap3 = t.snapshot()
    assert snap3.get("stat_cols") == ["k"] and snap3["file_stats"]
    got = {r.v for r in t.read_range(spark, "k", 42, 42).collect()}
    assert got == {"updated"}


def test_clustered_overwrite_maximizes_skipping(spark, tmp_path):
    """cluster_by range-partitions + sorts before staging so zone maps
    actually skip: a narrow range scan over the clustered table touches
    ~1 of N files, while the same data shuffled randomly keeps stats
    but overlaps (skips nothing). Both return identical rows."""
    df = spark.range(8000).selectExpr(
        "CAST(pmod(id * 2654435761, 8000) AS INT) k", "CAST(id AS STRING) v"
    )
    clustered = ManifestTable(str(tmp_path / "c"))
    clustered.overwrite(df, cluster_by=("k",), n_files=8)
    messy = ManifestTable(str(tmp_path / "m"))
    messy.overwrite(df.repartition(8), stat_cols=("k",), n_files=8)

    n_c = len(clustered.prune_files("k", 100, 200))
    n_m = len(messy.prune_files("k", 100, 200))
    assert n_c <= 2 < n_m == 8  # clustered skips, shuffled overlaps

    got_c = sorted(r.k for r in clustered.read_range(spark, "k", 100, 200).collect())
    got_m = sorted(r.k for r in messy.read_range(spark, "k", 100, 200).collect())
    assert got_c == got_m == list(range(100, 201))


def test_vacuum_expires_manifests_explicitly(spark, tmp_path):
    """After vacuum(retain_versions=1) the expired version's manifest is
    gone: time travel past the window fails at snapshot resolution (a
    clear FileNotFoundError) instead of dangling into deleted data."""
    t = ManifestTable(str(tmp_path / "t"))
    t.commit(t.stage(_df(spark, [(1, "a")])), base_version=0)
    t.commit(t.stage(_df(spark, [(1, "b")])), base_version=1)
    t.vacuum(retain_versions=1)
    assert t.latest_version() == 2
    assert _rows(t.read(spark)) == [(1, "b")]
    with pytest.raises(FileNotFoundError):
        t.snapshot(1)


def test_changes_between_versions(spark, tmp_path):
    """Version-to-version change feed: inserts/updates/deletes classified
    between any two committed snapshots, keys defaulting to the bucket
    keys."""
    t = ManifestTable(str(tmp_path / "t"))
    merge_upsert(t, _df(spark, [(1, "a"), (2, "b"), (3, "c")]), ("k",), n_buckets=4)
    # v2: update 2, insert 4; (deletes need an overwrite — do one at v3)
    merge_upsert(t, _df(spark, [(2, "B"), (4, "d")]), ("k",))
    t.overwrite(_df(spark, [(1, "a"), (2, "B"), (4, "d")]))  # drop k=3

    ch12 = {(r.k, r.change_type) for r in t.changes(spark, 1, 2).collect()}
    assert ch12 == {(2, "update"), (4, "insert")}
    ch13 = {(r.k, r.change_type) for r in t.changes(spark, 1, 3).collect()}
    assert ch13 == {(2, "update"), (4, "insert"), (3, "delete")}


def test_file_stats_tolerate_empty_files(spark, tmp_path):
    """A zero-row data file (empty partition) must not break stats
    collection; it carries no stats and is therefore must-keep."""
    t = ManifestTable(str(tmp_path / "t"))
    df = spark.createDataFrame([(1, "a")], "k int, v string")
    files = t.stage(df, n_files=4)  # 1 row across 4 files -> 3 empty
    t.commit(files, base_version=0, stat_cols=("k",))
    assert _rows(t.read_range(spark, "k", 1, 1)) == [(1, "a")]
    assert _rows(t.read_range(spark, "k", 99, 99)) == []


def test_merge_replay_is_content_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: after a sink crash the checkpoint
    REPLAYS the last micro-batch, re-applying its merge. The keyed merge
    is deterministic (anti-join + updates), so a replay commits a new
    version with IDENTICAL content — the upsert sink is effectively-once
    in content even though the version counter ticks. Holds for both
    whole-snapshot and bucketed partial-rewrite merges."""
    for nb in (None, 4):
        t = ManifestTable(str(tmp_path / f"t{nb}"))
        merge_upsert(t, _df(spark, [(1, "a"), (2, "b")]), ("k",), n_buckets=nb)
        batch2 = _df(spark, [(2, "B"), (3, "c")])
        merge_upsert(t, batch2, ("k",))
        before = _rows(t.read(spark))
        merge_upsert(t, batch2, ("k",))  # simulated checkpoint replay
        assert _rows(t.read(spark)) == before, nb
        assert t.latest_version() == 3


def test_txn_commit_records_and_carries_forward(spark, tmp_path):
    t = ManifestTable(str(tmp_path / "t"))
    t.commit(t.stage(_df(spark, [(1, "a")])), 0, txn=("app", 0))
    assert t.txn_version("app") == 0
    assert t.txn_version("other") == -1
    # a txn-less commit carries the record forward
    t.commit(t.stage(_df(spark, [(1, "b")])), 1)
    assert t.txn_version("app") == 0
    # a newer txn advances it; an older one can never regress it
    t.commit(t.stage(_df(spark, [(1, "c")])), 2, txn=("app", 5))
    t.commit(t.stage(_df(spark, [(1, "d")])), 3, txn=("app", 2))
    assert t.txn_version("app") == 5


def test_txn_merge_replay_is_protocol_noop(spark, tmp_path):
    """A replayed (app, batch) merge must not even stage data: the
    version stays put and the data directory gains no files."""
    t = ManifestTable(str(tmp_path / "t"))
    merge_upsert(t, _df(spark, [(1, "a"), (2, "b")]), ("k",), txn=("s", 0))
    merge_upsert(t, _df(spark, [(2, "B"), (3, "c")]), ("k",), txn=("s", 1))
    v = t.latest_version()
    before = _rows(t.read(spark))

    def n_data_files():
        return sum(
            len(fs) for _, _, fs in os.walk(os.path.join(t.root, "data"))
        )

    files_before = n_data_files()
    # replay batch 1 with DIFFERENT (wrong) content: protocol skip means
    # the table cannot be corrupted by a divergent replay either
    assert merge_upsert(
        t, _df(spark, [(3, "WRONG")]), ("k",), txn=("s", 1)
    ) == v
    assert t.latest_version() == v
    assert n_data_files() == files_before
    assert _rows(t.read(spark)) == before
    # a different app id with the same txn id is a distinct transaction
    merge_upsert(t, _df(spark, [(9, "z")]), ("k",), txn=("s2", 1))
    assert t.latest_version() == v + 1


def test_merge_apply_net_effect_with_deletes(spark, tmp_path):
    t = ManifestTable(str(tmp_path / "t"))
    merge_upsert(t, _df(spark, [(1, "a"), (2, "b"), (3, "c")]), ("k",))
    feed = spark.createDataFrame(
        [
            (2, "b2", "update", 10),
            (3, None, "delete", 10),
            (4, "d", "insert", 10),
            # multi-event key: insert then delete -> net absent
            (5, "e", "insert", 11),
            (5, None, "delete", 12),
            # multi-event key: delete then re-insert -> net present
            (1, None, "delete", 11),
            (1, "a2", "insert", 12),
        ],
        "k int, v string, op string, seq int",
    )
    lake.merge_apply(t, feed, ("k",), op_col="op", seq_col="seq")
    assert _rows(t.read(spark)) == [(1, "a2"), (2, "b2"), (4, "d")]


def test_merge_apply_requires_seq_for_multi_event_keys(spark, tmp_path):
    t = ManifestTable(str(tmp_path / "t"))
    merge_upsert(t, _df(spark, [(1, "a")]), ("k",))
    feed = spark.createDataFrame(
        [(1, "x", "update"), (1, None, "delete")], "k int, v string, op string"
    )
    with pytest.raises(ValueError, match="seq_col"):
        lake.merge_apply(t, feed, ("k",), op_col="op")


def test_merge_apply_bucketed_routes_deletes_and_reuses_untouched(spark, tmp_path):
    """Deletes route to buckets exactly like upserts: a feed touching one
    bucket's keys leaves every other bucket's files byte-identical (same
    path reused in the new manifest)."""
    from dicebox_sensorybatchprocessor_spark.lake import _bucket_of

    t = ManifestTable(str(tmp_path / "t"))
    base = spark.createDataFrame(
        [(k, f"v{k}") for k in range(40)], "k int, v string"
    )
    merge_upsert(t, base, ("k",), n_buckets=8)
    snap1 = t.snapshot()
    # keys 7 and 23: find a delete key and an update key
    feed = spark.createDataFrame(
        [(7, None, "delete", 1), (23, "NEW", "update", 1)],
        "k int, v string, op string, seq int",
    )
    touched = {
        r.b
        for r in feed.select(
            _bucket_of(("k",), 8).alias("b")
        ).distinct().collect()
    }
    lake.merge_apply(t, feed, ("k",), op_col="op", seq_col="seq")
    snap2 = t.snapshot()
    untouched_before = {f for f in snap1["files"] if snap1["file_buckets"][f] not in touched}
    assert untouched_before <= set(snap2["files"])  # reused verbatim
    rows = dict(_rows(t.read(spark)))
    assert 7 not in rows and rows[23] == "NEW" and rows[0] == "v0"


def test_zorder_clustering_prunes_both_dimensions(spark, tmp_path):
    """Two independent uniform dims: linear (x,y) clustering prunes x
    boxes but leaves y boxes nearly unpruned (every file spans most of
    y); z-order prunes both, which is its entire reason to exist."""
    rows = [(i, float(i % 101), float((i * 7919) % 103)) for i in range(20000)]
    df = spark.createDataFrame(rows, "id long, x double, y double")
    lin = ManifestTable(str(tmp_path / "lin"))
    lin.overwrite(df, cluster_by=("x", "y"), n_files=16)
    zo = ManifestTable(str(tmp_path / "zo"))
    zo.overwrite(df, cluster_by=("x", "y"), n_files=16, cluster_method="zorder")
    total = len(zo.snapshot()["files"])
    x_box, y_box = {"x": (10.0, 30.0)}, {"y": (10.0, 30.0)}
    assert len(lin.prune_files_box(x_box)) < total  # leading dim: linear fine
    zx, zy = len(zo.prune_files_box(x_box)), len(zo.prune_files_box(y_box))
    assert zx < total and zy < total  # z-order prunes BOTH dims
    assert zy < len(lin.prune_files_box(y_box))  # the case linear can't serve
    # conjunctive box compounds the per-dim skipping
    box = {"x": (10.0, 30.0), "y": (40.0, 80.0)}
    assert len(zo.prune_files_box(box)) <= min(zx, total)
    # correctness: box read == full scan + filter, file skipping loses no row
    exp = sorted(
        r.id
        for r in zo.read(spark)
        .filter("x between 10 and 30 and y between 40 and 80")
        .collect()
    )
    got = sorted(r.id for r in zo.read_box(spark, box).collect())
    assert got == exp and len(got) > 0


def test_zorder_requires_two_columns_and_valid_method(spark, tmp_path):
    df = _df(spark, [(1, "a")])
    t = ManifestTable(str(tmp_path / "t"))
    with pytest.raises(ValueError, match="cluster_method"):
        t.overwrite(df, cluster_by=("k",), cluster_method="hilbert")
    # single-column zorder degrades to range clustering (same semantics)
    t.overwrite(df, cluster_by=("k",), cluster_method="zorder")
    assert _rows(t.read(spark)) == [(1, "a")]


def test_append_blind_ingest_and_txn_replay(spark, tmp_path):
    """append never reads existing data, extends the snapshot, and a
    replayed append under the same txn id is a protocol no-op — the verb
    where exactly-once matters most, since a replayed blind append
    duplicates rows instead of converging."""
    t = ManifestTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]), txn=("job", 0))
    t.append(_df(spark, [(2, "b")]), txn=("job", 1))
    v = t.latest_version()
    t.append(_df(spark, [(2, "DUP")]), txn=("job", 1))  # replay
    assert t.latest_version() == v
    assert _rows(t.read(spark)) == [(1, "a"), (2, "b")]


def test_append_bucketed_extends_map_and_merge_still_partial(spark, tmp_path):
    """A bucketed append stages bucket-partitioned files and extends the
    bucket map, so a later keyed merge still rewrites only touched
    buckets — reading ALL files of a touched bucket (append may have
    left several)."""
    t = ManifestTable(str(tmp_path / "t"))
    merge_upsert(t, _df(spark, [(i, f"v{i}") for i in range(8)]), ("k",), n_buckets=4)
    t.append(_df(spark, [(100, "app"), (3, "dup-key")]))
    snap = t.snapshot()
    assert len(snap["files"]) == len(snap["file_buckets"])
    # append on a keyed table is blind: key 3 now has two rows
    assert sorted(r.k for r in t.read(spark).collect()).count(3) == 2
    untouched_before = [
        f for f in snap["files"]
        if snap["file_buckets"][f] != snap["file_buckets"][snap["files"][0]]
    ]
    merge_upsert(t, _df(spark, [(3, "MERGED")]), ("k",))
    after = t.snapshot()
    # merge collapsed the duplicate (rewrote every file of key 3's bucket)
    assert [r.v for r in t.read(spark).filter("k = 3").collect()] == ["MERGED"]
    # buckets not containing key 3 carried byte-identical paths
    b3 = {f: b for f, b in snap["file_buckets"].items()}
    touched_bucket = None
    for f, b in after["file_buckets"].items():
        if f not in b3:
            touched_bucket = b
    for f, b in b3.items():
        if b != touched_bucket:
            assert f in after["files"]


def test_compact_small_packs_tail_and_carries_big_file(spark, tmp_path):
    t = ManifestTable(str(tmp_path / "t"))
    t.overwrite(_df(spark, [(i, "x" * 64) for i in range(5000)]), n_files=1)
    big = t.snapshot()["files"][0]
    big_size = os.path.getsize(os.path.join(t.root, big))
    for i in range(6):
        t.append(_df(spark, [(10000 + i, "tail")]), n_files=1)
    ledger = t.compact_small(
        spark, target_file_bytes=1 << 30, small_file_bytes=big_size
    )
    assert ledger["n_files_rewritten"] == 6
    assert ledger["n_files_carried"] == 1
    snap = t.snapshot()
    assert len(snap["files"]) == 2 and big in snap["files"]
    assert os.path.getsize(os.path.join(t.root, big)) == big_size
    assert t.read(spark).count() == 5006
    # fewer than two small files -> no-op, no version burned
    v = t.latest_version()
    ledger2 = t.compact_small(
        spark, target_file_bytes=1 << 30, small_file_bytes=1
    )
    assert ledger2["n_files_rewritten"] == 0 and t.latest_version() == v


def test_compact_small_rejects_bucketed(spark, tmp_path):
    t = ManifestTable(str(tmp_path / "t"))
    merge_upsert(t, _df(spark, [(1, "a")]), ("k",), n_buckets=2)
    with pytest.raises(ValueError, match="bucket"):
        t.compact_small(spark)


def test_merge_into_all_four_legs(spark, tmp_path):
    """One conditional MERGE exercises all legs: matched+delete-cond,
    matched+update-cond (expression over t.* AND s.*), matched but
    failing both conditions (row unchanged), unmatched source row
    passing / failing the insert condition, and target-only rows."""
    t = ManifestTable(str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 5.0), (4, "d", 40.0)],
            "k int, v string, x double",
        )
    )
    src = spark.createDataFrame(
        [
            (1, "s1", 1.0, "U"),   # matched, x>=10 -> update: x += s.x, v tagged
            (2, "s2", 2.0, "D"),   # matched -> delete
            (3, "s3", 3.0, "U"),   # matched but t.x < 10 -> unchanged
            (5, "s5", 50.0, "I"),  # unmatched, x > 10 -> insert
            (6, "s6", 1.0, "I"),   # unmatched, x <= 10 -> NOT inserted
        ],
        "k int, v string, x double, op string",
    )
    lake.merge_into(
        t,
        src,
        ("k",),
        matched_update={"x": "t.x + s.x", "v": "concat(t.v, '+')"},
        matched_update_condition="t.x >= 10.0",
        matched_delete_condition="s.op = 'D'",
        insert_condition="s.x > 10.0",
    )
    got = sorted((r.k, r.v, r.x) for r in t.read(spark).collect())
    assert got == [
        (1, "a+", 11.0),   # updated via expression over both sides
        (3, "c", 5.0),     # matched, conditions false -> untouched
        (4, "d", 40.0),    # target-only -> untouched
        (5, "s5", 50.0),   # conditional insert landed (extra op col dropped)
    ]


def test_merge_into_bucketed_partial_rewrite_and_txn(spark, tmp_path):
    t = ManifestTable(str(tmp_path / "t"))
    merge_upsert(
        t,
        spark.createDataFrame(
            [(i, float(i)) for i in range(64)], "k int, x double"
        ),
        ("k",),
        n_buckets=16,
    )
    before = t.snapshot()
    src = spark.createDataFrame([(7, 100.0)], "k int, x double")
    lake.merge_into(
        t, src, ("k",), matched_update={"x": "s.x"}, txn=("mi", 0)
    )
    after = t.snapshot()
    from dicebox_sensorybatchprocessor_spark.lake import _bucket_of
    touched = src.select(_bucket_of(("k",), 16).alias("b")).first()["b"]
    for f, b in before["file_buckets"].items():
        assert (f in after["files"]) == (b != touched)  # carried iff untouched
    assert t.read(spark).filter("k = 7").first()["x"] == 100.0
    v = t.latest_version()
    lake.merge_into(  # replay under same txn id: protocol no-op
        t, src, ("k",), matched_update={"x": "s.x + 999"}, txn=("mi", 0)
    )
    assert t.latest_version() == v


def test_merge_into_rejects_dup_keys_and_empty_target(spark, tmp_path):
    t = ManifestTable(str(tmp_path / "t"))
    src = spark.createDataFrame([(1, "a"), (1, "b")], "k int, v string")
    with pytest.raises(ValueError, match="existing target"):
        lake.merge_into(t, src.limit(1), ("k",))
    t.overwrite(_df(spark, [(1, "a")]))
    with pytest.raises(ValueError, match="duplicate keys"):
        lake.merge_into(t, src, ("k",))


def test_optimize_routes_by_manifest_stats(spark, tmp_path):
    """optimize(): unbucketed fragmentation -> compact_small; bucketed
    append pile-up -> per-bucket compact; tidy tables -> no-op with no
    version burned (the decision is manifest-only, never a scan)."""
    t = ManifestTable(str(tmp_path / "u"))
    t.overwrite(_df(spark, [(i, "x" * 64) for i in range(5000)]), n_files=1)
    assert t.optimize(spark)["action"] == "noop"  # one big file: tidy
    for i in range(4):
        t.append(_df(spark, [(9000 + i, "t")]), n_files=1)
    led = t.optimize(spark, small_file_bytes=10_000)
    assert led["action"] == "compact_small" and led["n_files_rewritten"] == 4
    assert t.optimize(spark, small_file_bytes=10_000)["action"] == "noop"

    b = ManifestTable(str(tmp_path / "b"))
    merge_upsert(b, _df(spark, [(i, "v") for i in range(32)]), ("k",), n_buckets=4)
    assert b.optimize(spark)["action"] == "noop"
    before_files = set(b.snapshot()["files"])
    before_fb = dict(b.snapshot()["file_buckets"])
    for i in range(8):  # appends pile files past 2x n_buckets
        b.append(_df(spark, [(100 + i, "a")]))
    appended_buckets = {
        bb for f, bb in b.snapshot()["file_buckets"].items()
        if f not in before_fb
    }
    led = b.optimize(spark)
    assert led["action"] == "compact_buckets"
    assert led["n_buckets_rewritten"] == len(appended_buckets)
    after = b.snapshot()
    # single-file buckets untouched by the appends carried byte-identical
    for f, bb in before_fb.items():
        if bb not in appended_buckets:
            assert f in after["files"]
    assert len(after["files"]) == 4  # one file per bucket again
    assert b.read(spark).count() == 40
    assert b.compact_buckets(spark)["noop"]  # already tidy: no version


def test_check_constraints_guard_every_write_verb(spark, tmp_path):
    """CHECK constraints ride the manifest and reject bad rows at the
    write boundary: a violating append/merge/merge_into never commits a
    version, NULL counts as a violation, constraints survive unrelated
    commits (carry-forward), and dropping one re-allows the write.
    Tables with no constraints pay nothing (no extra action)."""
    t = ManifestTable(str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame([(1, 10.0), (2, 20.0)], "k int, x double")
    )
    with pytest.raises(ValueError, match="existing data violates"):
        t.set_constraint("too_strict", "x > 15.0", spark)
    t.set_constraint("x_positive", "x > 0.0", spark)
    v = t.latest_version()

    with pytest.raises(ValueError, match="x_positive"):
        t.append(spark.createDataFrame([(3, -1.0)], "k int, x double"))
    with pytest.raises(ValueError, match="x_positive"):  # NULL violates
        t.append(
            spark.createDataFrame([(3, None)], "k int, x double")
        )
    assert t.latest_version() == v  # no version burned by rejects

    t.append(spark.createDataFrame([(3, 3.0)], "k int, x double"))
    with pytest.raises(ValueError, match="x_positive"):
        merge_upsert(
            t, spark.createDataFrame([(1, -5.0)], "k int, x double"), ("k",)
        )
    with pytest.raises(ValueError, match="x_positive"):  # update expr output
        lake.merge_into(
            t,
            spark.createDataFrame([(2, 100.0)], "k int, d double"),
            ("k",),
            matched_update={"x": "t.x - s.d"},
            insert_unmatched=False,
        )
    with pytest.raises(ValueError, match="insert_unmatched"):
        lake.merge_into(  # partial source with the insert leg on: clear error
            t,
            spark.createDataFrame([(2, 1.0)], "k int, d double"),
            ("k",),
            matched_update={"x": "t.x + s.d"},
        )
    snap = t.snapshot()
    assert snap.get("constraints") == {"x_positive": "x > 0.0"}  # carried

    t.drop_constraint("x_positive")
    t.append(spark.createDataFrame([(4, -1.0)], "k int, x double"))
    assert t.read(spark).count() == 4


def test_restore_reverts_data_and_metadata_without_rewriting_history(
    spark, tmp_path
):
    t = ManifestTable(str(tmp_path / "t"))
    t.overwrite(_df(spark, [(1, "a"), (2, "b")]))
    v1 = t.latest_version()
    t.set_constraint("k_pos", "k > 0", spark)
    merge_upsert(t, _df(spark, [(2, "CHANGED"), (3, "c")]), ("k",))
    assert t.read(spark).count() == 3
    v_bad = t.latest_version()

    t.restore(v1)
    assert _rows(t.read(spark)) == [(1, "a"), (2, "b")]  # data reverted
    assert not t.snapshot().get("constraints")  # metadata reverted too
    # history is intact: the bad version is still inspectable
    assert _rows(t.read(spark, v_bad)) == [(1, "a"), (2, "CHANGED"), (3, "c")]
    # restore is a NEW version, not a rewrite
    assert t.latest_version() == v_bad + 1

    t.vacuum(retain_versions=1)
    # expired versions fail explicitly at snapshot resolution (vacuum
    # removes manifest + files together); the ValueError leg of restore
    # covers externally-deleted data files under a surviving manifest
    with pytest.raises(FileNotFoundError):
        t.restore(v_bad)


def test_delete_where_rewrites_only_touched_files(spark, tmp_path):
    """DELETE prunes at file granularity: a clustered table where the
    predicate hits one file's value range rewrites exactly that file;
    every other file is carried byte-identical; no-match deletes are
    protocol no-ops (no version burned)."""
    t = ManifestTable(str(tmp_path / "t"))
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(1000)], "k int, x double"
    )
    t.overwrite(df, cluster_by=("k",), n_files=8)
    before = set(t.snapshot()["files"])
    led = lake.delete_where(t, spark, "k >= 100 and k < 150")
    # a 50-key range over 8 range-clustered files touches the 1-2 files
    # whose value ranges intersect it; everything else is carried
    assert 1 <= led["n_files_touched"] <= 2
    assert led["n_files_carried"] == 8 - led["n_files_touched"]
    after = set(t.snapshot()["files"])
    assert len(before & after) == led["n_files_carried"]  # carried by path
    assert t.read(spark).count() == 950
    assert t.read(spark).filter("k = 120").count() == 0
    v = t.latest_version()
    led = lake.delete_where(t, spark, "k = 123")  # already gone
    assert led["noop"] and t.latest_version() == v


def test_update_where_prunes_validates_and_guards_bucket_keys(spark, tmp_path):
    t = ManifestTable(str(tmp_path / "t"))
    merge_upsert(
        t,
        spark.createDataFrame(
            [(i, float(i), "a") for i in range(100)], "k int, x double, g string"
        ),
        ("k",),
        n_buckets=4,
    )
    t.set_constraint("x_cap", "x <= 1000.0", spark)
    with pytest.raises(ValueError, match="bucket key"):
        lake.update_where(t, spark, {"k": "k + 1"}, "x < 10.0")
    with pytest.raises(ValueError, match="x_cap"):  # constraint on output
        lake.update_where(t, spark, {"x": "x + 100000.0"}, "k = 5")
    led = lake.update_where(
        t, spark, {"x": "x * 2.0", "g": "'upd'"}, "k >= 90"
    )
    assert not led["noop"] and led["n_files_touched"] >= 1
    got = {r.k: (r.x, r.g) for r in t.read(spark).filter("k >= 88").collect()}
    assert got[88] == (88.0, "a") and got[95] == (190.0, "upd")
    assert t.read(spark).count() == 100
    # txn replay: skipped outright
    v = t.latest_version()
    lake.update_where(t, spark, {"x": "0.0"}, "k = 1", txn=("u", 0))
    lake.update_where(t, spark, {"x": "999.0"}, "k = 1", txn=("u", 0))
    assert t.latest_version() == v + 1
    assert t.read(spark).filter("k = 1").first()["x"] == 0.0


def test_merge_into_matches_reference_model_over_random_legs(spark, tmp_path):
    """merge_into vs a plain-Python reference model of the MERGE
    statement, across a grid of leg combinations (update-only,
    delete-only, insert-only, all-three, condition-on/off) over a
    deterministic pseudo-random target/source pair. Every combination
    runs against a FRESH table restored from the same base version, so
    the legs are independent."""
    rows = [(k, (k * 7919) % 97 / 10.0) for k in range(200)]
    t = ManifestTable(str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame(rows, "k int, x double"))
    v_base = t.latest_version()
    src_rows = [
        (k, (k * 31) % 13 / 10.0, "D" if k % 9 == 0 else "U")
        for k in range(150, 250)
    ]
    src = spark.createDataFrame(src_rows, "k int, d double, op string")
    src_full = src.selectExpr("k", "d AS x", "d", "op")  # insert needs x

    target = dict(rows)
    cases = [
        dict(matched_update={"x": "t.x + s.d"},
             matched_update_condition="t.x >= 3.0",
             matched_delete_condition="s.op = 'D'",
             insert_unmatched=False),
        dict(matched_update=None, matched_delete_condition="s.op = 'D'",
             insert_unmatched=False),
        dict(matched_update={"x": "s.d * 2.0"}, insert_unmatched=False),
        dict(matched_update={"x": "t.x + s.d"},
             matched_update_condition="t.x >= 3.0",
             matched_delete_condition="s.op = 'D'",
             insert_unmatched=True, insert_condition="s.d > 0.5"),
    ]
    for i, legs in enumerate(cases):
        t.restore(v_base)
        source = src_full if legs.get("insert_unmatched") else src
        lake.merge_into(t, source, ("k",), **legs)
        # reference model
        expect = dict(target)
        for k, d, op in src_rows:
            if k in expect:
                if legs.get("matched_delete_condition") and op == "D":
                    del expect[k]
                elif legs.get("matched_update"):
                    cond = legs.get("matched_update_condition")
                    if cond is None or expect[k] >= 3.0:
                        ex = legs["matched_update"]["x"]
                        expect[k] = expect[k] + d if "t.x + s.d" in ex else d * 2.0
            elif legs.get("insert_unmatched") and d > 0.5:
                expect[k] = d
        got = {r.k: r.x for r in t.read(spark).collect()}
        assert got == pytest.approx(expect), f"case {i}: {legs}"


def test_update_where_retries_across_racing_commit(spark, tmp_path):
    """A commit landing between update_where's snapshot resolution and
    its publish must force a retry from the NEW snapshot — the racing
    writer's rows survive AND the update applies to them if they
    match."""
    t = ManifestTable(str(tmp_path / "t"))
    t.overwrite(spark.createDataFrame([(1, 1.0), (2, 2.0)], "k int, x double"))
    real_commit, injected = t.commit, []

    def racing_commit(files, base_version, **kwargs):
        if not injected:
            injected.append(True)
            real_commit(
                t.stage(
                    t.read(spark).unionByName(
                        spark.createDataFrame([(9, 9.0)], "k int, x double")
                    )
                ),
                base_version,
            )
        return real_commit(files, base_version, **kwargs)

    t.commit = racing_commit
    led = lake.update_where(t, spark, {"x": "x * 10.0"}, "k >= 2")
    t.commit = real_commit
    assert not led["noop"]
    got = sorted((r.k, r.x) for r in t.read(spark).collect())
    assert got == [(1, 1.0), (2, 20.0), (9, 90.0)]  # race row updated too


def test_merge_into_null_leg_conditions_fall_through(spark, tmp_path):
    """NULL leg conditions mean NOT satisfied (SQL/Delta MERGE three-
    valued logic) — a NULL matched_delete_condition must KEEP the row
    (previously ~(matched & NULL) = NULL and filter dropped it), a NULL
    update condition leaves the row unchanged, and a NULL insert
    condition skips the insert."""
    t = ManifestTable(str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
            "k int, v string, x double",
        )
    )
    src = spark.createDataFrame(
        [
            (1, None, 1.0),    # NULL op: delete cond NULL -> KEEP, update cond NULL -> unchanged
            (2, "D", 2.0),     # delete leg fires normally
            (3, "U", 3.0),     # update leg fires normally
            (5, None, 50.0),   # unmatched, NULL insert cond -> NOT inserted
            (6, "I", 60.0),    # unmatched, insert cond true -> inserted
        ],
        "k int, op string, x double",
    )
    lake.merge_into(
        t,
        src,
        ("k",),
        matched_update={"x": "t.x + s.x", "v": "t.v"},
        matched_update_condition="s.op = 'U'",
        matched_delete_condition="s.op = 'D'",
        insert_unmatched=False,
    )
    got = sorted((r.k, r.v, r.x) for r in t.read(spark).collect())
    assert got == [
        (1, "a", 10.0),   # NULL conditions -> row falls through untouched
        (3, "c", 33.0),   # updated
    ]
    # insert leg with a NULL-evaluating condition, on a fresh target
    t2 = ManifestTable(str(tmp_path / "t2"))
    t2.overwrite(
        spark.createDataFrame([(1, "x", 1.0)], "k int, op string, x double")
    )
    lake.merge_into(
        t2, src, ("k",), matched_update={}, insert_condition="s.op = 'I'"
    )
    got2 = sorted(r.k for r in t2.read(spark).collect())
    assert got2 == [1, 6]  # k=5 (NULL insert cond) skipped, k=2/3 inserted? no:
    # k=2 has op='D' (cond false) and k=3 op='U' (false) -> only k=6 lands


def test_merge_upsert_empty_bucketed_seed_keeps_bucket_meta(spark, tmp_path):
    """A schema-bearing EMPTY bucketed v1 (files == [], n_buckets == 8)
    must keep routing buckets for every later batch — the bucket
    metadata must not silently drop when the file list is empty."""
    t = ManifestTable(str(tmp_path / "t"))
    empty = _df(spark, []).limit(0)
    merge_upsert(t, empty, ("k",), n_buckets=8)
    snap1 = t.snapshot()
    assert snap1["files"] == [] and snap1["n_buckets"] == 8

    # batch 1 arrives WITHOUT restating n_buckets — metadata must carry
    merge_upsert(t, _df(spark, [(1, "a"), (2, "b")]), ("k",))
    snap2 = t.snapshot()
    assert snap2["n_buckets"] == 8
    assert snap2["bucket_keys"] == ["k"]
    assert set(snap2["file_buckets"]) == set(snap2["files"])

    # and a key-mismatch merge is rejected even while the table is empty
    t2 = ManifestTable(str(tmp_path / "t2"))
    merge_upsert(t2, empty, ("k",), n_buckets=4)
    with pytest.raises(ValueError, match="bucketed by"):
        merge_upsert(t2, _df(spark, [(1, "a")]), ("v",))


def test_zorder_key_is_64bit_and_guarded(spark, tmp_path):
    """4 clustered columns at bits=8 put the top interleaved bit at
    position 31 — in 32-bit arithmetic that is the SIGN bit, so high
    cells sorted first and the curve silently corrupted. The key must
    be computed in long arithmetic (no negatives) and reject layouts
    that cannot fit 63 bits."""
    from dicebox_sensorybatchprocessor_spark.lake import _zorder_key

    df = spark.range(4096).select(
        (F.col("id") % 300).cast("double").alias("a"),
        ((F.col("id") * 7) % 300).cast("double").alias("b"),
        ((F.col("id") * 13) % 300).cast("double").alias("c"),
        ((F.col("id") * 29) % 300).cast("double").alias("d"),
    )
    z = df.select(_zorder_key(df, ("a", "b", "c", "d")).alias("z"))
    stats = z.agg(F.min("z").alias("lo"), F.max("z").alias("hi")).first()
    assert stats.lo >= 0, "sign bit leaked into the z-key"
    assert stats.hi >= (1 << 30), "top cells never reached the high bits"
    with pytest.raises(ValueError, match="63"):
        _zorder_key(df, ("a", "b", "c", "d"), bits=16)


def test_manifest_scale_resolution_is_o_delta(spark, tmp_path, monkeypatch):
    """A 12,500-file table must resolve a snapshot WITHOUT parsing the
    full file list as JSON: the newest manifest is O(commit delta), and
    resolution reads at most _CKPT_EVERY delta JSONs plus one columnar
    checkpoint. Vacuum pins the oldest retained version with a
    checkpoint so expiry never strands the retained window."""
    t = ManifestTable(str(tmp_path / "t"))
    v = 0
    for c in range(25):
        files = t.snapshot()["files"] + _touch(
            t, [f"data/fake/{c:03d}_{i:04d}.parquet" for i in range(500)]
        )
        v = t.commit(files, v)
    snap = t.snapshot()
    assert len(snap["files"]) == 12500
    assert os.path.getsize(t._manifest_path(v)) < 64 * 1024  # O(delta) JSON
    assert os.path.exists(t._ckpt_path(20))  # periodic checkpoint landed

    # fresh reader: count the JSON parses a cold resolution performs
    t2 = ManifestTable(str(tmp_path / "t"))
    reads = []
    orig = ManifestTable._read_manifest_json

    def counting(self, version):
        reads.append(version)
        return orig(self, version)

    monkeypatch.setattr(ManifestTable, "_read_manifest_json", counting)
    snap2 = t2.snapshot()
    assert sorted(snap2["files"]) == sorted(snap["files"])
    assert len(reads) <= lake._CKPT_EVERY + 1, reads

    # expire all but the last two versions: the kept window resolves
    # from the pinned checkpoint; expired versions fail explicitly
    t2.vacuum(retain_versions=2)
    t3 = ManifestTable(str(tmp_path / "t"))
    assert len(t3.snapshot(v)["files"]) == 12500
    assert len(t3.snapshot(v - 1)["files"]) == 12000
    with pytest.raises(FileNotFoundError):
        t3.snapshot(3)


def test_manifest_delta_carries_buckets_and_stats_incrementally(
    spark, tmp_path
):
    """Per-file zone maps and bucket routes survive delta encoding: a
    later commit's manifest holds stats/buckets ONLY for its added
    files, yet the resolved snapshot serves the full maps and pruning
    still works; carried files never have their footers re-opened."""
    t = ManifestTable(str(tmp_path / "t"))
    merge_upsert(
        t,
        spark.createDataFrame(
            [(i, float(i)) for i in range(64)], "k int, x double"
        ),
        ("k",),
        n_buckets=4,
        stat_cols=("x",),
    )
    opened = []
    orig_collect = ManifestTable.collect_file_stats

    def spying(self, files, stat_cols):
        opened.extend(files)
        return orig_collect(self, files, stat_cols)

    ManifestTable.collect_file_stats = spying
    try:
        merge_upsert(
            t,
            spark.createDataFrame([(3, 999.0)], "k int, x double"),
            ("k",),
        )
    finally:
        ManifestTable.collect_file_stats = orig_collect
    snap = t.snapshot()
    assert set(snap["file_stats"]) == set(snap["files"])  # full map served
    assert set(snap["file_buckets"]) == set(snap["files"])
    assert set(opened) <= set(snap["files"]) and len(opened) <= 2, (
        "carried files' footers were re-opened"
    )
    # pruning on the resolved stats still skips: x=999 lives in one file
    pruned = t.prune_files("x", 900.0, None)
    assert 0 < len(pruned) < len(snap["files"])


# -- concurrent-writer matrix (VERDICT r9 #7) ---------------------------
# Each cell races two writer verbs from two threads against one table and
# asserts a SERIALIZABLE outcome: the final state equals some serial
# order of the two operations (exact rows where the pair commutes, the
# two-order set where it does not), with both commits surviving the race
# via conflict-retry — no lost updates, no torn metadata.


def _race(fn_a, fn_b):
    import threading

    errors = []

    def run(fn):
        try:
            fn()
        except Exception as exc:
            errors.append(exc)

    ta, tb = threading.Thread(target=run, args=(fn_a,)), threading.Thread(
        target=run, args=(fn_b,)
    )
    ta.start(), tb.start()
    ta.join(), tb.join()
    assert not errors, errors


def _kxv(spark, rows):
    return spark.createDataFrame(rows, "k int, x double, v string")


def test_race_merge_into_disjoint_buckets(spark, tmp_path):
    t = ManifestTable(str(tmp_path / "t"))
    merge_upsert(t, _kxv(spark, [(k, float(k), "base") for k in range(32)]),
                 ("k",), n_buckets=8)

    def m(lo):
        src = _kxv(spark, [(lo, 1000.0, f"w{lo}")])
        lake.merge_into(t, src, ("k",),
                        matched_update={"x": "s.x", "v": "s.v"},
                        max_retries=20)

    _race(lambda: m(3), lambda: m(4))
    got = {r.k: (r.x, r.v) for r in t.read(spark).collect()}
    assert got[3] == (1000.0, "w3") and got[4] == (1000.0, "w4")
    assert len(got) == 32 and t.snapshot()["n_buckets"] == 8


def test_race_merge_into_same_key_commuting_increments(spark, tmp_path):
    t = ManifestTable(str(tmp_path / "t"))
    merge_upsert(t, _kxv(spark, [(1, 10.0, "base")]), ("k",), n_buckets=4)

    def inc(amount):
        src = _kxv(spark, [(1, float(amount), "inc")])
        lake.merge_into(t, src, ("k",),
                        matched_update={"x": "t.x + s.x"}, max_retries=20)

    _race(lambda: inc(5), lambda: inc(7))
    [row] = t.read(spark).collect()
    assert row.x == 22.0  # both increments landed exactly once


def test_race_merge_upsert_vs_compact_buckets(spark, tmp_path):
    t = ManifestTable(str(tmp_path / "t"))
    merge_upsert(t, _kxv(spark, [(k, 0.0, "a") for k in range(16)]),
                 ("k",), n_buckets=4)
    # pile up multi-file buckets so compact_buckets has real work
    t.append(_kxv(spark, [(k, 0.0, "b") for k in range(16, 32)]))

    _race(
        lambda: merge_upsert(t, _kxv(spark, [(100, 1.0, "new")]), ("k",),
                             max_retries=20),
        lambda: t.compact_buckets(spark, max_retries=20),
    )
    got = {(r.k, r.v) for r in t.read(spark).collect()}
    assert (100, "new") in got and len(got) == 33
    snap = t.snapshot()
    assert snap["n_buckets"] == 4
    assert set(snap["file_buckets"]) == set(snap["files"])


def test_race_update_where_vs_merge_upsert_disjoint(spark, tmp_path):
    t = ManifestTable(str(tmp_path / "t"))
    merge_upsert(t, _kxv(spark, [(k, float(k), "a") for k in range(20)]), ("k",))

    _race(
        lambda: lake.update_where(t, spark, {"x": "x + 100.0"}, "k < 5",
                                  max_retries=20),
        lambda: merge_upsert(t, _kxv(spark, [(50, -1.0, "m")]), ("k",),
                             max_retries=20),
    )
    got = {r.k: r.x for r in t.read(spark).collect()}
    assert all(got[k] == k + 100.0 for k in range(5))
    assert got[50] == -1.0 and len(got) == 21


def test_race_update_where_vs_compact_small(spark, tmp_path):
    t = ManifestTable(str(tmp_path / "t"))
    for k in range(6):  # six tiny files -> compact_small has work
        t.append(_kxv(spark, [(k, float(k), "a")]))

    _race(
        lambda: lake.update_where(t, spark, {"v": "'upd'"}, "k >= 3",
                                  max_retries=20),
        lambda: t.compact_small(spark, max_retries=20),
    )
    got = {r.k: r.v for r in t.read(spark).collect()}
    assert len(got) == 6
    assert all(got[k] == "upd" for k in range(3, 6))
    assert all(got[k] == "a" for k in range(3))


def test_race_append_vs_merge_into(spark, tmp_path):
    t = ManifestTable(str(tmp_path / "t"))
    merge_upsert(t, _kxv(spark, [(k, 0.0, "a") for k in range(8)]),
                 ("k",), n_buckets=4)

    _race(
        lambda: t.append(_kxv(spark, [(99, 9.0, "app")]), max_retries=20),
        lambda: lake.merge_into(t, _kxv(spark, [(2, 5.0, "m")]), ("k",),
                                matched_update={"x": "s.x"}, max_retries=20),
    )
    got = {r.k: (r.x, r.v) for r in t.read(spark).collect()}
    assert got[99] == (9.0, "app") and got[2][0] == 5.0 and len(got) == 9


def test_race_noncommuting_updates_serialize_to_one_order(spark, tmp_path):
    t = ManifestTable(str(tmp_path / "t"))
    t.overwrite(_kxv(spark, [(5, 5.0, "a")]))

    _race(
        lambda: lake.update_where(t, spark, {"x": "x * 2.0"}, "x < 50.0",
                                  max_retries=20),
        lambda: lake.update_where(t, spark, {"x": "x + 100.0"}, "k = 5",
                                  max_retries=20),
    )
    [row] = t.read(spark).collect()
    # double-then-add -> 110; add-then-double(skipped: x>=50) -> 105.
    # ANY other value means a lost or double-applied update.
    assert row.x in (110.0, 105.0), row.x


def test_history_is_metadata_sized_and_complete(spark, tmp_path, monkeypatch):
    """DESCRIBE HISTORY over delta manifests: every retained version
    reports its add/remove counts and metadata WITHOUT resolving any
    file list (no checkpoint reads, one O(delta) JSON per version)."""
    t = ManifestTable(str(tmp_path / "t"))
    merge_upsert(t, _df(spark, [(k, "a") for k in range(8)]), ("k",),
                 n_buckets=4)
    t.append(_df(spark, [(100, "b")]), txn=("app1", 7))
    t.set_constraint("k_nonneg", "k >= 0")
    hist = t.history()
    assert [h["version"] for h in hist] == [3, 2, 1]
    assert hist[0]["constraints"] == ["k_nonneg"]
    assert hist[1]["txn_apps"] == ["app1"]
    assert hist[1]["n_added"] == 1 and hist[1]["n_removed"] == 0
    assert all(h["n_buckets"] == 4 for h in hist)
    assert hist[2]["n_added"] == hist[2]["n_files"]  # v1 adds everything
    # metadata-sized: no checkpoint parquet is ever opened
    monkeypatch.setattr(
        ManifestTable,
        "_read_checkpoint",
        lambda self, v: (_ for _ in ()).throw(AssertionError("ckpt read")),
    )
    assert len(t.history()) == 3


def test_bloom_point_lookup_prunes_and_stays_exact(spark, tmp_path):
    """Bloom point-lookup index: after set_bloom_index, a point read
    opens ~1 file of 16 (no false negatives — result identical to the
    full filter), the index extends INCREMENTALLY on later commits
    (only added files' columns are read), survives the parquet
    checkpoint + vacuum, and rejects un-canonical types."""
    t = ManifestTable(str(tmp_path / "t"))
    df = spark.range(4000).selectExpr(
        "id AS user_id", "CAST(id % 97 AS INT) v"
    )
    t.commit(t.stage(df, n_files=16), 0)
    t.set_bloom_index(("user_id",))

    pruned = t.prune_files_point("user_id", 1234)
    assert len(pruned) <= 3  # 1 true file + ~1% fp per other file
    got = sorted(map(str, t.read_point(spark, "user_id", 1234).collect()))
    want = sorted(map(str, t.read(spark).filter("user_id = 1234").collect()))
    assert got == want and len(got) == 1
    assert t.read_point(spark, "user_id", 10_000_000).count() == 0

    # incremental extension: the next commit reads ONLY the new file
    opened = []
    orig = ManifestTable.collect_file_blooms

    def spying(self, files, cols, **kw):
        opened.extend(files)
        return orig(self, files, cols, **kw)

    ManifestTable.collect_file_blooms = spying
    try:
        t.append(
            spark.createDataFrame([(10_000_000, 1)], "user_id long, v int"),
            n_files=1,
        )
    finally:
        ManifestTable.collect_file_blooms = orig
    assert len(opened) == 1
    assert t.read_point(spark, "user_id", 10_000_000).count() == 1
    snap = t.snapshot()
    assert set(snap["file_blooms"]) == set(snap["files"])

    # strings canonicalize; floats are rejected
    with pytest.raises(TypeError, match="int/string"):
        t.prune_files_point("user_id", 1.5)

    # drive past the checkpoint interval and vacuum: the bloom map must
    # survive columnar-checkpoint resolution
    for i in range(10):
        t.append(
            spark.createDataFrame([(20_000 + i, i)], "user_id long, v int")
        )
    assert t.latest_version() >= lake._CKPT_EVERY
    t.vacuum(retain_versions=2)
    t2 = ManifestTable(str(tmp_path / "t"))
    assert t2.read_point(spark, "user_id", 20_005).count() == 1
    assert len(t2.prune_files_point("user_id", 20_005)) <= 4
    assert t2.snapshot()["bloom_cols"] == ["user_id"]


def test_bloom_index_on_string_column_and_merge_carry(spark, tmp_path):
    """The index carries through a MERGE automatically (bloom_cols ride
    every commit once set) and string values prune exactly."""
    t = ManifestTable(str(tmp_path / "t"))
    rows = [(i, f"user-{i:04d}") for i in range(256)]
    merge_upsert(t, spark.createDataFrame(rows, "k int, name string"),
                 ("k",), n_buckets=8)
    t.set_bloom_index(("name",))
    merge_upsert(t, spark.createDataFrame([(3, "renamed")], "k int, name string"),
                 ("k",))
    assert t.snapshot()["bloom_cols"] == ["name"]  # carried, not restated
    assert t.read_point(spark, "name", "renamed").count() == 1
    assert t.read_point(spark, "name", "user-0003").count() == 0  # replaced
    n_all = len(t.snapshot()["files"])
    assert len(t.prune_files_point("name", "user-0100")) < n_all


def test_timestamp_time_travel(spark, tmp_path):
    """read(timestamp=...) resolves the newest version published at or
    before the instant; pre-history timestamps fail explicitly and the
    version/timestamp parameters are mutually exclusive."""
    import time as _time

    t = ManifestTable(str(tmp_path / "t"))
    before_any = _time.time() - 1.0
    t.commit(t.stage(_df(spark, [(1, "v1")])), 0)
    _time.sleep(0.05)
    between = _time.time()
    _time.sleep(0.05)
    t.commit(t.stage(_df(spark, [(1, "v2")])), 1)

    assert t.version_at(between) == 1
    assert _rows(t.read(spark, timestamp=between)) == [(1, "v1")]
    assert _rows(t.read(spark, timestamp=_time.time())) == [(1, "v2")]
    with pytest.raises(ValueError, match="no retained version"):
        t.version_at(before_any)
    with pytest.raises(ValueError, match="not both"):
        t.read(spark, version=1, timestamp=between)
    # ISO form resolves too (whole-day granularity: today >= both commits)
    import datetime

    tomorrow = (
        datetime.datetime.now() + datetime.timedelta(days=1)
    ).strftime("%Y-%m-%d")
    assert t.version_at(tomorrow) == 2


def test_merge_into_schema_evolution(spark, tmp_path):
    """Delta-style automatic MERGE evolution: a new source column lands
    on the target (existing rows read NULL), update expressions may set
    it, the insert leg fills target-only columns with NULL, and
    compaction settles the widened schema."""
    t = ManifestTable(str(tmp_path / "t"))
    merge_upsert(
        t,
        spark.createDataFrame(
            [(1, "a", 1.0), (2, "b", 2.0)], "k int, v string, x double"
        ),
        ("k",),
        n_buckets=4,
    )
    src = spark.createDataFrame(
        [(1, 9.0, "gold"), (5, 5.0, "new")], "k int, x double, tier string"
    )
    # without evolution the insert leg rejects the missing 'v'
    with pytest.raises(ValueError, match="schema_evolution=True"):
        lake.merge_into(t, src, ("k",), matched_update={"x": "s.x"})
    lake.merge_into(
        t,
        src,
        ("k",),
        matched_update={"x": "s.x", "tier": "s.tier"},
        schema_evolution=True,
    )
    got = {
        r.k: (r.v, r.x, r.tier)
        for r in t.read(spark, merge_schema=True).collect()
    }
    assert got[1] == ("a", 9.0, "gold")   # updated incl. the new column
    assert got[2] == ("b", 2.0, None)     # untouched bucket rows read NULL
    assert got[5] == (None, 5.0, "new")   # insert filled 'v' with NULL
    t.compact(spark)
    assert {r.k: r.tier for r in t.read(spark).collect()} == {
        1: "gold", 2: None, 5: "new"
    }


def test_file_sizes_ride_the_manifest(spark, tmp_path, monkeypatch):
    """Per-file sizes are recorded at commit (one stat per ADDED file
    ever) and served from the manifest thereafter: file_stats and the
    optimize router must not stat data files of a v2 table."""
    t = ManifestTable(str(tmp_path / "t"))
    for i in range(3):
        t.append(_df(spark, [(i, "x" * 200)]), n_files=1)
    snap = t.snapshot()
    assert set(snap["file_sizes"]) == set(snap["files"])
    real = {
        f: os.path.getsize(os.path.join(t.root, f)) for f in snap["files"]
    }
    assert snap["file_sizes"] == real

    calls = []
    orig = os.path.getsize

    def spying(p):
        calls.append(p)
        return orig(p)

    monkeypatch.setattr(os.path, "getsize", spying)
    n, total = t.file_stats()
    assert n == 3 and total == sum(real.values())
    led = t.optimize(spark, small_file_bytes=1)  # all files "big" -> noop
    assert led["action"] == "noop"
    data_stats = [p for p in calls if f"{os.sep}data{os.sep}" in p]
    assert data_stats == [], data_stats


def test_manifest_resolution_matches_model_over_random_histories(tmp_path):
    """Property: for ANY commit sequence (random add/remove sets, fake
    paths — the protocol never opens data files without stats/blooms),
    the resolved file set at EVERY retained version equals a plain
    Python set model, across checkpoint boundaries and after losing any
    single checkpoint file (resolution falls back to the delta chain)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(
        max_examples=25,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        steps=st.lists(
            st.tuples(
                st.sets(st.integers(0, 60), max_size=8),  # ids to add
                st.sets(st.integers(0, 60), max_size=8),  # ids to remove
            ),
            min_size=1,
            max_size=25,
        ),
        data=st.data(),
    )
    def run(steps, data):
        import shutil
        import uuid as _uuid

        root = tmp_path / f"t{_uuid.uuid4().hex}"
        t = ManifestTable(str(root))
        model: list[set[int]] = [set()]
        v = 0
        for add, rem in steps:
            cur = (model[-1] | add) - rem
            model.append(cur)
            files = _touch(t, [f"data/f{j:04d}.parquet" for j in sorted(cur)])
            v = t.commit(files, v)
        # every version resolves to its model state (fresh reader: no cache)
        t2 = ManifestTable(str(root))
        for ver in range(1, v + 1):
            got = {int(f[6:10]) for f in t2.snapshot(ver)["files"]}
            assert got == model[ver], (ver, got, model[ver])
        # losing a checkpoint must not lose resolvability (delta chain)
        ckpts = [
            n
            for n in os.listdir(root / "_sbp_manifests")
            if n.startswith("ckpt_")
        ]
        if ckpts:
            victim = data.draw(st.sampled_from(sorted(ckpts)))
            os.remove(root / "_sbp_manifests" / victim)
            t3 = ManifestTable(str(root))
            got = {int(f[6:10]) for f in t3.snapshot(v)["files"]}
            assert got == model[v]
        shutil.rmtree(root)

    run()


def test_race_vacuum_vs_merge_needs_writer_horizon(spark, tmp_path):
    """A vacuum racing an in-flight writer sees the writer's staged
    (not-yet-committed) files as orphans. With min_file_age_s above the
    write duration the staged files survive and the merge lands every
    row; writing this test with horizon 0 is exactly how the hazard was
    found — vacuum(0) reclaimed the staging and the published commit
    named deleted files (Delta mitigates identically via its retention
    duration)."""
    t = ManifestTable(str(tmp_path / "t"))
    for i in range(12):  # cross the checkpoint interval
        t.append(_df(spark, [(i, "a")]), n_files=1)

    real_commit, fired = t.commit, []

    def vacuuming_commit(files, base_version, **kwargs):
        if not fired:
            fired.append(True)
            t.vacuum(retain_versions=1, min_file_age_s=300)
        return real_commit(files, base_version, **kwargs)

    t.commit = vacuuming_commit
    merge_upsert(t, _df(spark, [(99, "m")]), ("k",), max_retries=20)
    t.commit = real_commit
    got = _rows(t.read(spark))
    assert (99, "m") in got and len(got) == 13
    # expired manifests are gone, the retained window still resolves
    with pytest.raises(FileNotFoundError):
        t.snapshot(3)


def test_publish_seam_supports_external_commit_service(spark, tmp_path):
    """The documented object-store seam: plugging in a backend without
    atomic link means overriding ``_publish`` ONLY. A mkdir-mutex
    put-if-absent (the shape of Delta's DynamoDB LogStore) must give
    identical semantics: one winner per version, loser sees
    CommitConflict, merge retry serializes on top of it."""
    import shutil

    class MkdirLockTable(ManifestTable):
        def _publish(self, tmp: str, final: str) -> None:
            lock = final + ".lock"
            try:
                os.mkdir(lock)  # atomic on POSIX and object-store mutexes
            except FileExistsError as exc:
                os.unlink(tmp)
                raise CommitConflict(os.path.basename(final)) from exc
            try:
                if os.path.exists(final):
                    os.unlink(tmp)
                    raise CommitConflict(os.path.basename(final))
                shutil.copy(tmp, final)
                os.unlink(tmp)
            finally:
                os.rmdir(lock)

    t = MkdirLockTable(str(tmp_path / "t"))
    t.commit(t.stage(_df(spark, [(1, "a")])), 0)
    w1 = t.stage(_df(spark, [(2, "w1")]))
    w2 = t.stage(_df(spark, [(3, "w2")]))
    assert t.commit(w1, base_version=1) == 2
    with pytest.raises(CommitConflict):
        t.commit(w2, base_version=1)
    merge_upsert(t, _df(spark, [(9, "m")]), ("k",), max_retries=10)
    assert _rows(t.read(spark)) == [(2, "w1"), (9, "m")]


def test_torn_checkpoint_falls_back_and_commit_survives_ckpt_failure(
    spark, tmp_path, monkeypatch
):
    """A present-but-unreadable checkpoint must not poison resolution
    (readers fall back to the delta chain), and a checkpoint-write
    failure must not fail the already-published commit (it is a pure
    optimization; a retrying caller would otherwise double-apply)."""
    t = ManifestTable(str(tmp_path / "t"))
    v = 0
    for c in range(12):
        files = t.snapshot()["files"] + _touch(t, [f"data/fk{c:02d}.parquet"])
        v = t.commit(files, v)
    ck = t._ckpt_path(10)
    assert os.path.exists(ck)
    with open(ck, "wb") as fh:
        fh.write(b"torn")  # unreadable parquet
    t2 = ManifestTable(str(tmp_path / "t"))
    assert len(t2.snapshot(v)["files"]) == 12  # delta-chain fallback

    # checkpoint write failure at the v20 boundary: commit still succeeds
    def boom(self, version, snap):
        raise OSError("disk full")

    monkeypatch.setattr(ManifestTable, "_write_checkpoint", boom)
    for c in range(12, 20):
        files = t2.snapshot()["files"] + _touch(t2, [f"data/fk{c:02d}.parquet"])
        v = t2.commit(files, v)
    assert v == 20 and len(t2.snapshot()["files"]) == 20
    assert not os.path.exists(t2._ckpt_path(20))


# --- ADVICE r10 regression tests -----------------------------------------


def test_read_point_resolves_version_once(spark, tmp_path, monkeypatch):
    """ADVICE r10 (medium): read_point(version=None) must pin ONE version
    and pass it to every pruning/snapshot call — three independent
    None-resolutions could straddle a concurrent commit and intersect
    version-N bloom survivors with version-N+1's file list, silently
    dropping N+1's files from a method documented as exact."""
    t = ManifestTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b")]), n_files=1)
    t.set_bloom_index(("k",))
    seen: list = []
    orig_ppp = ManifestTable.prune_files_point
    orig_snap = ManifestTable.snapshot

    def spy_ppp(self, col, value, version=None):
        seen.append(("prune_point", version))
        return orig_ppp(self, col, value, version)

    def spy_snap(self, version=None):
        seen.append(("snapshot", version))
        return orig_snap(self, version)

    monkeypatch.setattr(ManifestTable, "prune_files_point", spy_ppp)
    monkeypatch.setattr(ManifestTable, "snapshot", spy_snap)
    latest = t.latest_version()
    df = t.read_point(spark, "k", 1)
    assert [(r.k, r.v) for r in df.collect()] == [(1, "a")]
    # every downstream resolution received the pinned version, never None
    assert seen and all(v == latest for _, v in seen), seen


def test_version_at_uses_in_commit_timestamps_not_mtime(spark, tmp_path):
    """ADVICE r10: timestamp travel must survive an rsync/backup-restore
    that resets manifest mtimes. Publish instants are recorded INSIDE the
    manifest at commit time; a manifest without one is rejected."""
    import json as _json
    import time as _time

    t = ManifestTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]), n_files=1)
    between = _time.time()
    _time.sleep(0.05)
    t.append(_df(spark, [(2, "b")]), n_files=1)
    after = _time.time()

    # simulate a directory restore: every manifest's mtime jumps to "now
    # plus an hour" — the mtime approach would claim nothing was
    # published before `after`
    mdir = os.path.join(t.root, "_sbp_manifests")
    bogus = _time.time() + 3600
    for name in os.listdir(mdir):
        os.utime(os.path.join(mdir, name), (bogus, bogus))

    t2 = ManifestTable(str(t.root))
    assert t2.version_at(between) == 1
    assert t2.version_at(after) == 2
    with pytest.raises(ValueError):
        t2.version_at(between - 100)

    # a manifest without "ts" is not format 2: rejected, naming v1
    p = t._manifest_path(1)
    m = _json.load(open(p))
    del m["ts"]
    with open(p, "w") as fh:
        _json.dump(m, fh)
    t3 = ManifestTable(str(t.root))
    with pytest.raises(ValueError, match="v1 is not format 2"):
        t3.version_at(between)


def test_vacuum_default_horizon_protects_fresh_orphans(spark, tmp_path):
    """ADVICE r10: the DEFAULT vacuum must not reclaim a concurrent
    writer's freshly staged (uncommitted) files — unsafe-by-default was
    the finding. Explicit min_file_age_s=0 stays the stop-the-world
    verb that reclaims them immediately."""
    t = ManifestTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]), n_files=1)
    staged = t.stage(_df(spark, [(9, "z")]))  # in-flight writer
    staged_abs = [os.path.join(t.root, f) for f in staged]
    assert all(os.path.exists(p) for p in staged_abs)

    removed = t.vacuum(retain_versions=1)  # default horizon: 1 h
    assert removed == 0
    assert all(os.path.exists(p) for p in staged_abs)
    # the racing writer can still publish its staged files
    v = t.commit(t.snapshot()["files"] + staged, t.latest_version())
    assert (9, "z") in _rows(t.read(spark, v))

    # explicit 0 after quiescing: superseded files reclaim immediately
    t.commit(t.stage(_df(spark, [(1, "b"), (9, "z")])), v)
    assert t.vacuum(retain_versions=1, min_file_age_s=0) > 0


def test_snapshot_cache_invalidated_by_external_vacuum(spark, tmp_path):
    """ADVICE r10: a snapshot cached by THIS instance must not resolve
    after ANOTHER process vacuums the version away — time travel to an
    expired version fails explicitly at snapshot resolution, not later
    at scan time with deleted data files."""
    t1 = ManifestTable(str(tmp_path / "t"))
    t1.append(_df(spark, [(1, "a")]), n_files=1)
    t1.append(_df(spark, [(2, "b")]), n_files=1)
    assert len(t1.snapshot(1)["files"]) == 1  # populates t1's cache

    t2 = ManifestTable(str(tmp_path / "t"))  # "another process"
    t2.vacuum(retain_versions=1, min_file_age_s=0)

    with pytest.raises(FileNotFoundError):
        t1.snapshot(1)
    # the retained head still resolves through the cache-validation path
    assert _rows(t1.read(spark)) == [(1, "a"), (2, "b")]


# -- reader-race matrix (VERDICT r10 #7) --------------------------------
# The writer matrix above proves serializable WRITES; these cells race
# READERS (read / read_point / history / version_at / snapshot-resolve)
# against vacuum and checkpoint-crossing commits. Contract: a reader
# returns a COMPLETE snapshot of some committed version or fails
# explicitly — never partial rows, never an unhandled internal error.


def test_history_skips_manifest_vacuumed_mid_iteration(spark, tmp_path, monkeypatch):
    """history() lists the manifest dir, then reads each JSON — a vacuum
    landing between the two must make the expired version disappear from
    the report (as if the listing ran a moment later), not crash the
    reader with FileNotFoundError."""
    t = ManifestTable(str(tmp_path / "t"))
    for i in range(3):
        t.append(_df(spark, [(i, "x")]), n_files=1)

    orig = ManifestTable._read_manifest_json

    def read_and_lose_race(self, v):
        if v == 1:  # the concurrent vacuum wins the race for v1
            p = self._manifest_path(1)
            if os.path.exists(p):
                os.remove(p)
        return orig(self, v)

    monkeypatch.setattr(ManifestTable, "_read_manifest_json", read_and_lose_race)
    hist = t.history()
    assert [h["version"] for h in hist] == [3, 2]


def test_version_at_skips_manifest_vacuumed_mid_scan(spark, tmp_path, monkeypatch):
    """version_at walks the same listing; a manifest expiring mid-scan
    must drop out of the publish-instant scan (it is no longer retained)
    instead of raising from the mtime fallback path."""
    import time as _time

    t = ManifestTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]), n_files=1)
    _time.sleep(0.05)
    t.append(_df(spark, [(2, "b")]), n_files=1)
    after = _time.time()

    orig = ManifestTable._read_manifest_json

    def read_and_lose_race(self, v):
        if v == 1:
            p = self._manifest_path(1)
            if os.path.exists(p):
                os.remove(p)
            raise FileNotFoundError(p)  # what the racing reader sees
        return orig(self, v)

    monkeypatch.setattr(ManifestTable, "_read_manifest_json", read_and_lose_race)
    assert t.version_at(after) == 2
    # with v1's instant gone, a timestamp before v2 predates ALL retained
    # versions — explicit ValueError, not a crash
    monkeypatch.setattr(ManifestTable, "_read_manifest_json", orig)
    with pytest.raises(ValueError):
        ManifestTable(str(t.root)).version_at(after - 3600)


def test_reader_races_checkpoint_crossing_writer_and_vacuum(spark, tmp_path):
    """Hammer cell: a writer appends through the 10-commit checkpoint
    boundary while a maintenance thread vacuums with an explicit zero
    horizon and a reader loop resolves + collects the head on a FRESH
    instance each time (no snapshot cache). Every successful read must
    be an exact {0..n} prefix of the append sequence — a torn manifest
    view, a half-applied checkpoint, or a dropped delta would all break
    the prefix shape. Explicit resolution errors are tolerated (vacuum
    may expire a version between resolve and scan); silent partials are
    the bug."""
    import threading

    root = str(tmp_path / "t")
    t = ManifestTable(root)
    t.append(_df(spark, [(0, "x")]), n_files=1)
    stop = threading.Event()
    errors: list[Exception] = []

    def writer():
        try:
            for i in range(1, 14):  # crosses the v10 checkpoint boundary
                t.append(_df(spark, [(i, "x")]), n_files=1)
                if i % 5 == 0:
                    t.vacuum(retain_versions=2, min_file_age_s=0)
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)
        finally:
            stop.set()

    wt = threading.Thread(target=writer)
    wt.start()
    n_reads = n_explicit_fails = 0
    try:
        while not stop.is_set() or n_reads < 3:
            try:
                got = sorted(
                    r.k for r in ManifestTable(root).read(spark).collect()
                )
            except Exception:  # noqa: BLE001 — explicit failure leg
                n_explicit_fails += 1
                continue
            n_reads += 1
            assert got == list(range(len(got))) and got, got
    finally:
        wt.join()
    assert not errors, errors
    assert n_reads >= 3  # the cell actually exercised successful reads
    # final state: all 14 appends visible
    assert sorted(r.k for r in ManifestTable(root).read(spark).collect()) == list(
        range(14)
    )


def test_read_point_races_commits(spark, tmp_path):
    """read_point (bloom + zone-map pruning, exact contract) racing a
    committing writer: with the version pinned once (ADVICE r10 fix),
    every point read must return the probed key's row exactly once —
    a cross-version file-list/bloom intersection would drop it."""
    import threading

    root = str(tmp_path / "t")
    t = ManifestTable(root)
    t.append(_df(spark, [(1, "target"), (2, "b")]), n_files=2)
    t.set_bloom_index(("k",))
    stop = threading.Event()
    errors: list[Exception] = []

    def writer():
        try:
            for i in range(10, 22):
                t.append(_df(spark, [(i, "w")]), n_files=1)
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)
        finally:
            stop.set()

    wt = threading.Thread(target=writer)
    wt.start()
    n_reads = 0
    try:
        while not stop.is_set() or n_reads < 3:
            rows = ManifestTable(root).read_point(spark, "k", 1).collect()
            assert [(r.k, r.v) for r in rows] == [(1, "target")]
            n_reads += 1
    finally:
        wt.join()
    assert not errors, errors
    assert n_reads >= 3


def test_vacuum_dry_run_reports_without_touching(spark, tmp_path):
    """VACUUM DRY RUN: the count equals what the real vacuum then
    reclaims under the same settings, and the dry run touches NOTHING —
    no manifest expiry, no checkpoint pin, no file deletion, and time
    travel to the would-be-expired version still resolves."""
    t = ManifestTable(str(tmp_path / "t"))
    t.commit(t.stage(_df(spark, [(1, "a"), (2, "b")])), base_version=0)
    t.commit(t.stage(_df(spark, [(1, "B"), (9, "z")])), base_version=1)
    orphans = t.stage(_df(spark, [(7, "CRASH")]))  # never committed

    would = t.vacuum(retain_versions=1, min_file_age_s=0, dry_run=True)
    assert would > 0
    # nothing changed: v1 still resolves, orphans still on disk
    assert _rows(t.read(spark, 1)) == [(1, "a"), (2, "b")]
    assert all(os.path.exists(os.path.join(t.root, f)) for f in orphans)
    assert t.vacuum(retain_versions=1, min_file_age_s=0) == would
    with pytest.raises(FileNotFoundError):
        t.snapshot(1)
    # horizon respected in the report too: fresh files are not counted
    t.stage(_df(spark, [(8, "y")]))
    assert t.vacuum(retain_versions=1, dry_run=True) == 0  # 1 h horizon


def test_history_carries_publish_timestamps(spark, tmp_path):
    """history() rows expose the in-commit publish instant ('ts', the
    rsync-proof record version_at travels by), newest-first and
    monotonically non-increasing."""
    import time as _time

    t = ManifestTable(str(tmp_path / "t"))
    before = _time.time()
    t.append(_df(spark, [(1, "a")]), n_files=1)
    t.append(_df(spark, [(2, "b")]), n_files=1)
    after = _time.time()
    hist = t.history()
    stamps = [h["timestamp"] for h in hist]
    assert all(isinstance(x, float) and before <= x <= after for x in stamps)
    assert stamps == sorted(stamps, reverse=True)
    # a manifest without 'ts' is not format 2: rejected, naming v1
    import json as _json

    p = t._manifest_path(1)
    m = _json.load(open(p))
    del m["ts"]
    with open(p, "w") as fh:
        _json.dump(m, fh)
    with pytest.raises(ValueError, match="v1 is not format 2"):
        ManifestTable(str(t.root)).history()


def test_vacuum_survives_data_file_vanishing_mid_walk(spark, tmp_path, monkeypatch):
    """ADVICE r12 (a): the DESTRUCTIVE vacuum walk must tolerate an
    orphan vanishing between listing and remove (a second concurrent
    vacuum) — the walk continues and reclaims the rest instead of
    crashing partway after manifests were already expired."""
    t = ManifestTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]), n_files=1)
    # two REPLACE commits -> the superseded files become reclaimable orphans
    t.commit(t.stage(_df(spark, [(1, "b")])), t.latest_version())
    t.commit(t.stage(_df(spark, [(1, "c")])), t.latest_version())

    real_remove = os.remove
    raised = {"n": 0}

    def racy_remove(path):
        if path.endswith(".parquet") and raised["n"] == 0:
            raised["n"] += 1
            raise FileNotFoundError(path)  # concurrent vacuum got it first
        return real_remove(path)

    monkeypatch.setattr(os, "remove", racy_remove)
    removed = t.vacuum(retain_versions=1, min_file_age_s=0)
    assert raised["n"] == 1  # the race actually fired
    # the walk completed: the table still reads, and a rerun (no race)
    # reclaims whatever the simulated concurrent vacuum "left behind"
    assert _rows(t.read(spark)) == [(1, "c")]
    monkeypatch.setattr(os, "remove", real_remove)
    assert t.vacuum(retain_versions=1, min_file_age_s=0) >= 0
