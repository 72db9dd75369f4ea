"""Incremental materialized views (mv.MaterializedAgg): after every
base-table commit, an incremental refresh must equal the from-scratch
GROUP BY — while scanning only the commit's file delta, never the full
table."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dicebox_sensorybatchprocessor_spark import lake
from dicebox_sensorybatchprocessor_spark.lake import ManifestTable, merge_upsert
from dicebox_sensorybatchprocessor_spark.mv import MaterializedAgg


def _base_df(spark, rows):
    return spark.createDataFrame(rows, "k int, grp string, x double")


def _expected(spark, table):
    return sorted(
        (r.grp, r.n, round(r.sum_x, 6), round(r.avg_x, 6))
        for r in table.read(spark)
        .groupBy("grp")
        .agg(
            F.count("*").alias("n"),
            F.sum("x").alias("sum_x"),
            F.avg("x").alias("avg_x"),
        )
        .collect()
    )


def _got(spark, mv):
    return sorted(
        (r.grp, r.n, round(r.sum_x, 6), round(r.avg_x, 6))
        for r in mv.read(spark).collect()
    )


def _mk(spark, tmp_path, n_buckets=4, measures=None):
    t = ManifestTable(str(tmp_path / "base"))
    rows = [(k, "ab"[k % 2], float(k) / 4) for k in range(32)]
    merge_upsert(t, _base_df(spark, rows), ("k",), n_buckets=n_buckets)
    mv = MaterializedAgg(
        t,
        str(tmp_path / "mv"),
        ("grp",),
        measures
        or {
            "n": ("count", "*"),
            "sum_x": ("sum", "x"),
            "avg_x": ("avg", "x"),
        },
    )
    return t, mv


def test_initial_refresh_builds_full_view(spark, tmp_path):
    t, mv = _mk(spark, tmp_path)
    ledger = mv.refresh(spark)
    assert not ledger["noop"] and ledger["from_version"] == 0
    assert _got(spark, mv) == _expected(spark, t)


def test_incremental_refresh_tracks_upserts_and_deletes(spark, tmp_path):
    t, mv = _mk(spark, tmp_path)
    mv.refresh(spark)
    # updates (move rows across groups, change values), inserts, deletes
    merge_upsert(
        t, _base_df(spark, [(0, "b", 99.5), (1, "a", -2.25), (100, "c", 7.0)]), ("k",)
    )
    feed = spark.createDataFrame(
        [(2, None, None, "delete", 1), (3, None, None, "delete", 1)],
        "k int, grp string, x double, op string, seq int",
    )
    lake.merge_apply(t, feed, ("k",), op_col="op", seq_col="seq")
    for _ in range(2):  # two commits pending -> one refresh walks both
        pass
    ledger = mv.refresh(spark)
    assert not ledger["noop"]
    assert _got(spark, mv) == _expected(spark, t)
    # group "c" appeared; a group emptied by deletes must vanish
    merge_upsert(
        t,
        spark.createDataFrame([(100, )], "k int")
        .withColumn("grp", F.lit("zz"))
        .withColumn("x", F.lit(1.0)),
        ("k",),
    )
    mv.refresh(spark)
    got = _got(spark, mv)
    assert got == _expected(spark, t)
    assert not any(g == "c" for g, *_ in got)


def test_refresh_scans_only_the_file_delta(spark, tmp_path):
    """The scale contract: a one-bucket merge against an 8-bucket table
    refreshes by reading ONLY that bucket's old+new files."""
    t, mv = _mk(spark, tmp_path, n_buckets=8)
    mv.refresh(spark)
    n_total = len(t.snapshot()["files"])
    merge_upsert(t, _base_df(spark, [(5, "a", 123.0)]), ("k",))
    # small_table_bytes=0: pin the byte-ratio regime (a test table sits
    # under the 64 MB floor where default auto now recomputes, r12)
    ledger = mv.refresh(spark, small_table_bytes=0)
    assert ledger["plus_files"] + ledger["minus_files"] < n_total
    assert ledger["plus_files"] <= 1 and ledger["minus_files"] <= 1
    assert _got(spark, mv) == _expected(spark, t)


def test_compaction_nets_to_zero(spark, tmp_path):
    t, mv = _mk(spark, tmp_path)
    mv.refresh(spark)
    before = _got(spark, mv)
    t.compact(spark)
    ledger = mv.refresh(spark)
    assert not ledger["noop"]  # files changed, so the delta is computed...
    assert _got(spark, mv) == before  # ...and cancels exactly


def test_minmax_repair_under_deletes(spark, tmp_path):
    t, mv = _mk(
        spark,
        tmp_path,
        measures={
            "n": ("count", "*"),
            "min_x": ("min", "x"),
            "max_x": ("max", "x"),
        },
    )
    mv.refresh(spark)
    # delete the current max of group "a" (k=30, x=7.5): repair must
    # surface the runner-up, which no invertible update could produce
    feed = spark.createDataFrame(
        [(30, None, None, "delete", 1)], "k int, grp string, x double, op string, seq int"
    )
    lake.merge_apply(t, feed, ("k",), op_col="op", seq_col="seq")
    mv.refresh(spark)
    exp = {
        (r.grp, r.n, r.min_x, r.max_x)
        for r in t.read(spark)
        .groupBy("grp")
        .agg(F.count("*").alias("n"), F.min("x").alias("min_x"), F.max("x").alias("max_x"))
        .collect()
    }
    got = {
        (r.grp, r.n, r.min_x, r.max_x) for r in mv.read(spark).collect()
    }
    assert got == exp


def test_refresh_is_idempotent_and_restartable(spark, tmp_path):
    t, mv = _mk(spark, tmp_path)
    mv.refresh(spark)
    state = _got(spark, mv)
    assert mv.refresh(spark)["noop"]  # nothing pending
    assert _got(spark, mv) == state
    # crash-restart: a re-created view object resumes from the recorded
    # watermark (mv_base_version), not from scratch
    merge_upsert(t, _base_df(spark, [(7, "b", 0.5)]), ("k",))
    mv2 = MaterializedAgg(
        t,
        mv.table.root,
        ("grp",),
        {"n": ("count", "*"), "sum_x": ("sum", "x"), "avg_x": ("avg", "x")},
    )
    ledger = mv2.refresh(spark)
    assert ledger["from_version"] > 0 and not ledger["noop"]  # resumed, not rebuilt
    assert ledger["minus_files"] < len(t.snapshot()["files"])  # delta read only
    assert _got(spark, mv2) == _expected(spark, t)


def test_rejects_unknown_agg(spark, tmp_path):
    t = ManifestTable(str(tmp_path / "base"))
    with pytest.raises(ValueError, match="agg must be"):
        MaterializedAgg(t, str(tmp_path / "mv"), ("g",), {"m": ("median", "x")})


def test_null_group_key_merges_instead_of_duplicating(spark, tmp_path):
    """GROUP BY treats NULL as one group; the state merge must too.
    Plain-equality joins never match NULL = NULL, so every refresh used
    to APPEND a fresh state row for the NULL group — read() then
    returned duplicates where the base GROUP BY returns one row."""
    t = ManifestTable(str(tmp_path / "base"))
    df = spark.createDataFrame(
        [(1, None, 1.0), (2, "a", 2.0), (3, None, 3.0)],
        "k int, grp string, x double",
    )
    merge_upsert(t, df, ("k",), n_buckets=2)
    mv = MaterializedAgg(
        t,
        str(tmp_path / "mv"),
        ("grp",),
        {
            "n": ("count", "*"),
            "sum_x": ("sum", "x"),
            "min_x": ("min", "x"),
            "max_x": ("max", "x"),
        },
    )
    mv.refresh(spark)
    # three refreshes touching the NULL group: upsert, delete, upsert
    merge_upsert(
        t,
        spark.createDataFrame([(4, None, 4.0)], "k int, grp string, x double"),
        ("k",),
    )
    mv.refresh(spark)
    merge_upsert(
        t,
        spark.createDataFrame([], "k int, grp string, x double"),
        ("k",),
        delete_keys=spark.createDataFrame([(3,)], "k int"),
    )
    mv.refresh(spark)

    got = sorted(
        ((r.grp or ""), r.n, r.sum_x, r.min_x, r.max_x)
        for r in mv.read(spark).collect()
    )
    want = sorted(
        ((r.grp or ""), r.n, r.sum_x, r.min_x, r.max_x)
        for r in t.read(spark)
        .groupBy("grp")
        .agg(
            F.count("*").alias("n"),
            F.sum("x").alias("sum_x"),
            F.min("x").alias("min_x"),
            F.max("x").alias("max_x"),
        )
        .collect()
    )
    assert got == want
    assert len([g for g, *_ in got if g == ""]) == 1, "NULL group duplicated"


def test_avg_and_sum_skip_null_measure_values(spark, tmp_path):
    """SQL SUM/AVG skip NULL values — AVG divides by the NON-NULL count
    and an all-NULL group yields NULL, not 0 / a diluted mean."""
    t = ManifestTable(str(tmp_path / "base"))
    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "a", None), (3, "b", None), (4, "b", None)],
        "k int, grp string, x double",
    )
    merge_upsert(t, df, ("k",), n_buckets=2)
    mv = MaterializedAgg(
        t,
        str(tmp_path / "mv"),
        ("grp",),
        {"n": ("count", "*"), "sum_x": ("sum", "x"), "avg_x": ("avg", "x")},
    )
    mv.refresh(spark)
    # delta refresh across a NULL-bearing group too
    merge_upsert(
        t,
        spark.createDataFrame(
            [(5, "a", 20.0), (6, "b", 6.0)], "k int, grp string, x double"
        ),
        ("k",),
    )
    mv.refresh(spark)

    got = {r.grp: (r.n, r.sum_x, r.avg_x) for r in mv.read(spark).collect()}
    want = {
        r.grp: (r.n, r.sum_x, r.avg_x)
        for r in t.read(spark)
        .groupBy("grp")
        .agg(
            F.count("*").alias("n"),
            F.sum("x").alias("sum_x"),
            F.avg("x").alias("avg_x"),
        )
        .collect()
    }
    assert set(got) == set(want)
    for g in want:
        n_g, sum_g, avg_g = got[g]
        n_w, sum_w, avg_w = want[g]
        assert n_g == n_w
        for a, b in ((sum_g, sum_w), (avg_g, avg_w)):
            if b is None:
                assert a is None
            else:
                assert a == pytest.approx(b, abs=1e-6)


def test_refresh_router_picks_recompute_past_the_delta_ratio(spark, tmp_path):
    """auto mode past the small-table floor (small_table_bytes=0 pins
    the byte-ratio regime): a small delta refreshes incrementally; a
    commit whose delta spans the table (compaction: plus+minus ~ 2x
    bytes) routes to the one-scan recompute — and both produce the
    identical view."""
    t, mv = _mk(spark, tmp_path)
    led0 = mv.refresh(spark)  # initial build: plus == table -> recompute
    assert led0["mode"] == "recompute"
    merge_upsert(t, _base_df(spark, [(5, "a", 99.0)]), ("k",))
    led1 = mv.refresh(spark, small_table_bytes=0)
    assert led1["mode"] == "incremental"  # 1-bucket delta stays O(delta)
    t.compact(spark)
    led2 = mv.refresh(spark, small_table_bytes=0)
    assert led2["mode"] == "recompute"  # delta spans the table
    assert _got(spark, mv) == _expected(spark, t)
    # forced modes still converge to the same view
    merge_upsert(t, _base_df(spark, [(6, "b", -1.0)]), ("k",))
    assert mv.refresh(spark, mode="recompute")["mode"] == "recompute"
    assert _got(spark, mv) == _expected(spark, t)
    with pytest.raises(ValueError, match="mode"):
        mv.refresh(spark, mode="bogus")


def test_auto_route_reads_recorded_sizes_not_the_filesystem(
    spark, tmp_path, monkeypatch
):
    """auto mode routes on the sizes the base manifest recorded at
    commit (as optimize does): a refresh stats no base data file."""
    import os

    t, mv = _mk(spark, tmp_path)
    mv.refresh(spark)
    merge_upsert(t, _base_df(spark, [(5, "a", 99.0)]), ("k",))
    calls = []
    orig = os.path.getsize

    def spying(p):
        calls.append(str(p))
        return orig(p)

    monkeypatch.setattr(os.path, "getsize", spying)
    assert mv.refresh(spark, small_table_bytes=0)["mode"] == "incremental"
    base_data = os.path.join(t.root, "data")
    assert [p for p in calls if p.startswith(base_data)] == []


def test_refresh_router_is_right_at_both_scale_ends(spark, tmp_path):
    """VERDICT r11 #4: the auto router picked incremental at sf0.1 where
    recompute measured 1.7x faster — the fixed per-refresh bill, not
    bytes, dominates small tables. Pins the two-regime cost model:

    - pure function: small tables recompute regardless of delta ratio;
      big tables go incremental when delta ≪ table (the 100x-scale
      steady state) and recompute past the byte ratio (compaction);
    - end-to-end: a DEFAULT auto refresh over a tiny test table now
      picks recompute (it sits under the 64 MB floor) yet still
      produces the identical view."""
    from dicebox_sensorybatchprocessor_spark.mv import _route_refresh

    mb = 1 << 20
    # small-table regime: recompute even for a 1-byte delta
    assert _route_refresh(1, 10 * mb) == "recompute"
    # big-table regime, delta ≪ table: incremental (the steady state)
    assert _route_refresh(10 * mb, 1000 * mb) == "incremental"
    # big-table regime, delta spans the table (compaction): recompute
    assert _route_refresh(1900 * mb, 1000 * mb) == "recompute"
    # boundary: the ratio applies strictly above recompute_ratio
    assert _route_refresh(600 * mb, 1000 * mb) == "incremental"
    assert _route_refresh(601 * mb, 1000 * mb) == "recompute"

    t, mv = _mk(spark, tmp_path)
    mv.refresh(spark)
    merge_upsert(t, _base_df(spark, [(5, "a", 99.0)]), ("k",))
    led = mv.refresh(spark)  # default small_table_bytes=64 MB
    assert led["mode"] == "recompute"
    assert _got(spark, mv) == _expected(spark, t)
    # and a forced incremental over the same history converges too
    merge_upsert(t, _base_df(spark, [(7, "b", 3.0)]), ("k",))
    assert mv.refresh(spark, mode="incremental")["mode"] == "incremental"
    assert _got(spark, mv) == _expected(spark, t)


def test_mv_matches_group_by_over_random_histories(spark, tmp_path):
    """Property: after ANY short history of upserts/deletes/compactions
    — including NULL group keys and NULL measure values — the view
    equals the base GROUP BY under every refresh cadence the router can
    pick (refresh after each commit; measures span count/sum/avg/min/
    max). This generalizes the targeted NULL regression tests."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    groups = st.sampled_from(["a", "b", None])
    xs = st.one_of(st.none(), st.integers(-50, 50).map(lambda i: i / 4.0))

    @settings(
        max_examples=5,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
    )
    @given(
        init=st.lists(st.tuples(groups, xs), min_size=2, max_size=10),
        steps=st.lists(
            st.one_of(
                st.tuples(
                    st.just("upsert"),
                    st.lists(
                        st.tuples(st.integers(0, 14), groups, xs),
                        min_size=1,
                        max_size=4,
                    ),
                ),
                st.tuples(
                    st.just("delete"),
                    st.lists(st.integers(0, 14), min_size=1, max_size=3),
                ),
                st.tuples(st.just("compact"), st.just(None)),
            ),
            min_size=1,
            max_size=4,
        ),
    )
    def run(init, steps):
        import shutil
        import uuid as _uuid

        base_root = tmp_path / f"b{_uuid.uuid4().hex}"
        t = ManifestTable(str(base_root))
        rows = [(k, g, x) for k, (g, x) in enumerate(init)]
        merge_upsert(t, _base_df(spark, rows), ("k",), n_buckets=2)
        mv = MaterializedAgg(
            t,
            str(tmp_path / f"v{_uuid.uuid4().hex}"),
            ("grp",),
            {
                "n": ("count", "*"),
                "sum_x": ("sum", "x"),
                "avg_x": ("avg", "x"),
                "min_x": ("min", "x"),
                "max_x": ("max", "x"),
            },
        )
        mv.refresh(spark)
        for op, arg in steps:
            if op == "upsert":
                merge_upsert(t, _base_df(spark, arg), ("k",))
            elif op == "delete":
                merge_upsert(
                    t,
                    _base_df(spark, []),
                    ("k",),
                    delete_keys=spark.createDataFrame(
                        [(k,) for k in arg], "k int"
                    ),
                )
            else:
                t.compact(spark)
            mv.refresh(spark)
        if not t.snapshot()["files"] or not t.read(spark).take(1):
            # empty base: the state table may hold zero files (staging an
            # empty df writes none), which read() refuses by contract
            assert (
                not mv.table.snapshot()["files"]
                or mv.read(spark).count() == 0
            )
            return
        def canon(rws):
            out = []
            for r in rws:
                out.append((
                    r.grp,
                    r.n,
                    None if r.sum_x is None else round(r.sum_x, 6),
                    None if r.avg_x is None else round(r.avg_x, 6),
                    r.min_x,
                    r.max_x,
                ))
            return sorted(out, key=str)
        got = canon(mv.read(spark).collect())
        want = canon(
            t.read(spark)
            .groupBy("grp")
            .agg(
                F.count("*").alias("n"),
                F.sum("x").alias("sum_x"),
                F.avg("x").alias("avg_x"),
                F.min("x").alias("min_x"),
                F.max("x").alias("max_x"),
            )
            .collect()
        )
        assert got == want, (got, want)
        shutil.rmtree(base_root)

    run()


def test_refresh_retry_never_moves_the_view_backward(spark, tmp_path):
    """Refresher A plans v1 -> v2; before A publishes, a base commit
    makes v3 and refresher B brings the view to v3, so A's commit
    conflicts. A's retry must target the base's CURRENT version: a
    target kept from the first attempt would run 3 -> 2 and publish a
    view older than the one it replaced."""
    t, mv = _mk(spark, tmp_path)
    mv.refresh(spark)
    merge_upsert(t, _base_df(spark, [(1, "a", 100.0)]), ("k",))
    real_commit, injected = mv.table.commit, []

    def racing_commit(files, base_version, **kwargs):
        if not injected:
            injected.append(True)
            merge_upsert(t, _base_df(spark, [(40, "b", 7.0)]), ("k",))
            assert mv.refresh(spark)["to_version"] == t.latest_version()
        return real_commit(files, base_version, **kwargs)

    mv.table.commit = racing_commit
    ledger = mv.refresh(spark, mode="incremental")
    mv.table.commit = real_commit
    assert injected
    assert mv.refreshed_version() == t.latest_version() == 3
    assert ledger["noop"] and ledger["to_version"] == 3
    assert _got(spark, mv) == _expected(spark, t)
