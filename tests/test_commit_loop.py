"""The lake's one optimistic commit loop (``ManifestTable._write``).

Every write verb, ``MaterializedAgg.refresh`` included, plans against a
snapshot and commits through one loop. These tests force the loop's
three outcomes deterministically, by wrapping the table's ``commit``:

* a concurrent commit lands between planning and publishing: the verb
  re-plans against the new snapshot, the concurrent rows survive, the
  losing attempt's staged files never go live, and DELETE/UPDATE
  re-evaluate their predicate against the concurrent row;
* every commit conflicts: the verb gives up with ``CommitConflict``
  after exactly ``max_retries`` attempts;
* a replayed ``txn``: the verb returns the current version and stages
  nothing.

A source guard pins the shape: one retry loop and one bucketed-staging
call site in the package, and no inline txn check.
"""

from __future__ import annotations

import ast
import os
from pathlib import Path

import pytest

from dicebox_sensorybatchprocessor_spark import lake
from dicebox_sensorybatchprocessor_spark.lake import (
    CommitConflict,
    ManifestTable,
    merge_upsert,
)
from dicebox_sensorybatchprocessor_spark.mv import MaterializedAgg

PKG = Path(__file__).resolve().parent.parent / "dicebox_sensorybatchprocessor_spark"
RACE = (9, 9.0, "race")


def _kxv(spark, rows):
    return spark.createDataFrame(rows, "k int, x double, v string")


def _rows(t: ManifestTable, spark) -> dict:
    return {r.k: (r.x, r.v) for r in t.read(spark).collect()}


def _seed(spark, tmp_path, bucketed: bool) -> ManifestTable:
    """Four single-row files (unbucketed, so compact_small has a tail),
    or a 4-bucket table with appended rows piled into multi-file
    buckets (so compact_buckets has work)."""
    t = ManifestTable(str(tmp_path / "t"))
    if bucketed:
        merge_upsert(t, _kxv(spark, [(k, float(k), "a") for k in range(8)]),
                     ("k",), n_buckets=4)
        t.append(_kxv(spark, [(k, float(k), "a") for k in range(10, 14)]))
    else:
        for k in range(4):
            t.append(_kxv(spark, [(k, float(k), "a")]), n_files=1)
    return t


def _upserted(rows, new):
    return {**rows, **{k: (x, v) for k, x, v in new}}


# (id, bucketed, verb(t, spark, **kw), model(rows before) -> rows after);
# the verb's ``kw`` is max_retries
CASES = [
    ("append", False,
     lambda t, s, **kw: t.append(_kxv(s, [(20, 2.0, "n")]), **kw),
     lambda r: _upserted(r, [(20, 2.0, "n")])),
    ("append_bucketed", True,
     lambda t, s, **kw: t.append(_kxv(s, [(20, 2.0, "n")]), **kw),
     lambda r: _upserted(r, [(20, 2.0, "n")])),
    ("set_bloom_index", True,
     lambda t, s, **kw: t.set_bloom_index(("k",), **kw),
     lambda r: r),
    ("compact", False,
     lambda t, s, **kw: t.compact(s, **kw),
     lambda r: r),
    ("compact_bucketed", True,
     lambda t, s, **kw: t.compact(s, **kw),
     lambda r: r),
    ("compact_small", False,
     lambda t, s, **kw: t.compact_small(s, **kw),
     lambda r: r),
    ("compact_buckets", True,
     lambda t, s, **kw: t.compact_buckets(s, **kw),
     lambda r: r),
    ("merge_upsert", False,
     lambda t, s, **kw: merge_upsert(t, _kxv(s, [(1, 1e3, "u")]), ("k",), **kw),
     lambda r: _upserted(r, [(1, 1e3, "u")])),
    ("merge_upsert_bucketed", True,
     lambda t, s, **kw: merge_upsert(t, _kxv(s, [(1, 1e3, "u")]), ("k",), **kw),
     lambda r: _upserted(r, [(1, 1e3, "u")])),
    ("merge_upsert_first_bucketing", False,
     lambda t, s, **kw: merge_upsert(
         t, _kxv(s, [(1, 1e3, "u")]), ("k",), n_buckets=4, **kw),
     lambda r: _upserted(r, [(1, 1e3, "u")])),
    ("merge_apply", True,
     lambda t, s, **kw: lake.merge_apply(
         t,
         s.createDataFrame([(1, 1e3, "u", "u"), (2, 0.0, "", "d")],
                           "k int, x double, v string, op string"),
         ("k",), **kw),
     lambda r: {k: xv for k, xv in _upserted(r, [(1, 1e3, "u")]).items() if k != 2}),
    ("merge_into", False,
     lambda t, s, **kw: lake.merge_into(
         t, _kxv(s, [(1, 1e3, "s"), (30, 3.0, "s")]), ("k",),
         matched_update={"x": "s.x"}, **kw),
     lambda r: {**r, 1: (1e3, r[1][1]), 30: (3.0, "s")}),
    ("merge_into_bucketed", True,
     lambda t, s, **kw: lake.merge_into(
         t, _kxv(s, [(1, 1e3, "s"), (30, 3.0, "s")]), ("k",),
         matched_update={"x": "s.x"}, **kw),
     lambda r: {**r, 1: (1e3, r[1][1]), 30: (3.0, "s")}),
    ("delete_where", False,
     lambda t, s, **kw: lake.delete_where(t, s, "k >= 3", **kw),
     lambda r: {k: xv for k, xv in r.items() if k < 3}),
    ("delete_where_bucketed", True,
     lambda t, s, **kw: lake.delete_where(t, s, "k >= 3", **kw),
     lambda r: {k: xv for k, xv in r.items() if k < 3}),
    ("update_where", False,
     lambda t, s, **kw: lake.update_where(t, s, {"x": "x * 10.0"}, "k >= 3", **kw),
     lambda r: {k: (x * 10.0 if k >= 3 else x, v) for k, (x, v) in r.items()}),
    ("update_where_bucketed", True,
     lambda t, s, **kw: lake.update_where(t, s, {"x": "x * 10.0"}, "k >= 3", **kw),
     lambda r: {k: (x * 10.0 if k >= 3 else x, v) for k, (x, v) in r.items()}),
]


@pytest.mark.parametrize("name,bucketed,verb,model", CASES, ids=[c[0] for c in CASES])
def test_verb_replans_across_a_racing_commit(spark, tmp_path, name, bucketed, verb, model):
    t = _seed(spark, tmp_path, bucketed)
    before = _rows(t, spark)
    real_commit, losing = t.commit, []

    def racing_commit(files, base_version, **kwargs):
        if not losing:
            losing.append(set(files) - set(t.snapshot(base_version)["files"]))
            t.append(_kxv(spark, [RACE]))  # passes through: losing is set
        return real_commit(files, base_version, **kwargs)

    t.commit = racing_commit
    verb(t, spark)
    t.commit = real_commit
    assert losing, "the verb never committed"
    live = set(t.snapshot()["files"])
    assert not losing[0] & live  # the losing attempt's staging is dead
    # the race row survives, and DELETE/UPDATE saw it (k=9 matches k >= 3)
    assert _rows(t, spark) == model({**before, RACE[0]: RACE[1:]})
    snap = t.snapshot()
    if snap.get("n_buckets"):
        assert set(snap["file_buckets"]) == live
    if name == "set_bloom_index":
        assert snap["bloom_cols"] == ["k"] and set(snap["file_blooms"]) == live


def _mv(spark, tmp_path):
    t = _seed(spark, tmp_path, bucketed=True)
    view = MaterializedAgg(
        t, str(tmp_path / "mv"), ("v",), {"n": ("count", "*"), "s": ("sum", "x")}
    )
    view.refresh(spark)
    merge_upsert(t, _kxv(spark, [(1, 1e3, "u")]), ("k",))
    return t, view


def _grouped(rows: dict) -> dict:
    out: dict = {}
    for x, v in rows.values():
        n, s = out.get(v, (0, 0.0))
        out[v] = (n + 1, s + x)
    return {v: (n, round(s, 6)) for v, (n, s) in out.items()}


def test_refresh_replans_across_a_racing_commit(spark, tmp_path):
    t, view = _mv(spark, tmp_path)
    real_commit, losing = view.table.commit, []

    def racing_commit(files, base_version, **kwargs):
        if not losing:
            losing.append(set(files) - set(view.table.snapshot(base_version)["files"]))
            t.append(_kxv(spark, [RACE]))
            view.refresh(spark)  # a concurrent refresher wins the version
        return real_commit(files, base_version, **kwargs)

    view.table.commit = racing_commit
    view.refresh(spark, mode="incremental")
    view.table.commit = real_commit
    assert losing and not losing[0] & set(view.table.snapshot()["files"])
    assert view.refreshed_version() == t.latest_version()
    got = {r.v: (r.n, round(r.s, 6)) for r in view.read(spark).collect()}
    assert got == _grouped(_rows(t, spark))
    assert RACE[2] in got


@pytest.mark.parametrize(
    "name,bucketed,verb", [c[:3] for c in CASES], ids=[c[0] for c in CASES]
)
def test_verb_gives_up_after_max_retries(spark, tmp_path, name, bucketed, verb):
    t = _seed(spark, tmp_path, bucketed)
    v, attempts = t.latest_version(), []

    def conflicting_commit(files, base_version, **kwargs):
        attempts.append(base_version)
        raise CommitConflict("forced")

    t.commit = conflicting_commit
    with pytest.raises(CommitConflict, match="gave up after 3"):
        verb(t, spark, max_retries=3)
    assert attempts == [v, v, v]
    assert t.latest_version() == v


def test_refresh_gives_up_after_max_retries(spark, tmp_path):
    _t, view = _mv(spark, tmp_path)
    attempts = []

    def conflicting_commit(files, base_version, **kwargs):
        attempts.append(base_version)
        raise CommitConflict("forced")

    view.table.commit = conflicting_commit
    with pytest.raises(CommitConflict, match="gave up after 3"):
        view.refresh(spark, max_retries=3)
    assert len(attempts) == 3


# (id, first call, replay with different content); each takes txn
TXN_VERBS = [
    ("append",
     lambda t, s, txn: t.append(_kxv(s, [(20, 2.0, "n")]), txn=txn),
     lambda t, s, txn: t.append(_kxv(s, [(21, 2.0, "WRONG")]), txn=txn)),
    ("merge_upsert",
     lambda t, s, txn: merge_upsert(t, _kxv(s, [(1, 1e3, "u")]), ("k",), txn=txn),
     lambda t, s, txn: merge_upsert(t, _kxv(s, [(2, 0.0, "WRONG")]), ("k",), txn=txn)),
    ("merge_into",
     lambda t, s, txn: lake.merge_into(
         t, _kxv(s, [(1, 1e3, "s")]), ("k",), matched_update={"x": "s.x"}, txn=txn),
     lambda t, s, txn: lake.merge_into(
         t, _kxv(s, [(2, 0.0, "s")]), ("k",), matched_update={"x": "s.x"}, txn=txn)),
    ("delete_where",
     lambda t, s, txn: lake.delete_where(t, s, "k = 0", txn=txn)["version"],
     lambda t, s, txn: lake.delete_where(t, s, "k = 1", txn=txn)["version"]),
    ("update_where",
     lambda t, s, txn: lake.update_where(t, s, {"v": "'u'"}, "k = 0", txn=txn)["version"],
     lambda t, s, txn: lake.update_where(t, s, {"v": "'WRONG'"}, "k = 1", txn=txn)["version"]),
]


@pytest.mark.parametrize("name,first,replay", TXN_VERBS, ids=[c[0] for c in TXN_VERBS])
def test_replayed_txn_returns_current_version_and_stages_nothing(
    spark, tmp_path, name, first, replay
):
    t = _seed(spark, tmp_path, bucketed=False)
    v = first(t, spark, ("app", 1))
    assert v == t.latest_version() and t.txn_version("app") == 1
    rows = _rows(t, spark)
    staged = sorted(os.listdir(os.path.join(t.root, "data")))
    assert replay(t, spark, ("app", 1)) == v
    assert t.latest_version() == v
    assert sorted(os.listdir(os.path.join(t.root, "data"))) == staged
    assert _rows(t, spark) == rows


def _parsed(path: Path):
    tree = ast.parse(path.read_text())
    parents = {c: n for n in ast.walk(tree) for c in ast.iter_child_nodes(n)}
    return tree, parents


def _enclosing_function(node, parents) -> str | None:
    fn = parents.get(node)
    while fn is not None and not isinstance(fn, ast.FunctionDef):
        fn = parents.get(fn)
    return fn.name if fn is not None else None


def _names(expr) -> set[str]:
    """Exception class names an ``except`` clause catches."""
    if isinstance(expr, ast.Tuple):
        return set().union(*map(_names, expr.elts))
    if isinstance(expr, ast.Attribute):
        return {expr.attr}
    return {expr.id} if isinstance(expr, ast.Name) else set()


def test_one_commit_loop_one_bucketed_staging_no_inline_txn_check():
    """lake.py holds the one retry loop (one ``except CommitConflict``,
    one ``range(max_retries)``) and mv.py none; the package calls
    ``stage_bucketed`` from one place; and the txn record is read only
    by ``txn_version`` and ``commit`` (plus ``history``, which lists the
    app ids of each raw manifest)."""
    expected = {"lake.py": (1, 1), "mv.py": (0, 0)}
    bucketed_calls, txn_reads = [], []
    for path in sorted(PKG.rglob("*.py")):
        tree, parents = _parsed(path)
        rel = path.relative_to(PKG).as_posix()
        handlers = loops = 0
        for node in ast.walk(tree):
            if isinstance(node, ast.ExceptHandler) and node.type is not None:
                handlers += "CommitConflict" in _names(node.type)
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Name)
                and node.func.id == "range"
                and any(isinstance(a, ast.Name) and a.id == "max_retries" for a in node.args)
            ):
                loops += 1
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "stage_bucketed"
            ):
                bucketed_calls.append(f"{rel}:{node.lineno}")
            key = None
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "get"
                and node.args
            ):
                key = node.args[0]
            elif isinstance(node, ast.Subscript):
                key = node.slice
            if isinstance(key, ast.Constant) and key.value == "txns":
                fn = _enclosing_function(node, parents)
                if fn not in ("txn_version", "commit", "history"):
                    txn_reads.append(f"{rel}:{node.lineno} in {fn}")
        if rel in expected:
            assert (handlers, loops) == expected[rel], rel
        else:
            assert (handlers, loops) == (0, 0), rel
    assert len(bucketed_calls) == 1, bucketed_calls
    assert txn_reads == [], txn_reads
