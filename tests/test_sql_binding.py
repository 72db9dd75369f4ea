"""The spark.sql surface binds its inputs per call, and each cross-cutting
decision lives in one module.

sqlapi/sqldeep queries name their tables as ``{table}`` placeholders and
``io.fixture_sql`` passes the call's own DataFrames to ``spark.sql``, so
nothing is registered in the session under a fixed name. A session-global
view per table name would let a query on one scale factor read another's
tables once the views were re-pointed."""

from __future__ import annotations

import os
import re

from dicebox_sensorybatchprocessor_spark import all_queries
from dicebox_sensorybatchprocessor_spark.io import TABLES
from tests.conftest import SF_ORACLE, SF_SMOKE
from tests.oracle import assert_query_matches

_PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "dicebox_sensorybatchprocessor_spark"
)
_SQL_MODULES = (
    "dicebox_sensorybatchprocessor_spark.operators.sqlapi",
    "dicebox_sensorybatchprocessor_spark.operators.sqldeep",
)


def _linked(root, src: str) -> str:
    """A fresh path to the fixtures in ``src`` (per-path memos miss)."""
    os.makedirs(root)
    for t in TABLES:
        os.symlink(f"{src}/{t}.parquet", f"{root}/{t}.parquet")
    return str(root)


def test_sql_query_reads_its_own_scale_factor(spark, tmp_path):
    """q3 on sf0.01, then q5 on sf0.001, then q10 on sf0.01 in one
    session: q10 must return sf0.01's rows, not the tables of whichever
    scale factor a previous call bound last."""
    qs = all_queries()
    big = _linked(tmp_path / "big", SF_ORACLE)
    small = _linked(tmp_path / "small", SF_SMOKE)
    qs["sql_q3_shipping_priority"].fn(spark, big).collect()
    qs["sql_q5_local_supplier_volume"].fn(spark, small).collect()
    spec = qs["sql_q10_returned_items"]
    assert_query_matches(spec.fn(spark, big), spec.oracle, SF_ORACLE)


def test_sql_ops_leave_no_temp_views(spark, tmp_path):
    """None of the 21 spark.sql operators leaves a view in the session."""
    names = sorted(n for n, q in all_queries().items() if q.fn.__module__ in _SQL_MODULES)
    assert len(names) == 21, names
    session = spark.newSession()  # a catalog no other test has touched
    sf = _linked(tmp_path / "sf", SF_SMOKE)
    for name in names:
        all_queries()[name].fn(session, sf)
        views = [t.name for t in session.catalog.listTables() if t.isTemporary]
        assert views == [], f"{name} left temp views {views}"


def test_one_exact_sum_builder_and_no_named_views():
    """The hi/lo split base lives only in utils.py (one exact-sum builder),
    and no engine module registers a named view in the session."""
    base = re.compile(r"\b(1048576|_CHUNK)\b")
    view = re.compile(r"\.create(OrReplace)?(Global)?TempView\(")
    bad_base, bad_view = [], []
    for root, _, files in os.walk(_PKG):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            text = open(path, encoding="utf-8").read()
            rel = os.path.relpath(path, _PKG)
            if rel != "utils.py" and base.search(text):
                bad_base.append(rel)
            if view.search(text):
                bad_view.append(rel)
    assert bad_base == [], f"hi/lo sum base outside utils.py: {bad_base}"
    assert bad_view == [], f"session-named views registered in: {bad_view}"
