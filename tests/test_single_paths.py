"""Guards on the single code paths: the one manifest parser in lake.py,
no pre-format-2 reader or OSError route in mv.py, fixture staging only
through ``utils.scratch_stage`` — and that staging re-stages after a
write that failed part-way."""

from __future__ import annotations

import ast
import os
import pathlib

import pytest

from dicebox_sensorybatchprocessor_spark import all_queries
from tests.conftest import SF_SMOKE
from tests.oracle import assert_query_matches

PKG = pathlib.Path(__file__).resolve().parent.parent / "dicebox_sensorybatchprocessor_spark"


def _tree(path: pathlib.Path) -> tuple[ast.AST, dict]:
    tree = ast.parse(path.read_text())
    parents = {c: n for n in ast.walk(tree) for c in ast.iter_child_nodes(n)}
    return tree, parents


def _enclosing_function(node, parents) -> str | None:
    while node is not None and not isinstance(node, ast.FunctionDef):
        node = parents.get(node)
    return node.name if node is not None else None


def test_one_manifest_parser_and_no_legacy_readers():
    """lake.py parses manifest JSON (``json.load`` of a file) only in
    ``_read_manifest_json`` and probes no manifest for a ``files`` key;
    mv.py catches no OSError; no package module but utils.py calls
    ``scratch_dir_cached``."""
    offenders = []
    tree, parents = _tree(PKG / "lake.py")
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "load"
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == "json"
            and _enclosing_function(node, parents) != "_read_manifest_json"
        ):
            offenders.append(f"lake.py:{node.lineno} json.load")
        if (
            isinstance(node, ast.Compare)
            and isinstance(node.left, ast.Constant)
            and node.left.value == "files"
            and any(isinstance(op, (ast.In, ast.NotIn)) for op in node.ops)
        ):
            offenders.append(f"lake.py:{node.lineno} 'files' probe")
    tree, _ = _tree(PKG / "mv.py")
    for node in ast.walk(tree):
        if isinstance(node, ast.ExceptHandler) and node.type is not None:
            types = node.type.elts if isinstance(node.type, ast.Tuple) else [node.type]
            if any(isinstance(t, ast.Name) and t.id == "OSError" for t in types):
                offenders.append(f"mv.py:{node.lineno} except OSError")
    for path in sorted(PKG.rglob("*.py")):
        if path.name == "utils.py" and path.parent == PKG:
            continue
        tree, _ = _tree(path)
        for node in ast.walk(tree):
            name = (
                node.id if isinstance(node, ast.Name)
                else node.attr if isinstance(node, ast.Attribute)
                else None
            )
            if name == "scratch_dir_cached":
                offenders.append(f"{path.relative_to(PKG)}:{node.lineno} scratch_dir_cached")
    assert offenders == [], offenders


def test_failed_fixture_staging_restages_on_next_call(spark, tmp_path, monkeypatch):
    """A staging write that raises part-way must not leave its
    half-written dir cached: the next call of the op re-stages and
    matches the DuckDB oracle. The sf dir is a fresh symlink so the
    fixture cache key is new to this process."""
    from pyspark.sql.readwriter import DataFrameWriter

    sf = str(tmp_path / "sf")
    os.symlink(SF_SMOKE, sf)
    orig = DataFrameWriter.parquet
    torn: list[str] = []

    def fail_once(self, path, *args, **kwargs):
        orig(self, path, *args, **kwargs)
        if not torn:
            torn.append(path)
            parts = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
            for f in parts[1:]:
                os.remove(os.path.join(path, f))
            raise OSError("disk full part-way through the staging write")

    monkeypatch.setattr(DataFrameWriter, "parquet", fail_once)
    spec = all_queries()["sink_range_partitioned"]
    with pytest.raises(OSError, match="part-way"):
        spec.fn(spark, sf)
    assert torn
    monkeypatch.undo()
    assert_query_matches(spec.fn(spark, sf), spec.oracle, sf)
