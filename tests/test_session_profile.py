"""The engine conf profile and the 100 TB cluster profile (VERDICT r13
Next #5, ADVICE r14 advisory-override).

cluster_profile() consolidates the per-operator scale notes (module
docstrings + NOTES.md measurements) into one deployment mapping; these
tests pin its invariants so the profile and its README rationale table
cannot drift.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from dicebox_sensorybatchprocessor_spark import session as sess

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_cluster_profile_every_key_has_rationale():
    prof = sess.cluster_profile()
    assert set(prof) == set(sess.CLUSTER_PROFILE_RATIONALE)
    for key, why in sess.CLUSTER_PROFILE_RATIONALE.items():
        assert isinstance(prof[key], str) and prof[key]
        assert len(why) > 20  # a real justification, not a placeholder


def test_cluster_profile_scales_shuffle_width_with_cores():
    assert sess.cluster_profile(total_cores=4000)[
        "spark.sql.shuffle.partitions"
    ] == "12000"
    assert sess.cluster_profile(total_cores=32)[
        "spark.sql.shuffle.partitions"
    ] == "96"


def test_cluster_profile_divides_split_size_by_expression_fanout():
    """The r13 honest-parallelism lesson: split sizing must account for
    expression density (explode/hash fan-out), not just bytes."""
    base = sess.cluster_profile()
    assert base["spark.sql.files.maxPartitionBytes"] == "128m"
    fan8 = sess.cluster_profile(scan_expression_fanout=8)
    assert fan8["spark.sql.files.maxPartitionBytes"] == "16m"
    # floor at 4m: per-task scheduling overhead dominates below
    fan1000 = sess.cluster_profile(scan_expression_fanout=1000)
    assert fan1000["spark.sql.files.maxPartitionBytes"] == "4m"


def test_cluster_profile_restores_64m_advisory_at_cluster_scale():
    """The always-applied LOCAL profile overrides the AQE advisory to 4m
    for the 32-core single box; the CLUSTER profile must restore 64m
    (the advisory is also the skew-split target — session.py comment)."""
    assert (
        sess.cluster_profile()["spark.sql.adaptive.advisoryPartitionSizeInBytes"]
        == "64m"
    )


def test_cluster_profile_keeps_correctness_bearing_keys_aligned():
    """nanosAsLong and the UTC session timezone are correctness-bearing
    in BOTH profiles — a cluster deployment that drops them gets
    silently divergent results, so they must stay pinned equal."""
    prof = sess.cluster_profile()
    for key in ("spark.sql.legacy.parquet.nanosAsLong", "spark.sql.session.timeZone"):
        assert prof[key] == sess._RUNTIME_CONF[key]


def test_cluster_profile_rejects_degenerate_inputs():
    with pytest.raises(ValueError):
        sess.cluster_profile(total_cores=0)
    with pytest.raises(ValueError):
        sess.cluster_profile(scan_expression_fanout=0)


def test_advisory_partition_size_env_overridable():
    """ADVICE r14: deployments must be able to restore the 64m advisory
    without forking the profile — same mechanism as
    SPARK_GRAFT_SHUFFLE_PARTITIONS. _RUNTIME_CONF is computed at import
    time, so probe in a fresh interpreter."""
    code = (
        "from dicebox_sensorybatchprocessor_spark.session import _RUNTIME_CONF;"
        "print(_RUNTIME_CONF['spark.sql.adaptive.advisoryPartitionSizeInBytes'])"
    )
    env = dict(os.environ, SPARK_GRAFT_ADVISORY_PARTITION_SIZE="64m")
    out = subprocess.run(
        [sys.executable, "-c", code], env=env, cwd=REPO,
        capture_output=True, text=True, check=True,
    )
    assert out.stdout.strip() == "64m"
    env.pop("SPARK_GRAFT_ADVISORY_PARTITION_SIZE")
    out = subprocess.run(
        [sys.executable, "-c", code], env=env, cwd=REPO,
        capture_output=True, text=True, check=True,
    )
    assert out.stdout.strip() == "4m"  # the measured local default


def _fake_host(monkeypatch, gib: float) -> None:
    page = 4096
    pages = int(gib * 2**30) // page
    monkeypatch.setattr(
        sess.os, "sysconf", {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": pages}.__getitem__
    )


@pytest.mark.parametrize(
    "host_gib, expected",
    [(15.7, "8038m"), (64, "16384m")],  # half the RAM; the 16g cap
)
def test_driver_memory_is_half_the_host_capped_at_16g(monkeypatch, host_gib, expected):
    """A 16g heap on a 15.7 GiB host was OOM-killed."""
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    _fake_host(monkeypatch, host_gib)
    assert sess._driver_memory() == expected


def test_driver_memory_env_override_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "4g")
    _fake_host(monkeypatch, 15.7)
    assert sess._driver_memory() == "4g"
