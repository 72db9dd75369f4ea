"""Self-test of the benchmark's shuffle-reuse guard.

    python3 -m pytest perfbench/tests -q

A registered callable called again on the same input path returns its
memoized DataFrame, whose next run skips the shuffle map stage an
earlier call ran; the guard must flag that op. A call on a fresh path
builds a fresh plan whose last job, under AQE, skips the map stage its
own earlier job ran; the guard must stay silent there.
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parent.parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import datagen  # noqa: E402
import layers  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from dicebox_sensorybatchprocessor_spark import get_session

    session = get_session(app_name="perfbench-guard-test", master="local[2]")
    session.sparkContext.setLogLevel("ERROR")
    yield session
    session.stop()


def test_guard_flags_repeat_call_and_passes_fresh_call(spark, tmp_path):
    from dicebox_sensorybatchprocessor_spark import all_queries

    data = tmp_path / "data"
    data.mkdir()
    pq.write_table(datagen.star_tables(7)["lineitem"], data / "lineitem.parquet")
    fresh = tmp_path / "fresh"
    os.symlink(data, fresh)
    q1 = all_queries()["q1_pricing_summary"].fn

    def reused(group: str, path: Path) -> list[int]:
        spark.sparkContext.setJobGroup(group, "q1_pricing_summary")
        q1(spark, str(path)).toPandas()
        jobs = layers.op_jobs(spark, group, detail=False)
        assert jobs.job_ids, "the op ran no job"
        return layers.reused_stages(jobs)

    assert reused("first", data) == []
    # the fresh plan's own AQE skip is present and allowed
    assert reused("fresh", fresh) == []
    assert layers.op_jobs(spark, "fresh", detail=False).skipped()
    assert reused("repeat", data) != []
