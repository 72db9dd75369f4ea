#!/usr/bin/env python
"""Simulate the driver's CORRECTNESS gate before the driver runs it:
first N (default 50) registered queries, one vanilla SparkSession (NOT
the engine's get_session — exercises the runtime ensure_engine_conf
path) on ``local[$SPARK_GRAFT_CPUS]`` (else ``local[*]``), registration
order, strict oracle compare at sf0.01. A clean run
here predicts a clean CORRECTNESS_r{N}.json.

Usage:  python scripts/simulate_window.py [n_queries] [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 50
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"

    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    master = f"local[{cpus}]" if cpus else "local[*]"
    spark = SparkSession.builder.master(master).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as contract
    from tests.oracle import assert_query_matches

    qs, osql = contract.queries(), contract.oracle_sql()
    names = list(qs)[:n]
    t0 = time.time()
    fails: list[tuple[str, str]] = []
    for i, name in enumerate(names):
        t = time.time()
        try:
            assert_query_matches(qs[name](spark, sf_dir), osql[name], sf_dir)
            status = "match"
        except Exception as exc:  # noqa: BLE001 — report and continue, like the driver
            status = "FAIL"
            fails.append((name, str(exc)[:200]))
        print(f"[{i + 1}/{len(names)}] {name:32s} {time.time() - t:6.2f}s  {status}")
    print(
        f"\nwindow sim: {len(names) - len(fails)}/{len(names)} pass "
        f"in {time.time() - t0:.1f}s at {sf_dir}"
    )
    for name, err in fails:
        print("FAIL", name, err)
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
