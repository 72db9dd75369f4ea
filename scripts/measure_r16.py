#!/usr/bin/env python
"""Round-16 optimization measurement harness (guide §1).

For each named query: capture .explain("formatted") to
plans/r16/<name>_<tag>.txt, then time the computation against the noop
sink (guide §1.4 — eagerly computes every column, no fetch cost) with
one warm-up + N warm samples, labelled via setJobDescription (§1.5).

Usage:
  python scripts/measure_r16.py <tag> [sf_dir] [query ...]
  (no query names => the default round-16 target list)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dicebox_sensorybatchprocessor_spark import all_queries, get_session

DEFAULT_TARGETS = [
    "dedup_ngram_jaccard",
    "dedup_near_verified",
    "dedup_minhash_banded",
    "stream_tumbling",
    "dedup_substring_rewrite",
    "text_quality_classifier",
    "dedup_simhash",
    "sim_knn_query",
    "q1_pricing_summary",
    "join_agg_revenue_by_nation",
    "topk_orders",
    "win_topk_group",
    "events_tumbling",
    "sim_cosine_topk",
]

N_SAMPLES = int(os.environ.get("SBP_MEASURE_SAMPLES", "5"))


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    names = sys.argv[3:] or DEFAULT_TARGETS

    plans_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r16")
    os.makedirs(plans_dir, exist_ok=True)

    spark = get_session(app_name="sbp-measure-r16")
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_queries()

    results: dict[str, dict] = {}
    for name in names:
        spec = specs[name]
        sc = spark.sparkContext
        try:
            df = spec.fn(spark, sf_dir)
        except Exception as e:  # noqa: BLE001
            results[name] = {"err": str(e)[:200]}
            continue
        # plan capture
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        with open(os.path.join(plans_dir, f"{name}_{tag}.txt"), "w") as f:
            f.write(plan)

        def run():
            d = spec.fn(spark, sf_dir)
            d.write.format("noop").mode("overwrite").save()

        sc.setJobDescription(f"r16-{tag}: {name} warmup")
        t0 = time.perf_counter()
        run()
        one_shot = time.perf_counter() - t0
        ts = []
        for i in range(N_SAMPLES):
            sc.setJobDescription(f"r16-{tag}: {name} warm {i}")
            t0 = time.perf_counter()
            run()
            ts.append(time.perf_counter() - t0)
        sc.setJobDescription(None)
        srt = sorted(ts)
        results[name] = {
            "one_shot": round(one_shot, 4),
            "best": round(srt[0], 4),
            "median": round(srt[len(srt) // 2], 4),
            "n_exchanges": plan.count("Exchange"),
            "joins": sorted(
                {
                    j
                    for j in (
                        "SortMergeJoin",
                        "BroadcastHashJoin",
                        "ShuffledHashJoin",
                        "BroadcastNestedLoopJoin",
                        "CartesianProduct",
                    )
                    if j in plan
                }
            ),
            "python_nodes": sorted(
                {
                    p
                    for p in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "MapInArrow")
                    if p in plan
                }
            ),
        }
        print(f"{name:28s} one_shot={one_shot:7.3f}  best={srt[0]:7.3f}  med={srt[len(srt)//2]:7.3f}  "
              f"exch={results[name]['n_exchanges']:2d} {results[name]['joins']} {results[name]['python_nodes']}",
              flush=True)

    out = os.path.join(plans_dir, f"measure_{tag}_{os.path.basename(sf_dir)}.json")
    with open(out, "w") as f:
        json.dump({"sf_dir": sf_dir, "tag": tag, "n_samples": N_SAMPLES, "results": results}, f, indent=2)
    print(f"\nwrote {out}")


if __name__ == "__main__":
    main()
