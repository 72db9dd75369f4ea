"""Scale-stress for the round-5 curation family (the text analogue of the
bench's hot-key skew block): amplify documents xN with unique doc_ids and
run the curation plans at x1 / x4 / x16, checking that (a) output
cardinalities scale exactly with the amplification (the plans have no
hidden quadratic term), and (b) wall-clock grows sub-linearly-to-linearly
(map-dominated plans on a fixed-core box should pay ~N x scan cost, not
N^2). Amplified copies keep the original text, so dedup_prefix's groups
grow xN (the hot-group reducer path is exercised) while the unigram
vocabulary stays fixed (the broadcast-probe invariant at scale: corpus
grows, vocab doesn't).

Usage: python scripts/stress_curation.py [sf_dir] [out_json]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from dicebox_sensorybatchprocessor_spark import all_queries, get_session
from dicebox_sensorybatchprocessor_spark.io import load
from dicebox_sensorybatchprocessor_spark.utils import scratch_stage

# decontaminate_* is deliberately NOT in the stress set: amplified copies
# keep the original text but get fresh doc_ids, and bench membership is
# doc_id-keyed — so at x16 the probability that at least one copy of a
# text is bench-bucketed rises from ~3.4% to ~1-(28/29)^16 ~ 43%, and the
# bench n-gram set balloons from "eval-suite-sized" to ~43% of the entire
# vocabulary. That breaks the operator's defining size assumption (bench
# << corpus) as a FIXTURE artifact of the amplification, not a plan
# property; its scale behavior is instead characterized by the
# broadcast-vs-bloom seam docs + the bloom-superset metamorphic test.
def _force_count(df) -> int:
    """Row count that forces every output column (same device as
    stress_scale._force_count, duplicated because these are plain
    scripts, not a package): a bare .count() lets Catalyst prune all
    columns — for quality-gate outputs that means skipping the very
    statistics being timed."""
    row = df.agg(
        F.count(F.lit(1)).alias("__n"),
        *[F.count(F.col(c)).alias(f"__c{i}") for i, c in enumerate(df.columns)],
    ).collect()[0]
    return row["__n"]


OPS = (
    "text_unigram_lm_score",
    "text_token_entropy",
    "dedup_prefix",
    "events_bot_rate",  # needs events; staged alongside
    # The composed pipeline (round 6, VERDICT r5 #5): its manifest is
    # exactly amplification-INVARIANT — quality signals depend only on
    # text and corpus-relative frequencies (both preserved by xN copies),
    # and prefix_dedup keeps one survivor per distinct prefix key — so
    # the x16 run must reproduce the x1 rows bit-for-bit while scanning
    # 16x the corpus. That is the scan-ledger-holds-under-blowup proof.
    "pipeline_curation_capstone",
)


def _stage_amplified(spark, sf_dir: str, amp: int) -> str:
    reps = F.explode(F.array(*[F.lit(i) for i in range(amp)]))
    with scratch_stage("stress_curation_", cache_key=f"{sf_dir}|{amp}") as (out, fresh):
        if fresh:
            (
                load(spark, sf_dir, "documents")
                .withColumn("rep", reps)
                .select(
                    (F.col("doc_id") * amp + F.col("rep")).alias("doc_id"),
                    "text",
                    "lang",
                    "source",
                    "n_chars",
                )
                .write.mode("overwrite")
                .parquet(f"{out}/documents.parquet")
            )
            (
                load(spark, sf_dir, "events")
                .withColumn("rep", reps)
                .select(
                    (F.col("event_id") * amp + F.col("rep")).alias("event_id"),
                    "ts",
                    "user_id",
                    "event_type",
                    "value",
                    "props",
                )
                .write.mode("overwrite")
                .parquet(f"{out}/events.parquet")
            )
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_json = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "stress_curation.json",
    )
    spark = get_session(app_name="sbp-stress-curation")
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_queries()
    base_docs = load(spark, sf_dir, "documents").count()
    results: dict[str, dict] = {op: {} for op in OPS}
    rows_base: dict[str, int] = {}
    capstone_sigs: dict[int, list[str]] = {}
    for amp in (1, 4, 16):
        staged = sf_dir if amp == 1 else _stage_amplified(spark, sf_dir, amp)
        for op in OPS:
            df = specs[op].fn(spark, staged)
            if op == "pipeline_curation_capstone":
                # manifest VALUES must be amplification-invariant (the
                # keeper doc_id differs across amps, but it never reaches
                # the manifest) — capture the full tiny result for the
                # bit-equality check below
                capstone_sigs[amp] = sorted(map(str, df.collect()))
            _force_count(df)  # warm (first run pays file listing + codegen)
            best = None
            for _ in range(2):
                t0 = time.perf_counter()
                n = _force_count(df)
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            if amp == 1:
                rows_base[op] = n
            results[op][f"x{amp}"] = {
                "rows": n,
                "sec": round(best, 4),
                "rows_ratio": round(n / rows_base[op], 4),
                "sec_ratio": round(best / results[op]["x1"]["sec"], 2)
                if amp > 1
                else 1.0,
            }
    # Cardinality law checks (exact, not statistical): per-doc ops scale
    # exactly xN; events_bot_rate's user set is amplification-invariant
    # (same users, xN events each).
    checks = {
        "lm_rows_scale_exactly": all(
            results["text_unigram_lm_score"][f"x{a}"]["rows"]
            == a * results["text_unigram_lm_score"]["x1"]["rows"]
            for a in (4, 16)
        ),
        "entropy_rows_scale_exactly": all(
            results["text_token_entropy"][f"x{a}"]["rows"]
            == a * results["text_token_entropy"]["x1"]["rows"]
            for a in (4, 16)
        ),
        "prefix_rows_scale_exactly": all(
            results["dedup_prefix"][f"x{a}"]["rows"]
            == a * results["dedup_prefix"]["x1"]["rows"]
            for a in (4, 16)
        ),
        "bot_rate_users_invariant": all(
            results["events_bot_rate"][f"x{a}"]["rows"]
            == results["events_bot_rate"]["x1"]["rows"]
            for a in (4, 16)
        ),
        "capstone_manifest_invariant": all(
            capstone_sigs[a] == capstone_sigs[1] for a in (4, 16)
        ),
        # sub-quadratic wall growth: x16 data in far less than 16^2/16=16x
        # the x1 time would indicate a quadratic term; require <= 16x with
        # generous headroom for the fixed per-job floor at x1.
        "no_quadratic_blowup": all(
            results[op]["x16"]["sec"] <= 24 * max(results[op]["x1"]["sec"], 0.05)
            for op in OPS
        ),
    }
    # Checkpoint-seam A/B (VERDICT r6 #6): price curation_pipeline's
    # materialize boundary at x1 and x16 so the "at 100 TB you'd
    # checkpoint the gated subset" docstring claim carries measured
    # numbers. materialize=True pays an eager localCheckpoint of the
    # gated subset per run (that IS the operator variant under test);
    # materialize=False re-runs the gate join for both dedup consumers.
    from dicebox_sensorybatchprocessor_spark import api

    checkpoint_ab: dict[str, dict[str, float]] = {}
    for amp in (1, 16):
        staged = sf_dir if amp == 1 else _stage_amplified(spark, sf_dir, amp)
        d = load(spark, staged, "documents")
        entry: dict[str, float] = {}
        for label, mat in (("checkpoint_off", False), ("checkpoint_on", True)):
            _force_count(api.curation_pipeline(d, materialize=mat))  # warm
            best = None
            for _ in range(3):
                t0 = time.perf_counter()
                _force_count(api.curation_pipeline(d, materialize=mat))
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            entry[label] = round(best, 4)
        entry["on_off_ratio"] = round(entry["checkpoint_on"] / entry["checkpoint_off"], 3)
        checkpoint_ab[f"x{amp}"] = entry

    # Survivor-count invariance (round 7): amplified copies keep the
    # original TEXT, so every x1 duplicate-cluster of size s becomes a
    # size-s*N cluster at xN — and dedup_survivors must still keep
    # EXACTLY one survivor per cluster, i.e. the kept-count is
    # amplification-INVARIANT. This exercises the whole pipeline under
    # blowup: hot band buckets (N identical signatures share every
    # band), N^2/2 verified pairs per dup family, and the CC routing on
    # a pair graph ~N^2 bigger than x1's.
    from dicebox_sensorybatchprocessor_spark import api

    survivors: dict[str, dict[str, float]] = {}
    kept_counts: dict[int, int] = {}
    for amp in (1, 16):
        staged = sf_dir if amp == 1 else _stage_amplified(spark, sf_dir, amp)
        d = load(spark, staged, "documents").select("doc_id", "text")
        t0 = time.perf_counter()
        out_df = api.dedup_pipeline(d, text_col="text", id_col="doc_id")
        kept = out_df.filter("keep").count()
        survivors[f"x{amp}"] = {
            "kept": kept,
            "total": out_df.count(),
            "sec": round(time.perf_counter() - t0, 4),
        }
        kept_counts[amp] = kept
    checks["survivor_count_amplification_invariant"] = (
        kept_counts[16] == kept_counts[1]
    )

    out = {
        "sf_dir": sf_dir,
        "base_docs": base_docs,
        "ops": results,
        "checks": checks,
        "capstone_checkpoint_ab": checkpoint_ab,
        "dedup_survivors_blowup": survivors,
        "note": (
            "amplified copies keep original text: dedup_prefix group sizes "
            "grow xN (hot-group reducer exercised), unigram vocabulary stays "
            "fixed (broadcast-probe invariant); decontaminate_* excluded "
            "(doc_id-keyed bench membership makes amplification inflate the "
            "bench set xN - a fixture artifact, see OPS comment)"
        ),
    }
    with open(out_json, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({
        "checks": checks,
        "x16_secs": {op: results[op]["x16"]["sec"] for op in OPS},
        "capstone_checkpoint_ab": checkpoint_ab,
    }))
    assert all(checks.values()), checks
    spark.stop()


if __name__ == "__main__":
    main()
