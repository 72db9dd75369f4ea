#!/usr/bin/env python
"""Scale-stress the dedup/ANN/lake-MV family at ~sf1 (VERDICT r9 #8).

The driver bench runs at sf0.1; a hidden superlinear term (quadratic
candidate generation, driver-side state growing with the corpus, a
shuffle whose width is data-dependent) can hide below that scale and
detonate on a real cluster. This probe amplifies the sf0.1 fixtures
×AMP with FRESH ids and per-copy token perturbation (so dedup clusters
grow ×AMP — the realistic shape: more near-duplicates, same vocabulary)
and times four scale-critical paths at ×1 vs ×AMP, recording

    wall-clock, output rows, and shuffle bytes written
    (REST /api/v1 stage totals — the session here enables the UI)

plus the empirical scaling exponent  log(T_amp / T_1) / log(AMP).
Exponent ≲ 1.1 = linear-ish (scan-bound on a fixed-core box); ≳ 1.5
flags a superlinear term to chase. Ops:

* dedup_minhash_banded — banded LSH candidates (bucketed, not
  all-pairs; the within-cluster verify IS expected to grow with
  cluster size² — that term is the documented cost of exactness on
  colliding pairs, bounded by band width).
* dedup_survivors — full pipeline: minhash → verify → connected
  components → keep-one (the O(log n) star rounds at 10× edges).
* sim_pq_topk — PQ codebook build + ADC shortlist + exact rerank over
  ×AMP vectors.
* lake_incremental_mv — bucketed lake build + 4 commits + routed MV
  refreshes at ×AMP row count.
* stream_upsert_merge / stream_lake_cdc — streaming steady state
  (VERDICT r10 #4): the upsert sink's per-batch merge and the CDC
  net-effect commits, each micro-batch carrying ×AMP rows.
* decontaminate_bloom — bitset sized by the bench side, probe cost by
  the ×AMP corpus.
* text_quality_composite — the single-scan (ReusedExchange) claim
  under ×AMP term-frequency cardinality.

Usage: python scripts/stress_scale.py [sf_dir] [amp] [out_json]
"""

from __future__ import annotations

import json
import math
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from dicebox_sensorybatchprocessor_spark import all_queries
from dicebox_sensorybatchprocessor_spark.io import load
from dicebox_sensorybatchprocessor_spark.session import ensure_engine_conf
from dicebox_sensorybatchprocessor_spark.utils import scratch_stage

OPS = (
    "dedup_minhash_banded",
    "dedup_survivors",
    "dedup_survivors_star",  # bounded-candidate twin (registered r11)
    "sim_pq_topk",
    "lake_incremental_mv",
    # r11 additions (VERDICT r10 #4): streaming steady-state (upsert
    # sink + CDC net-effect commits over ×amp events) and the two
    # curation claims whose state scales with the corpus — the
    # decontamination bitset/probe and the single-scan quality
    # composite under ×amp TF cardinality
    "stream_upsert_merge",
    "stream_lake_cdc",
    "decontaminate_bloom",
    "text_quality_composite",
    # r11b additions: the new IVF-PQ leg (index build + pruned ADC +
    # rerank — sampled training should make the build corpus-flat) and
    # a multimodal representative (map-only mapInPandas, zero shuffle —
    # the exponent should be pure scan)
    "sim_ann_ivfpq",
    "mm_image_meta",
    # r12 additions (VERDICT r11 #6): the rest of the multimodal family
    # (all map-only mapInPandas — exponents should sit at or under the
    # scan exponent) and the two r11 ANN-ingest legs whose O(batch)
    # claims were argued, not measured, at ×10: frozen-quantizer
    # incremental encode and the encode-in-stream lake composition
    "mm_image_resize",
    "mm_audio_feature",
    "mm_frame_sample",
    "sim_ann_ivfpq_persisted",
    "stream_ann_ingest",
    # r12 session additions: substring-span dedup (shingle inverted
    # index — the count-window over ×amp shingles is the term to watch),
    # fixed-iteration PageRank (5 × two keyed shuffles over a 3N-edge
    # relation — expect ~linear), and the two map-only text legs
    # (hashed linear classifier via HOF aggregate, regexp PII extract —
    # exponents should sit at the scan exponent)
    "dedup_substring",
    "graph_pagerank",
    "text_quality_classifier",
    "text_pii_extract",
    # r13 registrations: the streaming substring sink (per-batch
    # flagging + touched-keys state upsert — the O(batch) claim under
    # ×amp batch width), its in-memory batch-chained twin, seeded
    # PageRank (same shuffle-linear shape as graph_pagerank plus the
    # broadcast seed flags), and the SQ8 scan (map-only quantize+score
    # — expect the scan exponent)
    "stream_substring_dedup",
    "dedup_substring_incremental",
    "personalized_pagerank",
    "sim_ann_sq8",
    # r14 registrations: the batch k-NN join (broadcast-matrix BLAS
    # selection + candidate-sized rerank — expect the scan exponent),
    # the five-family recall sweep (index builds are sampled-training
    # corpus-flat; the per-family candidate/shortlist passes are the
    # terms to watch), and LPA (3 rounds x two keyed shuffles over the
    # symmetrized 6N-edge relation — expect graph_pagerank's shape)
    "sim_knn_join",
    "sim_ann_recall_sweep",
    "graph_label_propagation",
)


def _force_count(df) -> int:
    """Row count that FORCES every output column to be computed.

    A bare ``.count()`` lets Catalyst prune all columns and even
    eliminate a final left join whose right side is provably unique —
    measured in-round: dedup_substring's count() collapsed to the base
    table scan (0 shuffle bytes, 10× under-measured wall), and the
    map-only text legs' count() skipped the md5/regex work entirely.
    Counting every column's non-nulls keeps each column (and therefore
    every upstream stage) alive while still returning the row count."""
    from pyspark.sql import functions as _F

    row = df.agg(
        _F.count(_F.lit(1)).alias("__n"),
        *[
            _F.count(_F.col(c)).alias(f"__c{i}")
            for i, c in enumerate(df.columns)
        ],
    ).collect()[0]
    return row["__n"]


def _shuffle_bytes(spark) -> int:
    """Cumulative shuffle bytes written, from the executors endpoint —
    unlike /stages it never evicts history (spark.ui.retainedStages
    caps the stage list, which made a stage-sum non-monotonic across
    thousand-stage runs)."""
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    url = f"{base}/api/v1/applications/{app}/executors"
    try:
        with urllib.request.urlopen(url, timeout=10) as r:
            execs = json.load(r)
        return sum(int(e.get("totalShuffleWrite", 0)) for e in execs)
    except Exception:
        return -1


def _stage_amplified(spark, sf_dir: str, amp: int) -> str:
    """sf-dir-shaped scratch with documents/embeddings/lineitem ×amp.
    Documents keep their text plus a per-copy suffix token (near-dup
    clusters of size amp, fixed vocabulary + 'v<rep>' tail); embeddings
    keep their vectors (ANN cost scales with row count); lineitem gets
    fresh composite keys so the lake build sees ×amp distinct rows. A
    staging write that raises un-caches its half-written dir."""
    with scratch_stage("stress_scale_", cache_key=f"{sf_dir}|{amp}") as (out, fresh):
        if fresh:
            _write_amplified(spark, sf_dir, amp, out)
    return out


def _write_amplified(spark, sf_dir: str, amp: int, out: str) -> None:
    reps = F.explode(F.array(*[F.lit(i) for i in range(amp)]))
    d = load(spark, sf_dir, "documents").withColumn("rep", reps)
    (
        d.select(
            (F.col("doc_id") * amp + F.col("rep")).alias("doc_id"),
            F.when(F.col("rep") == 0, F.col("text"))
            .otherwise(F.concat(F.col("text"), F.lit(" v"), F.col("rep")))
            .alias("text"),
            "lang",
            "source",
            "n_chars",
        ).repartition(64).write.mode("overwrite").parquet(f"{out}/documents.parquet")
    )
    e = load(spark, sf_dir, "embeddings").withColumn("rep", reps)
    (
        e.select(
            (F.col("vec_id") * amp + F.col("rep")).alias("vec_id"),
            *[c for c in e.columns if c not in ("vec_id", "rep")],
        )
        .repartition(64).write.mode("overwrite")
        .parquet(f"{out}/embeddings.parquet")
    )
    li = load(spark, sf_dir, "lineitem").withColumn("rep", reps)
    (
        li.select(
            (F.col("l_orderkey") * amp + F.col("rep")).alias("l_orderkey"),
            *[c for c in li.columns if c not in ("l_orderkey", "rep")],
        )
        .repartition(64).write.mode("overwrite")
        .parquet(f"{out}/lineitem.parquet")
    )
    # events ×amp with fresh event_ids (user_id/ts untouched, so the
    # streaming ops' per-user state and batch slicing keep their shape
    # while every micro-batch carries ×amp rows). load() repairs the
    # ns timestamps to LONG, which _events_raw reads back as-is.
    ev = load(spark, sf_dir, "events").withColumn("rep", reps)
    (
        ev.select(
            (F.col("event_id") * amp + F.col("rep")).alias("event_id"),
            *[c for c in ev.columns if c not in ("event_id", "rep")],
        )
        .repartition(64).write.mode("overwrite")
        .parquet(f"{out}/events.parquet")
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    amp = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    out_json = sys.argv[3] if len(sys.argv) > 3 else "stress_scale.json"
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("sbp-stress-scale")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "4058")
        .config("spark.driver.memory", "16g")
        # r13 finding: the probe fixtures compress to a few MB (the
        # ×amp corpus is near-copies), so bytes-based split sizing gave
        # CPU-dense scans (minhash = 8 salted md5s per shingle → ~2e9
        # hashes at ×100 behind a ~10⁴× explode fan-out) THREE tasks on
        # a 32-core box — jstack showed md5 pinning one core for 25 min
        # measuring the harness's file layout, not the operator. A real
        # 100 TB corpus has thousands of splits; a 1 MB split size plus
        # repartitioned staging (both ×1 and ×amp read a 64-file copy,
        # see _stage_amplified) restores honest parallelism on BOTH
        # sides of every exponent.
        .config("spark.sql.files.maxPartitionBytes", "1m")
        # same artifact on the reduce side: AQE's byte-based advisory
        # sizing coalesced the md5-bearing min-agg stage to 3 tasks.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
        .getOrCreate()
    )
    ensure_engine_conf(spark)
    spark.sparkContext.setLogLevel("ERROR")
    qs = all_queries()

    # SBP_STRESS_OPS=a,b,c restricts the matrix (targeted high-amp
    # cells); SBP_STRESS_WARM=1 runs each selected op once untimed at
    # ×1 first — the r12 protocol finding: a fresh JVM's first cells
    # carry ~6 s of codegen/executor warm-up and read as bogus negative
    # exponents, so amp cells must be measured warm.
    ops = tuple(OPS)
    if os.environ.get("SBP_STRESS_OPS"):
        sel = {o.strip() for o in os.environ["SBP_STRESS_OPS"].split(",")}
        unknown = sel - set(OPS)
        if unknown:
            raise SystemExit(f"unknown stress ops: {sorted(unknown)}")
        ops = tuple(o for o in OPS if o in sel)
    if os.environ.get("SBP_STRESS_WARM") == "1":
        for op in ops:
            _force_count(qs[op].fn(spark, sf_dir))
            print(f"warm {op}", flush=True)

    results: dict[str, dict] = {}
    for level in (1, amp):
        # both levels read a repartitioned 64-file staged copy so the
        # exponent compares equal parallelism (see session conf note)
        staged = _stage_amplified(spark, sf_dir, level)
        for op in ops:
            sb0 = _shuffle_bytes(spark)
            t0 = time.perf_counter()
            n = _force_count(qs[op].fn(spark, staged))
            wall = time.perf_counter() - t0
            sb1 = _shuffle_bytes(spark)
            results.setdefault(op, {})[f"x{level}"] = {
                "wall_s": round(wall, 3),
                "rows": n,
                "shuffle_mb": round((sb1 - sb0) / 1e6, 1) if sb0 >= 0 else None,
            }
            print(f"x{level} {op}: {wall:.2f}s rows={n}", flush=True)
    for op, r in results.items():
        t1, ta = r["x1"]["wall_s"], r[f"x{amp}"]["wall_s"]
        r["exponent"] = round(math.log(max(ta, 1e-9) / max(t1, 1e-9)) / math.log(amp), 2)
    with open(out_json, "w") as fh:
        json.dump({"sf_dir": sf_dir, "amp": amp, "ops": results}, fh, indent=1)
    print(json.dumps({op: r["exponent"] for op, r in results.items()}))
    spark.stop()


if __name__ == "__main__":
    main()
