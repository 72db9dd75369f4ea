"""§2.9 similarity search over the embedding column (SURVEY.md north star).

Three tiers, by scale:
- sim_cosine_topk — brute-force all-pairs top-k. The index side is
  broadcast as a dense numpy matrix and each partition runs one BLAS
  matmul against it (Arrow-batched mapInPandas — no per-row Python).
  Valid while one side fits in executor memory (same regime as a
  broadcast join); beyond that, sim_ann_lsh.
- sim_knn_query — single-query k-NN: the query vector is a literal
  broadcast into a JVM-side higher-order-function expression; linear scan,
  no Python at all.
- sim_ann_lsh / sim_ann_ivf — hash-bucketed (BRP-LSH) and coarse-quantized
  (KMeans IVF) candidates, linear cost. Approximate, so the *recall
  guarantee* is the checked value: each emits the in-engine exact side
  plus a boolean recall claim the DuckDB oracle asserts as literal TRUE
  (the agg_approx_distinct/sketch pattern).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dicebox_sensorybatchprocessor_spark.io import load
from dicebox_sensorybatchprocessor_spark.registry import register
from dicebox_sensorybatchprocessor_spark.utils import embedding_shape, stable_round

_TOPK = 10
# Per-partition candidate margin: global top-k by *rounded* similarity
# needs raw-order ties at the cut to survive partition-local pruning; a
# 10× margin makes a dropped rounded-tie candidate require ≥100
# raw-closer pairs inside one partition — probability ~0 for continuous
# similarities.
_PART_M = 100
# The dense broadcast index is collected to the driver and shipped to every
# task — the same regime as a broadcast join, and with the same failure
# mode (driver/executor memory) beyond it. Route to the LSH-bucketed path
# once the index would exceed this budget (float64 matrix bytes).
_INDEX_BYTE_BUDGET = 256 << 20

# ---------------------------------------------------------------------------
# Blocked distributed all-pairs (r16, VERDICT r15 #1).
#
# Past _INDEX_BYTE_BUDGET the r15 fallbacks for the embedding all-pairs
# family were the pre-r15 interpreted-HOF nested-loop joins — the very
# 67.9/46.8/7.3 s shapes the broadcast kernels replaced, returning exactly
# when the corpus is big enough for the budget gate to fire. The r16
# over-budget route is a blocked distributed pass instead: split the
# relation into deterministic row blocks, meet every unordered block pair
# (i <= j) exactly once via a cogrouped applyInPandas, and run THE SAME
# bit-exact per-dimension fold the broadcast kernel runs — so both routes
# return bit-identical rows and the Arrow path has no size ceiling.
# Shuffle cost is L× the relation (each row visits the L block pairs that
# contain its block, the diagonal included), the unavoidable replication
# of an exact all-pairs comparison.
_BLOCK_TARGET_BYTES = 64 << 20
# Per-chunk cap on the m×n float64 product block any kernel materializes
# (ADVICE r15: a 10k-row Arrow batch against a near-budget broadcast matrix
# allocated tens of GB) — the probe side is processed in row chunks so one
# chunk's product block stays bounded regardless of the index width.
_KERNEL_CHUNK_BYTES = 64 << 20


def _chunk_rows(n_cols: int, cap: int) -> int:
    """Probe-row chunk length bounding an m×n float64 product block to
    ``cap`` bytes. The cap is captured at plan-build time and pickled
    with the kernel closure (workers re-import this module, so a
    module-global read inside the kernel would not see a test's
    monkeypatched value)."""
    return max(1, cap // max(1, n_cols * 8))


def _fold_dot(q, mat):
    """Pairwise dot products in the HOF fold's exact IEEE order:
    acc = acc + q_j·m_j over ascending dims, vectorized across rows."""
    import numpy as np

    acc = np.zeros((q.shape[0], mat.shape[0]), dtype="float64")
    for j in range(q.shape[1]):
        acc = acc + q[:, j][:, None] * mat[:, j][None, :]
    return acc


def _fold_sqdist(q, mat):
    """Pairwise squared euclidean distances in the HOF fold's exact IEEE
    order: acc = acc + (q_j − m_j)² over ascending dims."""
    import numpy as np

    acc = np.zeros((q.shape[0], mat.shape[0]), dtype="float64")
    for j in range(q.shape[1]):
        d = q[:, j][:, None] - mat[:, j][None, :]
        acc = acc + d * d
    return acc


def _fold_sqnorm(mat):
    """Per-row squared norms in the HOF fold's exact IEEE order:
    acc = acc + m_j·m_j over ascending dims."""
    import numpy as np

    acc = np.zeros(mat.shape[0], dtype="float64")
    for j in range(mat.shape[1]):
        acc = acc + mat[:, j] * mat[:, j]
    return acc


def _n_blocks(n_rows: int, row_bytes: int) -> int:
    """Number of row blocks so one block's float64 matrix stays under
    _BLOCK_TARGET_BYTES."""
    import math

    return max(1, math.ceil(max(1, n_rows) * row_bytes / _BLOCK_TARGET_BYTES))


def _block_pair_grouped(e: DataFrame, n_blocks: int, extra_keys: tuple[str, ...] = ()):
    """Group every unordered block pair of ``e`` exactly once.

    ``e`` must carry an int ``__blk`` column in [0, n_blocks). Rows of
    block i are replicated side-tagged as the LEFT member of groups
    (i, i..L−1) and as the RIGHT member of groups (0..i−1, i), so
    grouping the union on (*extra_keys, __bi, __bj) hands each kernel
    invocation one frame holding block i (__side 0) and block j
    (__side 1) with i <= j. The diagonal group (i, i) carries block i
    ONCE (side 0 only — kernels pair it against itself), so each row is
    shuffled exactly L times. One union + one grouping exchange — NOT a
    cogroup: a self-cogroup's two structurally-twin children tripped
    exchange reuse into handing the right side key-only frames (columns
    pruned), observed on Spark 4.1.2. Kernels must emit BOTH
    orientations for off-diagonal groups (the mirrored pair never meets
    elsewhere) and the strict upper triangle for the diagonal."""
    left = (
        e.withColumn("__side", F.lit(0))
        .withColumn("__bi", F.col("__blk"))
        .withColumn("__bj", F.explode(F.sequence(F.col("__blk"), F.lit(n_blocks - 1))))
        .drop("__blk")
    )
    right = (
        e.withColumn("__side", F.lit(1))
        .withColumn("__bj", F.col("__blk"))
        .withColumn(
            "__bi",
            F.explode(
                # sequence(0, blk−1) flips to a DESCENDING [0, −1] when
                # blk == 0 (Spark auto-steps backwards) — guard with an
                # empty array so block 0 is never a right member
                F.when(
                    F.col("__blk") > 0,
                    F.sequence(F.lit(0), F.col("__blk") - F.lit(1)),
                ).otherwise(F.array().cast("array<int>"))
            ),
        )
        .drop("__blk")
    )
    keys = [*extra_keys, "__bi", "__bj"]
    return left.unionByName(right).groupBy(*keys)


def _cosine_topk_lsh(e: DataFrame, k: int = _TOPK) -> DataFrame:
    """Scale path for sim_cosine_topk: normalize → BucketedRandomProjection
    LSH candidate pairs within a radius → *exact* cosine rerank → top-k.
    For unit vectors ||a−b||² = 2·(1−cos), so radius 1.1 keeps every
    pair with cosine ≥ 0.395 — candidates are generated bucket-local
    (linear, shuffle on hash buckets) instead of all-pairs. Top-k is exact
    over the candidate set; recall of the global top-k is governed by the
    radius/table parameters, the tunable any deployed ANN carries (the
    fixture's random 64-dim embeddings have a null cosine std of ~1/8, so
    0.395 is a >3σ tail and the candidate set stays near-linear)."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    embd = F.transform("embedding", lambda x: x.cast("double"))
    norm = F.sqrt(F.aggregate(embd, F.lit(0.0), lambda acc, x: acc + x * x))
    unit = e.select(
        "vec_id",
        F.transform(embd, lambda x: x / norm).alias("unit"),
    ).withColumn("features", array_to_vector(F.col("unit")))
    lsh = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=1.0, numHashTables=6, seed=42
    )
    model = lsh.fit(unit)
    pairs = model.approxSimilarityJoin(unit, unit, 1.1, distCol="dist")
    cos = F.aggregate(
        F.zip_with(
            F.col("datasetA.unit"), F.col("datasetB.unit"), lambda a, b: a * b
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        pairs.filter(F.col("datasetA.vec_id") < F.col("datasetB.vec_id"))
        .select(
            F.col("datasetA.vec_id").alias("id_a"),
            F.col("datasetB.vec_id").alias("id_b"),
            F.round(cos, 6).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col("id_a").asc(), F.col("id_b").asc())
        .limit(k)
    )


@register(
    "sim_cosine_topk",
    oracle=f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6)
             AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    ORDER BY cosine DESC, id_a ASC, id_b ASC
    LIMIT {_TOPK}
    """,
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force pairwise cosine top-10 (the BASELINE.md sim_cosine_topk
    headline). Plan: normalize → broadcast dense matrix → partition-wise
    BLAS matmul emitting each partition's top-M candidates → global
    TakeOrderedAndProject on (rounded cosine, ids).

    The dense-index collect is explicitly guarded: beyond the broadcast
    byte budget the operator routes to the LSH-bucketed candidate + exact
    rerank path instead of attempting a driver-side materialization that
    would fail at 100× scale.

    The probe side is widened to the session's core count when the scan
    arrives under-partitioned (the fixtures are one row group, so the
    matmul would otherwise serialize on one Python worker — measured
    0.27 s → 0.04 s at sf0.1). Each partition emits only its top-M raw
    pairs, so the shuffle into the global top-k is O(M × partitions)
    regardless of input size."""
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # route probe from parquet footers — zero Spark jobs (r16); arbitrary
    # relations through api.cosine_topk still probe with count()/first()
    return _cosine_topk(e, shape=embedding_shape(sf_dir))


def _cosine_topk(
    e: DataFrame,
    k: int = _TOPK,
    part_margin: int = _PART_M,
    shape: tuple[int, int] | None = None,
) -> DataFrame:
    """Core of sim_cosine_topk over any (vec_id, embedding) relation —
    also the engine behind api.cosine_topk. Reads the byte budget from
    the module global at call time (tests pin it to force the LSH
    route). ``shape``: a caller that knows (n_rows, dim) — e.g. from
    parquet footers — passes it so no probe jobs run."""
    import numpy as np

    spark = e.sparkSession
    n_rows = shape[0] if shape is not None else e.count()
    if n_rows == 0:
        # Reachable via api.cosine_topk on a user relation (ADVICE r5):
        # first() would return None below and TypeError out of len().
        return spark.createDataFrame([], "id_a long, id_b long, cosine double")
    dim = shape[1] if shape is not None else len(e.select("embedding").first()["embedding"])
    if n_rows * dim * 8 > _INDEX_BYTE_BUDGET:
        return _cosine_topk_lsh(e, k=k)
    pdf = e.toPandas().sort_values("vec_id")
    ids = pdf["vec_id"].to_numpy()
    mat = np.stack(pdf["embedding"].to_numpy()).astype("float64")
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    bc = spark.sparkContext.broadcast((ids, mat))

    def topm_per_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        b_ids, b_mat = bc.value
        for batch in batches:
            vids = batch["vec_id"].to_numpy()
            q = np.stack(batch["embedding"].to_numpy()).astype("float64")
            q /= np.linalg.norm(q, axis=1, keepdims=True)
            sims = q @ b_mat.T
            # pair constraint id_a < id_b as a mask, then ONE flat
            # argpartition for the batch's top-M — no per-row Python loop,
            # and emission is O(M) instead of O(rows × k)
            sims[b_ids[None, :] <= vids[:, None]] = -np.inf
            flat = sims.ravel()
            m = min(part_margin, flat.size)
            top = np.argpartition(-flat, m - 1)[:m]
            # per-row top-k floor (ADVICE r2): every row's k raw-closest
            # pairs survive regardless of how many closer pairs other rows
            # in this partition hold, so a global top-k pair (raw order)
            # can never be pruned partition-locally; only rounding-tie
            # reordering at the cut remains (documented, ~0 probability
            # for continuous similarities)
            kk = min(k, sims.shape[1])
            row_top = np.argpartition(-sims, kk - 1, axis=1)[:, :kk]
            row_flat = (
                np.arange(sims.shape[0])[:, None] * sims.shape[1] + row_top
            ).ravel()
            top = np.union1d(top, row_flat)
            vals = flat[top]
            keep = np.isfinite(vals)
            top, vals = top[keep], vals[keep]
            r, c = np.unravel_index(top, sims.shape)
            yield pd.DataFrame(
                {"id_a": vids[r], "id_b": b_ids[c], "cos_raw": vals}
            )

    target = min(spark.sparkContext.defaultParallelism, max(1, n_rows // 128))
    probe = e.repartition(target) if e.rdd.getNumPartitions() < target else e
    cand = probe.mapInPandas(topm_per_partition, "id_a long, id_b long, cos_raw double")
    return (
        cand.select("id_a", "id_b", F.round("cos_raw", 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("id_a").asc(), F.col("id_b").asc())
        .limit(k)
    )


@register(
    "sim_knn_query",
    oracle="""
    WITH q AS (SELECT embedding AS qe FROM embeddings ORDER BY vec_id LIMIT 1)
    SELECT e.vec_id, e.label,
           round(list_cosine_similarity(e.embedding::DOUBLE[], q.qe::DOUBLE[]), 6) AS cosine
    FROM embeddings e, q
    WHERE e.vec_id <> (SELECT min(vec_id) FROM embeddings)
    ORDER BY cosine DESC, e.vec_id ASC
    LIMIT 5
    """,
)
def sim_knn_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN for one query vector (the min-vec_id embedding): the query is a
    64-element literal array folded JVM-side (zip_with + aggregate) — a
    pure linear scan with a top-k, the shape that streams over 100 TB.
    Thin wrapper over api.knn_query (round 7)."""
    from dicebox_sensorybatchprocessor_spark import api

    e = load(spark, sf_dir, "embeddings")
    qrow = e.orderBy("vec_id").select("vec_id", "embedding").first()
    return api.knn_query(
        e.filter(F.col("vec_id") != qrow["vec_id"]),
        [float(x) for x in qrow["embedding"]],
        id_col="vec_id",
        vec_col="embedding",
        k=5,
        extra_cols=("label",),
    )


_ANN_RADIUS = 8.0


def _ann_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BucketedRandomProjectionLSH candidate pairs within euclidean radius
    (seeded) — the linear path that replaces all-pairs beyond broadcast
    scale. Shared by sim_ann_lsh (which wraps it in a recall claim).
    Thin wrapper over api.ann_candidates_lsh (round 7)."""
    from dicebox_sensorybatchprocessor_spark import api

    return api.ann_candidates_lsh(
        load(spark, sf_dir, "embeddings"),
        id_col="vec_id",
        vec_col="embedding",
        radius=_ANN_RADIUS,
        bucket_length=2.0,
        num_tables=4,
        seed=42,
    )


def _exact_radius_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All (id_a < id_b) pairs within euclidean distance _ANN_RADIUS —
    the exact side of sim_ann_lsh's recall claim. r15 (guide §4.2): the
    pre-r15 form was an n² nested-loop join where every pair paid an
    interpreted zip_with (x−y)² fold; now one partition-wise pass
    against the byte-budget-gated broadcast matrix runs the SAME IEEE
    operation sequence (a Python loop over the dims accumulating on
    whole m×n float64 blocks), so the distances — and therefore the
    boundary count the oracle value-checks — are bit-identical to the
    fold's. Over budget the blocked cogrouped form of the same kernel
    runs (r16 — no size ceiling, no driver collect)."""
    e = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # route probe from parquet footers — zero Spark jobs (r16)
    n_rows, dim = embedding_shape(sf_dir)
    if n_rows * dim * 8 > _INDEX_BYTE_BUDGET:
        return _exact_radius_pairs_blocked(e, n_rows, dim)
    import numpy as np

    pdf = e.toPandas().sort_values("vec_id")
    b_ids = pdf["vec_id"].to_numpy()
    b_mat = np.stack(pdf["embedding"].to_numpy()).astype("float64")
    bc = spark.sparkContext.broadcast((b_ids, b_mat))
    chunk_cap = _KERNEL_CHUNK_BYTES

    def radius_pairs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids, mat = bc.value
        step = _chunk_rows(len(ids), chunk_cap)
        for batch in batches:
            bids = batch["vec_id"].to_numpy()
            bq = np.stack(batch["embedding"].to_numpy()).astype("float64")
            for s in range(0, len(bids), step):
                vids, q = bids[s : s + step], bq[s : s + step]
                dist = np.sqrt(_fold_sqdist(q, mat))
                mask = (dist <= _ANN_RADIUS) & (vids[:, None] < ids[None, :])
                r, c = np.nonzero(mask)
                yield pd.DataFrame(
                    {"id_a": vids[r], "id_b": ids[c], "d": dist[r, c]}
                )

    sc = spark.sparkContext
    target = min(sc.defaultParallelism, max(1, n_rows // 128))
    probe = e.repartition(target) if e.rdd.getNumPartitions() < target else e
    return probe.mapInPandas(radius_pairs, "id_a long, id_b long, d double")


def _exact_radius_pairs_blocked(e: DataFrame, n_rows: int, dim: int) -> DataFrame:
    """Distributed route for :func:`_exact_radius_pairs` past the
    broadcast byte budget (r16, VERDICT r15 #1): blocked all-pairs over
    cogrouped row-block pairs running the identical bit-exact (x−y)²
    fold, chunked. Replaces the pre-r15 interpreted-HOF nested-loop
    join (the 81.4 s sf0.1 shape). Never collects the relation."""
    import numpy as np

    L = _n_blocks(n_rows, dim * 8)
    base = e.select(
        "vec_id",
        "embedding",
        F.pmod(F.xxhash64("vec_id"), F.lit(L)).cast("int").alias("__blk"),
    )
    chunk_cap = _KERNEL_CHUNK_BYTES

    def kern(key, pdf):
        empty = pd.DataFrame(
            {
                "id_a": pd.Series([], dtype="int64"),
                "id_b": pd.Series([], dtype="int64"),
                "d": pd.Series([], dtype="float64"),
            }
        )
        diag = key[-2] == key[-1]
        lmask = pdf["__side"].to_numpy() == 0
        left = pdf[lmask]
        right = left if diag else pdf[~lmask]
        if left.empty or right.empty:
            return empty
        l_ids = left["vec_id"].to_numpy()
        r_ids = right["vec_id"].to_numpy()
        lm = np.stack(left["embedding"].to_numpy()).astype("float64")
        rm = np.stack(right["embedding"].to_numpy()).astype("float64")
        outs = []
        step = _chunk_rows(len(r_ids), chunk_cap)
        for s in range(0, len(l_ids), step):
            vids, q = l_ids[s : s + step], lm[s : s + step]
            dist = np.sqrt(_fold_sqdist(q, rm))
            ok = dist <= _ANN_RADIUS
            if diag:
                # left IS right: the strict upper triangle emits each
                # pair exactly once
                ok &= vids[:, None] < r_ids[None, :]
            r, c = np.nonzero(ok)
            ia, ib = vids[r], r_ids[c]
            # off-diagonal groups hold the pair in one orientation only
            # ((x−y)² is sign-symmetric per element, so d is the same
            # bits either way) — normalize to id_a < id_b
            outs.append(
                pd.DataFrame(
                    {
                        "id_a": np.minimum(ia, ib),
                        "id_b": np.maximum(ia, ib),
                        "d": dist[r, c],
                    }
                )
            )
        return pd.concat(outs, ignore_index=True) if outs else empty

    return _block_pair_grouped(base, L).applyInPandas(
        kern, "id_a long, id_b long, d double"
    )


@register(
    "sim_ann_lsh",
    oracle=f"""
    SELECT count(*) AS n_exact_pairs, TRUE AS recall_ge_80pct
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_distance(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) <= {_ANN_RADIUS}
    """,
    cache_plan=False,
)
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN-LSH with its recall as the checked value (the
    agg_approx_distinct/sketch pattern): MLlib's hash family is
    engine-private, so the candidate *pairs* can't be oracle-matched — but
    the guarantee can. Spark computes BOTH the LSH candidates and the
    in-engine exact neighbor set (all pairs within the radius, JVM-side
    higher-order fns) and emits the exact-pair count plus a boolean recall
    claim; DuckDB recomputes the exact side and emits literal TRUE, so the
    driver's value-hash gates both the exact arithmetic and the claim.

    Claim threshold 0.8 is deliberately below the measured recall (1.0 at
    sf0.01 and sf0.1 with 4 hash tables) so the gate is robust to fixture
    evolution (ADVICE r2: don't let probabilistic bounds flip the hash)."""
    pairs = _ann_lsh_pairs(spark, sf_dir).select("id_a", "id_b").distinct()
    exact = _exact_radius_pairs(spark, sf_dir)
    # ONE action for both counts (r16, guide §1.2): the former
    # count() + semi-join-count() pair re-executed the exact-radius
    # subtree (stages are not shared across separate actions)
    row = (
        exact.join(pairs.withColumn("__hit", F.lit(1)), ["id_a", "id_b"], "left_outer")
        .agg(F.count(F.lit(1)).alias("__n"), F.count("__hit").alias("__f"))
        .first()
    )
    n_exact, n_found = int(row["__n"]), int(row["__f"])
    return spark.createDataFrame(
        [(n_exact, n_found >= 0.8 * n_exact)],
        "n_exact_pairs long, recall_ge_80pct boolean",
    )


@register(
    "sim_ann_ivf",
    oracle="""
    WITH q AS (SELECT embedding AS qe, vec_id AS qid FROM embeddings ORDER BY vec_id LIMIT 1)
    SELECT e.vec_id, e.label,
           round(list_cosine_similarity(e.embedding::DOUBLE[], q.qe::DOUBLE[]), 6) AS cosine,
           TRUE AS ivf_recall_at_5_ok
    FROM embeddings e, q
    WHERE e.vec_id <> q.qid
    ORDER BY cosine DESC, e.vec_id ASC
    LIMIT 5
    """,
    cache_plan=False,
)
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN (the other scale path SURVEY.md §2.9 names) with its
    recall@k as the checked value: a seeded KMeans coarse quantizer assigns
    every vector to a cell; the query probes only the nprobe nearest cells
    and brute-forces within them. At 100 TB the cell assignment is computed
    once at ingest and stored as a partition column, so a query touches
    nprobe/k of the data.

    The quantizer's cell contents are engine-private (KMeans internals), so
    the probed top-k itself can't be oracle-matched — the *guarantee* can:
    the returned rows are the in-engine exact brute-force top-5 (which
    DuckDB recomputes value-for-value), and `ivf_recall_at_5_ok` claims the
    IVF-probed top-5 recovered ≥3 of them.

    r12 (VERDICT r11 weak flag): the quantizer now trains on UNIT
    vectors and the probe ranks cells by INNER PRODUCT q̂·center — the
    criterion ivfpq_search proved in r11 (L2-to-unequal-norm-means
    buried a true neighbor's cell at rank 14/16 there) — so the whole
    ANN family shares one coarse-ranking discipline, and nprobe aligns
    with the IVFPQ leg's 10/16 dial. Re-measured under IP at nprobe=10:
    5/5 at BOTH sf0.01 and sf0.1 (at nprobe=8 sf0.1 measured 4/5 — one
    true neighbor's cell sits at IP rank 8, a genuinely marginal cell
    that L2 ranked 6; nprobe=4 measures 2/5 under both criteria — the
    usual high-dim recall/probe trade-off). The ≥3 threshold leaves a
    margin so KMeans build drift or fixture evolution can't flip the
    driver's hash gate. The MEASURED overlap is deliberately not in
    the hashed output (it would reintroduce the flakiness the margin
    buys off); regressions below 5/5 at sf0.01 are caught locally
    instead by tests/test_metamorphic.py::test_ivf_measured_recall,
    which pins ivf_measured_overlap() == topk (ADVICE r3)."""
    n_overlap, _topk, exact_top = ivf_measured_overlap(spark, sf_dir)
    return exact_top.withColumn("ivf_recall_at_5_ok", F.lit(n_overlap >= 3))


@register(
    "sim_ann_ivf_persisted",
    oracle="""
    WITH q AS (SELECT embedding AS qe, vec_id AS qid FROM embeddings ORDER BY vec_id LIMIT 1)
    SELECT e.vec_id, e.label,
           round(list_cosine_similarity(e.embedding::DOUBLE[], q.qe::DOUBLE[]), 6) AS cosine,
           TRUE AS loaded_probe_identical
    FROM embeddings e, q
    WHERE e.vec_id <> q.qid
    ORDER BY cosine DESC, e.vec_id ASC
    LIMIT 5
    """,
    cache_plan=False,
)
def sim_ann_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index persistence (VERDICT r7 #5): build the sim_ann_ivf
    quantizer once, ``api.ivf_save`` it (assignments partitioned by
    cell — the probe filter becomes partition pruning), ``api.ivf_load``
    it back, and probe BOTH the built and the loaded index with the same
    query. The checked claim ``loaded_probe_identical`` asserts the two
    probes return the exact same (id, cosine) sets — the amortize-the-
    index story demonstrated, not asserted — surfaced on the in-engine
    exact top-5 rows the oracle recomputes value-for-value (same
    guarantee pattern as sim_ann_ivf). The saved index is cached per
    (process, sf_dir); the save→load→probe-compare runs per invocation."""
    import os

    from dicebox_sensorybatchprocessor_spark import api
    from dicebox_sensorybatchprocessor_spark.utils import scratch_stage

    n_cells, nprobe, topk = 16, 10, 5
    e = load(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    qrow = e.orderBy("vec_id").select("vec_id", "embedding").first()
    qvec = [float(x) for x in qrow["embedding"]]

    assigned, centers = api.ivf_index(e, vec_col="embedding", n_cells=n_cells, seed=42)
    with scratch_stage("sbp_ivf_idx_", cache_key=sf_dir) as (idx_root, fresh):
        idx_path = os.path.join(idx_root, "ivf")
        if fresh:
            api.ivf_save(assigned, centers, idx_path)
    loaded_assigned, loaded_centers = api.ivf_load(spark, idx_path)

    def probe(a: DataFrame, c: list[list[float]]) -> set[tuple[int, float]]:
        rows = api.ivf_probe(
            a.filter(F.col("vec_id") != qrow["vec_id"]),
            c,
            qvec,
            id_col="vec_id",
            vec_col="embedding",
            nprobe=nprobe,
            k=topk,
        ).collect()
        return {(r["vec_id"], r["cosine"]) for r in rows}

    identical = probe(assigned, centers) == probe(loaded_assigned, loaded_centers)
    exact_top = api.knn_query(
        e.filter(F.col("vec_id") != qrow["vec_id"]),
        qvec,
        id_col="vec_id",
        vec_col="embedding",
        k=topk,
        extra_cols=("label",),
    )
    return exact_top.withColumn("loaded_probe_identical", F.lit(identical))


def ivf_measured_overlap(spark: SparkSession, sf_dir: str) -> tuple[int, int, DataFrame]:
    """(measured IVF∩exact overlap, topk, exact top-k DataFrame) for the
    sim_ann_ivf configuration — exposed so the test suite can pin the
    measured recall exactly while the driver-facing claim keeps its
    drift margin. Thin wrapper over api.ivf_index / api.ivf_probe /
    api.knn_query (round 7)."""
    from dicebox_sensorybatchprocessor_spark import api

    n_cells, nprobe, topk = 16, 10, 5
    e = load(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    assigned, centers = api.ivf_index(e, vec_col="embedding", n_cells=n_cells, seed=42)

    qrow = e.orderBy("vec_id").select("vec_id", "embedding").first()
    qvec = [float(x) for x in qrow["embedding"]]
    ivf_top = api.ivf_probe(
        assigned.filter(F.col("vec_id") != qrow["vec_id"]),
        centers,
        qvec,
        id_col="vec_id",
        vec_col="embedding",
        nprobe=nprobe,
        k=topk,
    )
    exact_top = api.knn_query(
        e.filter(F.col("vec_id") != qrow["vec_id"]),
        qvec,
        id_col="vec_id",
        vec_col="embedding",
        k=topk,
        extra_cols=("label",),
    )
    n_overlap = exact_top.join(ivf_top, "vec_id", "left_semi").count()
    return n_overlap, topk, exact_top


@register(
    "vec_norm",
    oracle="""
    SELECT vec_id, label,
           round(sqrt(list_aggregate(list_transform(embedding::DOUBLE[], x -> x * x), 'sum')), 6)
             AS l2_norm,
           round(embedding[1]::DOUBLE /
                 sqrt(list_aggregate(list_transform(embedding::DOUBLE[], x -> x * x), 'sum')), 6)
             AS first_component_normalized
    FROM embeddings
    """,
)
def vec_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding normalization / vector arithmetic with higher-order
    functions (JVM-side, no UDF): L2 norm and the first normalized
    component."""
    e = load(spark, sf_dir, "embeddings")
    embd = F.transform("embedding", lambda x: x.cast("double"))
    norm = F.sqrt(F.aggregate(embd, F.lit(0.0), lambda acc, x: acc + x * x))
    return e.select(
        "vec_id",
        "label",
        F.round(norm, 6).alias("l2_norm"),
        F.round(F.element_at(embd, 1) / norm, 6).alias("first_component_normalized"),
    )


@register(
    "emb_label_centroid_dist",
    oracle="""
    WITH ex AS (
      SELECT vec_id, label, g.i AS pos, embedding[g.i]::DOUBLE AS x
      FROM embeddings, generate_series(1, 64) g(i)
    ),
    comp AS (
      SELECT label, pos,
             CAST(SUM(CAST(round(x * 10000000.0, 0) AS HUGEINT)) AS DOUBLE)
               / 10000000.0 / count(*) AS c
      FROM ex GROUP BY label, pos
    ),
    cent AS (SELECT label, list(c ORDER BY pos) AS centroid FROM comp GROUP BY label)
    SELECT e.vec_id, e.label,
           round(
             list_aggregate(list_transform(range(1, 65),
               i -> e.embedding[i]::DOUBLE * cent.centroid[i]), 'sum')
             / (sqrt(list_aggregate(list_transform(e.embedding::DOUBLE[], x -> x * x), 'sum'))
                * sqrt(list_aggregate(list_transform(cent.centroid, x -> x * x), 'sum'))),
             6) AS cos_to_centroid
    FROM embeddings e JOIN cent ON e.label = cent.label
    """,
)
def emb_label_centroid_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid + each vector's cosine to its own label's
    centroid — the class-coherence signal behind embedding-space QA and
    semantic-dedup cluster audits. Centroid components are averaged in
    fixed-point (exact integer-unit sums, so the mean is accumulation-
    order-independent across engines); the centroid is rebuilt as an
    ordered array (array_sort on (pos, value) structs — deterministic)
    and the cosine folds sequentially with JVM higher-order functions.
    Shape: one posexplode + one (label, pos) aggregate (64×10 rows), a
    10-row broadcast join back, and a codegen'd scan — linear at any
    scale, no Python."""
    e = load(spark, sf_dir, "embeddings")
    ex = e.select(
        "vec_id", "label", F.posexplode(F.col("embedding").cast("array<double>"))
    ).toDF("vec_id", "label", "pos", "x")
    comp = ex.groupBy("label", "pos").agg(
        (
            F.sum(F.round(F.col("x") * 10000000.0, 0).cast("long")).cast("double")
            / 10000000.0
            / F.count("*")
        ).alias("c")
    )
    cent = comp.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))), lambda s: s["c"]
        ).alias("centroid")
    )
    emb = F.col("embedding").cast("array<double>")
    dot = F.aggregate(
        F.zip_with(emb, F.col("centroid"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x))  # noqa: E731
    return e.join(F.broadcast(cent), "label").select(
        "vec_id",
        "label",
        F.round(dot / (norm(emb) * norm(F.col("centroid"))), 6).alias("cos_to_centroid"),
    )


@register(
    "emb_label_margin",
    oracle="""
    WITH pairs AS (
      SELECT a.vec_id, a.label AS label_a, b.label AS label_b,
             list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS cos
      FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    )
    SELECT vec_id,
           floor(max(CASE WHEN label_a = label_b THEN cos END) * 1000000.0 + 0.5)
             / 1000000.0 AS same_label_max,
           floor(max(CASE WHEN label_a <> label_b THEN cos END) * 1000000.0 + 0.5)
             / 1000000.0 AS other_label_max,
           floor((max(CASE WHEN label_a = label_b THEN cos END)
                  - max(CASE WHEN label_a <> label_b THEN cos END)) * 1000000.0 + 0.5)
             / 1000000.0 AS margin
    FROM pairs GROUP BY vec_id
    """,
    audit_only=True,
)
def emb_label_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-quality eval: per vector, the nearest same-label cosine
    minus the nearest other-label cosine — positive margin means the
    label structure survives in embedding space (the 1-NN leave-one-out
    signal retrieval teams track per training run). At corpus scale the
    same margins come from the ANN side (sim_ann_lsh / sim_ann_ivf
    candidates), with this exact form as the audit on a sample — the
    same exact-verifies-approximate posture as the dedup family.

    r15 plan (guide §4.2): the n² cosine surface comes from ONE
    partition-wise pass against the byte-budget-gated broadcast matrix
    — the sim_cosine_topk discipline — instead of a nested-loop-join of
    n² rows each paying an INTERPRETED zip_with/aggregate fold (Spark
    HOF lambdas do not codegen; measured 67.9 s → sub-second fresh-plan
    at sf0.1). Each vector lives in exactly one partition row, so the
    conditional maxes reduce inside the Python worker and the old
    vec_id shuffle disappears.

    r16: the kernel runs the HOF fold's exact per-dimension IEEE
    sequence and the dot/(|a|·|b|) division (ADVICE r15 — the previous
    normalize-then-GEMM's summation order varied across BLAS builds),
    so the cosines are deterministic and bit-identical across routes;
    the probe side is chunked so no product block exceeds the kernel
    byte cap; and past the broadcast budget the op runs the SAME kernel
    over cogrouped row-block pairs instead of the interpreted-HOF
    nested loop (VERDICT r15 #1 — the 100 TB path has no size
    ceiling). Route probe from parquet footers, zero Spark jobs."""
    e = load(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    n_rows, dim = embedding_shape(sf_dir)
    if n_rows * dim * 8 > _INDEX_BYTE_BUDGET:
        return _label_margin_blocked(e, n_rows, dim)
    import numpy as np

    pdf = e.toPandas().sort_values("vec_id")
    ids = pdf["vec_id"].to_numpy()
    labels = pdf["label"].to_numpy()
    mat = np.stack(pdf["embedding"].to_numpy()).astype("float64")
    norms = np.sqrt(_fold_sqnorm(mat))
    bc = e.sparkSession.sparkContext.broadcast((ids, labels, mat, norms))
    chunk_cap = _KERNEL_CHUNK_BYTES

    def margins(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        b_ids, b_labels, b_mat, b_norms = bc.value
        step = _chunk_rows(len(b_ids), chunk_cap)
        for batch in batches:
            for s in range(0, len(batch), step):
                chunk = batch.iloc[s : s + step]
                vids = chunk["vec_id"].to_numpy()
                vlabels = chunk["label"].to_numpy()
                q = np.stack(chunk["embedding"].to_numpy()).astype("float64")
                qn = np.sqrt(_fold_sqnorm(q))
                sims = _fold_dot(q, b_mat) / (qn[:, None] * b_norms[None, :])
                sims[b_ids[None, :] == vids[:, None]] = -np.inf  # vec_id <> vid_b
                same = b_labels[None, :] == vlabels[:, None]
                same_max = np.where(same, sims, -np.inf).max(axis=1)
                other_max = np.where(~same, sims, -np.inf).max(axis=1)
                yield pd.DataFrame(
                    {
                        "vec_id": vids,
                        "__same_raw": same_max,
                        "__other_raw": other_max,
                    }
                )

    target = min(e.sparkSession.sparkContext.defaultParallelism, max(1, n_rows // 128))
    probe = e.repartition(target) if e.rdd.getNumPartitions() < target else e
    out = probe.mapInPandas(
        margins, "vec_id long, __same_raw double, __other_raw double"
    )
    return _margin_finish(out)


def _margin_finish(out: DataFrame) -> DataFrame:
    """Shared tail of both emb_label_margin routes: map the −inf
    "no pair in that class" sentinel back to NULL (the oracle's MAX over
    an empty CASE set) and round. ``out`` holds one row per vec_id."""
    nullify = lambda c: F.when(  # noqa: E731
        F.col(c) == F.lit(float("-inf")), F.lit(None).cast("double")
    ).otherwise(F.col(c))
    same_c, other_c = nullify("__same_raw"), nullify("__other_raw")
    return out.select(
        "vec_id",
        stable_round(same_c).alias("same_label_max"),
        stable_round(other_c).alias("other_label_max"),
        stable_round(same_c - other_c).alias("margin"),
    )


def _label_margin_blocked(e: DataFrame, n_rows: int, dim: int) -> DataFrame:
    """Distributed route for :func:`emb_label_margin` past the broadcast
    byte budget (r16, VERDICT r15 #1): every unordered row-block pair
    meets once in a cogrouped Arrow task running the identical bit-exact
    fold kernel; each task emits per-row partial same/other maxima for
    BOTH blocks (max is associative and order-independent on doubles,
    so partials recombine exactly), and one final max-aggregate per
    vec_id replaces the n²-row shuffle of the pre-r15 HOF join. Never
    collects the relation."""
    import numpy as np

    L = _n_blocks(n_rows, dim * 8)
    base = e.select(
        "vec_id",
        "label",
        "embedding",
        F.pmod(F.xxhash64("vec_id"), F.lit(L)).cast("int").alias("__blk"),
    )
    chunk_cap = _KERNEL_CHUNK_BYTES

    def kern(key, pdf):
        empty = pd.DataFrame(
            {
                "vec_id": pd.Series([], dtype="int64"),
                "__same_raw": pd.Series([], dtype="float64"),
                "__other_raw": pd.Series([], dtype="float64"),
            }
        )
        diag = key[-2] == key[-1]
        lmask = pdf["__side"].to_numpy() == 0
        left = pdf[lmask]
        right = left if diag else pdf[~lmask]
        if left.empty or right.empty:
            return empty
        outs = []

        def emit(ids_q, labels_q, mq, nq, ids_m, labels_m, mm, nm):
            step = _chunk_rows(len(ids_m), chunk_cap)
            for s in range(0, len(ids_q), step):
                vids = ids_q[s : s + step]
                sims = _fold_dot(mq[s : s + step], mm) / (
                    nq[s : s + step][:, None] * nm[None, :]
                )
                sims[ids_m[None, :] == vids[:, None]] = -np.inf
                same = labels_m[None, :] == labels_q[s : s + step][:, None]
                outs.append(
                    pd.DataFrame(
                        {
                            "vec_id": vids,
                            "__same_raw": np.where(same, sims, -np.inf).max(axis=1),
                            "__other_raw": np.where(~same, sims, -np.inf).max(axis=1),
                        }
                    )
                )

        l_ids = left["vec_id"].to_numpy()
        l_lab = left["label"].to_numpy()
        lm = np.stack(left["embedding"].to_numpy()).astype("float64")
        ln = np.sqrt(_fold_sqnorm(lm))
        if diag:
            # left IS right: one pass covers every row of the block
            emit(l_ids, l_lab, lm, ln, l_ids, l_lab, lm, ln)
        else:
            r_ids = right["vec_id"].to_numpy()
            r_lab = right["label"].to_numpy()
            rm = np.stack(right["embedding"].to_numpy()).astype("float64")
            rn = np.sqrt(_fold_sqnorm(rm))
            # partial maxima for the left rows over the right block, and
            # for the right rows over the left block — this group is the
            # only place the two blocks meet
            emit(l_ids, l_lab, lm, ln, r_ids, r_lab, rm, rn)
            emit(r_ids, r_lab, rm, rn, l_ids, l_lab, lm, ln)
        return pd.concat(outs, ignore_index=True) if outs else empty

    partial = _block_pair_grouped(base, L).applyInPandas(
        kern, "vec_id long, __same_raw double, __other_raw double"
    )
    out = partial.groupBy("vec_id").agg(
        F.max("__same_raw").alias("__same_raw"),
        F.max("__other_raw").alias("__other_raw"),
    )
    return _margin_finish(out)


@register(
    "sim_pq_topk",
    oracle="""
    WITH q AS (SELECT embedding AS qe, vec_id AS qid FROM embeddings ORDER BY vec_id LIMIT 1)
    SELECT e.vec_id, e.label,
           round(list_cosine_similarity(e.embedding::DOUBLE[], q.qe::DOUBLE[]), 6) AS cosine,
           TRUE AS pq_recall_at_5_ok
    FROM embeddings e, q
    WHERE e.vec_id <> q.qid
    ORDER BY cosine DESC, e.vec_id ASC
    LIMIT 5
    """,
    cache_plan=False,
)
def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (api.pq_index / pq_search) — the
    memory-side scale leg next to LSH (hash buckets) and IVF (search
    pruning): each 64-dim vector is stored as 16 one-byte codes (16
    seeded per-segment KMeans codebooks over the L2-normalized corpus,
    a 16x compression), a query scans ONLY the codes via per-segment
    lookup tables baked into the plan as array literals, and the
    ADC shortlist (10% of the corpus here) is exactly re-ranked against
    full vectors — the shrink-then-verify shape shared with banded
    dedup and IVF. The PQ internals are engine-private, so the oracle
    checks the guarantee: the returned rows are the in-engine exact
    brute-force top-5 (DuckDB recomputes them value-for-value) and
    ``pq_recall_at_5_ok`` claims the PQ-searched top-5 recovered >= 3
    of them. Measured 5/5 at sf0.01 (shortlist 50/500) AND sf0.1
    (100/5000, a stricter 2% shortlist); the >= 3 bar leaves a 2-hit
    margin so codebook drift can't flip the driver's hash gate — the
    same claim discipline as sim_ann_ivf."""
    from dicebox_sensorybatchprocessor_spark import api

    e = load(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    qrow = e.orderBy("vec_id").first()
    qvec = [float(x) for x in qrow["embedding"]]
    qid = qrow["vec_id"]
    corpus = e.filter(F.col("vec_id") != qid)
    n = corpus.count()
    # sampled codebook training (VERDICT r10 #5): the fits see at most
    # 2048 md5-keyed rows — training cost stops scaling with the corpus
    # (the ×10 stress attributed pq's whole wall to the 16 full-corpus
    # KMeans fits) — while every vector is still encoded; the recall
    # claim below stays the oracle-checked guarantee (re-measured 5/5 at
    # sf0.01 AND sf0.1 with sampling in)
    codes, books = api.pq_index(
        corpus, vec_col="embedding", n_segments=16, n_codes=32, seed=42,
        train_rows=2048, corpus_n=n,
    )
    shortlist = max(50, int(n * 0.02))
    pq_ids = {
        r["vec_id"]
        for r in api.pq_search(
            corpus, codes, books, qvec, k=5, shortlist=shortlist
        ).collect()
    }
    exact = api.knn_query(
        corpus, qvec, id_col="vec_id", vec_col="embedding", k=5,
        extra_cols=("label",),
    )
    n_overlap = len(pq_ids & {r["vec_id"] for r in exact.collect()})
    return exact.withColumn("pq_recall_at_5_ok", F.lit(n_overlap >= 3))


@register(
    "sim_ann_ivfpq",
    oracle="""
    WITH q AS (SELECT embedding AS qe, vec_id AS qid FROM embeddings ORDER BY vec_id LIMIT 1)
    SELECT e.vec_id, e.label,
           round(list_cosine_similarity(e.embedding::DOUBLE[], q.qe::DOUBLE[]), 6) AS cosine,
           TRUE AS ivfpq_recall_at_5_ok
    FROM embeddings e, q
    WHERE e.vec_id <> q.qid
    ORDER BY cosine DESC, e.vec_id ASC
    LIMIT 5
    """,
    cache_plan=False,
)
def sim_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed ANN (api.ivfpq_index / ivfpq_search, r11) — the
    two scale levers in ONE index, the FAISS IVFPQ shape: the coarse
    quantizer makes a probe read nprobe/n_cells of the data (partition
    pruning at scale), and PQ codes over the RESIDUAL unit−center[cell]
    make what it reads 16 one-byte lookups per vector — residual
    quantization spends the code budget on one cell's diameter instead
    of the whole sphere, so the composition keeps flat-PQ's byte
    economics at a fraction of its scan. ADC score reconstruction is
    q̂·center[cell] (per-cell offset literal) + Σ_s LUT_s[code_s],
    shortlist exactly re-ranked against full vectors. Codebooks train
    on a ≤2048-row md5-keyed sample (pq_index's discipline — training
    never scales with the corpus). The oracle checks the guarantee the
    same way as sim_pq_topk/sim_ann_ivf: returned rows are the
    in-engine exact top-5 (DuckDB recomputes them value-for-value) and
    ``ivfpq_recall_at_5_ok`` claims the IVF-PQ search recovered ≥ 3 of
    them at nprobe=10/16, shortlist max(100, 5%). Measured 5/5 at
    sf0.01 AND sf0.1 when written (cells ranked by q̂·center — the L2
    ranking buried a true neighbor's cell at position 14, see
    api.ivfpq_search); the ≥3 bar leaves the same 2-hit claim margin
    as the sibling ANN legs."""
    from dicebox_sensorybatchprocessor_spark import api

    e = load(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    qrow = e.orderBy("vec_id").first()
    qvec = [float(x) for x in qrow["embedding"]]
    qid = qrow["vec_id"]
    corpus = e.filter(F.col("vec_id") != qid)
    n = corpus.count()
    codes, centers, books = api.ivfpq_index(
        corpus, vec_col="embedding", n_cells=16, n_segments=16, n_codes=32,
        seed=42, train_rows=2048, corpus_n=n,
    )
    shortlist = max(100, int(n * 0.05))
    got = {
        r["vec_id"]
        for r in api.ivfpq_search(
            corpus, codes, centers, books, qvec, k=5, nprobe=10,
            shortlist=shortlist,
        ).collect()
    }
    exact = api.knn_query(
        corpus, qvec, id_col="vec_id", vec_col="embedding", k=5,
        extra_cols=("label",),
    )
    n_overlap = len(got & {r["vec_id"] for r in exact.collect()})
    return exact.withColumn("ivfpq_recall_at_5_ok", F.lit(n_overlap >= 3))


@register(
    "sim_ann_ivfpq_persisted",
    oracle="""
    WITH q AS (SELECT embedding AS qe, vec_id AS qid FROM embeddings ORDER BY vec_id LIMIT 1)
    SELECT e.vec_id, e.label,
           round(list_cosine_similarity(e.embedding::DOUBLE[], q.qe::DOUBLE[]), 6) AS cosine,
           TRUE AS loaded_probe_identical,
           TRUE AS encode_roundtrip_ok
    FROM embeddings e, q
    WHERE e.vec_id <> q.qid
    ORDER BY cosine DESC, e.vec_id ASC
    LIMIT 5
    """,
    cache_plan=False,
)
def sim_ann_ivfpq_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ persistence + incremental ingest (r11): build the
    sim_ann_ivfpq index once, ``api.ivfpq_save`` it (codes partitioned
    BY CELL — probe filter = partition pruning; quantizers as tiny
    companion parquets), ``api.ivfpq_load`` it back, and check TWO
    claims on the in-engine exact top-5 rows the oracle recomputes
    value-for-value:

    * ``loaded_probe_identical`` — probing built vs loaded returns the
      exact same (id, cosine) sets (the amortize-the-training story,
      same discipline as sim_ann_ivf_persisted);
    * ``encode_roundtrip_ok`` — ``api.ivfpq_encode`` (the incremental-
      ingest path: NEW batches encode against the FROZEN loaded
      quantizers with dense numpy argmins per Arrow batch, no
      retraining) reproduces the trainer's own (cell, codes) rows
      EXACTLY for a deterministic sample of the corpus — so an
      appending corpus's codes stay comparable with the standing
      index's, which is what makes incremental ANN ingest sound.

    The saved index is cached per (process, sf_dir); save→load→probe→
    encode-compare runs per invocation."""
    import os

    from dicebox_sensorybatchprocessor_spark import api
    from dicebox_sensorybatchprocessor_spark.utils import scratch_stage

    e = load(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    qrow = e.orderBy("vec_id").select("vec_id", "embedding").first()
    qvec = [float(x) for x in qrow["embedding"]]
    corpus = e.filter(F.col("vec_id") != qrow["vec_id"])
    n = corpus.count()
    codes, centers, books = api.ivfpq_index(
        corpus, vec_col="embedding", n_cells=16, n_segments=16, n_codes=32,
        seed=42, train_rows=2048, corpus_n=n,
    )
    with scratch_stage("sbp_ivfpq_idx_", cache_key=sf_dir) as (idx_root, fresh):
        idx_path = os.path.join(idx_root, "ivfpq")
        if fresh:
            api.ivfpq_save(codes.select("vec_id", "cell", "codes"), centers, books, idx_path)
    l_codes, l_centers, l_books = api.ivfpq_load(spark, idx_path)

    shortlist = max(100, int(n * 0.05))

    def probe(cdf, cs, bs):
        rows = api.ivfpq_search(
            corpus, cdf, cs, bs, qvec, k=5, nprobe=10, shortlist=shortlist
        ).collect()
        return {(r["vec_id"], r["cosine"]) for r in rows}

    identical = probe(codes, centers, books) == probe(l_codes, l_centers, l_books)

    # incremental-ingest roundtrip: a deterministic 10% batch re-encoded
    # against the LOADED (frozen) quantizers must reproduce the stored rows
    batch = corpus.filter(F.pmod(F.col("vec_id"), F.lit(10)) == 0)
    stored = {
        r["vec_id"]: (r["cell"], tuple(r["codes"]))
        for r in l_codes.join(
            batch.select("vec_id"), "vec_id", "left_semi"
        ).collect()
    }
    encoded = {
        r["vec_id"]: (r["cell"], tuple(r["codes"]))
        for r in api.ivfpq_encode(
            batch, l_centers, l_books, vec_col="embedding", id_cols=("vec_id",)
        ).collect()
    }
    roundtrip = bool(stored) and stored == encoded

    exact = api.knn_query(
        corpus, qvec, id_col="vec_id", vec_col="embedding", k=5,
        extra_cols=("label",),
    )
    return exact.withColumn("loaded_probe_identical", F.lit(identical)).withColumn(
        "encode_roundtrip_ok", F.lit(roundtrip)
    )


# --- round-13 banked registration pair (NOT yet registered: the driver
# window is full this round; see NOTES round-13 backlog #3) -------------

_SQ8_ORACLE = """
    WITH q AS (SELECT embedding AS qe, vec_id AS qid FROM embeddings ORDER BY vec_id LIMIT 1)
    SELECT e.vec_id, e.label,
           round(list_cosine_similarity(e.embedding::DOUBLE[], q.qe::DOUBLE[]), 6) AS cosine,
           TRUE AS sq8_recall_at_5_ok
    FROM embeddings e, q
    WHERE e.vec_id <> q.qid
    ORDER BY cosine DESC, e.vec_id ASC
    LIMIT 5
    """


@register("sim_ann_sq8", oracle=_SQ8_ORACLE)
def sim_ann_sq8_banked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 scalar-quantized ANN in the registered sim_ann_ivf SHAPE
    (banked in r12, registered r13): rows are the in-engine
    exact brute-force top-5 (DuckDB recomputes value-for-value) and
    ``sq8_recall_at_5_ok`` claims api.sq8_topk's shortlist-50 search
    over int8 codes recovered ≥3 of them — measured 5/5 at both sf0.01
    and sf0.1 (tests/test_api pins the full-shortlist ≡ exact-scan
    degradation; tests/test_graph_substring pins this pair against the
    oracle SQL). The scale story is bytes: int8 codes are a 4× smaller
    scan than float32 on an IO-bound corpus, with no training and no
    index build — the cheapest ANN rung, below IVF/PQ."""
    from dicebox_sensorybatchprocessor_spark import api

    e = load(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    qrow = e.orderBy("vec_id").select("vec_id", "embedding").first()
    qvec = [float(x) for x in qrow["embedding"]]
    rest = e.filter(F.col("vec_id") != qrow["vec_id"])
    exact = api.knn_query(rest, qvec, k=5, extra_cols=("label",))
    short = api.sq8_topk(rest, qvec, k=5, shortlist=50)
    overlap = {r["vec_id"] for r in short.collect()} & {
        r["vec_id"] for r in exact.collect()
    }
    return exact.withColumn("sq8_recall_at_5_ok", F.lit(len(overlap) >= 3))


# --- round-14: multi-query ANN recall sweep (VERDICT r13 Next #3) --------

_SWEEP_N_QUERIES = 100
_SWEEP_TOPK = 5
# Per-family claim thresholds (min_recall, mean_recall) over the ~100-query
# sweep. Measured values (documented in the registration docstring) sit
# well above these; the gap is the drift margin that keeps seeded-KMeans /
# LSH-table rebuild noise and fixture evolution from flipping the driver's
# hash gate — the sibling single-query legs' >=3/5 discipline, extended to
# a distribution over queries.
_SWEEP_CLAIMS = {
    "lsh": (0.2, 0.6),
    "ivf": (0.2, 0.6),
    "pq": (0.2, 0.6),
    "ivfpq": (0.2, 0.6),
    "sq8": (0.2, 0.6),
}

# Index builds memoized per (Spark application, sf_dir): the sweep probes
# 100 queries against FIVE index families, and the builds (1 + 16 + 17
# seeded KMeans fits) are ingest-time costs a production deployment pays
# once — re-paying them per invocation would measure training, not the
# query path (sim_ann_ivf_persisted's per-process save cache draws the
# same line). Seeded builds are deterministic, so memoized and fresh
# probes return identical results.
_SWEEP_MEMO: dict = {}
_SWEEP_STATS_MEMO: dict = {}


def _sweep_memo_insert(key: tuple, value: tuple) -> None:
    """Insert an (applicationId, sf_dir) index-build entry, EVICTING —
    and unpersisting — entries for other sf_dirs of the same
    application (ADVICE r14 #3): the memo pins four cached DataFrames
    per entry, so a long-lived session sweeping multiple fixture dirs
    would otherwise accumulate stale index relations in the block
    manager forever. One live entry per application is the working-set
    contract; entries from other (dead) applications are dropped
    without unpersist — their block-manager state died with the app."""
    app = key[0]
    for stale in [k for k in _SWEEP_MEMO if k != key]:
        for item in _SWEEP_MEMO.pop(stale):
            if isinstance(item, DataFrame) and stale[0] == app:
                try:
                    item.unpersist(False)
                except Exception:  # noqa: BLE001 — eviction is best-effort
                    pass
        _SWEEP_STATS_MEMO.pop(stale, None)
    _SWEEP_MEMO[key] = value


def _sweep_books_df(spark, books):
    """Codebooks as a (s, j, sub) relation for the batched decode join —
    the batched form of pq_topk's per-query LUT literals (100 queries
    x 16 segs x 32 codes as plan literals would bloat the plan; a
    512-row broadcast join reconstructs each vector ONCE instead)."""
    return F.broadcast(
        spark.createDataFrame(
            [
                (s, j, [float(x) for x in code])
                for s, book in enumerate(books)
                for j, code in enumerate(book)
            ],
            "s int, j int, sub array<double>",
        )
    )


def _sweep_reconstruct(codes_df, books_df, id_col="vec_id"):
    """(vec_id, recon array<double>): decode PQ codes back to their
    quantized vectors once per vector — posexplode the code array, join
    the 512-row codebook relation, reassemble segments in order (the
    emb_label_centroid_dist array_sort discipline)."""
    parts = codes_df.select(
        id_col, F.posexplode("codes").alias("s", "j")
    ).join(books_df, ["s", "j"])
    return parts.groupBy(id_col).agg(
        F.flatten(
            F.transform(
                F.array_sort(F.collect_list(F.struct("s", "sub"))),
                lambda x: x["sub"],
            )
        ).alias("recon")
    )


def _sweep_topk_per_query(scored_pairs, k=_SWEEP_TOPK):
    """Per-query exact top-k over a (qid, vec_id, cos_u) relation:
    rank by (integer-rounded cosine DESC, vec_id ASC) — the
    rounded-then-id ordering every exact leg shares (ADVICE r13 #3),
    in integer microcosine so cross-run ordering is exact."""
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(
        F.col("cos_u").desc(), F.col("vec_id").asc()
    )
    return (
        scored_pairs.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def _sweep_shortlist(approx_pairs, shortlist):
    """Per-query shortlist by approximate score (DESC, vec_id tie-break)
    — the batched form of the single-query legs' TakeOrderedAndProject
    shortlist stage."""
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(
        F.col("approx").desc(), F.col("vec_id").asc()
    )
    return (
        approx_pairs.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= shortlist)
        .select("qid", "vec_id")
    )


def _sweep_recall_stats(fam5_by_family, exact5, qdf, k=_SWEEP_TOPK):
    """{family: (min_recall, mean_recall)} of each family's per-query
    top-k against the exact top-k, in ONE Spark action: the five family
    relations union under a ``family`` tag, hit-count against exact5
    once, and fill the (family x query) grid so zero-hit queries count —
    collapsing 5 x (semi-join + two aggregates) into a single job tree
    (measured 13.7 s → one action at sf0.01 warm). Hit counts are
    integers and the mean is one exact integer division at the end, so
    the statistics are bit-stable."""
    tagged = None
    for fam, fam5 in fam5_by_family.items():
        t = fam5.select(F.lit(fam).alias("family"), "qid", "vec_id")
        tagged = t if tagged is None else tagged.unionByName(t)
    hits = (
        tagged.join(exact5.select("qid", "vec_id"), ["qid", "vec_id"], "semi")
        .groupBy("family", "qid")
        .agg(F.count("*").alias("h"))
    )
    grid = (
        qdf.select("qid")
        .crossJoin(
            F.broadcast(
                qdf.sparkSession.createDataFrame(
                    [(f,) for f in fam5_by_family], "family string"
                )
            )
        )
        .join(hits, ["family", "qid"], "left")
        .select("family", F.coalesce(F.col("h"), F.lit(0)).alias("h"))
    )
    rows = grid.groupBy("family").agg(
        F.min("h").alias("mn"), F.sum("h").alias("sm"), F.count("*").alias("nq")
    ).collect()
    return {
        r["family"]: (r["mn"] / k, r["sm"] / (k * r["nq"])) for r in rows
    }


def ann_recall_sweep_measured(spark: SparkSession, sf_dir: str):
    """The measured side of sim_ann_recall_sweep, exposed so the test
    suite can pin the exact recall numbers while the driver-facing claim
    keeps its drift margin (the ivf_measured_overlap discipline).

    Returns (stats, anchor): ``stats[family] = (min_recall,
    mean_recall)`` over the deterministic md5-keyed ~100-query set for
    each of the five ANN families at their registered dials, and
    ``anchor`` = the exact-side integers the DuckDB oracle recomputes
    (n_queries, n_exact_rows, exact_id_sum, exact_cos_millionths).

    Batched, not looped: ONE partition-wise BLAS matmul (broadcast
    query matrix, the _cosine_topk discipline) SELECTS each query's
    exact-top candidates, and only the surviving ~partitions x 100 x 8
    pairs are re-scored with the JVM-fold expression emb_label_margin
    hash-proved cross-engine — every hashed value comes from the proven
    form, numpy only selects (integer microcosine, so the anchor sums
    are exact BIGINTs). Each family derives its per-query top-5 from
    family-specific candidate pairs through the same candidate-sized
    exact rerank — 100 queries cost one pass per family, never 100
    jobs. At 100 TB the matmul pass is the broadcast-queries x corpus
    scan every batch ANN evaluation runs; candidates stay bucket/cell/
    shortlist-bounded exactly like the single-query legs."""
    import numpy as np

    from dicebox_sensorybatchprocessor_spark import api

    key = (spark.sparkContext.applicationId, sf_dir)
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )
    n = e.count()
    topk = _SWEEP_TOPK

    # deterministic md5-keyed query sample (the sampling.py discipline:
    # content-independent key on the id, so the set is partition- and
    # run-invariant and DuckDB derives the identical set); norm > 0
    # before the cut, mirrored in the oracle's q CTE (ADVICE r14 #4) so
    # the sampled sets stay identical by construction even if a fixture
    # regeneration ever introduces a zero embedding
    qrows = (
        e.filter(
            F.aggregate("emb", F.lit(0.0), lambda acc, x: acc + x * x) > 0.0
        )
        .withColumn("__k", F.md5(F.col("vec_id").cast("string")))
        .orderBy("__k", "vec_id")
        .limit(_SWEEP_N_QUERIES)
        .collect()
    )
    qids = [int(r["vec_id"]) for r in qrows]
    qmat = np.array([r["emb"] for r in qrows], dtype="float64")
    qunit = qmat / np.linalg.norm(qmat, axis=1, keepdims=True)
    qdf = F.broadcast(
        spark.createDataFrame(
            [
                (qid, [float(x) for x in raw], [float(x) for x in u])
                for qid, raw, u in zip(qids, qmat, qunit)
            ],
            "qid bigint, qraw array<double>, qunit array<double>",
        )
    )

    # Exact microcosine for a (qid, vec_id) pair relation — dot(raw,
    # raw) / (|a|·|b|), the exact expression shape emb_label_margin
    # hash-proved cross-engine, as floor(cos·1e6 + 0.5) BIGINT
    # (stable_round's form). Spark's higher-order folds run INTERPRETED
    # (no codegen), so this is reserved for candidate-sized relations;
    # full-corpus scoring goes through the BLAS candidate pass below.
    dot = F.aggregate(
        F.zip_with("emb", "qraw", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nrm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(F.col(c), F.lit(0.0), lambda acc, x: acc + x * x)
    )

    def exact_cos_pairs(cand):
        """cand(qid, vec_id) -> (qid, vec_id, cos_u), JVM-fold exact."""
        return (
            cand.join(e, "vec_id")
            .join(qdf, "qid")
            .select(
                "qid",
                "vec_id",
                F.floor(dot / (nrm("emb") * nrm("qraw")) * 1_000_000.0 + 0.5)
                .cast("long")
                .alias("cos_u"),
            )
        )

    # Exact top-5 via api.knn_join (r14 — the sweep's exact side IS the
    # batch retrieval primitive, registered separately as sim_knn_join):
    # one partition-wise BLAS matmul selects candidates under the
    # (rounded microcosine, id) total order, the JVM-fold proven form
    # re-scores only survivors. cos_u is recovered exactly from the
    # 6-dp stable-rounded double (cosine = cos_u/1e6 within one ulp of
    # the integer, so floor(x*1e6+0.5) round-trips).
    exact5 = (
        api.knn_join(
            spark.createDataFrame(
                [(qid, [float(x) for x in raw]) for qid, raw in zip(qids, qmat)],
                "qid bigint, embedding array<double>",
            ),
            e.withColumnRenamed("emb", "embedding"),
            k=topk,
            exclude_self=True,
        )
        .select(
            "qid",
            "vec_id",
            F.floor(F.col("cosine") * 1_000_000.0 + 0.5)
            .cast("long")
            .alias("cos_u"),
        )
        .persist()
    )
    a = exact5.agg(
        F.countDistinct("qid").alias("nq"),
        F.count("*").alias("nr"),
        F.sum("vec_id").alias("ids"),
        F.sum("cos_u").alias("cu"),
    ).first()
    anchor = {
        "n_queries": int(a["nq"]),
        "n_exact_rows": int(a["nr"]),
        "exact_id_sum": int(a["ids"]),
        "exact_cos_millionths": int(a["cu"]),
    }

    # The five family recall measurements are deterministic per
    # (application, sf_dir) — seeded index builds, integer hit counts —
    # so repeat invocations skip re-running the family pipelines (the
    # registry's cache_plan analogue for a result that embeds driver-side
    # collects). The oracle-HASHED exact side (anchor) is recomputed
    # every call; only the boolean-claim inputs are memoized.
    if key in _SWEEP_STATS_MEMO:
        exact5.unpersist()
        return _SWEEP_STATS_MEMO[key], anchor

    if key not in _SWEEP_MEMO:
        assigned, centers = api.ivf_index(e, vec_col="emb", n_cells=16, seed=42)
        pq_codes, pq_books = api.pq_index(
            e, vec_col="emb", n_segments=16, n_codes=32, seed=42,
            id_cols=("vec_id",), train_rows=2048, corpus_n=n,
        )
        ipq_codes, ipq_centers, ipq_books = api.ivfpq_index(
            e, vec_col="emb", n_cells=16, n_segments=16, n_codes=32,
            seed=42, id_cols=("vec_id",), train_rows=2048, corpus_n=n,
        )
        sq8_codes = api.quantize_int8(e, vec_col="emb")
        _sweep_memo_insert(key, (
            assigned.select("vec_id", "cell").persist(),
            centers,
            pq_codes.persist(),
            pq_books,
            ipq_codes.persist(),
            ipq_centers,
            ipq_books,
            sq8_codes.persist(),
        ))
    (
        assigned, centers, pq_codes, pq_books,
        ipq_codes, ipq_centers, ipq_books, sq8_codes,
    ) = _SWEEP_MEMO[key]

    def exact_top5_of(cand_pairs):
        # self-pairs excluded HERE so every family inherits it (the IVF
        # candidate set naturally contains the query vector whenever its
        # own cell is probed; a self-pair scores cosine 1.0 and would
        # steal a top-5 slot from a true neighbor)
        return _sweep_topk_per_query(
            exact_cos_pairs(
                cand_pairs.select("qid", "vec_id")
                .filter(F.col("vec_id") != F.col("qid"))
                .distinct()
            )
        )

    fam5s: dict[str, DataFrame] = {}

    # LSH — bucket-collision candidates between the unit queries and the
    # unit corpus (the _cosine_topk_lsh geometry: radius 1.3 on unit
    # vectors keeps every pair with cosine >= 0.155, a generous envelope
    # around the fixture's exact-top-5 band), exact rerank on candidates.
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    unit_corpus = e.select(
        "vec_id",
        array_to_vector(
            F.transform("emb", lambda x: x / nrm("emb"))
        ).alias("features"),
    )
    unit_queries = qdf.select(
        "qid", array_to_vector("qunit").alias("features")
    )
    lsh_model = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes",
        bucketLength=1.0, numHashTables=6, seed=42,
    ).fit(unit_corpus)
    lsh_cand = lsh_model.approxSimilarityJoin(
        unit_queries, unit_corpus, 1.3, distCol="d"
    ).select(
        F.col("datasetA.qid").alias("qid"),
        F.col("datasetB.vec_id").alias("vec_id"),
    ).filter(F.col("qid") != F.col("vec_id"))
    fam5s["lsh"] = exact_top5_of(lsh_cand)

    # IVF — nprobe=10/16 cells ranked by q̂·center (driver-side numpy over
    # the tiny center list, the ivf_probe criterion), candidates =
    # vectors in probed cells, exact rerank.
    cmat = np.array(centers, dtype="float64")
    cell_rank = np.argsort(-(qunit @ cmat.T), axis=1)[:, :10]
    probe_df = F.broadcast(
        spark.createDataFrame(
            [(qid, int(c)) for qid, row in zip(qids, cell_rank) for c in row],
            "qid bigint, cell int",
        )
    )
    ivf_cand = assigned.join(probe_df, "cell").select("qid", "vec_id")
    fam5s["ivf"] = exact_top5_of(ivf_cand)

    # PQ — reconstruct each vector ONCE from its codes, ADC-score against
    # q̂ (dot with the reconstruction == pq_topk's segment-LUT sum),
    # per-query shortlist, exact rerank (api.pq_search's dials).
    qdot = F.aggregate(
        F.zip_with("recon", "qunit", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pq_recon = _sweep_reconstruct(pq_codes, _sweep_books_df(spark, pq_books))
    pq_short = _sweep_shortlist(
        pq_recon.crossJoin(qdf)
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", qdot.alias("approx")),
        max(50, int(n * 0.02)),
    )
    fam5s["pq"] = exact_top5_of(pq_short)

    # IVF-PQ — probed cells as in IVF (same IP criterion over its own
    # centers), ADC score = q̂·center[cell] + q̂·recon(residual), per-query
    # shortlist within probed cells, exact rerank (api.ivfpq_search dials).
    icmat = np.array(ipq_centers, dtype="float64")
    ioff = qunit @ icmat.T
    icell_rank = np.argsort(-ioff, axis=1)[:, :10]
    iprobe_df = F.broadcast(
        spark.createDataFrame(
            [
                (qid, int(c), float(ioff[i, c]))
                for i, qid in enumerate(qids)
                for c in icell_rank[i]
            ],
            "qid bigint, cell int, off double",
        )
    )
    ipq_recon = _sweep_reconstruct(
        ipq_codes.select("vec_id", "codes"), _sweep_books_df(spark, ipq_books)
    ).join(ipq_codes.select("vec_id", "cell"), "vec_id")
    ipq_short = _sweep_shortlist(
        ipq_recon.join(iprobe_df, "cell")
        .join(qdf.select("qid", "qunit"), "qid")
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", (F.col("off") + qdot).alias("approx")),
        max(100, int(n * 0.05)),
    )
    fam5s["ivfpq"] = exact_top5_of(ipq_short)

    # SQ8 — asymmetric int8 scan: scale·(q̂·codes), shortlist 50, exact
    # rerank (api.sq8_topk's dials; zero vectors are pre-dropped by the
    # quantizer on BOTH the approx and exact sides here, matching its
    # documented contract).
    sq_approx = F.col("scale") * F.aggregate(
        F.zip_with("q", "qunit", lambda a, b: a.cast("double") * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    sq_short = _sweep_shortlist(
        sq8_codes.crossJoin(qdf)
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", sq_approx.alias("approx")),
        50,
    )
    fam5s["sq8"] = exact_top5_of(sq_short)

    stats = _sweep_recall_stats(fam5s, exact5, qdf)
    _SWEEP_STATS_MEMO[key] = stats
    exact5.unpersist()
    return stats, anchor


_SWEEP_ORACLE = f"""
    WITH q AS (
      -- norm > 0 mirrors the Spark sample's predicate (ADVICE r14 #4)
      SELECT vec_id AS qid, embedding AS qe
      FROM embeddings
      WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT {_SWEEP_N_QUERIES}
    ),
    scored AS (
      SELECT q.qid, e.vec_id,
             CAST(floor(list_cosine_similarity(e.embedding::DOUBLE[],
                                               q.qe::DOUBLE[])
                        * 1000000.0 + 0.5) AS BIGINT) AS cos_u
      FROM embeddings e, q
      WHERE e.vec_id <> q.qid
        AND list_dot_product(e.embedding::DOUBLE[],
                             e.embedding::DOUBLE[]) > 0
    ),
    ranked AS (
      SELECT qid, vec_id, cos_u,
             row_number() OVER (PARTITION BY qid
                                ORDER BY cos_u DESC, vec_id ASC) AS rk
      FROM scored
    ),
    top5 AS (SELECT * FROM ranked WHERE rk <= {_SWEEP_TOPK}),
    anchor AS (
      SELECT CAST(count(DISTINCT qid) AS BIGINT) AS n_queries,
             CAST(count(*) AS BIGINT) AS n_exact_rows,
             CAST(sum(vec_id) AS BIGINT) AS exact_id_sum,
             CAST(sum(cos_u) AS BIGINT) AS exact_cos_millionths
      FROM top5
    )
    SELECT f.family, a.n_queries, a.n_exact_rows, a.exact_id_sum,
           a.exact_cos_millionths,
           TRUE AS min_recall_ok, TRUE AS mean_recall_ok
    FROM anchor a,
         (VALUES ('lsh'), ('ivf'), ('pq'), ('ivfpq'), ('sq8')) f(family)
    ORDER BY f.family
    """


@register("sim_ann_recall_sweep", oracle=_SWEEP_ORACLE, cache_plan=False)
def sim_ann_recall_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-query recall relation for the WHOLE ANN ladder (r14, VERDICT
    r13 Next #3): every previous sim_ann_* recall claim was measured on
    ONE query vector; this sweeps a deterministic md5-keyed set of
    ~100 query vectors through all five families at their registered
    dials — LSH (6 tables, unit radius 1.3), IVF (nprobe 10/16), PQ
    (16x32 codebooks, 2% shortlist), IVF-PQ (residual codes, 5%
    shortlist in 10 probed cells), SQ8 (int8 scan, shortlist 50) — and
    aggregates recall@5 per family as min/mean CLAIMS next to exact-side
    integers DuckDB recomputes (query-set membership, the 500 exact
    top-5 rows' id-sum, and their microcosine sum — so the exact
    arithmetic AND the sampling key are both value-hashed).

    Measured at registration (min/mean recall@5 over 100 queries):
    sf0.01 — lsh 1.0/1.000, ivf 0.4/0.910, pq 0.8/0.964,
    ivfpq 0.4/0.910, sq8 1.0/1.000;
    sf0.1  — lsh 0.8/0.996, ivf 0.6/0.886, pq 0.4/0.876,
    ivfpq 0.4/0.868, sq8 1.0/1.000.
    The sweep earns its slot exactly here: single-query legs measured
    5/5 for IVF/PQ/IVFPQ on THEIR query vector, while the 100-query
    distribution exposes tail queries at 2-3/5 — the per-query variance
    a one-vector recall claim structurally cannot see.
    Claim bars (min >= 0.2, mean >= 0.6, _SWEEP_CLAIMS) sit below the
    measured tails at both scales — the usual drift margin so a KMeans/LSH rebuild or
    fixture evolution can't flip the driver's hash; the EXACT measured
    numbers are pinned locally by
    tests/test_metamorphic.py::test_ann_recall_sweep_measured instead
    (the ivf_measured_overlap discipline). Index builds are memoized
    per (application, sf_dir) — ingest-time cost, paid once, same line
    sim_ann_ivf_persisted draws; the sweep itself is the batched
    query-side pass described in :func:`ann_recall_sweep_measured`."""
    stats, anchor = ann_recall_sweep_measured(spark, sf_dir)
    rows = [
        (
            fam,
            anchor["n_queries"],
            anchor["n_exact_rows"],
            anchor["exact_id_sum"],
            anchor["exact_cos_millionths"],
            stats[fam][0] >= _SWEEP_CLAIMS[fam][0],
            stats[fam][1] >= _SWEEP_CLAIMS[fam][1],
        )
        for fam in sorted(stats)
    ]
    return spark.createDataFrame(
        rows,
        "family string, n_queries bigint, n_exact_rows bigint, "
        "exact_id_sum bigint, exact_cos_millionths bigint, "
        "min_recall_ok boolean, mean_recall_ok boolean",
    )


_KNN_JOIN_ORACLE = f"""
    WITH q AS (
      -- norm > 0 mirrors the Spark sample's predicate exactly
      -- (ADVICE r14 #4): cosine is undefined for a zero vector, and
      -- without the shared predicate a future fixture placing one in
      -- the md5-top-{_SWEEP_N_QUERIES} would flip the hash via NaN
      -- ranking instead of failing loudly
      SELECT vec_id AS qid, embedding AS qe
      FROM embeddings
      WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT {_SWEEP_N_QUERIES}
    ),
    scored AS (
      SELECT q.qid, e.vec_id,
             CAST(floor(list_cosine_similarity(e.embedding::DOUBLE[],
                                               q.qe::DOUBLE[])
                        * 1000000.0 + 0.5) AS BIGINT) AS cos_u
      FROM embeddings e, q
      WHERE e.vec_id <> q.qid
        AND list_dot_product(e.embedding::DOUBLE[],
                             e.embedding::DOUBLE[]) > 0
    ),
    ranked AS (
      SELECT qid, vec_id, cos_u,
             row_number() OVER (PARTITION BY qid
                                ORDER BY cos_u DESC, vec_id ASC) AS rk
      FROM scored
    )
    SELECT qid, vec_id,
           CAST(cos_u AS DOUBLE) / 1000000.0 AS cosine,
           CAST(rk AS INT) AS rank
    FROM ranked WHERE rk <= {_SWEEP_TOPK}
    """


@register("sim_knn_join", oracle=_KNN_JOIN_ORACLE)
def sim_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch exact k-NN JOIN (r14) — the retrieval primitive the recall
    sweep audits, as a first-class operator: every query in the
    deterministic md5-keyed 100-vector set gets its exact cosine top-5
    from the corpus in ONE broadcast-matrix pass (api.knn_join), and all
    500 (query, neighbor, cosine, rank) rows are value-hashed against
    DuckDB's identical recompute — the fully-value-checked exact
    companion to sim_ann_recall_sweep's claim rows (and the multi-query
    generalization of sim_knn_query's single vector).

    Scale story: one corpus scan serves the whole query batch (the
    broadcast-join regime — at 100 TB this is how batch RAG indexing
    and embedding-eval jobs run their retrieval, NOT one job per
    query); beyond the query-matrix byte budget api.knn_join degrades
    to the distributed crossJoin+fold form with identical values
    (partition invariance pinned in tests)."""
    from dicebox_sensorybatchprocessor_spark import api

    e = load(spark, sf_dir, "embeddings")
    # norm > 0 BEFORE the md5-keyed cut, mirrored verbatim in the
    # oracle's q CTE (ADVICE r14 #4): knn_join drops zero-norm queries
    # internally, so without the shared predicate the two engines would
    # sample DIFFERENT 100-vector sets the moment a fixture
    # regeneration places a zero embedding inside the md5 top-100 —
    # a confusing row-count mismatch instead of identical-by-
    # construction sample sets.
    queries = (
        e.filter(
            F.aggregate(
                F.transform("embedding", lambda x: x.cast("double")),
                F.lit(0.0),
                lambda acc, x: acc + x * x,
            )
            > 0.0
        )
        .withColumn("__k", F.md5(F.col("vec_id").cast("string")))
        .orderBy("__k", "vec_id")
        .limit(_SWEEP_N_QUERIES)
        .select(F.col("vec_id").alias("qid"), "embedding")
    )
    return api.knn_join(
        queries,
        e,
        k=_SWEEP_TOPK,
        query_id_col="qid",
        query_vec_col="embedding",
        id_col="vec_id",
        vec_col="embedding",
        exclude_self=True,
    )


_KNN_JOIN_ANN_ORACLE = f"""
    WITH q AS (
      -- norm > 0 mirrors the Spark sample's predicate (ADVICE r14 #4)
      SELECT vec_id AS qid, embedding AS qe
      FROM embeddings
      WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT {_SWEEP_N_QUERIES}
    ),
    scored AS (
      SELECT q.qid, e.vec_id,
             CAST(floor(list_cosine_similarity(e.embedding::DOUBLE[],
                                               q.qe::DOUBLE[])
                        * 1000000.0 + 0.5) AS BIGINT) AS cos_u
      FROM embeddings e, q
      WHERE e.vec_id <> q.qid
        AND list_dot_product(e.embedding::DOUBLE[],
                             e.embedding::DOUBLE[]) > 0
    ),
    ranked AS (
      SELECT qid, vec_id, cos_u,
             row_number() OVER (PARTITION BY qid
                                ORDER BY cos_u DESC, vec_id ASC) AS rk
      FROM scored
    ),
    topk AS (SELECT * FROM ranked WHERE rk <= {_SWEEP_TOPK})
    SELECT qid,
           CAST(count(*) AS BIGINT) AS n_exact,
           CAST(sum(vec_id) AS BIGINT) AS exact_id_sum,
           CAST(sum(cos_u) AS BIGINT) AS exact_cos_millionths,
           TRUE AS recall_floor_ok,
           TRUE AS mean_recall_ok
    FROM topk GROUP BY qid
    """


@register("sim_knn_join_ann", oracle=_KNN_JOIN_ANN_ORACLE)
def sim_knn_join_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Indexed (IVF-probed) batch retrieval with a per-query recall
    audit (r15, VERDICT r14 Next #1) — the rung a 100 TB RAG-indexing
    job actually runs: the deterministic md5-keyed 100-query set probes
    api.knn_join_ann (nprobe 10 of 16 cells — the recall sweep's IVF
    dials) instead of scanning the whole corpus, and every query's ANN
    top-5 is audited against the exact knn_join top-5 computed in the
    same job. Output: one row per query with the EXACT side's integers
    (n_exact, id-sum, microcosine-sum — fully value-hashed by DuckDB's
    identical recompute, the sim_knn_join anchor discipline) plus two
    integer-exact recall claims: ``recall_floor_ok`` (this query's ANN
    hit count >= 1 of 5, i.e. recall@5 >= 0.2 — the sweep's min bar,
    measured min 0.4 at sf0.01 / 0.6 at sf0.1) and ``mean_recall_ok``
    (total hits >= 3·n_queries, i.e. mean recall@5 >= 0.6, measured
    ~0.91/0.89). The exact per-config recall numbers are pinned locally
    by tests/test_metamorphic.py (the ivf_measured_overlap discipline);
    the claims keep the usual drift margin so a KMeans rebuild cannot
    flip the driver hash.

    Scale story: this operator never touches knn_join's exact crossJoin
    fallback — the corpus is cell-assigned once (ingest cost; here the
    seeded in-call build), each query expands to its nprobe cells in a
    map-only all-JVM projection, candidates come from ONE keyed join on
    ``cell`` (partition pruning when cell is a partition column), and
    only ~nprobe/n_cells of the corpus is ever scored per query batch.
    The exact audit side IS sim_knn_join's one-BLAS-pass job — at
    production scale you run the audit on a sampled query subset, not
    every batch."""
    from dicebox_sensorybatchprocessor_spark import api

    e = load(spark, sf_dir, "embeddings")
    queries = (
        e.filter(
            F.aggregate(
                F.transform("embedding", lambda x: x.cast("double")),
                F.lit(0.0),
                lambda acc, x: acc + x * x,
            )
            > 0.0
        )
        .withColumn("__k", F.md5(F.col("vec_id").cast("string")))
        .orderBy("__k", "vec_id")
        .limit(_SWEEP_N_QUERIES)
        .select(F.col("vec_id").alias("qid"), "embedding")
    )
    exact = api.knn_join(
        queries, e, k=_SWEEP_TOPK, exclude_self=True
    ).select(
        "qid",
        "vec_id",
        F.floor(F.col("cosine") * 1_000_000.0 + 0.5)
        .cast("long")
        .alias("cos_u"),
    )
    # reuse the sweep's memoized (vec_id, cell) assignment when this
    # application already built it for this sf_dir (read-only — the
    # sweep owns the memo's lifecycle); else a seeded in-call build
    key = (spark.sparkContext.applicationId, sf_dir)
    memo = _SWEEP_MEMO.get(key)
    kwargs = {}
    if memo is not None and len(memo) == 8:
        kwargs = {"assigned_cells": memo[0], "centers": memo[1]}
    ann = api.knn_join_ann(
        queries,
        e,
        k=_SWEEP_TOPK,
        n_cells=16,
        nprobe=10,
        seed=42,
        exclude_self=True,
        **kwargs,
    )
    per_q = exact.groupBy("qid").agg(
        F.count("*").cast("bigint").alias("n_exact"),
        F.sum("vec_id").cast("bigint").alias("exact_id_sum"),
        F.sum("cos_u").cast("bigint").alias("exact_cos_millionths"),
    )
    hits = (
        ann.select("qid", "vec_id")
        .join(exact.select("qid", "vec_id"), ["qid", "vec_id"], "semi")
        .groupBy("qid")
        .agg(F.count("*").alias("__sbp_h"))
    )
    joined = per_q.join(hits, "qid", "left").withColumn(
        "__sbp_h", F.coalesce(F.col("__sbp_h"), F.lit(0))
    )
    # mean recall >= 0.6 with k=5 <=> total hits >= 3 * n_queries —
    # exact integer arithmetic, no float claims anywhere
    tot = joined.agg(
        F.sum("__sbp_h").alias("__sbp_th"), F.count("*").alias("__sbp_nq")
    )
    return (
        joined.crossJoin(F.broadcast(tot))
        .select(
            "qid",
            "n_exact",
            "exact_id_sum",
            "exact_cos_millionths",
            (F.col("__sbp_h") >= 1).alias("recall_floor_ok"),
            (F.col("__sbp_th") >= 3 * F.col("__sbp_nq")).alias(
                "mean_recall_ok"
            ),
        )
    )
