"""DataFrame-level public API for the curation, analytics, streaming,
dq/maintenance, cluster-survivorship, and similarity families.

The registry (`all_queries()`) exposes fixture-bound queries for the
driver contract; THIS module is the library face — each function takes a
user's own DataFrame and column names and returns a DataFrame, so the
operators compose into arbitrary pipelines (`quality_signals(my_docs)`
rather than "the documents fixture"). The registered operators in
llm/text.py, llm/dedup.py, llm/curation.py, llm/multimodal.py,
operators/analytics.py, operators/windows.py, and streaming/streams.py
are thin wrappers over these functions, which keeps the two surfaces
provably identical: every API function is exercised against a DuckDB
oracle through its registered twin — except the round-13-banked
functions (sq8_topk, duplicate_spans_incremental,
substring_dedup_stream, operators.graph.personalized_pagerank), whose
registrations are queued on driver-window slots; each is pinned today
by brute-force/equivalence tests (test_graph_substring, test_api) and
personalized_pagerank already has its verified oracle generator.

Engine-invariant guarantees shared by all functions here:
- no Python row loops — built-in JVM expressions, or Arrow-batched
  mapInPandas where a kernel seam is required;
- partition-order-invariant results (fixed-point sums for float
  accumulations, md5-keyed determinism for survivorship);
- scale-shaped plans: corpus-sized relations are never broadcast,
  vocabulary/benchmark-sized relations always are.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from dicebox_sensorybatchprocessor_spark.utils import (
    fixed_point_sum,
    md5_prefix_int,
    stable_round,
)


def _doc_term_freq(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Whitespace doc-term frequency relation: (id, token, tf). The one
    expensive aggregate every token statistic derives from; consumers
    that roll it up further reuse its exchange (Spark ReuseExchange)."""
    toks = df.select(id_col, F.explode(F.split(text_col, " ")).alias("token"))
    return toks.groupBy(id_col, "token").agg(F.count("*").alias("tf"))


def unigram_lm_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_floor: float = -7.0,
) -> DataFrame:
    """Corpus-trained unigram-LM mean token log-likelihood per document +
    keep gate. One corpus scan; vocab and total are rollups of the TF
    aggregate. Columns: id, n_tokens, avg_logprob, keep."""
    tf = _doc_term_freq(df, text_col, id_col)
    vocab = tf.groupBy("token").agg(F.sum("tf").cast("bigint").alias("c"))
    n = vocab.agg(F.sum("c").cast("bigint").alias("total"))
    term_ll = F.col("tf") * F.log(F.col("c") * 1.0 / F.col("total"))
    per_doc = (
        tf.join(vocab, "token")
        .crossJoin(F.broadcast(n))
        .groupBy(id_col)
        .agg(
            F.sum("tf").cast("bigint").alias("n_tokens"),
            fixed_point_sum(term_ll, 6).alias("ll"),
        )
    )
    avg = F.col("ll") / F.col("n_tokens")
    return per_doc.select(
        id_col,
        "n_tokens",
        stable_round(avg, 6).alias("avg_logprob"),
        (avg >= F.lit(keep_floor)).alias("keep"),
    )


def token_entropy(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document token-distribution Shannon entropy + type-token ratio
    via H = log2(n) − Σc·log2(c)/n (no Window/Sort). Columns: id,
    n_tokens, n_types, token_entropy, type_token_ratio."""
    tf = _doc_term_freq(df, text_col, id_col)
    per_doc = tf.groupBy(id_col).agg(
        F.sum("tf").cast("bigint").alias("n_tokens"),
        F.count("*").cast("bigint").alias("n_types"),
        fixed_point_sum(F.col("tf") * F.log2(F.col("tf") * 1.0), 6).alias("s"),
    )
    h = F.log2(F.col("n_tokens") * 1.0) - F.col("s") / F.col("n_tokens")
    return per_doc.select(
        id_col,
        "n_tokens",
        "n_types",
        stable_round(h, 6).alias("token_entropy"),
        stable_round(F.col("n_types") * 1.0 / F.col("n_tokens"), 6).alias(
            "type_token_ratio"
        ),
    )


def quality_signals(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lm_floor: float = -7.0,
    entropy_floor: float = 4.0,
    top_share_ceiling: float = 0.12,
) -> DataFrame:
    """Every per-document quality statistic in ONE corpus scan: LM mean
    log-likelihood, token entropy, type-token ratio, top-token share,
    plus the combined keep gate. Columns: id, n_tokens, n_types,
    token_entropy, avg_logprob, top_token_share, type_token_ratio,
    keep."""
    tf = _doc_term_freq(df, text_col, id_col)
    vocab = tf.groupBy("token").agg(F.sum("tf").cast("bigint").alias("c"))
    n = vocab.agg(F.sum("c").cast("bigint").alias("total"))
    per_doc = (
        tf.join(vocab, "token")
        .crossJoin(F.broadcast(n))
        .groupBy(id_col)
        .agg(
            F.sum("tf").cast("bigint").alias("n_tokens"),
            F.count("*").cast("bigint").alias("n_types"),
            F.max("tf").cast("bigint").alias("max_tf"),
            fixed_point_sum(F.col("tf") * F.log2(F.col("tf") * 1.0), 6).alias("s"),
            fixed_point_sum(
                F.col("tf") * F.log(F.col("c") * 1.0 / F.col("total")), 6
            ).alias("ll"),
        )
    )
    h = F.log2(F.col("n_tokens") * 1.0) - F.col("s") / F.col("n_tokens")
    avg_ll = F.col("ll") / F.col("n_tokens")
    top_share = F.col("max_tf") * 1.0 / F.col("n_tokens")
    return per_doc.select(
        id_col,
        "n_tokens",
        "n_types",
        stable_round(h, 6).alias("token_entropy"),
        stable_round(avg_ll, 6).alias("avg_logprob"),
        stable_round(top_share, 6).alias("top_token_share"),
        stable_round(F.col("n_types") * 1.0 / F.col("n_tokens"), 6).alias(
            "type_token_ratio"
        ),
        (
            (avg_ll >= F.lit(lm_floor))
            & (h >= F.lit(entropy_floor))
            & (top_share <= F.lit(top_share_ceiling))
        ).alias("keep"),
    )


def prefix_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    prefix_len: int = 64,
) -> DataFrame:
    """Boilerplate-prefix dedup: normalized head → 16-byte md5 key,
    deterministic min-id keeper. Columns: id, prefix_key, group_size,
    keep."""
    keyed = df.select(
        id_col,
        F.md5(
            F.regexp_replace(
                F.lower(F.substring(text_col, 1, prefix_len)), r"\s+", " "
            )
        ).alias("prefix_key"),
    )
    groups = keyed.groupBy("prefix_key").agg(
        F.min(id_col).alias("_keeper"),
        F.count("*").alias("group_size"),
    )
    return keyed.join(groups, "prefix_key").select(
        id_col,
        "prefix_key",
        "group_size",
        (F.col(id_col) == F.col("_keeper")).alias("keep"),
    )


def bot_rate(
    df: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    grain: str = "day",
    peak_threshold: int = 7,
) -> DataFrame:
    """Per-user traffic-shape profile + burst-rate bot flag at the given
    time grain. Columns: user, total_events, n_active_<grain>s,
    peak_per_<grain>, avg_per_<grain>, is_bot."""
    per = df.groupBy(
        user_col, F.date_trunc(grain, ts_col).alias("_bucket")
    ).agg(F.count("*").alias("n"))
    return per.groupBy(user_col).agg(
        F.sum("n").cast("bigint").alias("total_events"),
        F.count("*").cast("bigint").alias(f"n_active_{grain}s"),
        F.max("n").cast("bigint").alias(f"peak_per_{grain}"),
        stable_round(F.sum("n") * 1.0 / F.count("*"), 6).alias(f"avg_per_{grain}"),
        (F.max("n") >= F.lit(peak_threshold)).alias("is_bot"),
    )


def word_ngrams(toks: Column, n: int) -> Column:
    """Word n-grams of a token-array column as an array column (strictly
    JVM; empty array for <n-token inputs rather than sequence(1,0)'s
    descending [1, 0])."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1)),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    return F.when(F.size(toks) >= n, grams).otherwise(F.array().cast("array<string>"))


# via='auto' cutover: below this many distinct benchmark n-grams the raw
# strings broadcast comfortably (eval suites are ~1e4-1e6 n-grams); past
# it the Bloom bitset (~1.2 bytes/key at fpp=0.01) is the broadcastable
# form. Deliberately conservative — both routes are output-identical, so
# a wrong guess costs a broadcast size, never a result.
AUTO_BLOOM_MIN_NGRAMS = 2_000_000


def decontaminate(
    corpus_ngrams: DataFrame,
    bench_ngrams: DataFrame,
    id_col: str = "doc_id",
    ngram_col: str = "ngram",
    via: str = "broadcast",
    fpp: float = 0.01,
    n_bench: int | None = None,
) -> DataFrame:
    """Benchmark decontamination over pre-exploded distinct (id, ngram)
    relations: flag every corpus document sharing ≥1 n-gram with the
    benchmark set, with hit counts and contaminated fraction. `via`:
    'broadcast' probes the raw bench set (eval-suite-sized); 'bloom'
    probes a Bloom bitset relation first (broadcastable past the point
    raw strings are not) and exactly verifies survivors — identical
    output, no false negatives by construction. Columns: id, n_hits,
    n_ngrams, contamination.

    Both inputs are defensively deduplicated here rather than by
    docstring contract (ADVICE r5): explode-based callers naturally
    produce duplicate (id, ngram) rows, and on the bloom route each
    duplicate would contribute its own k exploded bit rows, making
    bits_hit == 2k fail the == k filter and silently DROP a genuinely
    contaminated n-gram — a false negative in a safety gate. The dedup
    also keeps n_hits/n_ngrams consistently distinct-n-gram-based on
    both routes.

    ``n_bench`` (ADVICE/VERDICT r7 #7): the bloom route needs the
    distinct benchmark n-gram count to size its bitset, which is one
    driver count() job per call — callers invoking decontaminate in a
    loop over one benchmark set should count once and pass it here
    (zero extra jobs). The value only shapes the false-positive rate
    (m, k), never correctness: survivors are exactly verified either
    way, so an approximate or stale count is safe.

    ``via='auto'`` (round 8, the dedup_route pattern): routes on the
    benchmark's distinct n-gram count — raw-string broadcast below
    AUTO_BLOOM_MIN_NGRAMS (2M: ~tens of MB of broadcast strings, the
    eval-suite regime), bloom past it (the ~1.2 bytes/key bitset stays
    broadcastable one to two orders of magnitude beyond raw strings).
    Both routes are output-identical (tested), so the cutover is purely
    a broadcast-size call."""
    bench = bench_ngrams.select(ngram_col).distinct()
    corpus_ngrams = corpus_ngrams.select(id_col, ngram_col).dropDuplicates(
        [id_col, ngram_col]
    )
    sizes = corpus_ngrams.groupBy(id_col).agg(F.count("*").alias("n_ngrams"))
    if via == "auto":
        if n_bench is None:
            n_bench = bench.count()
        via = "broadcast" if n_bench < AUTO_BLOOM_MIN_NGRAMS else "bloom"
    if via == "broadcast":
        candidates = corpus_ngrams
    elif via == "bloom":
        from dicebox_sensorybatchprocessor_spark.operators.sketches import _bloom_bits

        n_bench = max(bench.count() if n_bench is None else n_bench, 1)
        m = max(64, int(math.ceil(-n_bench * math.log(fpp) / (math.log(2) ** 2))))
        k = max(1, round(m / n_bench * math.log(2)))
        bitset = _bloom_bits(bench, ngram_col, k, m).select("bit").distinct()
        probe_bits = corpus_ngrams.select(
            id_col,
            ngram_col,
            F.explode(
                F.array(
                    *[
                        F.pmod(F.xxhash64(F.lit(j), F.col(ngram_col)), F.lit(m))
                        for j in range(k)
                    ]
                )
            ).alias("bit"),
        )
        candidates = (
            probe_bits.join(F.broadcast(bitset), "bit")
            .groupBy(id_col, ngram_col)
            .agg(F.count("*").alias("bits_hit"))
            .filter(F.col("bits_hit") == k)
            .select(id_col, ngram_col)
        )
    else:
        raise ValueError(f"via must be 'auto', 'broadcast', or 'bloom', got {via!r}")
    hits = (
        candidates.join(F.broadcast(bench), ngram_col)
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hits"))
    )
    return hits.join(sizes, id_col).select(
        id_col,
        "n_hits",
        "n_ngrams",
        (F.col("n_hits") * 1.0 / F.col("n_ngrams")).alias("contamination"),
    )


def char_shingles(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 8
) -> DataFrame:
    """Distinct k-char shingles per document: (id, s). The relation every
    shingle-based dedup consumes. Guards the <k-char case explicitly
    (Spark's sequence auto-steps DOWNWARD when stop < start, which would
    fabricate shingles for short texts)."""
    return df.select(
        id_col,
        F.explode(
            F.expr(
                f"CASE WHEN length({text_col}) >= {k} THEN"
                f" transform(sequence(1, length({text_col}) - {k - 1}),"
                f" i -> substring({text_col}, i, {k}))"
                " ELSE array() END"
            )
        ).alias("s"),
    ).distinct()


def _minhash_band_relation(
    shingles: DataFrame,
    id_col: str,
    shingle_col: str,
    rows: int,
    bands: int,
) -> DataFrame:
    """The shared first half of both candidate emitters: (id, b,
    band_key) with the PORTABLE md5-prefix hash family, so signatures
    are engine-reproducible. One aggregation builds all ``rows``
    minhashes; ``bands`` band keys per doc. Docs colliding on (b,
    band_key) are near-dup candidates; HOW collisions become edges is
    the emitters' half (:func:`_pairs_from_bands` /
    :func:`_star_from_bands`).

    ``rows`` must divide evenly into ``bands`` — a silent floor division
    would compute minhashes the bands never consume and deliver a
    different recall profile than the caller asked for (ADVICE r5)."""
    if rows % bands != 0:
        raise ValueError(
            f"rows ({rows}) must be a multiple of bands ({bands}); "
            f"{rows % bands} trailing minhash rows would be ignored"
        )
    rows_per_band = rows // bands
    mh_cols = [
        F.min(md5_prefix_int(F.col(shingle_col), salt=str(j))).alias(f"mh{j}")
        for j in range(rows)
    ]
    sig = shingles.groupBy(id_col).agg(*mh_cols)
    return sig.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("b"),
                        F.concat_ws(
                            "_",
                            *[
                                F.col(f"mh{rows_per_band * b + r}")
                                for r in range(rows_per_band)
                            ],
                        ).alias("band_key"),
                        # the full signature rides along, ROTATED to start
                        # at this band's own hashes (r12, VERDICT r11 #2):
                        # the star emitter's sorted-neighbor ordering uses
                        # it, and since a bucket's own band hashes are
                        # constant within the bucket, each band's rotation
                        # effectively orders by a DIFFERENT sequence of
                        # the remaining hashes — `bands` independent
                        # sorted-neighborhood passes (the classic
                        # multi-pass SNM move) at zero extra emission. One
                        # shared ordering emitted the SAME neighbor edges
                        # in every band, which is what left the measured
                        # 1–4/120 adversarial chaining gap.
                        F.concat_ws(
                            "_",
                            *[
                                F.col(f"mh{(rows_per_band * b + r) % rows}")
                                for r in range(rows)
                            ],
                        ).alias("sig_key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "bk.sig_key", "bk.b", "bk.band_key")


def _pairs_from_bands(bands_df: DataFrame, id_col: str) -> DataFrame:
    """ALL-PAIRS emission over a (id, b, band_key) relation — as a
    BUCKET-GROUPED emission, not a self-join (r15, guide §2.4): group by
    (b, band_key), collect the bucket's sorted ids, and explode every
    in-bucket pair. Emits exactly C(c,2) edges per c-doc bucket — same
    output, exact recall within a bucket, quadratic in CLUSTER size as
    before (the star twin bounds that) — but the minhash/band subtree
    upstream is computed ONCE. The previous band equi-self-join planned a
    BroadcastHashJoin whose build side re-ran the whole
    scan → shingle-explode → md5⁸ → min-aggregate pipeline a second time
    (broadcast builds have no Exchange for AQE stage reuse to latch
    onto); measured at sf0.1 this halves the fresh-plan cost of
    dedup_minhash_banded. One small exchange on the band key replaces
    the broadcast build. Columns: doc_a, doc_b, n_band_matches."""
    buckets = (
        bands_df.select(id_col, "b", "band_key")
        .groupBy("b", "band_key")
        .agg(F.sort_array(F.collect_list(F.col(id_col))).alias("__ids"))
        .filter(F.size("__ids") >= 2)
    )
    # sorted + per-band-unique ids ⇒ pairs (x, y) with x < y, each once
    # per colliding bucket — identical to the join emission.
    pair = F.explode(
        F.expr(
            "flatten(transform(__ids, (x, i) ->"
            " transform(slice(__ids, i + 2, size(__ids) - i - 1),"
            " y -> named_struct('a', x, 'b', y))))"
        )
    ).alias("p")
    return (
        buckets.select(pair)
        .groupBy(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
        .agg(F.count("*").alias("n_band_matches"))
    )


def _star_from_bands(
    bands_df: DataFrame, id_col: str, allpairs_bucket_cap: int = 32
) -> DataFrame:
    """BOUNDED emission over a (id, sig_key, b, band_key) relation,
    hybrid per bucket size c (r12, closing VERDICT r11 #2):

    - c ≤ ``allpairs_bucket_cap``: EXACT all-pairs within the bucket —
      ≤ C(cap,2) edges, a constant bound per bucket. Small loose
      buckets are where the measured recall gap lived (r11: 27/5000
      docs in 2–3-doc buckets; r12 adversarial probe: every divergent
      doc sat in a sub-cap bucket), and paying ≤496 edges there keeps
      them EXACT while costing nothing asymptotically.
    - c > cap: (a) STAR edges — every member to the min-id
      representative via one window-min — plus (b) SORTED-NEIGHBOR
      edges — consecutive members in BAND-ROTATED signature order
      (each band's rotation effectively orders by a different hash
      sequence, so the ``bands`` buckets of a pair give independent
      sorted-neighborhood passes — multi-pass SNM). ≤ 2(c−1) edges per
      bucket. Giant template buckets — the actual superlinear blowup
      star mode exists for — stay linear.

    One shuffle on the band key serves the size/min/lag windows; the
    small-bucket self-join joins on the same key. Candidate set remains
    a strict subset of :func:`_pairs_from_bands` (tests/test_api.py
    pins it), so the composition is ALWAYS a refinement of the
    all-pairs clustering (splits, never merges); survivor equality to
    all-pairs is EXACT for any corpus whose band buckets are ≤ cap —
    measured 0 divergent docs across 8 adversarial perturbed-template
    seeds (was 1–4/120 in r11) and both fixtures. Above-cap buckets
    keep the star+SNM caveat: a missed pair must be non-adjacent in
    EVERY shared band's rotation and fail rep-verification. Columns:
    doc_a, doc_b, n_band_matches (doc_a < doc_b by construction;
    counts emitted co-bucket edges)."""
    from pyspark.sql import Window

    w = Window.partitionBy("b", "band_key")
    wo = w.orderBy("sig_key", id_col)
    ann = (
        bands_df.withColumn("__c", F.count("*").over(w))
        .withColumn("__rep", F.min(id_col).over(w))
        .withColumn("__prev", F.lag(id_col).over(wo))
    )
    big = ann.filter(F.col("__c") > allpairs_bucket_cap)
    edges = F.array(
        F.when(
            F.col(id_col) != F.col("__rep"),
            F.struct(
                F.col("__rep").alias("a"), F.col(id_col).alias("b")
            ),
        ),
        F.when(
            F.col("__prev").isNotNull() & (F.col("__prev") != F.col(id_col)),
            F.struct(
                F.least("__prev", id_col).alias("a"),
                F.greatest("__prev", id_col).alias("b"),
            ),
        ),
    )
    star_edges = (
        big.select(F.explode(edges).alias("e"))
        .filter(F.col("e.a").isNotNull())
        .select(F.col("e.a").alias("doc_a"), F.col("e.b").alias("doc_b"))
    )
    small = ann.filter(F.col("__c") <= allpairs_bucket_cap).select(
        id_col, "b", "band_key"
    )
    small_edges = (
        small.alias("a")
        .join(
            small.alias("b"),
            (F.col("a.b") == F.col("b.b"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
    )
    return (
        star_edges.unionByName(small_edges)
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_band_matches"))
    )


def minhash_banded_candidates(
    shingles: DataFrame,
    id_col: str = "doc_id",
    shingle_col: str = "s",
    rows: int = 8,
    bands: int = 4,
) -> DataFrame:
    """Banded-MinHash candidate pairs over a (id, shingle) relation:
    :func:`_minhash_band_relation` → all-pairs band emission — linear in
    corpus size, touching only colliding bands; quadratic only in
    BUCKET size (see :func:`minhash_banded_candidates_star` for the
    bounded-emission twin). Columns: doc_a, doc_b, n_band_matches."""
    return _pairs_from_bands(
        _minhash_band_relation(shingles, id_col, shingle_col, rows, bands), id_col
    )


def _jaccard_filter(
    pairs: DataFrame, shingles: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Shared verification tail: given (doc_a, doc_b, n_common) and the
    shingle relation, join per-doc shingle counts, compute exact Jaccard
    and keep pairs at/above threshold. Columns: doc_a, doc_b, n_common,
    jaccard."""
    sizes = shingles.groupBy(id_col).agg(F.count("*").alias("n"))
    sa, sb = sizes.alias("sa"), sizes.alias("sb")
    jaccard = F.col("n_common") * 1.0 / (
        F.col("sa.n") + F.col("sb.n") - F.col("n_common")
    )
    return (
        pairs.join(sa, F.col("doc_a") == F.col(f"sa.{id_col}"))
        .join(sb, F.col("doc_b") == F.col(f"sb.{id_col}"))
        .filter(jaccard >= threshold)
        .select("doc_a", "doc_b", "n_common", F.round(jaccard, 6).alias("jaccard"))
    )


def _verify_candidates(
    cand: DataFrame,
    shingles: DataFrame,
    id_col: str,
    shingle_col: str,
    threshold: float,
    arrs: DataFrame | None = None,
) -> DataFrame:
    """Candidate-gated exact Jaccard — the shared verify stage of every
    banded composition (pairs and star emission alike), r15 form: fold
    each document's distinct shingles into ONE sorted array
    (``collect_set`` aggregation), attach the two arrays to each
    candidate pair, and compute |Sa ∩ Sb| with ``array_intersect`` —
    n_common, both set sizes, and Jaccard all come from the same two
    cells, so the per-doc size relation and its joins disappear
    entirely. Cost is O(candidates × shingles-per-doc) exactly as
    before, but the shingle relation is built ONCE: both pair joins are
    hinted sort-merge so the second consumer reuses the first's
    exchange (ReusedExchange), where the previous occurrence-level
    self-join planned two BroadcastExchanges each re-running the whole
    scan → explode → distinct subtree (plus two more for the size legs
    — six document scans total in dedup_near_verified's before-plan,
    plans/r15/). At cluster scale the array relation is one corpus-wide
    shuffle by id — strictly cheaper than broadcasting an
    occurrence-level shingle relation. Columns: doc_a, doc_b, n_common,
    jaccard.

    ``arrs`` (optional): a precomputed (id_col, __sh array) relation — a
    caller that already folded per-id shingle arrays (the prefix-filter
    candidate generator) passes it so the fold is not re-aggregated;
    array order is irrelevant (array_intersect hashes, size() is all
    that is read)."""
    if arrs is None:
        arrs = shingles.groupBy(id_col).agg(
            F.array_sort(F.collect_set(F.col(shingle_col))).alias("__sh")
        )
    # Two sort-merge joins against the SAME aggregated relation: the
    # merge hint stops the planner broadcasting either side (a broadcast
    # build would re-run the aggregation subtree), so arrs' exchange is
    # planned twice with an identical canonical form and executes once.
    pairs = (
        cand.select("doc_a", "doc_b")
        .join(
            arrs.select(
                F.col(id_col).alias("doc_a"), F.col("__sh").alias("__sh_a")
            ).hint("merge"),
            "doc_a",
        )
        .join(
            arrs.select(
                F.col(id_col).alias("doc_b"), F.col("__sh").alias("__sh_b")
            ).hint("merge"),
            "doc_b",
        )
    )
    # Length prefilter BEFORE the array_intersect (r15, guide §1.2):
    # J(A,B) ≥ t ⟹ |A∩B|/|A∪B| ≤ min/max, so t·max ≤ min — an
    # integer-arithmetic test on the two array sizes that costs nothing
    # and prunes the expensive per-pair intersect. Exact-safe for any
    # threshold (one unit of slack absorbs the float-vs-rational gap of
    # the t literal), so the output is unchanged; measured at sf0.1 it
    # drops most of the banded family's ~59k candidate intersects.
    from fractions import Fraction as _Fr

    _t = _Fr(threshold).limit_denominator(10**6)
    # 64-bit arithmetic: limit_denominator allows terms up to 10^6, so an
    # IntegerType size × Python-int product could wrap int32 under
    # non-ANSI mode and silently drop true pairs (ADVICE r15) — cast the
    # size columns to bigint first, matching the L-suffix discipline of
    # the integer expressions in _prefix_jaccard_candidates.
    sz_a = F.size("__sh_a").cast("bigint")
    sz_b = F.size("__sh_b").cast("bigint")
    pairs = pairs.filter(
        (sz_a * _t.denominator >= sz_b * _t.numerator - 1)
        & (sz_b * _t.denominator >= sz_a * _t.numerator - 1)
    )
    n_common = F.size(F.array_intersect("__sh_a", "__sh_b")).cast("bigint")
    n_union = (
        F.size("__sh_a").cast("bigint")
        + F.size("__sh_b").cast("bigint")
        - n_common
    )
    jaccard = n_common * 1.0 / n_union
    return (
        # filter on the UNROUNDED value (as the former _jaccard_filter
        # did); n_common >= 1 mirrors the former inner shingle-join,
        # which only ever produced pairs sharing at least one shingle
        # (matters only for threshold == 0.0; redundant above it).
        pairs.filter((n_common >= 1) & (jaccard >= threshold)).select(
            "doc_a",
            "doc_b",
            n_common.alias("n_common"),
            F.round(jaccard, 6).alias("jaccard"),
        )
    )


def _df_ordered_token_arrays(
    shingles: DataFrame, id_col: str, shingle_col: str
) -> DataFrame:
    """Per-id token arrays sorted by (document frequency asc, token) —
    the shared total order under which every prefix-filter theorem in
    this module is stated. The document-frequency attach is the
    bucket-grouped trick (guide §2.4, the _pairs_from_bands
    discipline): group postings by token, keep the count AND the id
    list, re-explode — no join, so the posting subtree is computed once
    and nothing is broadcast (a broadcast build would re-run its
    subtree on every action). Columns: __id, __toks (array of struct
    (__df, __s))."""
    post = shingles.select(
        F.col(id_col).alias("__id"), F.col(shingle_col).alias("__s")
    )
    tokgroups = post.groupBy("__s").agg(
        F.count("*").alias("__df"), F.collect_list("__id").alias("__ids")
    )
    postdf = tokgroups.select(
        "__s", "__df", F.explode("__ids").alias("__id")
    )
    return postdf.groupBy("__id").agg(
        F.array_sort(F.collect_list(F.struct("__df", "__s"))).alias("__toks")
    )


def _prefix_jaccard_candidates(
    shingles: DataFrame,
    id_col: str,
    shingle_col: str,
    threshold: float,
) -> tuple[DataFrame, DataFrame]:
    """EXACT candidate generation for all-pairs Jaccard ≥ ``threshold``
    via prefix filtering (Bayardo et al., "Scaling Up All Pairs
    Similarity Search", WWW'07; Xiao et al. PPJoin) — the r15 rewrite of
    the occurrence-level shingle self-join (guide §1.2: fix the
    distributed algorithm first).

    Under ANY total order on tokens, two sets with J(A,B) ≥ t must share
    a token inside both t-prefixes (prefix length |X| − ⌈t·|X|⌉ + 1), so
    it suffices to emit pairs from per-token buckets of PREFIX postings
    only. Ordering tokens by ascending document frequency puts the
    rarest tokens in the prefixes, which is what shrinks the buckets.
    Two further exact filters prune the emitted pairs:

    - length filter: J ≥ t ⟹ t·|B| ≤ |A| (|A| ≤ |B|), checked in exact
      integer arithmetic at emission;
    - suffix-count bound: ranks only grow along the common order, so
      once a shared token falls outside one document's prefix EVERY
      later shared token stays outside that same document's prefix —
      hence |A∩B| ≤ pref_common + max(|A|−p_A, |B|−p_B);
    - positional bound: every shared token ranks at or after the first
      shared token (i_A, i_B), so |A∩B| ≤ 1 + min(|A|−i_A, |B|−i_B).

    Neither bound dominates: r16 measured suffix-count alone leaving
    465k candidates and positional alone 2.04M at sf0.1 (the two
    TOGETHER leave 27k), and the positional bound cannot be applied
    per-occurrence before the pair aggregation without breaking the
    suffix bound's pref_common count — a pruned-emission variant was
    built, measured 3× slower end-to-end (the 75× candidate blow-up
    swamped the verify stage), and reverted.

    Pairs whose bounds cannot reach the minimum overlap
    ⌈t/(1+t)·(|A|+|B|)⌉ are dropped (computed with one unit of slack so
    float-boundary pairs always survive to the verifier). All pruning
    is one-sided: the output is a SUPERSET of the true pair set and
    every survivor goes through :func:`_verify_candidates`'s exact
    array-intersect scoring, so the composition is provably equal to
    the naive all-pairs verifier for every input, not just the
    fixtures. Measured at sf0.1 the fixture's 280M occurrence-level
    join pairs collapse to ~45M prefix-bucket emissions and 256
    verified output pairs.

    The document-frequency attach is the bucket-grouped trick
    (guide §2.4, the _pairs_from_bands discipline): group postings by
    token, keep the count AND the id list, re-explode — no join, so the
    posting subtree is computed once and nothing is broadcast (a
    broadcast build would re-run its subtree on every action).

    threshold=0.6 is exactly 3/5, so the prefix length and minimum
    overlap are computed in integer arithmetic (⌈3n/5⌉, ⌈3S/8⌉); other
    thresholds use exact rational arithmetic via Fraction.

    Returns ``(cand, arrs)``: the candidate pairs (doc_a, doc_b —
    distinct, doc_a < doc_b) and the per-id token-array relation
    (id_col, __sh) already built for the prefixes, which
    :func:`_verify_candidates` accepts so the fold is not re-computed."""
    from fractions import Fraction

    t = Fraction(threshold).limit_denominator(10**6)
    tn, td = t.numerator, t.denominator  # prefix: n - ceil(tn*n/td) + 1
    qn, qd = tn, tn + td  # min overlap: ceil(qn*S/qd), S = na+nb

    sc = shingles.sparkSession.sparkContext
    toks = _df_ordered_token_arrays(shingles, id_col, shingle_col)
    n = F.size("__toks")
    plen = n - F.expr(
        f"CAST(({tn}L * size(__toks) + {td - 1}) DIV {td} AS INT)"
    ) + F.lit(1)
    # prefix length is a pure function of n, so it is NOT carried through
    # the emission/aggregation (narrower shuffle + agg keys, guide §2.3)
    # — it is recomputed from __na/__nb at the final filter.
    pref = toks.select(
        "__id",
        n.alias("__n"),
        F.posexplode(F.slice("__toks", F.lit(1), plen)).alias("__i0", "__t"),
    ).select(
        "__id",
        "__n",
        (F.col("__i0") + F.lit(1)).alias("__r"),
        F.col("__t.__s").alias("__s"),
    )
    buckets = (
        pref.groupBy("__s")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("__id", "__n", "__r"))
            ).alias("__m")
        )
        .filter(F.size("__m") >= 2)
        # The bucket relation is tiny (one row per distinct prefix token)
        # but fans out into the quadratic in-bucket pair emission below —
        # AQE's size-based coalescing would collapse it onto one core, so
        # pin the emission stage's width to the session's parallelism
        # (adaptive to the driver's core count, like fan_out_scan).
        .repartition(sc.defaultParallelism)
    )
    a, b = F.col("__a"), F.col("__b")
    occ = (
        buckets.select(F.posexplode("__m").alias("__i", "__a"), "__m")
        .select(
            "__a",
            F.explode(
                F.slice(
                    "__m", F.col("__i") + F.lit(2), F.size("__m") - F.col("__i") - F.lit(1)
                )
            ).alias("__b"),
        )
        # length filter, exact integers: td*|A| >= tn*|B| both ways
        # (sizes cast to bigint — int32 × a limit_denominator term up to
        # 10^6 could wrap under non-ANSI mode, ADVICE r15)
        .filter(
            (a["__n"].cast("bigint") * td >= b["__n"].cast("bigint") * tn)
            & (b["__n"].cast("bigint") * td >= a["__n"].cast("bigint") * tn)
        )
    )
    g = occ.groupBy(
        a["__id"].alias("doc_a"),
        b["__id"].alias("doc_b"),
        a["__n"].alias("__na"),
        b["__n"].alias("__nb"),
    ).agg(
        F.count("*").alias("__pc"),
        F.min(a["__r"]).alias("__ia"),
        F.min(b["__r"]).alias("__ib"),
    )
    pa = F.col("__na") - F.expr(
        f"CAST(({tn}L * __na + {td - 1}) DIV {td} AS INT)"
    ) + F.lit(1)
    pb = F.col("__nb") - F.expr(
        f"CAST(({tn}L * __nb + {td - 1}) DIV {td} AS INT)"
    ) + F.lit(1)
    alpha = F.expr(
        f"CAST(({qn}L * (__na + __nb) + {qd - 1}) DIV {qd} AS INT)"
    ) - F.lit(1)  # one unit of slack for float-boundary pairs
    cand = g.filter(
        (
            F.col("__pc")
            + F.greatest(F.col("__na") - pa, F.col("__nb") - pb)
            >= alpha
        )
        & (
            F.lit(1)
            + F.least(
                F.col("__na") - F.col("__ia"), F.col("__nb") - F.col("__ib")
            )
            >= alpha
        )
    ).select("doc_a", "doc_b")
    arrs = toks.select(
        F.col("__id").alias(id_col),
        F.expr("transform(__toks, x -> x.__s)").alias("__sh"),
    )
    return cand, arrs


def _prefix_containment_candidates(
    shingles: DataFrame,
    id_col: str,
    shingle_col: str,
    threshold: float,
) -> tuple[DataFrame, DataFrame]:
    """EXACT candidate generation for all-pairs overlap coefficient
    (containment) ≥ ``threshold`` via one-sided prefix filtering (r16,
    VERDICT r15 #2) — the distributed replacement for the
    occurrence-level shingle self-join text_containment fell back to
    past its byte budgets.

    C(A,B) = |A∩B| / min(|A|,|B|) ≥ t requires overlap α = ⌈t·|S|⌉
    where S is the SMALLER set — so only S's prefix is bounded
    (length |S| − α + 1); the larger set's first shared token can sit
    anywhere, so the index side keeps FULL postings. Under the shared
    df-ascending token order, the smallest shared token t₁ of a
    qualifying pair lies inside S's prefix (were it outside, all α
    shared tokens would squeeze into S's last α−1 ranks), hence every
    qualifying pair is emitted from the bucket of t₁ by pairing
    prefix-resident probes against all later postings in (size, id)
    order. Two exact one-sided prunes run at emission, before the
    dedup exchange:

    - probe-prefix test: the probe's occurrence rank must satisfy
      r ≤ n − ⌈t·n⌉ + 1 (integer arithmetic);
    - per-occurrence positional bound: |A∩B| ≤ 1 + min(n_s − r_s,
      n_l − r_l) at the first shared token, and the bound only shrinks
      as ranks grow, so t₁ attains its maximum over a pair's
      occurrences — an occurrence-level filter is exact here because
      containment (unlike the Jaccard generator above) needs no
      prefix-common count afterwards: the Jaccard suffix-count bound is
      vacuous under containment's prefix length (n − p = α − 1 exactly
      cancels the required overlap).

    One unit of slack keeps float-boundary pairs alive for the
    verifier; survivors are a SUPERSET of the true pair set and go
    through :func:`_verify_containment`'s exact array-intersect
    scoring, so the composition equals the naive all-pairs verifier
    for every input (property-tested against brute force).

    Returns ``(cand, arrs)`` like :func:`_prefix_jaccard_candidates`:
    distinct (doc_a < doc_b) candidates plus the per-id token-array
    relation already built for the probes."""
    from fractions import Fraction

    t = Fraction(threshold).limit_denominator(10**6)
    tn, td = t.numerator, t.denominator

    sc = shingles.sparkSession.sparkContext
    toks = _df_ordered_token_arrays(shingles, id_col, shingle_col)
    n = F.size("__toks")
    # full postings with rank, bucket members sorted by (size, id) so a
    # probe's partners (everything after it) are never smaller
    occ_full = toks.select(
        "__id",
        n.alias("__n"),
        F.posexplode("__toks").alias("__i0", "__t"),
    ).select(
        "__id",
        "__n",
        (F.col("__i0") + F.lit(1)).alias("__r"),
        F.col("__t.__s").alias("__s"),
    )
    buckets = (
        occ_full.groupBy("__s")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("__n", "__id", "__r"))
            ).alias("__m")
        )
        .filter(F.size("__m") >= 2)
        # same width-pinning rationale as the Jaccard generator: the
        # bucket relation is tiny but fans out quadratically below
        .repartition(sc.defaultParallelism)
    )
    a, b = F.col("__a"), F.col("__b")
    # α(probe) = ⌈t·n_probe⌉, minus one unit of slack
    alpha = F.expr(f"CAST(({tn}L * __a.__n + {td - 1}) DIV {td} AS BIGINT)") - F.lit(1)
    occ = (
        buckets.select(F.posexplode("__m").alias("__i", "__a"), "__m")
        # probe-prefix test BEFORE pairing: only prefix-resident
        # occurrences of the (pairwise-smaller) probe emit anything
        .filter(
            a["__r"].cast("bigint")
            <= a["__n"].cast("bigint")
            - F.expr(f"CAST(({tn}L * __a.__n + {td - 1}) DIV {td} AS BIGINT)")
            + F.lit(1)
        )
        .select(
            "__a",
            F.explode(
                F.slice(
                    "__m", F.col("__i") + F.lit(2), F.size("__m") - F.col("__i") - F.lit(1)
                )
            ).alias("__b"),
        )
        # per-occurrence positional bound (exact — see docstring)
        .filter(
            F.lit(1) + F.least(a["__n"] - a["__r"], b["__n"] - b["__r"]) >= alpha
        )
    )
    cand = occ.select(
        F.least(a["__id"], b["__id"]).alias("doc_a"),
        F.greatest(a["__id"], b["__id"]).alias("doc_b"),
    ).distinct()
    arrs = toks.select(
        F.col("__id").alias(id_col),
        F.expr("transform(__toks, x -> x.__s)").alias("__sh"),
    )
    return cand, arrs


def _verify_containment(
    cand: DataFrame,
    arrs: DataFrame,
    id_col: str,
    threshold: float,
) -> DataFrame:
    """Candidate-gated exact overlap-coefficient scoring — the verify
    stage of :func:`_prefix_containment_candidates` (same shape as
    :func:`_verify_candidates`: two merge-hinted joins against the one
    token-array relation, counts from array_intersect). Columns: doc_a,
    doc_b, n_common, containment."""
    pairs = (
        cand.select("doc_a", "doc_b")
        .join(
            arrs.select(
                F.col(id_col).alias("doc_a"), F.col("__sh").alias("__sh_a")
            ).hint("merge"),
            "doc_a",
        )
        .join(
            arrs.select(
                F.col(id_col).alias("doc_b"), F.col("__sh").alias("__sh_b")
            ).hint("merge"),
            "doc_b",
        )
    )
    n_common = F.size(F.array_intersect("__sh_a", "__sh_b")).cast("bigint")
    containment = n_common * 1.0 / F.least(
        F.size("__sh_a").cast("bigint"), F.size("__sh_b").cast("bigint")
    )
    return pairs.filter((n_common >= 1) & (containment >= threshold)).select(
        "doc_a",
        "doc_b",
        n_common.alias("n_common"),
        F.round(containment, 6).alias("containment"),
    )


def near_dedup_verified(
    shingles: DataFrame,
    id_col: str = "doc_id",
    shingle_col: str = "s",
    threshold: float = 0.6,
    rows: int = 8,
    bands: int = 4,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """The 100 TB near-dup path end-to-end over a (id, shingle) relation:
    banded-MinHash candidates → exact Jaccard verification computed ONLY
    on colliding pairs (:func:`_verify_candidates`). Columns: doc_a,
    doc_b, n_common, jaccard. Pass ``candidates`` (doc_a, doc_b) to gate
    the verify on a precomputed candidate set — e.g. the bounded star
    emission, or a persisted band relation's emission — instead of
    rebuilding pairs-mode candidates here.

    Boilerplate caveat: the PAIR LIST itself is |group|²/2 rows per set
    of identical texts — intrinsic to the output contract, not the
    plan. On duplicate-heavy corpora collapse exact duplicates first
    and run this over distinct-text representatives (what
    ``dedup_pipeline`` does; measured 890 s → 14 s at ×16 duplication
    in scripts/stress_curation.py)."""
    cand = (
        candidates
        if candidates is not None
        else minhash_banded_candidates(
            shingles, id_col=id_col, shingle_col=shingle_col, rows=rows, bands=bands
        )
    )
    return _verify_candidates(cand, shingles, id_col, shingle_col, threshold)


def curation_pipeline(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_cols: tuple[str, ...] = ("lang", "source"),
    lm_floor: float = -7.0,
    entropy_floor: float = 4.0,
    top_share_ceiling: float = 0.12,
    prefix_len: int = 64,
    materialize: bool = False,
) -> DataFrame:
    """The end-to-end curation composition (the registered
    pipeline_curation_capstone): quality_signals gates the corpus (LM +
    entropy + top-share in one scan), prefix_dedup keeps one survivor
    per boilerplate-prefix group, and the result rolls up into the
    per-group token manifest a sampler consumes. Statistics flow between
    stages (n_tokens from the quality pass feeds the manifest) instead
    of being re-derived. Columns: *group_cols, n_docs, total_tokens.

    ``materialize=True`` is the 100 TB seam the plan-ledger test
    documents (tests/test_plans.py): the gated subset is checkpointed
    (lineage cut + stored partitions) so the dedup stage's two consumers
    (key derivation and survivor join) re-read the typically ~10×-smaller
    gated stage instead of re-running the gate join over the full corpus
    scan twice. Local mode uses localCheckpoint (executor-local storage);
    a production deployment would point this boundary at durable storage
    (df.checkpoint with a checkpoint dir, or an explicit parquet stage) —
    the plan downstream of the boundary is identical either way."""
    signals = quality_signals(
        df,
        text_col=text_col,
        id_col=id_col,
        lm_floor=lm_floor,
        entropy_floor=entropy_floor,
        top_share_ceiling=top_share_ceiling,
    )
    kept = df.join(signals.filter("keep").select(id_col, "n_tokens"), id_col)
    if materialize:
        kept = kept.localCheckpoint(eager=True)
    survivors = kept.join(
        prefix_dedup(kept, text_col=text_col, id_col=id_col, prefix_len=prefix_len)
        .filter("keep")
        .select(id_col),
        id_col,
    )
    return survivors.groupBy(*group_cols).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
    )


# --- analytics family (round 6: df-level faces of operators/analytics.py
# and operators/windows.py cores, per VERDICT r5 #2) ----------------------


def sessionize(
    df: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    gap_minutes: int = 30,
) -> DataFrame:
    """Gap-based sessionization over any (user, ts) relation: lag → gap
    flag → running sum = session id → per-session rollup. One shuffle on
    the user column; session ids are dense per user starting at 0.
    Columns: user, session_id, n_events, session_start, session_end."""
    from pyspark.sql import Window

    w_order = Window.partitionBy(user_col).orderBy(ts_col)
    w_run = w_order.rowsBetween(Window.unboundedPreceding, 0)
    epoch = F.unix_micros(F.col(ts_col).cast("timestamp"))
    gap = epoch - F.lag(epoch, 1).over(w_order)
    threshold = gap_minutes * 60_000_000
    flagged = df.select(
        user_col,
        ts_col,
        F.when(gap > threshold, 1).otherwise(0).alias("new_session"),
    )
    numbered = flagged.withColumn(
        "session_id", F.sum("new_session").over(w_run).cast("bigint")
    )
    return numbered.groupBy(user_col, "session_id").agg(
        F.count("*").alias("n_events"),
        F.min(ts_col).alias("session_start"),
        F.max(ts_col).alias("session_end"),
    )


def retention_cohort(
    df: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    grain: str = "day",
) -> DataFrame:
    """Cohort retention matrix over any (user, ts) relation: users grouped
    by first-active period at the given grain ('day', 'week', or 'month'),
    counted on every later period offset. Two shuffles (first-period agg
    on user, then the cohort×offset agg); the first-period table is one
    row per user, broadcast into the join at any realistic cardinality.
    Columns: cohort_<grain>, <grain>_offset, n_users."""
    per = df.select(user_col, F.date_trunc(grain, ts_col).alias("_period"))
    first = per.groupBy(user_col).agg(F.min("_period").alias("_cohort"))
    if grain == "day":
        offset = F.datediff(F.to_date("_period"), F.to_date("_cohort"))
    elif grain == "week":
        # both sides are week-truncated, so the day diff is divisible by 7
        offset = (
            F.datediff(F.to_date("_period"), F.to_date("_cohort")) / 7
        ).cast("int")
    elif grain == "month":
        offset = F.months_between(
            F.to_date("_period"), F.to_date("_cohort")
        ).cast("int")
    else:
        raise ValueError(f"grain must be day/week/month, got {grain!r}")
    return (
        per.join(first, user_col)
        .groupBy(
            F.col("_cohort").alias(f"cohort_{grain}"),
            offset.alias(f"{grain}_offset"),
        )
        .agg(F.countDistinct(user_col).alias("n_users"))
    )


def funnel(
    df: DataFrame,
    stages: list[str],
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
) -> DataFrame:
    """Ordered conversion funnel over any (user, ts, type) relation: stage
    i counts users whose stage-i event happened strictly AFTER their
    first stage-(i-1) event (time-ordered, not mere co-occurrence). Each
    stage is a filter + per-user min + join against the monotonically
    shrinking previous stage — linear scans, no self-join explosion.
    Columns: stage_order, stage, n_users."""
    if not stages:
        raise ValueError("stages must name at least one event type")
    # Project down to the three referenced columns before joining: the
    # per-stage join otherwise drags every user column alongside the
    # internal prev-stage timestamp, and a user column that happened to
    # share its name would make the ts > prev comparison ambiguous
    # (ADVICE r6). The prefixed internal name is belt-and-braces on top.
    df = df.select(user_col, type_col, ts_col)
    prev_t = "__sbp_funnel_prev_t"
    prev: DataFrame | None = None
    outs: list[DataFrame] = []
    for i, stage_name in enumerate(stages):
        cur = df.filter(F.col(type_col) == stage_name)
        if prev is not None:
            cur = cur.join(prev, user_col).filter(F.col(ts_col) > F.col(prev_t))
        reached = cur.groupBy(user_col).agg(F.min(ts_col).alias(prev_t))
        outs.append(
            reached.agg(
                F.lit(i + 1).alias("stage_order"),
                F.lit(stage_name).alias("stage"),
                F.count("*").alias("n_users"),
            )
        )
        prev = reached
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("stage_order")


def gap_islands(
    df: DataFrame,
    ts_col: str = "ts",
    user_col: str = "user_id",
    type_col: str = "event_type",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Gaps-and-islands over any (user, ts, type) relation: maximal runs
    of consecutive same-type rows per user via the row_number-difference
    trick (two windows over the SAME partition/order — Catalyst collapses
    them into one sort), then one aggregate per island. The total-order
    tiebreaker pins island composition deterministically. Columns: user,
    type, run_start, run_len."""
    from pyspark.sql import Window

    w_all = Window.partitionBy(user_col).orderBy(ts_col, tiebreak_col)
    w_type = Window.partitionBy(user_col, type_col).orderBy(ts_col, tiebreak_col)
    grp = F.row_number().over(w_all) - F.row_number().over(w_type)
    return (
        df.select(user_col, type_col, ts_col, tiebreak_col)
        .withColumn("_grp", grp)
        .groupBy(user_col, type_col, "_grp")
        .agg(F.min(ts_col).alias("run_start"), F.count("*").alias("run_len"))
        .drop("_grp")
    )


# --- dataset-carving family (round 6: df-level faces of
# operators/sampling.py and llm/corpus.py cores) ---------------------------


def hash_bucket(col: Column, salt: str, n: int) -> Column:
    """Deterministic bucket in [0, n) from a portable md5-prefix hash
    (identical bit pattern in DuckDB via the same hex-prefix trick) —
    the randomness source for every carving operator here: assignment
    is a pure function of (salt, value), so it is stable under
    repartitioning, appends, and reruns, unlike randomSplit/sample
    whose seeded RNG shifts with partitioning."""
    # callers pass pre-formed salts (some already "<salt>|"-shaped), so
    # the concat stays here and the helper runs saltless over it
    h = md5_prefix_int(F.concat(F.lit(salt), col.cast("string")))
    return F.pmod(h, F.lit(n))


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: tuple[tuple[str, int], ...] = (("train", 80), ("val", 10), ("test", 10)),
    salt: str = "split",
) -> DataFrame:
    """Reproducible dataset split over any relation: adds a ``split``
    column assigning each row by hash(id) against cumulative integer
    weights. A row's split never changes across reruns or appends; the
    predicate is scan-pushable (no shuffle).

    Every weight must be strictly positive: a zero-weight split name
    would silently never appear in the output, which reads like a
    hashing bug (ADVICE r6) — drop the entry instead of zeroing it."""
    total = sum(w for _, w in weights)
    if total <= 0 or any(w <= 0 for _, w in weights):
        raise ValueError(
            f"weights must be strictly positive (omit unwanted splits): {weights}"
        )
    bucket = hash_bucket(F.col(id_col), salt, total)
    expr = None
    acc = 0
    for name, w in weights:
        acc += w
        expr = F.when(bucket < acc, name) if expr is None else expr.when(bucket < acc, name)
    return df.withColumn("split", expr)


def stratified_sample(
    df: DataFrame,
    id_col: str = "doc_id",
    strata_col: str = "lang",
    rates: dict[str, float] | None = None,
    default_rate: float = 0.2,
    salt: str = "strat",
    granularity: int = 100,
) -> DataFrame:
    """Per-stratum deterministic downsampling: keep ``rates[stratum]``
    (fraction, resolved at 1/granularity) of each stratum, default_rate
    elsewhere. The keep-predicate is a pure per-row filter pushed to the
    scan; membership is reproducible row-wise, so incremental reruns
    over appended data never resample old rows."""
    rate_expr = F.lit(int(round(default_rate * granularity)))
    for k, v in (rates or {}).items():
        rate_expr = F.when(
            F.col(strata_col) == k, int(round(v * granularity))
        ).otherwise(rate_expr)
    return df.filter(hash_bucket(F.col(id_col), salt, granularity) < rate_expr)


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    len_col: str = "n_chars",
    partition_col: str = "lang",
    capacity: int = 4096,
) -> DataFrame:
    """Sequence packing over any (id, length) relation: concatenate rows
    per partition key in id order and chunk the stream into fixed-size
    bins; each row is assigned to the bin where it starts. Returns the
    row-level assignment (partition, id, len, start_off, bin_id) — roll
    up on (partition, bin_id) for the manifest. One window + linear;
    partitioned by ``partition_col`` so no task owns a global order (at
    100 TB that is the shard/curriculum key).

    Determinism: rows are ordered by (id, len). If ``id_col`` is unique
    per partition key (the normal manifest case) the packing is fully
    reproducible; with duplicate ids the len tiebreak still fixes the
    order up to rows identical in (partition, id, len), whose start_off
    assignments are interchangeable — the output *relation* stays
    deterministic either way (ADVICE r6)."""
    from pyspark.sql import Window

    w = Window.partitionBy(partition_col).orderBy(id_col, len_col).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    start_off = F.sum(len_col).over(w) - F.col(len_col)
    return df.select(
        partition_col,
        id_col,
        len_col,
        start_off.alias("start_off"),
        F.floor(start_off / capacity).alias("bin_id"),
    )


def chunk_tokens(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_size: int = 32,
    stride: int = 24,
    with_text: bool = True,
) -> DataFrame:
    """Sliding-window token chunking (r12) — the context-window
    preparation step pack_sequences complements: every document becomes
    1 + floor((n−1)/stride) overlapping chunks of ≤ ``chunk_size``
    whitespace tokens, each shifted by ``stride`` (overlap =
    chunk_size − stride), so a span that crosses one chunk boundary is
    fully contained in the next — the standard long-document →
    fixed-window training-example transform. Columns: id, chunk_no
    (1-based), token_off (0-based), n_tokens_chunk, n_tokens_doc
    [, chunk_text].

    Entirely JVM-side (split → sequence → explode → slice → concat_ws):
    a map-only explode whose fan-out is the chunk count — no shuffle, no
    Python, output partitioning follows input partitioning, the same
    zero-Exchange contract as the multimodal kernels. Rows with NULL
    text are dropped (no tokens → no chunks); a single-token doc yields
    exactly one chunk. ``stride`` must be positive and at most
    ``chunk_size`` (gaps would silently drop tokens)."""
    if not 0 < stride <= chunk_size:
        raise ValueError(
            f"stride must be in (0, chunk_size]; got stride={stride},"
            f" chunk_size={chunk_size}"
        )
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    ks = F.sequence(
        F.lit(0).cast("int"),
        F.floor((n - F.lit(1)) / F.lit(stride)).cast("int"),
    )
    off = F.col("__sbp_k").cast("bigint") * stride
    n_doc = F.size("__sbp_toks").cast("bigint")
    length = F.least(F.lit(chunk_size).cast("bigint"), n_doc - off)
    out = (
        df.filter(F.col(text_col).isNotNull())
        .select(id_col, toks.alias("__sbp_toks"), F.explode(ks).alias("__sbp_k"))
        .select(
            id_col,
            (F.col("__sbp_k") + 1).cast("bigint").alias("chunk_no"),
            off.alias("token_off"),
            length.alias("n_tokens_chunk"),
            n_doc.alias("n_tokens_doc"),
            *(
                [
                    F.concat_ws(
                        " ",
                        F.slice(
                            F.col("__sbp_toks"),
                            (off + 1).cast("int"),
                            length.cast("int"),
                        ),
                    ).alias("chunk_text")
                ]
                if with_text
                else []
            ),
        )
    )
    return out


def temperature_mix(
    df: DataFrame,
    id_col: str = "doc_id",
    group_col: str = "source",
    temperature: float = 2.0,
    accept_c: float = 0.35,
    salt: str = "mix",
) -> DataFrame:
    """Temperature-weighted group rebalancing: per-group acceptance rate
    accept_c / w^(1/T) capped at 1 (w = the group's row share), applied
    via a deterministic content-keyed uniform — low-share groups keep
    (nearly) everything, high-share groups are downsampled toward
    w^(1/T)-proportional mixing. Returns df + (n_docs, rate, keep). The
    rates table is a tiny broadcast join; the accept predicate is a pure
    per-row expression; the whole sample is reproducible bit-for-bit
    under any partitioning."""
    total = df.count()  # one driver scalar (the normalizing mass)
    shares = df.groupBy(group_col).agg(F.count("*").alias("n_docs"))
    w_share = F.col("n_docs") * 1.0 / total
    # T=2 keeps the exact sqrt form the oracle mirrors (pow(x, .5) is not
    # guaranteed bit-identical to sqrt across engines)
    denom = F.sqrt(w_share) if temperature == 2.0 else F.pow(w_share, 1.0 / temperature)
    rates = shares.select(
        group_col, "n_docs", F.least(F.lit(1.0), accept_c / denom).alias("rate")
    )
    u = (
        md5_prefix_int(F.col(id_col).cast("string"), salt=salt).cast("double")
        / 1152921504606846976.0
    )
    return df.join(F.broadcast(rates), group_col).withColumn("keep", u < F.col("rate"))


# --- streaming family (round 6: df-level stream builders over the
# streaming/streams.py cores) ----------------------------------------------


def replay_stream(
    spark,
    batches: list[DataFrame],
    name: str = "api_replay",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Stage a user's batch DataFrames as ordered parquet files and return
    an unbounded file-source stream replaying them in list order (one
    file per element, strictly increasing mtimes → deterministic
    micro-batch composition with maxFilesPerTrigger=1). The test/backfill
    face of a production message-bus source: swap for
    ``spark.readStream.format("kafka")`` at the documented seam in
    streaming/streams.py without touching anything downstream."""
    from dicebox_sensorybatchprocessor_spark.streaming.streams import _stage_files

    if not batches:
        raise ValueError("need at least one batch DataFrame to replay")
    staged = _stage_files(spark, batches, name)
    reader = spark.readStream.schema(batches[0].schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(staged)


def windowed_stream(
    stream: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str | None = None,
    group_cols: tuple[str, ...] = (),
    aggs: list[Column] | None = None,
) -> DataFrame:
    """Watermarked time-windowed aggregation over any streaming DataFrame
    — the §2.8 tumbling/sliding core over arbitrary columns. ``window``
    is the window length, ``slide`` (optional) makes it sliding,
    ``watermark`` (e.g. "1 hour") bounds state and enables append-mode
    emission of closed windows; default aggregate is count(*). Returns a
    streaming DataFrame with a ``window`` struct column — pass to
    run_stream or your own writeStream. State shape: one state-store
    entry per open (window × keys) group; the watermark is what keeps
    that bounded on an unbounded stream."""
    s = stream.withWatermark(ts_col, watermark) if watermark else stream
    win = (
        F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    )
    return s.groupBy(win.alias("window"), *group_cols).agg(
        *(aggs or [F.count("*").alias("n_events")])
    )


def session_stream(
    stream: DataFrame,
    ts_col: str = "ts",
    gap: str = "30 minutes",
    group_cols: tuple[str, ...] = (),
    aggs: list[Column] | None = None,
    watermark: str | None = None,
) -> DataFrame:
    """Session-windowed aggregation (gap-based, per key) over any
    streaming DataFrame — the streaming twin of :func:`sessionize`.
    Returns a streaming DataFrame with a ``session_window`` struct
    column (start, end = last event + gap)."""
    s = stream.withWatermark(ts_col, watermark) if watermark else stream
    return s.groupBy(
        F.session_window(ts_col, gap).alias("session_window"), *group_cols
    ).agg(*(aggs or [F.count("*").alias("n_events")]))


def run_stream(
    df: DataFrame, mode: str = "complete", name: str = "api_stream"
) -> DataFrame:
    """Run a streaming DataFrame to completion with trigger(availableNow)
    into a memory sink and return the sink contents as a batch DataFrame
    — the backfill/test execution face (a resident deployment calls
    ``df.writeStream`` itself with a durable checkpoint instead)."""
    from dicebox_sensorybatchprocessor_spark.streaming.streams import _run_to_table

    return _run_to_table(df.sparkSession, df, name, mode)


def dedup_stream(
    stream: DataFrame,
    key_cols: tuple[str, ...],
    ts_col: str | None = None,
    within_watermark: str | None = None,
) -> DataFrame:
    """Exactly-once restoration over an at-least-once stream: drop
    redelivered rows by key. With ``within_watermark`` (e.g. "2 hours")
    this is the production form — ``dropDuplicatesWithinWatermark``
    evicts dedup state once the watermark passes a key's event time +
    delay, so state is bounded by the redelivery horizon instead of
    growing with the stream (the 100 TB requirement). Without it, plain
    ``dropDuplicates`` keeps every key forever — backfill/test only.
    Returns a streaming DataFrame (compose with windowed_stream /
    run_stream / your own sink)."""
    keys = list(key_cols)
    if not keys:
        raise ValueError("dedup_stream needs at least one key column")
    if within_watermark is not None:
        if ts_col is None:
            raise ValueError("within_watermark requires ts_col")
        return stream.withWatermark(
            ts_col, within_watermark
        ).dropDuplicatesWithinWatermark(keys)
    return stream.dropDuplicates(keys)


def _as_table(table):
    """``table`` as a lake.ManifestTable: a table passes through, a root
    path opens one."""
    from dicebox_sensorybatchprocessor_spark import lake

    return lake.ManifestTable(table) if isinstance(table, str) else table


def _micro_batch_sink(
    stream: DataFrame,
    builder: str,
    commit,
    checkpoint_dir: str | None,
    available_now: bool,
    ck_prefix: str,
    txn_app_id: str | None = None,
    refresh_views=(),
    output_mode: str = "append",
):
    """The one exactly-once micro-batch sink under the streaming lake
    builders. Each micro-batch runs ``commit(batch_df, txn)`` with
    ``txn = (app_id, batch_id)``, the manifest transaction every lake
    write skips once the table holds it, so a checkpoint replay of a
    committed batch writes nothing twice. ``refresh_views``
    (mv.MaterializedAgg instances over the committed tables) refresh
    after every commit. ``app_id`` is ``txn_app_id`` or
    ``"<builder>:<checkpoint dir name>"``, the identity the replay itself
    is keyed by; the checkpoint defaults to a fresh scratch dir named
    ``ck_prefix*``. Runs in ``output_mode`` (availableNow when
    ``available_now``) and returns the started StreamingQuery."""
    import os as _os

    from dicebox_sensorybatchprocessor_spark.utils import scratch_dir

    ck = checkpoint_dir or scratch_dir(prefix=ck_prefix)
    app_id = txn_app_id or f"{builder}:{_os.path.basename(_os.path.normpath(ck))}"

    def run(batch_df: DataFrame, batch_id: int) -> None:
        commit(batch_df, (app_id, int(batch_id)))
        for view in refresh_views:
            view.refresh(batch_df.sparkSession)

    writer = (
        stream.writeStream.foreachBatch(run)
        .outputMode(output_mode)
        .option("checkpointLocation", ck)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def quarantine_stream(
    stream: DataFrame,
    invalid: Column,
    dataset_dir,
    quarantine_dir,
    repair=None,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
):
    """Dead-letter routing sink over any streaming DataFrame: each
    micro-batch appends rows failing ``invalid`` to the quarantine
    (dead-letter) table — optionally normalized by ``repair`` (batch
    DataFrame -> batch DataFrame) — and the rest to the dataset table.
    Each output is a lake.ManifestTable or a root path, as
    :func:`append_stream`'s is; read it with
    ``ManifestTable(root).read(spark)``. Both appends run over one
    persisted batch, so the batch is scanned once, and both record the
    batch's ``(app_id, batch_id)`` transaction (``app_id`` is
    ``quarantine_stream:<checkpoint dir name>``), so a replayed batch
    skips whichever commit already landed instead of duplicating its
    rows. This is the idiomatic Spark form of a broker nack/dead-letter
    loop: poison messages leave the hot path but stay queryable for
    triage/replay. The writer and checkpoint are
    :func:`_micro_batch_sink`'s. Returns the started StreamingQuery —
    the caller awaits (or lets it run resident)."""
    ok_t, bad_t = _as_table(dataset_dir), _as_table(quarantine_dir)

    def route(batch_df: DataFrame, txn) -> None:
        batch_df.persist()
        try:
            ok_t.append(batch_df.filter(~invalid), txn=txn)
            bad = batch_df.filter(invalid)
            bad_t.append(repair(bad) if repair is not None else bad, txn=txn)
        finally:
            batch_df.unpersist()

    return _micro_batch_sink(
        stream, "quarantine_stream", route, checkpoint_dir, available_now,
        "sbp_ck_api_quar_",
    )


def upsert_stream(
    stream: DataFrame,
    table,
    key_cols: tuple[str, ...],
    transform=None,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    n_buckets: int | None = None,
    txn_app_id: str | None = None,
    refresh_views=(),
    output_mode: str = "update",
):
    """Streaming MERGE (upsert) sink through the manifest-commit
    protocol: each micro-batch — optionally reshaped by ``transform``
    (batch DataFrame -> batch DataFrame, e.g. a per-key aggregate) —
    replaces same-key rows of the lake.ManifestTable snapshot and
    publishes the merged file set as one atomic version, so readers
    concurrent with the sink always resolve a complete snapshot and a
    crash mid-batch leaves the previous version readable with the
    checkpoint replaying the batch to convergence. ``table`` is a
    ManifestTable or a root path. ``n_buckets`` hash-buckets the store
    by key so each micro-batch rewrites only the buckets its keys touch
    (partial-rewrite MERGE — the sink cost a resident stream needs:
    proportional to the delta, not the accumulated state). The query
    runs in ``output_mode``, ``update`` by default: on a stateless
    stream it emits the same rows as append, and on a streaming
    aggregation it emits each batch's changed groups, which the merge
    folds in by key — the table then holds the latest row per key.
    Spark rejects ``update`` at ``start()`` for a stream-stream join and
    for an append-mode ``applyInPandasWithState``; pass
    ``output_mode="append"`` for those. Returns the started
    StreamingQuery; read the result via ``ManifestTable(root).read(spark)``.

    Exactly-once (r9): every micro-batch commit records a
    ``(txn_app_id, batch_id)`` transaction in the manifest, so when the
    checkpoint replays a batch whose commit DID land before a crash,
    the merge is skipped outright (lake.merge_upsert txn contract) —
    protocol-level idempotence on top of the merge's content
    idempotence. ``txn_app_id`` defaults to
    ``upsert_stream:<checkpoint dir name>``, the same identity the
    replay itself is keyed by; pass an explicit stable id when the
    checkpoint path changes across deployments. ``refresh_views``
    (mv.MaterializedAgg instances over this table) refresh after every
    commit, each reading only the commit's file delta. The writer,
    checkpoint and txn are :func:`_micro_batch_sink`'s."""
    from dicebox_sensorybatchprocessor_spark import lake

    t, keys = _as_table(table), tuple(key_cols)

    def merge(batch_df: DataFrame, txn) -> None:
        b = transform(batch_df) if transform is not None else batch_df
        # the merge reads the batch twice (its keys and its rows)
        b.persist()
        try:
            lake.merge_upsert(t, b, keys, n_buckets=n_buckets, txn=txn)
        finally:
            b.unpersist()

    return _micro_batch_sink(
        stream, "upsert_stream", merge, checkpoint_dir, available_now,
        "sbp_ck_api_upsert_", txn_app_id, refresh_views, output_mode,
    )


def append_stream(
    stream: DataFrame,
    table,
    transform=None,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    n_files: int | None = None,
    txn_app_id: str | None = None,
    refresh_views=(),
):
    """Streaming blind-APPEND sink through the manifest-commit protocol:
    each micro-batch — optionally reshaped by ``transform`` — lands as
    one atomic lake commit that never reads existing data
    (``ManifestTable.append``), the O(batch) path for immutable facts
    (events, logs, sensor readings). Exactly-once is carried by a
    ``(txn_app_id, batch_id)`` manifest transaction: when the checkpoint
    replays a batch whose commit landed before a crash, the append is
    skipped outright — which matters MORE here than for the merge sink,
    since a replayed blind append duplicates rows instead of converging.
    ``txn_app_id`` defaults to ``append_stream:<checkpoint dir name>``.
    The query runs in append output mode, so a watermarked aggregation
    or an outer stream-stream join lands each finalized row once.
    ``refresh_views`` (mv.MaterializedAgg instances over this table)
    refresh after every commit, each reading only the batch's files —
    the streaming rollup pattern: fact stream in, always-current
    aggregate out, per-trigger cost proportional to the trigger.
    The writer, checkpoint and txn are :func:`_micro_batch_sink`'s.
    Returns the started StreamingQuery."""
    t = _as_table(table)

    def sink(batch_df: DataFrame, txn) -> None:
        b = transform(batch_df) if transform is not None else batch_df
        t.append(b, n_files=n_files, txn=txn)

    return _micro_batch_sink(
        stream, "append_stream", sink, checkpoint_dir, available_now,
        "sbp_ck_api_append_", txn_app_id, refresh_views,
    )


def merge_into(
    table,
    source: DataFrame,
    key_cols: tuple[str, ...],
    **legs,
):
    """Conditional MERGE INTO — the full WHEN MATCHED [AND cond] THEN
    UPDATE SET / DELETE, WHEN NOT MATCHED [AND cond] THEN INSERT
    statement over a lake table, one atomic commit, bucket-routed
    partial rewrite. Thin wrapper over :func:`lake.merge_into` (which
    documents the legs: ``matched_update`` expressions over ``t.*`` and
    ``s.*``, ``matched_update_condition``, ``matched_delete_condition``,
    ``insert_unmatched`` / ``insert_condition``, plus ``txn`` for
    exactly-once replays)."""
    from dicebox_sensorybatchprocessor_spark import lake

    t = _as_table(table)
    return lake.merge_into(t, source, tuple(key_cols), **legs)


def update_where(table, spark, set_exprs: dict[str, str], condition: str, **kw):
    """UPDATE ... SET ... WHERE over a lake table: one atomic commit,
    only files containing matching rows rewrite (thin wrapper over
    :func:`lake.update_where`, which documents touched-file pruning,
    bucket-key protection, and constraint validation)."""
    from dicebox_sensorybatchprocessor_spark import lake

    t = _as_table(table)
    return lake.update_where(t, spark, set_exprs, condition, **kw)


def delete_where(table, spark, condition: str, **kw):
    """DELETE ... WHERE over a lake table: one atomic commit with
    touched-file pruning (thin wrapper over :func:`lake.delete_where`)."""
    from dicebox_sensorybatchprocessor_spark import lake

    t = _as_table(table)
    return lake.delete_where(t, spark, condition, **kw)


def apply_changes(
    table,
    changes: DataFrame,
    key_cols: tuple[str, ...],
    op_col: str = "op",
    seq_col: str | None = None,
    n_buckets: int | None = None,
    txn: tuple[str, int] | None = None,
) -> int:
    """Apply a CDC feed (insert/update/delete rows, optionally ordered
    by ``seq_col``) to a lake table in one atomic commit — net-effect
    semantics: per key, the feed's LAST event wins; a history ending in
    delete removes the key. The consumer side of ``ManifestTable
    .changes()`` / any Debezium-shaped stream; thin face over
    :func:`lake.merge_apply` (which documents routing, bucket partial
    rewrites, and the ``txn`` exactly-once skip). ``table`` is a
    ManifestTable or root path; returns the committed version."""
    from dicebox_sensorybatchprocessor_spark import lake

    t = _as_table(table)
    return lake.merge_apply(
        t,
        changes,
        tuple(key_cols),
        op_col=op_col,
        seq_col=seq_col,
        n_buckets=n_buckets,
        txn=txn,
    )


def cosine_topk(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    part_margin: int = 100,
) -> DataFrame:
    """Global top-k most-similar pairs by exact cosine over an
    (id, array<float> vector) relation. Routes automatically: dense
    broadcast index + partition-wise BLAS matmul under the byte budget,
    BucketedRandomProjection-LSH candidates + exact rerank beyond it (a
    driver-side materialization that would fail at 100× scale is never
    attempted). Columns: id_a, id_b, cosine."""
    from dicebox_sensorybatchprocessor_spark.llm import similarity as _sim

    e = df.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    return _sim._cosine_topk(e, k=k, part_margin=part_margin)


# --- dq / maintenance / cluster-survivorship family (round 7: df-level
# faces of operators/quality.py, operators/maintenance.py, and the
# llm/dedup.py connected-components core) ----------------------------------


def profile(
    df: DataFrame,
    table_name: str = "table",
    key_cols: tuple[str, ...] = (),
    categorical_cols: tuple[str, ...] = (),
    numeric_cols: tuple[str, ...] = (),
    ts_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Single-pass, single-row quality profile of any relation: row
    count; per key column non-null + distinct counts (completeness and
    uniqueness); per categorical column distinct cardinality; per
    numeric column min/max/negative-count; per time column span. Every
    metric is an aggregate over the SAME scan — one job regardless of
    how many columns are profiled, which is the difference between a
    per-batch promotion gate and a per-column job storm at 100 TB.
    Column names in the output are ``<col>_<metric>``."""
    aggs = [F.lit(table_name).alias("table_name"), F.count("*").alias("n_rows")]
    for c in key_cols:
        aggs.append(F.count(c).alias(f"{c}_nonnull"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"{c}_distinct"))
    for c in categorical_cols:
        aggs.append(F.count_distinct(F.col(c)).alias(f"{c}_distinct"))
    for c in numeric_cols:
        aggs.append(F.min(c).alias(f"{c}_min"))
        aggs.append(F.max(c).alias(f"{c}_max"))
        aggs.append(
            F.sum(F.when(F.col(c) < 0, 1).otherwise(0))
            .cast("bigint")
            .alias(f"{c}_negative")
        )
    for c in ts_cols:
        aggs.append(F.min(c).alias(f"{c}_min"))
        aggs.append(F.max(c).alias(f"{c}_max"))
    return df.agg(*aggs)


def fk_violations(
    child: DataFrame, parent: DataFrame, child_key: str, parent_key: str
) -> DataFrame:
    """Referential-integrity probe: child rows whose key has no match in
    parent, as a left-anti join against the DISTINCT parent keys — the
    anti-join side reduces to a key list (broadcastable far past the
    point the parent table itself is not), and only the child's own
    columns survive, so arbitrary name overlap between the two relations
    is safe."""
    pk = parent.select(F.col(parent_key).alias("__sbp_fk_pk")).distinct()
    return child.join(
        pk, F.col(child_key) == F.col("__sbp_fk_pk"), "left_anti"
    )


def check_constraints(
    checks: list[tuple[str, DataFrame]],
) -> DataFrame:
    """Constraint validation as a one-row-per-check report over named
    violating-row relations (compose with ``fk_violations`` / filters):
    (constraint_name, n_violations). Each check is an independent scalar
    aggregate branch Spark schedules concurrently; a CI gate promotes
    the batch iff every n_violations is 0."""
    if not checks:
        raise ValueError("checks must name at least one constraint")
    outs = [
        df.agg(
            F.lit(name).alias("constraint_name"),
            F.count("*").cast("bigint").alias("n_violations"),
        )
        for name, df in checks
    ]
    out = outs[0]
    for o in outs[1:]:
        out = out.unionAll(o)
    return out


def _parquet_dir_stats(spark, root: str) -> tuple[int, int]:
    """(file count, total bytes) of the parquet files under root — the
    two directory listings a compaction planner performs. Listed through
    the Hadoop FileSystem API so any Spark-readable scheme (file:, hdfs:,
    s3a:, …) sizes correctly; an os.walk here silently returned (0, 0)
    for remote roots, planning a repartition(1) full-table rewrite
    (ADVICE r7)."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(root)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    it = fs.listFiles(path, True)
    n = total = 0
    while it.hasNext():
        status = it.next()
        if status.getPath().getName().endswith(".parquet"):
            n += 1
            total += status.getLen()
    return n, total


def compact_parquet(
    spark,
    src_path: str,
    dest_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> dict:
    """Small-file compaction: rewrite a fragmented parquet directory
    (the post-streaming-ingest state — one file per micro-batch) into
    ``ceil(total_bytes / target_file_bytes)`` files at dest_path.
    Driver-side work is two directory listings; the data movement is one
    scan + one round-robin repartition write — no shuffle keyed on data
    values, so the rewrite streams at disk bandwidth on any cluster
    size. Returns {n_files_before, n_files_after, total_bytes,
    n_output_files_planned} for the maintenance ledger."""
    n_before, total_bytes = _parquet_dir_stats(spark, src_path)
    if n_before == 0:
        raise ValueError(f"no parquet files under {src_path!r}")
    n_out = max(1, math.ceil(total_bytes / target_file_bytes))
    spark.read.parquet(src_path).repartition(n_out).write.mode(
        "overwrite"
    ).parquet(dest_path)
    n_after, _ = _parquet_dir_stats(spark, dest_path)
    return {
        "n_files_before": n_before,
        "n_files_after": n_after,
        "total_bytes": total_bytes,
        "n_output_files_planned": n_out,
    }


def compact_table(
    spark,
    root: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    small_only: bool = False,
    small_file_bytes: int | None = None,
) -> dict:
    """Manifest-protocol compaction (VERDICT r7 #2): like
    ``compact_parquet`` but over a :class:`lake.ManifestTable`, so the
    rewrite COMMITS atomically — readers resolve either the fragmented
    or the compacted snapshot, never a torn directory, and a writer
    landing mid-compaction wins a version and the compaction retries
    from the new snapshot instead of dropping its rows.
    ``small_only=True`` bin-packs just the files under
    ``small_file_bytes`` (default half the target) and carries
    right-sized files byte-identical — the O(small-files) nightly
    OPTIMIZE; the default full rewrite is the O(table) pass that also
    settles an evolved schema. Returns the maintenance ledger dict plus
    the committed version."""
    from dicebox_sensorybatchprocessor_spark import lake

    table = lake.ManifestTable(root)
    if small_only:
        return table.compact_small(spark, target_file_bytes, small_file_bytes)
    return table.compact(spark, target_file_bytes)


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: tuple[str, ...],
    tracked_cols: tuple[str, ...],
) -> DataFrame:
    """Row-level snapshot reconciliation: full outer join of two table
    versions on the (non-null) primary key, classified by null side and
    tracked-column row-hash inequality. Returns the changed rows only:
    (*key_cols, change_type ∈ {insert, update, delete}) — roll up for
    the CDC summary, or join back for the changed payloads. The row
    hash uses a canonical string encoding (identical across engines),
    and the diff cost is ONE co-partitioned join: at scale both
    snapshots are bucketed on the key and the exchange disappears,
    which is why CDC pipelines bucket their silver tables."""
    keys = list(key_cols)
    if not keys or not tracked_cols:
        raise ValueError("snapshot_diff needs at least one key and one tracked column")
    o = old.select(*keys, *tracked_cols).alias("o")
    n = new.select(*keys, *tracked_cols).alias("n")
    cond = F.lit(True)
    for k in keys:
        cond = cond & (F.col(f"o.{k}") == F.col(f"n.{k}"))

    def row_hash(side: str) -> Column:
        return F.md5(
            F.concat_ws(
                "|", *[F.col(f"{side}.{c}").cast("string") for c in tracked_cols]
            )
        )

    change = (
        F.when(F.col(f"o.{keys[0]}").isNull(), "insert")
        .when(F.col(f"n.{keys[0]}").isNull(), "delete")
        .when(row_hash("o") != row_hash("n"), "update")
        .otherwise("unchanged")
    )
    return (
        o.join(n, cond, "full_outer")
        .select(
            *[
                F.coalesce(F.col(f"o.{k}"), F.col(f"n.{k}")).alias(k)
                for k in keys
            ],
            change.alias("change_type"),
        )
        .filter(F.col("change_type") != "unchanged")
    )


def connected_components(
    pairs: DataFrame, a_col: str = "u", b_col: str = "v"
) -> DataFrame:
    """Connected components over any undirected pair relation
    (orientation and duplicates irrelevant) — the grouping step a dedup
    pipeline needs after pair generation: A~B and B~C must collapse
    {A,B,C} even when A~C was never emitted. Runs the alternating
    large-star/small-star algorithm (O(log n) rounds on any graph shape,
    including high-diameter paths where min-label propagation needs
    O(diameter) rounds); per round the only driver-side value is the
    convergence count. Columns: (node, component_id) where component_id
    is the component's minimum node id; only nodes appearing in a pair
    are returned — see ``keep_one_per_cluster`` for singleton
    completion over a full relation."""
    from dicebox_sensorybatchprocessor_spark.llm.dedup import _connected_components

    edges = pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
    labels, _rounds = _connected_components(edges)
    return labels.select(
        F.col("u").alias("node"), F.col("label").alias("component_id")
    )


def _reject_column_collisions(df: DataFrame, reserved: tuple[str, ...], op: str) -> None:
    """The survivorship/cap faces ADD columns via withColumn, which
    silently REPLACES an existing column of the same name — turning a
    user relation that already carries e.g. a 'keep' flag into wrong
    answers with no error. Fail loudly instead."""
    clash = [c for c in reserved if c in df.columns]
    if clash:
        raise ValueError(
            f"{op}: input already has column(s) {clash}; rename them — "
            f"these names are produced by the operator"
        )


def keep_one_per_cluster(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    pair_cols: tuple[str, str] = ("doc_a", "doc_b"),
) -> DataFrame:
    """End of the dedup story (candidates → verify → components →
    survivors): given a relation and its near-dup pair graph, label
    every row with its duplicate cluster and keep exactly one survivor
    per cluster. Rows with no edge are their own singleton cluster; the
    survivor is the deterministic minimum id, so survivorship is
    reproducible under any partitioning. Adds (cluster_id, cluster_size,
    keep) to df's columns. ``id_col`` must be unique (it names the
    cluster); the label relation is edge-node-sized — tiny next to the
    corpus — so the assignment join broadcasts at scale."""
    from pyspark.sql import Window

    _reject_column_collisions(
        df, ("cluster_id", "cluster_size", "keep", "__sbp_comp"), "keep_one_per_cluster"
    )
    labels = connected_components(pairs, *pair_cols)
    lab = labels.select(
        F.col("node").alias(id_col), F.col("component_id").alias("__sbp_comp")
    )
    w = Window.partitionBy("cluster_id")
    return (
        df.join(lab, id_col, "left")
        .withColumn("cluster_id", F.coalesce(F.col("__sbp_comp"), F.col(id_col)))
        .drop("__sbp_comp")
        .withColumn("cluster_size", F.count("*").over(w))
        .withColumn("keep", F.col(id_col) == F.min(id_col).over(w))
    )


def allpairs_verified(
    shingles: DataFrame,
    id_col: str = "doc_id",
    shingle_col: str = "s",
    threshold: float = 0.6,
) -> DataFrame:
    """Exact Jaccard over EVERY pair sharing ≥1 shingle — the
    small-corpus verification leg (and the audit-twin shape): no MinHash
    banding, so recall is exact by construction, at O(Σ_shingle df²)
    pair cost. Correct default only below ``dedup_pipeline``'s
    allpairs_max_docs; at scale the banded leg gates this same verify to
    colliding candidates. Columns match near_dedup_verified: doc_a,
    doc_b, n_common, jaccard."""
    a, b = shingles.alias("a"), shingles.alias("b")
    pairs = (
        a.join(
            b,
            (F.col(f"a.{shingle_col}") == F.col(f"b.{shingle_col}"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"), F.col(f"b.{id_col}").alias("doc_b")
        )
        .agg(F.count("*").alias("n_common"))
    )
    return _jaccard_filter(pairs, shingles, id_col, threshold)


def dedup_route(
    n_docs: int,
    n_distinct_texts: int,
    allpairs_max_docs: int = 2000,
    band_pairs: int | None = None,
    band_edges: int | None = None,
    star_min_pairs: int = 100_000,
    star_blowup: float = 4.0,
) -> str:
    """The dedup_pipeline router (VERDICT r7 #6) as a pure function of
    cheap corpus statistics:

    * exact-duplicate COLLAPSE runs iff n_distinct_texts < n_docs — when
      every text is unique the collapse stages (hash agg + rep semi
      join) are a provable no-op, so they are elided; when duplicates
      exist they are what keeps pair cost scaling with DISTINCT texts;
    * pair VERIFICATION goes all-pairs-exact when the representative
      count is small (≤ allpairs_max_docs — bounded pair budget, exact
      recall, no MinHash overhead) and banded-MinHash past it (linear
      candidate cost — the 100 TB leg);
    * band EMISSION (VERDICT r10 #1) goes STAR when the bucket
      histogram says all-pairs emission blows up: ``band_pairs`` =
      Σ C(c,2) and ``band_edges`` = Σ (c−1) over band buckets of size
      c — the exact pair/edge counts the two emitters would produce.
      Duplicate CLUSTERS growing with the corpus (crawl snapshots,
      template boilerplate) make pairs quadratic in cluster size while
      star stays linear (measured wall exponents 1.24 vs 0.93 at ×10,
      scripts/stress_scale.py); the route flips when pairs exceed both
      an absolute budget (``star_min_pairs`` — below it the exact-recall
      pairs emission is affordable regardless of ratio) and
      ``star_blowup`` × edges (the quadratic-regime signature; near
      1 the two sets coincide and pairs' recall is free).

    Returns one of: 'banded', 'allpairs', 'star', 'collapse+banded',
    'collapse+allpairs', 'collapse+star'."""
    collapse = n_distinct_texts < n_docs
    if n_distinct_texts <= allpairs_max_docs:
        verifier = "allpairs"
    elif (
        band_pairs is not None
        and band_pairs > star_min_pairs
        and band_pairs > star_blowup * max(band_edges or 0, 1)
    ):
        verifier = "star"
    else:
        verifier = "banded"
    return f"collapse+{verifier}" if collapse else verifier


def band_emission_stats(bands_df: DataFrame) -> tuple[int, int]:
    """(Σ C(c,2), Σ (c−1)) over the band-bucket size histogram of a
    (id, b, band_key) relation — the exact all-pairs emission count and
    the star emission's linear unit (the actual star+sorted-neighbor
    emission is ≤ 2× the edges stat; the router's blowup ratio compares
    growth LAWS, so the constant is immaterial). One tiny two-level
    aggregation over the band relation (docs × bands rows); persist the
    relation first when the emission itself will re-read it
    (:func:`dedup_pipeline` does)."""
    r = (
        bands_df.groupBy("b", "band_key")
        .agg(F.count("*").alias("c"))
        .agg(
            F.sum(F.expr("CAST(c * (c - 1) / 2 AS BIGINT)")).alias("pairs"),
            F.sum(F.expr("CAST(c - 1 AS BIGINT)")).alias("edges"),
        )
        .first()
    )
    return int(r["pairs"] or 0), int(r["edges"] or 0)


def _exact_collapse(
    df: DataFrame, text_col: str, id_col: str
) -> tuple[DataFrame, DataFrame]:
    """Shared exact-duplicate collapse pre-stage: sha256 text key →
    min-id representative. Returns (base, rep_df): ``base`` is every
    input row annotated with its representative (``__sbp_rep``), for
    expansion after clustering; ``rep_df`` is the one-row-per-distinct-
    text relation the pair stages run on."""
    ck = df.withColumn("__sbp_ck", F.sha2(F.col(text_col).cast("string"), 256))
    gmin = ck.groupBy("__sbp_ck").agg(F.min(id_col).alias("__sbp_rep"))
    rep_df = df.join(
        gmin.select(F.col("__sbp_rep").alias(id_col)), id_col, "left_semi"
    )
    base = ck.join(gmin, "__sbp_ck")
    return base, rep_df


def _survivors_from_pairs(
    base: DataFrame, pairs: DataFrame, id_col: str
) -> DataFrame:
    """Shared expansion tail: verified pairs → connected components →
    label join back over ``base`` (every input row, keyed by
    ``__sbp_rep``) → (cluster_id, cluster_size, keep). The label
    relation is edge-node-sized — tiny next to the corpus — so the
    assignment join broadcasts at 100 TB while the corpus never
    self-joins."""
    from pyspark.sql import Window

    labels = connected_components(pairs.select("doc_a", "doc_b"), "doc_a", "doc_b")
    lab = labels.select(
        F.col("node").alias("__sbp_rep"), F.col("component_id").alias("__sbp_comp")
    )
    w = Window.partitionBy("cluster_id")
    return (
        base.join(lab, "__sbp_rep", "left")
        .withColumn("cluster_id", F.coalesce(F.col("__sbp_comp"), F.col("__sbp_rep")))
        .drop("__sbp_ck", "__sbp_rep", "__sbp_comp")
        .withColumn("cluster_size", F.count("*").over(w))
        .withColumn("keep", F.col(id_col) == F.min(id_col).over(w))
    )


def dedup_pipeline(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    rows: int = 8,
    bands: int = 4,
    threshold: float = 0.6,
    route: str = "auto",
    corpus_stats: tuple[int, int] | None = None,
    allpairs_max_docs: int = 2000,
    star_min_pairs: int = 100_000,
    star_blowup: float = 4.0,
) -> DataFrame:
    """One-call near-dup deduplication over any raw-text relation — the
    whole story the family's pieces audit separately: EXACT-duplicate
    collapse (sha256 text key → min-id representative) → char k-shingles
    over the representatives only → banded-MinHash candidates (portable
    hash family, linear cost) → exact Jaccard verification gated to
    colliding pairs → connected components → expansion back over every
    row → deterministic min-id survivor. Adds (cluster_id, cluster_size,
    keep) to df's columns; filter ``keep`` for the deduped corpus.

    The exact-collapse pre-stage (round 7) is what makes the pipeline
    survive boilerplate-heavy corpora: pairwise verification costs
    |group|²/2 verified pairs per identical text, so a 100 TB corpus
    where one template appears a million times would otherwise spend
    ~5·10¹¹ pair verifications on literally identical rows. Collapsing
    first makes near-dup cost scale with DISTINCT texts; semantics are
    unchanged because identical texts have Jaccard 1 ≥ any threshold
    (same component) and cross-group Jaccard depends only on the text —
    measured on the ×16-amplified sf0.1 stress: 890 s → the
    representative-sized cost, identical survivor set
    (scripts/stress_curation.py). Remaining cost profile at 100 TB: one
    text-hash aggregation + one key-sized rep join, one shingle
    aggregation over distinct texts, one band equi-join touching only
    collisions, a candidate-gated verify, O(log n) component rounds on
    the (tiny) pair graph, and an edge-node-sized label join — the
    corpus never self-joins. Registered twin: dedup_survivors (oracle =
    recursive-CTE closed form over the exact all-pairs graph, so a
    candidate-recall loss OR a collapse-semantics error would surface
    as an oracle mismatch).

    ROUTING (VERDICT r7 #6, emission stage r11 per VERDICT r10 #1):
    ``route='auto'`` derives the leg composition from cheap statistics
    via :func:`dedup_route`. Stage 1 — (n_docs, exact distinct text
    count), ONE aggregation job, or zero jobs when the caller passes
    ``corpus_stats``: the collapse stages are elided when every text is
    unique (provable no-op), and verification goes all-pairs-exact
    below ``allpairs_max_docs`` representatives (bounded pair budget,
    exact recall — strictly ⊇ the banded candidates) and banded-MinHash
    past it. Stage 2, banded leg only — the band relation is built
    ONCE, persisted (MEMORY_AND_DISK; the ContextCleaner reclaims it
    when the plan is released), and its bucket histogram
    (:func:`band_emission_stats`) decides PAIRS vs STAR emission: when
    Σ C(c,2) exceeds both ``star_min_pairs`` and ``star_blowup`` ×
    Σ (c−1), duplicate clusters are growing with the corpus and
    all-pairs emission is the superlinear term the ×10 scale stress
    measured (wall exponent 1.24 vs star's 0.93) — the star emitter
    bounds it to c−1 edges per bucket at the recall caveat documented
    in :func:`minhash_banded_candidates_star`. Force a leg with route ∈
    {'banded', 'allpairs', 'star', 'collapse+banded',
    'collapse+allpairs', 'collapse+star'} (forced routes never probe or
    persist).

    Short-text caveat (ADVICE r7): texts shorter than ``k`` produce
    ZERO shingles, so the pure pair-graph formulation leaves even
    IDENTICAL short texts as singletons, while the collapse stage
    clusters them. The collapsed behavior is the deliberate contract —
    identical bytes are duplicates regardless of length, and shingle
    blindness below k is a detector limitation, not a semantic — so the
    two formulations are equivalent only for texts ≥ k chars; on forced
    no-collapse routes identical sub-k texts stay singletons."""
    _reject_column_collisions(
        df,
        ("cluster_id", "cluster_size", "keep", "__sbp_ck", "__sbp_rep", "__sbp_comp"),
        "dedup_pipeline",
    )
    valid_routes = (
        "banded",
        "allpairs",
        "star",
        "collapse+banded",
        "collapse+allpairs",
        "collapse+star",
    )
    auto = route == "auto"
    if auto:
        if corpus_stats is None:
            # distinct over an 8-byte text hash, not the text itself: the
            # stat job shuffles 8 bytes/row instead of whole documents. A
            # hash collision can only UNDER-count distinct texts, which
            # only ever turns the (no-op-safe) collapse ON or keeps the
            # verifier on the cheaper all-pairs side of the boundary —
            # never the unsafe direction.
            r = df.agg(
                F.count("*").alias("n"),
                F.count_distinct(F.xxhash64(F.col(text_col))).alias("d"),
            ).first()
            corpus_stats = (r["n"], r["d"])
        route = dedup_route(*corpus_stats, allpairs_max_docs=allpairs_max_docs)
    elif route not in valid_routes:
        raise ValueError(f"route must be 'auto' or one of {valid_routes}, got {route!r}")
    collapse = route.startswith("collapse+")

    if collapse:
        base, rep_df = _exact_collapse(df, text_col, id_col)
    else:
        rep_df = df
        base = df.withColumn("__sbp_rep", F.col(id_col))

    sh = char_shingles(rep_df, text_col=text_col, id_col=id_col, k=k)
    if route.endswith("allpairs"):
        pairs = allpairs_verified(sh, id_col=id_col, threshold=threshold)
    else:
        bands_df = _minhash_band_relation(sh, id_col, "s", rows, bands)
        if auto:
            # emission routing needs the bucket histogram; persist the
            # band relation so the stats job and the emission share ONE
            # computation of shingles + signatures (the ContextCleaner
            # reclaims the cache once the plan is garbage-collected)
            from pyspark.storagelevel import StorageLevel

            bands_df = bands_df.persist(StorageLevel.MEMORY_AND_DISK)
            band_pairs, band_edges = band_emission_stats(bands_df)
            route = dedup_route(
                *corpus_stats,
                allpairs_max_docs=allpairs_max_docs,
                band_pairs=band_pairs,
                band_edges=band_edges,
                star_min_pairs=star_min_pairs,
                star_blowup=star_blowup,
            )
        emit = _star_from_bands if route.endswith("star") else _pairs_from_bands
        pairs = _verify_candidates(emit(bands_df, id_col), sh, id_col, "s", threshold)
    return _survivors_from_pairs(base, pairs, id_col)


# --- similarity-search faces (round 7: df-level knn / ANN candidates
# over the llm/similarity.py cores) ----------------------------------------


def knn_query(
    df: DataFrame,
    query_vec: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Exact k-NN by cosine for ONE query vector over any
    (id, array<float>) relation: the query folds into the plan as a
    literal array and the dot/norm reduce JVM-side (zip_with +
    aggregate) — a pure linear scan with a per-partition top-k
    (TakeOrderedAndProject), the shape that streams over 100 TB with no
    shuffle beyond the k-row driver merge. Columns: id, *extra_cols,
    cosine (descending; ties broken by id)."""
    qvec = [float(x) for x in query_vec]
    qnorm = sum(x * x for x in qvec) ** 0.5
    if qnorm == 0.0:
        raise ValueError("query_vec must be non-zero")
    qarr = F.array(*[F.lit(x) for x in qvec])
    embd = F.transform(vec_col, lambda x: x.cast("double"))
    dot = F.aggregate(
        F.zip_with(embd, qarr, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    norm = F.sqrt(F.aggregate(embd, F.lit(0.0), lambda acc, x: acc + x * x))
    return (
        df.select(
            id_col,
            *extra_cols,
            F.round(dot / (norm * F.lit(qnorm)), 6).alias("cosine"),
        )
        .orderBy(F.col("cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


# knn_join's broadcast-matrix regime bound — the same failure mode and
# budget discipline as cosine_topk's dense index collect.
_KNN_JOIN_BYTE_BUDGET = 256 << 20


def _knn_exact_rank(
    scored: DataFrame, k: int, query_id_col: str, id_col: str
) -> DataFrame:
    """Shared exact-rerank tail of :func:`knn_join` / :func:`knn_join_ann`:
    a candidate relation carrying ``__sbp_qid``, ``__sbp_id``,
    ``__sbp_qraw`` (raw query vector) and ``__sbp_v`` (raw corpus
    vector) is scored with the JVM-fold cosine expression
    (dot(raw,raw)/(|a|·|b|), the emb_label_margin form hash-proved
    cross-engine), stable-rounded to integer microcosine, and ranked
    per query under the (cos_u DESC, id ASC) total order every exact
    leg shares. Candidate-sized by contract — the fold runs interpreted
    (no codegen), so callers must never hand it a corpus-scale cross
    product."""
    from pyspark.sql import Window

    nrm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(F.col(c), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    dot = F.aggregate(
        F.zip_with("__sbp_v", "__sbp_qraw", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos_u = (
        F.floor(dot / (nrm("__sbp_v") * nrm("__sbp_qraw")) * 1_000_000.0 + 0.5)
        .cast("long")
        .alias("__sbp_cu")
    )
    ranked = scored.select("__sbp_qid", "__sbp_id", cos_u)
    w = Window.partitionBy("__sbp_qid").orderBy(
        F.col("__sbp_cu").desc(), F.col("__sbp_id").asc()
    )
    return (
        ranked.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("__sbp_qid").alias(query_id_col),
            F.col("__sbp_id").alias(id_col),
            (F.col("__sbp_cu").cast("double") / F.lit(1_000_000.0)).alias(
                "cosine"
            ),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id_col: str = "qid",
    query_vec_col: str = "embedding",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = False,
) -> DataFrame:
    """Batch exact k-NN JOIN by cosine — the retrieval primitive behind
    batch RAG indexing, embedding-model eval, and ANN recall audits:
    for EVERY row of ``queries``, the top-``k`` rows of ``corpus``
    (r14; :func:`knn_query` is the single-vector special case). Columns:
    query_id, id, cosine (6-dp stable-rounded), rank (1-based; ties at
    equal rounded cosine break by id — the rounded-then-id total order
    every exact leg shares).

    Two routes by the same byte budget as :func:`cosine_topk`:

    * broadcast-matrix (queries fit the budget): the L2-normalized
      query matrix broadcasts and ONE partition-wise BLAS matmul per
      corpus partition SELECTS each query's top-k candidates under the
      (rounded microcosine, id) total order — per-partition selection
      under a total order is a semilattice, so the global top-k is a
      subset of the union exactly; rows tying the boundary score are
      all kept, so numpy-vs-JVM rounding disagreement at .5 boundaries
      cannot evict a true neighbor. Only the surviving
      ~partitions x |Q| x (k+3 + ties) pairs are re-scored with the JVM-fold
      expression (dot(raw,raw)/(|a|·|b|), the emb_label_margin form
      hash-proved cross-engine) — numpy only selects, every returned
      value comes from the proven form. At 100 TB this is the
      broadcast-join regime: one corpus scan total, not one per query.
    * crossJoin fallback (query set beyond the budget): the exact
      JVM-fold score over queries x corpus with the same final window —
      a real distributed shuffle join, identical values, for query sets
      that are themselves corpus-scale.

    Zero-norm rows on EITHER side are excluded (cosine is undefined;
    the quantize_int8/sq8 discipline). ``exclude_self=True`` drops
    pairs with query_id == id for the queries-drawn-from-corpus case
    (self scores cosine 1.0 and would occupy rank 1). Both id columns
    must be integer-typed (the broadcast route ships them as int64).
    """
    import numpy as np

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    spark = queries.sparkSession
    nrm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(F.col(c), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    q = queries.select(
        F.col(query_id_col).alias("__sbp_qid"),
        F.transform(query_vec_col, lambda x: x.cast("double")).alias("__sbp_qraw"),
    ).filter(nrm("__sbp_qraw") > 0.0)
    c = corpus.select(
        F.col(id_col).alias("__sbp_id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("__sbp_v"),
    ).filter(nrm("__sbp_v") > 0.0)

    n_q = q.count()
    dim_row = q.select("__sbp_qraw").first()
    if dim_row is None:
        return spark.createDataFrame(
            [],
            f"{query_id_col} bigint, {id_col} bigint, cosine double, rank int",
        )
    if n_q * len(dim_row[0]) * 8 <= _KNN_JOIN_BYTE_BUDGET:
        rows = q.collect()
        qids = np.array([r["__sbp_qid"] for r in rows], dtype="int64")
        qmat = np.stack([np.array(r["__sbp_qraw"]) for r in rows])
        qunit = qmat / np.linalg.norm(qmat, axis=1, keepdims=True)
        bc = spark.sparkContext.broadcast((qids, qunit, bool(exclude_self), k))

        def part_top(batches):
            import pandas as pd

            b_qids, b_qunit, b_excl, b_k = bc.value
            for batch in batches:
                if batch.empty:
                    continue
                vids = batch["__sbp_id"].to_numpy()
                m = np.stack(batch["__sbp_v"].to_numpy()).astype("float64")
                sims = (m / np.linalg.norm(m, axis=1, keepdims=True)) @ b_qunit.T
                if b_excl:
                    sims[vids[:, None] == b_qids[None, :]] = -np.inf
                r = np.floor(sims * 1_000_000.0 + 0.5)
                # k + 3 margin absorbs the ~1e-9/pair numpy-vs-fold
                # rounding disagreement at a .5 boundary, and EVERY row
                # tying the kk-th selected score is kept (r >= thr), so
                # selection is a proven superset of the exact top-k
                # under the shared total order even when four or more
                # candidates sit on rounding boundaries (ADVICE r14 #2
                # — the old fixed-size slice made the margin a
                # heuristic). One batched argpartition over the whole
                # (rows x queries) score matrix replaces the r14
                # per-query lexsort loop (VERDICT r14 Next #8); a
                # degenerate all-tied corpus keeps every tying row —
                # superset-safe, the rerank re-scores only survivors.
                kk = min(b_k + 3, len(vids))
                part = np.argpartition(-r, kk - 1, axis=0)[:kk, :]
                thr = np.take_along_axis(r, part, axis=0).min(axis=0)
                keep_rows, keep_cols = np.nonzero(r >= thr[None, :])
                yield pd.DataFrame(
                    {
                        "__sbp_qid": b_qids[keep_cols],
                        "__sbp_id": vids[keep_rows],
                    }
                )

        n_c = c.count()
        target = min(spark.sparkContext.defaultParallelism, max(1, n_c // 64))
        probe = c.repartition(target) if c.rdd.getNumPartitions() < target else c
        cand = probe.mapInPandas(part_top, "__sbp_qid long, __sbp_id long")
        if exclude_self:
            # the -inf mask keeps self out of selection, but a partition
            # narrower than the margin can still emit masked rows — and a
            # self pair re-scores to cosine 1.0 in the rerank
            cand = cand.filter(F.col("__sbp_id") != F.col("__sbp_qid"))
        scored = cand.join(c, "__sbp_id").join(F.broadcast(q), "__sbp_qid")
    else:
        scored = c.crossJoin(q)
        if exclude_self:
            scored = scored.filter(F.col("__sbp_id") != F.col("__sbp_qid"))
    return _knn_exact_rank(scored, k, query_id_col, id_col)


def knn_join_ann(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id_col: str = "qid",
    query_vec_col: str = "embedding",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    nprobe: int = 8,
    seed: int = 42,
    exclude_self: bool = False,
    assigned_cells: DataFrame | None = None,
    centers: list[list[float]] | None = None,
) -> DataFrame:
    """IVF-probed APPROXIMATE batch k-NN join (r15, VERDICT r14 Next #1)
    — the indexed rung :func:`knn_join` lacked: for every query row, the
    top-``k`` corpus rows by cosine AMONG the ``nprobe`` IVF cells whose
    centers best match the query (inner-product coarse ranking, the
    :func:`ivf_probe` criterion), exact JVM-fold rerank within the
    probed candidates. Same output schema and total order as knn_join
    (query_id, id, cosine 6-dp, rank) — on queries whose true top-k
    lives inside the probed cells the rows are identical; recall is the
    caller's nprobe dial (measure it with the sim_knn_join_ann /
    sim_ann_recall_sweep discipline, never assume it).

    This is the 100 TB batch-retrieval shape: the corpus is
    cell-partitioned ONCE at ingest (``cell`` as a partition column →
    a probe's cell filter is partition pruning), each query batch
    touches ~nprobe/n_cells of the data through one co-located join on
    ``cell``, and there is NO crossJoin fallback anywhere — a
    corpus-scale query set stays a keyed join, which is exactly the
    regime where knn_join's exact O(|Q|·N) path stops being runnable.
    The per-query probe ranking runs as ONE all-JVM expression over the
    (tiny, ≤ n_cells × dim literal) center array — no join, no Python —
    so query→cells is a map-only projection.

    Pass ``assigned_cells`` (id_col, cell) + ``centers`` to reuse an
    index built at ingest (:func:`ivf_index` / :func:`ivf_save`);
    otherwise a seeded index is built in-call. Zero-norm rows are
    excluded on both sides (cosine undefined — the knn_join contract).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if nprobe < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    if assigned_cells is None or centers is None:
        built, centers = ivf_index(
            corpus, vec_col=vec_col, n_cells=n_cells, seed=seed
        )
        assigned_cells = built.select(id_col, "cell")
    nrm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(F.col(c), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    q = queries.select(
        F.col(query_id_col).alias("__sbp_qid"),
        F.transform(query_vec_col, lambda x: x.cast("double")).alias("__sbp_qraw"),
    ).filter(nrm("__sbp_qraw") > 0.0)
    c = corpus.select(
        F.col(id_col).alias("__sbp_id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("__sbp_v"),
    ).filter(nrm("__sbp_v") > 0.0)

    # per-query probe cells, all-JVM: score every center by raw dot
    # product (positive-scale-equivalent to the q̂·center IP ranking —
    # |q| > 0 after the norm filter), sort (−dot, cell) structs so ties
    # break by smallest cell id exactly like ivf_probe's stable sort,
    # take nprobe, explode. The center list is a plan literal — at
    # n_cells ≤ a few thousand this stays well under plan-size limits.
    centers_lit = F.array(
        *[
            F.array(*[F.lit(float(x)) for x in ctr])
            for ctr in centers
        ]
    )
    scored_cells = F.transform(
        centers_lit,
        lambda ctr, i: F.struct(
            (
                -F.aggregate(
                    F.zip_with(F.col("__sbp_qraw"), ctr, lambda a, b: a * b),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ).alias("nip"),
            i.alias("cell"),
        ),
    )
    probe = F.slice(
        F.transform(F.array_sort(scored_cells), lambda s: s["cell"]),
        1,
        min(nprobe, len(centers)),
    )
    qcells = q.withColumn("cell", F.explode(probe))
    cand = qcells.join(
        assigned_cells.select(F.col(id_col).alias("__sbp_id"), "cell"), "cell"
    ).select("__sbp_qid", "__sbp_qraw", "__sbp_id")
    if exclude_self:
        cand = cand.filter(F.col("__sbp_id") != F.col("__sbp_qid"))
    scored = cand.join(c, "__sbp_id")
    return _knn_exact_rank(scored, k, query_id_col, id_col)


def ann_candidates_lsh(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    radius: float = 8.0,
    bucket_length: float = 2.0,
    num_tables: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Approximate near-neighbor candidate pairs within a euclidean
    radius via seeded BucketedRandomProjection LSH — the linear-cost
    bucket-join path that replaces the O(n²) all-pairs join beyond
    broadcast scale (pairs come only from colliding hash buckets).
    Deterministic under the seed. Columns: id_a, id_b, euclid_dist
    (id_a < id_b). The registered sim_ann_lsh twin wraps this in a
    recall-vs-exact claim the DuckDB oracle asserts."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    e = df.select(
        F.col(id_col).alias("__sbp_id"),
        array_to_vector(F.col(vec_col)).alias("features"),
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=bucket_length,
        numHashTables=num_tables,
        seed=seed,
    )
    model = lsh.fit(e)
    pairs = model.approxSimilarityJoin(e, e, radius, distCol="euclid_dist")
    return (
        pairs.filter(F.col("datasetA.__sbp_id") < F.col("datasetB.__sbp_id"))
        .select(
            F.col("datasetA.__sbp_id").alias("id_a"),
            F.col("datasetB.__sbp_id").alias("id_b"),
            F.round("euclid_dist", 6).alias("euclid_dist"),
        )
    )


def cap_per_group(
    df: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    k: int = 100,
    salt: str = "cap",
) -> DataFrame:
    """Deterministic exact-k per-group cap — the per-source document
    budget of corpus curation (no source may contribute more than k
    rows). Rows rank within their group by a content-keyed md5 order
    and the first k survive. The rank is bit-reproducible under any
    partitioning/rerun; under appends the relative order of existing
    rows is unchanged — new rows can displace old survivors at the cut
    line, but old rows never reshuffle among themselves (a rand()-ranked
    cap re-deals the whole sample every run). Adds a
    ``keep`` flag so callers can audit what the cap dropped. One window
    (= one shuffle on group_col); at 100 TB a skew-heavy group is the
    hazard — the rank is WindowGroupLimit-eligible when callers filter
    ``keep`` through a top-k rewrite, and the md5 order costs one hash
    per row."""
    from pyspark.sql import Window

    _reject_column_collisions(df, ("keep",), "cap_per_group")
    order_key = F.md5(F.concat(F.lit(f"{salt}|"), F.col(id_col).cast("string")))
    w = Window.partitionBy(group_col).orderBy(order_key.asc(), F.col(id_col).asc())
    return df.withColumn("keep", F.row_number().over(w) <= k)


def top_k_per_group(
    df: DataFrame,
    group_cols: tuple[str, ...],
    order_by: list,
    k: int,
    rank_col: str = "rn",
) -> DataFrame:
    """Per-group top-k over any relation — best-k docs per domain by
    quality score, latest-k events per user, the workhorse selection of
    corpus curation. ``order_by`` is a list of Columns (or names) that
    must form a total order within each group for a deterministic
    result (add the id as the last key). Implemented as row_number +
    filter, which Spark 3.5+ rewrites to WindowGroupLimit: each map
    task keeps a k-heap per group BEFORE the shuffle, so the exchange
    carries O(k x groups) rows, not the whole table — this rewrite is
    also why rank-window top-k is skew-immune and must NOT be salted
    (bench.py's win_topk_skew datapoint). Adds ``rank_col`` (1-based
    BIGINT)."""
    from pyspark.sql import Window

    _reject_column_collisions(df, (rank_col,), "top_k_per_group")
    cols = [F.col(c) if isinstance(c, str) else c for c in order_by]
    w = Window.partitionBy(*group_cols).orderBy(*cols)
    return df.withColumn(
        rank_col, F.row_number().over(w).cast("bigint")
    ).filter(F.col(rank_col) <= k)


def quantize_int8(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric per-vector int8 quantization over any (id, array<float>)
    relation: scale = max|v|/127, q_i = clamp(floor(v_i/scale + 0.5),
    ±127) — the 4x embedding-storage compression of a vector lake.
    Entirely JVM higher-order functions (zero Python, zero shuffle: a
    pure map the scan streams through). floor(x + 0.5) instead of
    round() because engines' round() tie-breaks differ; floor is
    IEEE-identical, which is what lets the registered twin hash-check
    the math. Zero vectors (scale 0) are dropped — they have no
    quantization. Columns: id, scale, q (array<int>), max_abs_err; the
    reconstruction bound max_abs_err <= scale/2 is the quantizer's
    guarantee (asserted by the emb_quantize_int8 oracle)."""
    vd = F.expr(f"transform({vec_col}, x -> cast(x as double))")
    scale = F.expr(
        f"aggregate(transform({vec_col}, x -> abs(cast(x as double))), "
        "cast(0.0 as double), (a, x) -> greatest(a, x)) / 127.0"
    )
    with_scale = df.select(
        F.col(id_col), vd.alias("__sbp_v"), scale.alias("scale")
    ).filter(F.col("scale") > 0)
    clamp = (
        "greatest(cast(-127.0 as double), least(cast(127.0 as double), "
        "floor(x / scale + 0.5)))"
    )
    q = F.expr(f"transform(__sbp_v, x -> cast({clamp} as int))")
    err = F.expr(
        f"aggregate(transform(__sbp_v, x -> abs(x - scale * {clamp})), "
        "cast(0.0 as double), (a, x) -> greatest(a, x))"
    )
    return with_scale.select(
        F.col(id_col), F.col("scale"), q.alias("q"), err.alias("max_abs_err")
    )


def profile_drift(
    profile_a: DataFrame,
    profile_b: DataFrame,
    metrics: tuple[str, ...],
    tolerance: float = 0.2,
) -> DataFrame:
    """Batch-over-batch drift gate: compare two single-row ``profile``
    outputs metric-by-metric and flag relative changes beyond
    ``tolerance`` — the promotion check that catches a upstream schema/
    volume break BEFORE a bad batch lands in the lake (row count
    halved, a categorical cardinality exploding, a numeric range
    shifting). The named metrics unpivot via stack (pure projection),
    join on the metric name (five-ish rows — trivially broadcast), and
    the verdict is arithmetic: rel_change = (b - a)/|a| (NULL when a =
    0), within_tolerance = |b - a| <= tolerance*|a|. Cost is the two
    profile scans the caller already paid; this comparison itself
    touches no data. Columns: metric, value_a, value_b, rel_change,
    within_tolerance."""
    if not metrics:
        raise ValueError("metrics must name at least one profile column")

    def melt(p: DataFrame, side: str) -> DataFrame:
        stack_args = ", ".join(f"'{m}', cast({m} as double)" for m in metrics)
        return p.selectExpr(
            f"stack({len(metrics)}, {stack_args}) as (metric, {side})"
        )

    j = melt(profile_a, "value_a").join(melt(profile_b, "value_b"), "metric")
    diff = F.col("value_b") - F.col("value_a")
    return j.select(
        "metric",
        "value_a",
        "value_b",
        stable_round(
            diff / F.expr("nullif(abs(value_a), 0.0)"), 6
        ).alias("rel_change"),
        (F.abs(diff) <= F.lit(tolerance) * F.abs(F.col("value_a"))).alias(
            "within_tolerance"
        ),
    )


def ivf_index(
    df: DataFrame,
    vec_col: str = "embedding",
    n_cells: int = 16,
    seed: int = 42,
) -> tuple[DataFrame, list[list[float]]]:
    """IVF coarse quantizer build — the index half of the non-LSH ANN
    scale path: a seeded KMeans assigns every vector to a cell, returned
    as df + ``cell`` plus the (tiny, driver-side) center list. Built
    ONCE at ingest; at 100 TB ``cell`` is written as a partition column
    so a probe's cell filter becomes partition pruning and a query
    touches ~nprobe/n_cells of the data. Deterministic under the
    seed.

    The quantizer trains on UNIT vectors (r12, closing VERDICT r11's
    weak flag): the search metric downstream is cosine, and clustering
    raw vectors lets magnitude — which cosine ignores — drive cell
    membership, so direction-near neighbors scatter across norm bands.
    Normalizing first makes cells pure direction buckets and makes the
    q̂·center probe ranking (see :func:`ivf_probe`) the provably right
    coarse criterion — the same normalize-then-IP discipline
    :func:`ivfpq_index`/:func:`ivfpq_search` proved in r11 (recall
    2/5 → 5/5 on the buried-cell fixture). Zero-norm rows keep their
    raw (zero) vector — they land in whichever cell argmin picks, and
    cosine scoring ranks them last regardless."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    norm = F.sqrt(
        F.aggregate(
            F.col(vec_col), F.lit(0.0), lambda a, x: a + x.cast("double") * x
        )
    )
    unit = F.transform(
        F.col(vec_col),
        lambda x: x.cast("double") / F.when(norm == 0.0, F.lit(1.0)).otherwise(norm),
    )
    feats = df.withColumn("__sbp_feat", array_to_vector(unit))
    model = KMeans(
        k=n_cells, seed=seed, featuresCol="__sbp_feat", predictionCol="cell"
    ).fit(feats)
    assigned = model.transform(feats).drop("__sbp_feat")
    centers = [[float(x) for x in c] for c in model.clusterCenters()]
    return assigned, centers


def ivf_save(assigned: DataFrame, centers: list[list[float]], path: str) -> None:
    """Persist an IVF index (VERDICT r7 #5) so the ingest-time KMeans
    amortizes across sessions instead of rebuilding per probe: the cell
    assignments land as parquet PARTITIONED BY CELL — which turns a
    probe's ``cell IN (...)`` filter into partition pruning, the exact
    100 TB story ivf_index's docstring promises — and the center list as
    a tiny companion parquet. Layout: ``<path>/assigned/cell=N/...``,
    ``<path>/centers/``."""
    import os

    spark = assigned.sparkSession
    assigned.write.mode("overwrite").partitionBy("cell").parquet(
        os.path.join(path, "assigned")
    )
    centers_df = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centers)],
        "cell int, center array<double>",
    )
    centers_df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "centers")
    )


def ivf_load(spark, path: str) -> tuple[DataFrame, list[list[float]]]:
    """Load a persisted IVF index: (assigned DataFrame with the ``cell``
    partition column, driver-side center list ordered by cell id).
    Probing a loaded index returns results identical to probing the
    just-built one (tests pin this), with the probe's cell filter now
    served by partition pruning."""
    import os

    assigned = spark.read.parquet(os.path.join(path, "assigned"))
    rows = spark.read.parquet(os.path.join(path, "centers")).orderBy("cell").collect()
    centers = [[float(x) for x in r.center] for r in rows]
    if not centers:
        raise ValueError(f"no IVF centers found under {path!r}")
    return assigned, centers


def ivf_probe(
    assigned: DataFrame,
    centers: list[list[float]],
    query_vec: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 8,
    k: int = 5,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """IVF probe: rank the quantizer cells by INNER PRODUCT ``q̂·center``
    (driver-side arithmetic over the tiny center list), scan only the
    ``nprobe`` best, brute-force exact cosine within them
    (api.knn_query). IP — not L2 — is the coarse criterion (r12,
    closing VERDICT r11's weak flag): centers are cell MEANS with
    unequal norms even over a unit-vector-trained quantizer (interior
    points of the sphere), and a low-norm center can be L2-near the
    query while pointing away from it — the exact shape that buried a
    true top-5 neighbor's cell at rank 14/16 in the IVFPQ leg before
    its r11 IP fix (FAISS's METRIC_INNER_PRODUCT draws the same
    distinction). Matches :func:`ivfpq_search`'s ranking. The
    recall/probe trade-off is the caller's dial: nprobe = n_cells
    degrades gracefully to the exact linear scan. Columns: id,
    *extra_cols, cosine."""
    import math as _math

    if nprobe < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    qn = _math.sqrt(sum(float(x) * float(x) for x in query_vec)) or 1.0
    qvec = [float(x) / qn for x in query_vec]
    order = sorted(
        range(len(centers)),
        key=lambda i: -sum(c * q for c, q in zip(centers[i], qvec)),
    )
    probe_cells = order[: min(nprobe, len(centers))]
    return knn_query(
        assigned.filter(F.col("cell").isin(probe_cells)),
        qvec,
        id_col=id_col,
        vec_col=vec_col,
        k=k,
        extra_cols=extra_cols,
    )


def lag_features(
    df: DataFrame,
    partition_cols: tuple[str, ...],
    order_by: tuple[str, ...],
    specs: list[tuple[str, str, int, object]],
) -> DataFrame:
    """Shifted-feature engineering over one window spec — the
    prev/next-event features a sequence model's training table carries:
    each spec is (new_col, src_col, offset, default); positive offset =
    lag (rows before), negative = lead (rows after). Every feature
    shares the SAME partition/order, so Catalyst collapses them into ONE
    Window node over one shuffle + sort regardless of how many columns
    are derived — ask for ten features, pay for one sort. ``order_by``
    must be a total order within each partition for deterministic
    shifts (add a unique id as the last key)."""
    from pyspark.sql import Window

    if not specs:
        raise ValueError("specs must derive at least one feature column")
    _reject_column_collisions(df, tuple(s[0] for s in specs), "lag_features")
    w = Window.partitionBy(*partition_cols).orderBy(*order_by)
    out = df
    for new_col, src, off, default in specs:
        if off == 0:
            raise ValueError(f"{new_col}: offset must be non-zero (got 0)")
        shifted = F.lag(src, off, default) if off > 0 else F.lead(src, -off, default)
        out = out.withColumn(new_col, shifted.over(w))
    return out


def pq_index(
    df,
    vec_col: str = "embedding",
    n_segments: int = 8,
    n_codes: int = 32,
    seed: int = 42,
    id_cols: tuple[str, ...] = (),
    train_rows: int | None = None,
    corpus_n: int | None = None,
):
    """Product-quantization index build — the memory-side ANN scale path
    (IVF shrinks the SEARCH, PQ shrinks the BYTES): vectors are
    L2-normalized (so inner product = cosine), split into
    ``n_segments`` sub-vectors, and each segment gets its own seeded
    KMeans codebook of ``n_codes`` centroids. A vector is then stored
    as ``n_segments`` small codes — for a 64-dim float vector at 8×32
    that is 8 bytes instead of 256, a 32× compression that lets a
    1000-executor cluster hold a trillion-vector index in RAM. Returns
    (df + ``codes`` array column, codebooks[s][j][dim]).

    SAMPLED TRAINING (VERDICT r10 #5): the ×10 scale stress attributed
    pq's whole cost to codebook training — ``n_segments`` KMeans fits,
    each iterating the FULL corpus. ``train_rows`` bounds that: the
    fits see a deterministic md5-keyed sample (content-keyed, so
    partition- and run-invariant — the sampling.py discipline), cached
    once and shared by all segments, while ``.transform`` still ENCODES
    every row. Codebook quality needs a bounded multiple of
    n_codes × n_segments training points, not the corpus (classic IVF/
    PQ practice — FAISS trains on samples for the same reason), so
    training cost stops scaling with the corpus entirely; the recall
    claim stays oracle-checked in the registered twin. Pass
    ``corpus_n`` when the caller already knows the count to skip the
    sizing job; leave ``train_rows=None`` for full-corpus training."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    dim = len(df.select(vec_col).first()[0])
    if dim % n_segments:
        raise ValueError(f"dim {dim} not divisible by {n_segments} segments")
    w = dim // n_segments
    norm = F.sqrt(
        F.aggregate(
            F.col(vec_col), F.lit(0.0), lambda a, x: a + x.cast("double") * x
        )
    )
    unit = F.transform(
        F.col(vec_col),
        lambda x: x.cast("double") / F.when(norm == 0.0, F.lit(1.0)).otherwise(norm),
    )
    out = df.withColumn("__sbp_unit", unit)

    train, cached_train = _unit_train_sample(df, unit, vec_col, train_rows, corpus_n)

    codebooks = []
    try:
        for s in range(n_segments):
            seg = F.slice(F.col("__sbp_unit"), s * w + 1, w)
            out = out.withColumn("__sbp_seg", array_to_vector(seg))
            model = KMeans(
                k=n_codes,
                seed=seed + s,
                featuresCol="__sbp_seg",
                predictionCol=f"__sbp_c{s}",
            ).fit(train.select(array_to_vector(seg).alias("__sbp_seg")))
            out = model.transform(out)
            codebooks.append(
                [[float(x) for x in c] for c in model.clusterCenters()]
            )
    finally:
        if cached_train is not None:
            cached_train.unpersist()  # a raising fit must not leak the cache
    codes = F.array(*[F.col(f"__sbp_c{s}") for s in range(n_segments)])
    keep = [c for c in df.columns if c != vec_col] if id_cols == () else list(id_cols)
    return (
        out.select(*keep, codes.alias("codes")),
        codebooks,
    )


def _unit_train_sample(df, unit, vec_col: str, train_rows: int | None, corpus_n):
    """Shared sampled-training seam of the PQ family (pq_index,
    ivfpq_index): with ``train_rows`` set, a deterministic md5-keyed
    (content-keyed, so partition- and run-invariant — the sampling.py
    discipline) subset of the unit vectors, persisted ONCE so every
    downstream KMeans fit iterates memory instead of re-scanning the
    corpus. Returns (train_df with one '__sbp_unit' column,
    cached_handle-or-None); the caller unpersists after its last fit."""
    train = df.select(unit.alias("__sbp_unit"))
    if train_rows is None:
        return train, None
    n = corpus_n if corpus_n is not None else df.count()
    if n > train_rows:
        ppm = F.pmod(
            md5_prefix_int(F.to_json(F.col(vec_col)), salt="pqtrain"),
            F.lit(1_000_000),
        )
        train = df.filter(ppm < int(train_rows * 1_000_000 / n)).select(
            unit.alias("__sbp_unit")
        )
    cached = train.persist()
    return cached, cached


def pq_topk(
    codes_df,
    codebooks: list,
    query_vec: list,
    k: int = 5,
    id_col: str = "vec_id",
):
    """Asymmetric-distance top-k over a PQ index: the query stays
    full-precision, each segment's dot products against its codebook
    become a tiny lookup table BAKED INTO THE PLAN as array literals
    (n_segments × n_codes floats — broadcast-free, JVM-only), and each
    stored vector's approximate cosine is ``Σ_s LUT_s[code_s]`` — one
    element_at per segment, no vector arithmetic per row at all. The
    final top-k is TakeOrderedAndProject (per-partition heaps), never a
    global sort. This is the query-side economics PQ exists for: score
    cost per candidate is n_segments array lookups on an 8-byte code."""
    import math as _math

    n_segments = len(codebooks)
    w = len(codebooks[0][0])
    qn = _math.sqrt(sum(x * x for x in query_vec)) or 1.0
    q = [x / qn for x in query_vec]
    score = F.lit(0.0)
    for s in range(n_segments):
        qs = q[s * w : (s + 1) * w]
        lut = [
            sum(a * b for a, b in zip(qs, code)) for code in codebooks[s]
        ]
        arr = F.array(*[F.lit(float(v)) for v in lut])
        score = score + F.element_at(arr, F.col("codes")[s] + 1)
    return (
        codes_df.select(id_col, score.alias("pq_cosine"))
        .orderBy(F.col("pq_cosine").desc(), F.col(id_col))
        .limit(k)
    )


def pq_search(
    vectors,
    codes_df,
    codebooks: list,
    query_vec: list,
    k: int = 5,
    shortlist: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
):
    """PQ search as production runs it: the 8-byte-per-vector ADC scan
    shortlists ``shortlist`` candidates (pq_topk — array-lookup cost,
    the full-precision corpus is never touched), then ONLY those rows
    join back to their full vectors for an exact cosine re-rank. At
    100 TB the economics are: stage 1 scans S-byte codes for everything
    (RAM-resident at 32× compression), stage 2 reads shortlist/N of the
    full vectors — the same shrink-then-verify shape as the banded
    dedup and IVF paths. Recall is a tunable of ``shortlist``; the
    registered twin pins it as an oracle-checked claim."""
    cand = pq_topk(codes_df, codebooks, query_vec, k=shortlist, id_col=id_col)
    return _exact_cosine_rerank(vectors, cand, query_vec, k, vec_col, id_col)


def _exact_cosine_rerank(
    vectors, cand, query_vec: list, k: int, vec_col: str, id_col: str
):
    """Shared verify tail of every shortlist-then-rerank ANN composition
    (PQ, IVF-PQ, SQ8): only the candidate ids join back (broadcast — the
    shortlist is tiny by contract) to their full-precision vectors for
    an exact cosine, final top-k via TakeOrderedAndProject. Columns:
    id, cosine — rounded to 6 decimals and ordered (cosine DESC, id ASC)
    exactly like :func:`knn_query`, so a full shortlist degrades to the
    IDENTICAL rows the exact scan returns even on rounded ties
    (ADVICE r13 #3)."""
    import math as _math

    qn = _math.sqrt(sum(x * x for x in query_vec)) or 1.0
    qarr = F.array(*[F.lit(float(x) / qn) for x in query_vec])
    nrm = F.sqrt(
        F.aggregate(
            F.col(vec_col), F.lit(0.0), lambda a, x: a + x.cast("double") * x
        )
    )
    cos = (
        F.aggregate(
            F.zip_with(
                F.col(vec_col), qarr, lambda a, b: a.cast("double") * b
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        / nrm
    )
    return (
        vectors.join(F.broadcast(cand.select(id_col)), id_col)
        .select(id_col, F.round(cos, 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


def ivfpq_index(
    df,
    vec_col: str = "embedding",
    n_cells: int = 16,
    n_segments: int = 8,
    n_codes: int = 32,
    seed: int = 42,
    id_cols: tuple[str, ...] = (),
    train_rows: int | None = None,
    corpus_n: int | None = None,
):
    """IVF-PQ composed index (the FAISS IVFPQ shape, r11): the coarse
    quantizer prunes the SEARCH (a ``cell`` column — written as a
    partition column at scale, so probing is partition pruning) and PQ
    shrinks the BYTES — but unlike flat PQ the codes quantize the
    RESIDUAL ``unit − center[cell]``, whose spread is one cell's
    diameter rather than the whole sphere, so the same code budget
    carries more precision exactly where IVF already localized the
    query. Returns (codes_df = id_cols + cell + codes, centers,
    codebooks); score reconstruction is
    ``cos(q, v) ≈ q̂·center[cell] + Σ_s LUT_s[code_s]`` — see
    :func:`ivfpq_search`.

    Training follows :func:`pq_index`'s sampling discipline: with
    ``train_rows`` set, BOTH the coarse KMeans and the per-segment
    residual KMeans fit on one deterministic md5-keyed sample, cached
    once; ``.transform`` still assigns cells and encodes residuals for
    every row. Codebooks are shared across cells (FAISS's default) so
    the index stays n_segments×n_codes small."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    dim = len(df.select(vec_col).first()[0])
    if dim % n_segments:
        raise ValueError(f"dim {dim} not divisible by {n_segments} segments")
    w = dim // n_segments
    norm = F.sqrt(
        F.aggregate(
            F.col(vec_col), F.lit(0.0), lambda a, x: a + x.cast("double") * x
        )
    )
    unit = F.transform(
        F.col(vec_col),
        lambda x: x.cast("double") / F.when(norm == 0.0, F.lit(1.0)).otherwise(norm),
    )
    out = df.withColumn("__sbp_unit", unit)

    train, cached_train = _unit_train_sample(df, unit, vec_col, train_rows, corpus_n)

    try:
        coarse = KMeans(
            k=n_cells, seed=seed, featuresCol="__sbp_feat", predictionCol="cell"
        ).fit(train.select(array_to_vector(F.col("__sbp_unit")).alias("__sbp_feat")))
        centers = [[float(x) for x in c] for c in coarse.clusterCenters()]
        centers_lit = F.array(
            *[F.array(*[F.lit(float(x)) for x in c]) for c in centers]
        )

        def with_residual(rel):
            assigned = coarse.transform(
                rel.withColumn("__sbp_feat", array_to_vector(F.col("__sbp_unit")))
            ).drop("__sbp_feat")
            return assigned.withColumn(
                "__sbp_res",
                F.zip_with(
                    F.col("__sbp_unit"),
                    F.element_at(centers_lit, F.col("cell") + 1),
                    lambda a, b: a - b,
                ),
            )

        out = with_residual(out)
        train_res = with_residual(train).select("__sbp_res")

        codebooks = []
        for s in range(n_segments):
            seg = F.slice(F.col("__sbp_res"), s * w + 1, w)
            out = out.withColumn("__sbp_seg", array_to_vector(seg))
            model = KMeans(
                k=n_codes,
                seed=seed + 1 + s,
                featuresCol="__sbp_seg",
                predictionCol=f"__sbp_c{s}",
            ).fit(train_res.select(array_to_vector(seg).alias("__sbp_seg")))
            out = model.transform(out)
            codebooks.append(
                [[float(x) for x in c] for c in model.clusterCenters()]
            )
    finally:
        if cached_train is not None:
            cached_train.unpersist()  # a raising fit must not leak the cache
    codes = F.array(*[F.col(f"__sbp_c{s}") for s in range(n_segments)])
    keep = [c for c in df.columns if c != vec_col] if id_cols == () else list(id_cols)
    return (
        out.select(*keep, "cell", codes.alias("codes")),
        centers,
        codebooks,
    )


def ivfpq_search(
    vectors,
    codes_df,
    centers: list,
    codebooks: list,
    query_vec: list,
    k: int = 5,
    nprobe: int = 4,
    shortlist: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
):
    """IVF-PQ query: rank cells by INNER PRODUCT ``q̂·center``
    (driver-side arithmetic over the tiny center list) — the correct
    coarse criterion for cosine/IP search over a quantizer trained on
    unit vectors, where centers are cell MEANS with unequal norms: a
    low-norm center can be L2-near the query while pointing away from
    it, and measured on the fixture the L2 ranking buried the one cell
    holding a true top-5 neighbor at position 14 where IP ranks it
    FIRST (FAISS's METRIC_INNER_PRODUCT makes the same distinction) —
    then scan ONLY the ``nprobe`` best cells' CODES — at scale a
    partition-pruned read of nprobe/n_cells of an already-32×-
    compressed index —
    score each candidate as ``q̂·center[cell] + Σ_s LUT_s[code_s]``
    (the per-cell offset and the per-segment residual lookup tables are
    baked into the plan as array literals; one element_at per segment,
    JVM-only), shortlist, then exact-rerank the shortlist against full
    vectors (:func:`_exact_cosine_rerank`). Recall dials: ``nprobe``
    (cells searched) × ``shortlist`` (rerank budget); nprobe=n_cells
    degrades gracefully to flat PQ over the whole corpus. Columns: id,
    cosine."""
    import math as _math

    if nprobe < 1:
        raise ValueError(f"nprobe must be >= 1, got {nprobe}")
    n_segments = len(codebooks)
    w = len(codebooks[0][0])
    qn = _math.sqrt(sum(x * x for x in query_vec)) or 1.0
    q = [x / qn for x in query_vec]
    offsets = [sum(a * b for a, b in zip(q, c)) for c in centers]
    order = sorted(range(len(centers)), key=lambda i: -offsets[i])
    probe_cells = order[: min(nprobe, len(centers))]
    score = F.element_at(
        F.array(*[F.lit(float(v)) for v in offsets]), F.col("cell") + 1
    )
    for s in range(n_segments):
        qs = q[s * w : (s + 1) * w]
        lut = [sum(a * b for a, b in zip(qs, code)) for code in codebooks[s]]
        arr = F.array(*[F.lit(float(v)) for v in lut])
        score = score + F.element_at(arr, F.col("codes")[s] + 1)
    cand = (
        codes_df.filter(F.col("cell").isin(probe_cells))
        .select(id_col, score.alias("pq_cosine"))
        .orderBy(F.col("pq_cosine").desc(), F.col(id_col))
        .limit(shortlist)
    )
    return _exact_cosine_rerank(vectors, cand, query_vec, k, vec_col, id_col)


def ivfpq_save(codes_df, centers: list, codebooks: list, path: str) -> None:
    """Persist an IVF-PQ index so the codebook training amortizes across
    sessions (the ivf_save discipline): the code rows land as parquet
    PARTITIONED BY CELL — a probe's cell filter becomes partition
    pruning, the 100 TB read path — and the two (tiny) quantizer tables
    as companion parquets. Layout: ``<path>/codes/cell=N/...``,
    ``<path>/centers/``, ``<path>/codebooks/``."""
    import os

    spark = codes_df.sparkSession
    codes_df.write.mode("overwrite").partitionBy("cell").parquet(
        os.path.join(path, "codes")
    )
    spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centers)],
        "cell int, center array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(path, "centers"))
    spark.createDataFrame(
        [
            (s, j, [float(x) for x in code])
            for s, book in enumerate(codebooks)
            for j, code in enumerate(book)
        ],
        "s int, j int, center array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(path, "codebooks"))


def ivfpq_load(spark, path: str):
    """Load a persisted IVF-PQ index: (codes_df with the ``cell``
    partition column, centers, codebooks) — probing the loaded index
    returns results identical to probing the just-built one (the
    registered twin claims it), with the probe's cell filter now served
    by partition pruning."""
    import os

    codes_df = spark.read.parquet(os.path.join(path, "codes"))
    centers = [
        [float(x) for x in r.center]
        for r in spark.read.parquet(os.path.join(path, "centers"))
        .orderBy("cell")
        .collect()
    ]
    rows = (
        spark.read.parquet(os.path.join(path, "codebooks"))
        .orderBy("s", "j")
        .collect()
    )
    if not centers or not rows:
        raise ValueError(f"no IVF-PQ quantizers found under {path!r}")
    n_seg = max(r.s for r in rows) + 1
    codebooks = [[] for _ in range(n_seg)]
    for r in rows:
        codebooks[r.s].append([float(x) for x in r.center])
    return codes_df, centers, codebooks


def ivfpq_encode(
    df,
    centers: list,
    codebooks: list,
    vec_col: str = "embedding",
    id_cols: tuple[str, ...] = (),
):
    """Encode NEW rows against FROZEN quantizers — the incremental-
    ingest half of the IVF-PQ story: an appending corpus encodes each
    batch with the persisted centers/codebooks (NO retraining, so codes
    stay comparable across the whole index) and appends the (cell,
    codes) rows; only periodic re-trains touch the quantizers. Cell and
    code assignment replicate KMeans.transform's Euclidean argmin over
    the L2-normalized vector and its residual exactly (tests pin
    encode(corpus) row-identical to ivfpq_index's own codes), computed
    as dense numpy argmins per Arrow batch — the vectorized-linear-
    algebra shape the engine reserves mapInPandas for. Map-only: zero
    shuffle, no driver involvement beyond the (tiny) quantizer
    closures."""
    from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

    keep = [c for c in df.columns if c != vec_col] if id_cols == () else list(id_cols)
    schema = StructType(
        [f for f in df.schema.fields if f.name in keep]
        + [
            StructField("cell", IntegerType()),
            StructField("codes", ArrayType(IntegerType())),
        ]
    )
    n_seg = len(codebooks)
    width = len(codebooks[0][0])
    centers_l = [list(map(float, c)) for c in centers]
    books_l = [[list(map(float, code)) for code in book] for book in codebooks]

    def encode(batches):
        import numpy as np

        C = np.asarray(centers_l)  # n_cells × dim
        B = np.asarray(books_l)  # S × K × w
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf[keep].assign(cell=[], codes=[])
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            nrm = np.linalg.norm(V, axis=1, keepdims=True)
            nrm[nrm == 0.0] = 1.0  # zero-norm rows stay zero (match trainer)
            U = V / nrm
            d2 = ((U[:, None, :] - C[None, :, :]) ** 2).sum(-1)
            cell = d2.argmin(1)
            R = U - C[cell]
            codes = np.empty((len(U), n_seg), dtype="int32")
            for s in range(n_seg):
                seg = R[:, s * width : (s + 1) * width]
                dd = ((seg[:, None, :] - B[s][None, :, :]) ** 2).sum(-1)
                codes[:, s] = dd.argmin(1)
            out = pdf[keep].copy()
            out["cell"] = cell.astype("int32")
            out["codes"] = [[int(x) for x in row] for row in codes]
            yield out

    return df.mapInPandas(encode, schema)


def cdc_stream(
    stream: DataFrame,
    table,
    key_cols: tuple[str, ...],
    op_col: str = "op",
    seq_col: str | None = None,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    n_buckets: int | None = None,
    txn_app_id: str | None = None,
    refresh_views=(),
):
    """Streaming CDC consumer — the third streaming lake sink next to
    :func:`upsert_stream` (keyed replace) and :func:`append_stream`
    (immutable facts): each micro-batch is a slice of a change feed
    (insert/update/delete rows tagged in ``op_col``, ordered by
    ``seq_col``) applied net-effect in ONE atomic commit via
    :func:`lake.merge_apply` — a key whose history within the batch
    ends in delete is absent, deletes route to buckets exactly like
    upserts, and the ``(txn_app_id, batch_id)`` manifest transaction
    (``txn_app_id`` defaults to ``cdc_stream:<checkpoint dir name>``)
    skips replayed batches outright. This is the Debezium-topic →
    lake-table path: per-trigger cost proportional to the batch's key
    spread, never the table. ``refresh_views`` maintains
    mv.MaterializedAgg rollups per commit, so deletes flow through to
    the aggregates incrementally too. The writer, checkpoint and txn
    are :func:`_micro_batch_sink`'s; returns the started
    StreamingQuery."""
    from dicebox_sensorybatchprocessor_spark import lake

    t, keys = _as_table(table), tuple(key_cols)

    def sink(batch_df: DataFrame, txn) -> None:
        lake.merge_apply(
            t, batch_df, keys, op_col=op_col, seq_col=seq_col,
            n_buckets=n_buckets, txn=txn,
        )

    return _micro_batch_sink(
        stream, "cdc_stream", sink, checkpoint_dir, available_now,
        "sbp_ck_api_cdc_", txn_app_id, refresh_views,
    )


def pq_save(codes_df, codebooks: list, path: str) -> None:
    """Persist a PQ index (same amortize-the-ingest story as ivf_save):
    codes as parquet — the 16-bytes-per-vector relation queries scan —
    and the codebooks as a tiny companion parquet. A production layout
    pairs this with ivf_save: IVF cells partition the codes, PQ codes
    compress what remains in each cell."""
    import os

    spark = codes_df.sparkSession
    codes_df.write.mode("overwrite").parquet(os.path.join(path, "codes"))
    rows = [
        (s, j, [float(x) for x in code])
        for s, book in enumerate(codebooks)
        for j, code in enumerate(book)
    ]
    spark.createDataFrame(
        rows, "segment int, code int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(path, "books"))


def pq_load(spark, path: str):
    """(codes_df, codebooks) from :func:`pq_save`'s layout."""
    import os

    codes = spark.read.parquet(os.path.join(path, "codes"))
    rows = spark.read.parquet(os.path.join(path, "books")).collect()
    n_seg = 1 + max(r["segment"] for r in rows)
    n_codes = 1 + max(r["code"] for r in rows)
    books = [[None] * n_codes for _ in range(n_seg)]
    for r in rows:
        books[r["segment"]][r["code"]] = [float(x) for x in r["centroid"]]
    return codes, books


# --- bounded-candidate near-dup (round 10: the ×10 scale-stress answer) ----


def minhash_banded_candidates_star(
    shingles: DataFrame,
    id_col: str = "doc_id",
    shingle_col: str = "s",
    rows: int = 8,
    bands: int = 4,
) -> DataFrame:
    """Banded-MinHash candidates with BOUNDED per-bucket fan-out: instead
    of the all-pairs self-join (:func:`minhash_banded_candidates` emits
    C(c,2) pairs for a band bucket of c docs — the one quadratic term
    the ×10 scale stress surfaced: duplicate clusters growing with the
    corpus made candidate pairs grow ~100× for 10× docs), buckets past
    the 32-doc cap emit STAR edges to their min-id representative PLUS
    SORTED-NEIGHBOR edges between adjacent members in band-rotated
    signature order, ≤ 2(c−1) edges each, while sub-cap buckets emit
    exact all-pairs (≤ C(32,2) — constant-bounded): O(corpus) total.

    Connectivity contract (r12, VERDICT r11 #2 — survivor equality to
    all-pairs is now EXACT on every probe): the r11 sf0.1 sweep
    measured the star-alone gap (27/5000 docs lost 2–3-doc clusters
    whose loose bucket had a dissimilar min-id rep); sorted-neighbor
    edges closed that, and r12's two devices — per-band ROTATED sort
    keys (multi-pass sorted-neighborhood: each band emits different
    neighbor edges) and exact emission inside small buckets (where
    every measured divergent doc sat) — closed the residual 1–4/120
    adversarial-chaining gap to 0 across 8 seeds (see
    :func:`_star_from_bands`). The theoretical gap now needs an
    above-cap bucket whose similar pair is non-adjacent in EVERY shared
    band's rotation and rep-unreachable. Columns: doc_a, doc_b,
    n_band_matches (doc_a < doc_b by construction; a strict SUBSET of
    the pairs-mode candidate set — tests/test_api.py pins both
    properties).

    Same band relation as the pairs twin (:func:`_minhash_band_relation`
    — identical hash family, so the two emitters see identical buckets),
    different emission (:func:`_star_from_bands`)."""
    return _star_from_bands(
        _minhash_band_relation(shingles, id_col, shingle_col, rows, bands), id_col
    )


def dedup_survivors_star(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    rows: int = 8,
    bands: int = 4,
    threshold: float = 0.6,
) -> DataFrame:
    """:func:`dedup_pipeline`'s keep-one relation computed on the
    bounded star candidate set — the composition for corpora whose
    duplicate CLUSTERS grow with the corpus (crawl snapshots, template
    boilerplate), where all-pairs candidates are the one superlinear
    term (measured in scripts/stress_scale.py: pairs-mode survivors ran
    wall-exponent ~1.25 at ×10 because candidates grew ~100×; the star
    set grows linearly by construction). Exact-duplicate collapse runs
    first exactly as in dedup_pipeline, so identical texts never reach
    the pair stage at all; the star set then bounds what NEAR-dup
    clusters can cost. Verification is the same candidate-gated exact
    Jaccard as :func:`near_dedup_verified` — only the candidate set is
    smaller. Adds (cluster_id, cluster_size, keep); recall caveat in
    :func:`minhash_banded_candidates_star`.

    Thin forced-route face of :func:`dedup_pipeline` (r11 helper
    extraction — the two compositions share every stage; only the
    emission differs): equivalent to ``route='collapse+star'``, which
    never probes or persists. ``dedup_pipeline(route='auto')`` selects
    this leg itself when the band-bucket histogram shows the all-pairs
    blowup (:func:`dedup_route`)."""
    return dedup_pipeline(
        df,
        text_col=text_col,
        id_col=id_col,
        k=k,
        rows=rows,
        bands=bands,
        threshold=threshold,
        route="collapse+star",
    )


def _shingle_relation(
    df: DataFrame, text_col: str, id_col: str, k: int
) -> tuple[DataFrame, DataFrame]:
    """Map-only shingle emission shared by the batch and incremental
    substring-dedup paths: returns ``(base, shingles)`` where ``base``
    is (id, __sbp_toks, __sbp_n) over non-null-text rows and
    ``shingles`` is (id, __sbp_p, __sbp_h) — one k-token md5 per start
    position, split → sequence → explode → slice, all JVM."""
    toks = F.split(F.col(text_col), " ")
    base = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), toks.alias("__sbp_toks"), F.size(toks).alias("__sbp_n")
    )
    ks = F.when(
        F.col("__sbp_n") >= k,
        F.sequence(F.lit(0).cast("int"), (F.col("__sbp_n") - k).cast("int")),
    ).otherwise(F.array().cast("array<int>"))
    shingles = base.select(
        id_col,
        F.explode(ks).alias("__sbp_p"),
        F.col("__sbp_toks"),
    ).select(
        id_col,
        F.col("__sbp_p").cast("bigint").alias("__sbp_p"),
        F.md5(
            F.concat_ws(" ", F.slice("__sbp_toks", F.col("__sbp_p") + 1, k))
        ).alias("__sbp_h"),
    )
    return base, shingles


def _islands_to_spans(dup_pos: DataFrame, id_col: str, k: int) -> DataFrame:
    """Gap-and-islands merge shared by the batch and incremental paths:
    duplicated start positions (id, __sbp_p, …) → merged maximal spans
    (id, __sbp_isl, __sbp_s, __sbp_e); a new span starts when the gap
    exceeds ``k``."""
    from pyspark.sql import Window

    w_doc = Window.partitionBy(id_col).orderBy("__sbp_p")
    islands = (
        dup_pos.withColumn("__sbp_prev", F.lag("__sbp_p").over(w_doc))
        .withColumn(
            "__sbp_new",
            F.when(
                F.col("__sbp_prev").isNull()
                | (F.col("__sbp_p") > F.col("__sbp_prev") + k),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "__sbp_isl",
            F.sum("__sbp_new").over(
                w_doc.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    return islands.groupBy(id_col, "__sbp_isl").agg(
        F.min("__sbp_p").alias("__sbp_s"),
        (F.max("__sbp_p") + (k - 1)).alias("__sbp_e"),
    )


def _duplicate_span_relation(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    min_count: int,
) -> tuple[DataFrame, DataFrame]:
    """Shared core of :func:`duplicate_spans` / :func:`remove_duplicate_spans`:
    returns ``(base, spans)`` where ``base`` is (id, __sbp_toks, __sbp_n)
    over non-null-text rows and ``spans`` is the merged maximal duplicated
    islands (id, __sbp_isl, __sbp_s, __sbp_e) — map-only shingle emission,
    ONE count-window over the shingle hash, per-doc gap-and-islands merge."""
    from pyspark.sql import Window

    base, shingles = _shingle_relation(df, text_col, id_col, k)
    w_hash = Window.partitionBy("__sbp_h")
    dup_pos = shingles.withColumn("__sbp_c", F.count("*").over(w_hash)).filter(
        F.col("__sbp_c") >= min_count
    )
    return base, _islands_to_spans(dup_pos, id_col, k)


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_count: int = 2,
    max_dup_ratio: float = 0.5,
) -> DataFrame:
    """Substring-level duplicate-span detection (r12) — the
    within-document complement of the doc-level dedup family: find every
    maximal token span of length ≥ ``k`` whose ``k``-token shingles
    recur anywhere in the corpus (``min_count`` total occurrences,
    including within the same document), the exact-substring-dedup
    semantics of Lee et al.'s "Deduplicating Training Data Makes
    Language Models Better" re-expressed as a shingle inverted index
    instead of a suffix array — the suffix array is a single-machine
    data structure; the inverted index is a shuffle.

    Plan shape (three keyed exchanges, nothing all-pairs):
      1. map-only shingle emission — split → sequence → explode →
         slice → md5, all JVM, fan-out = token count;
      2. ONE hash-partitioned window ``count(*) over (partition by
         shingle_hash)`` marks recurring shingles (a groupBy + self-join
         would shuffle the shingle relation twice; the window shuffles
         it once — AQE's skew handling covers boilerplate shingles that
         repeat millions of times);
      3. per-document island merge (gap-and-islands over shingle start
         positions: a new span starts when the gap exceeds ``k``) and
         one groupBy(doc) rollup.

    Output: id, n_tokens, dup_spans, dup_tokens (tokens covered by
    ≥1 recurring shingle), dup_ratio (1e-6-rounded), keep — the gate is
    computed on exact integers (``dup_tokens·2 ≤ n_tokens`` for the
    default 0.5) so the boolean is engine-exact. Documents shorter than
    ``k`` tokens emit no shingles and report zero duplication."""
    from dicebox_sensorybatchprocessor_spark.utils import stable_round

    base, spans = _duplicate_span_relation(df, text_col, id_col, k, min_count)
    per_doc = spans.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("dup_spans"),
        F.sum(F.col("__sbp_e") - F.col("__sbp_s") + 1)
        .cast("bigint")
        .alias("dup_tokens"),
    )
    dup_tokens = F.coalesce(F.col("dup_tokens"), F.lit(0).cast("bigint"))
    # integer keep gate: dup_tokens / n <= max_dup_ratio, cross-multiplied
    # with the ratio as an exact small fraction (1e6 denominator)
    ratio_num = int(round(max_dup_ratio * 1_000_000))
    return (
        base.select(id_col, F.col("__sbp_n").cast("bigint").alias("n_tokens"))
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.coalesce(F.col("dup_spans"), F.lit(0).cast("bigint")).alias(
                "dup_spans"
            ),
            dup_tokens.alias("dup_tokens"),
            stable_round(dup_tokens / F.col("n_tokens"), 6).alias("dup_ratio"),
            (dup_tokens * 1_000_000 <= F.col("n_tokens") * ratio_num).alias(
                "keep"
            ),
        )
    )


def priority_sample(
    df: DataFrame,
    weight_col: str,
    group_col: str = "lang",
    id_col: str = "doc_id",
    k: int = 30,
    salt: str = "pri",
) -> DataFrame:
    """Priority sampling (Duffield–Lund–Thorup, JACM 2007) — the
    weighted without-replacement sampler whose k-item sample supports
    UNBIASED subset-sum estimation: item i draws uniform
    u_i ∈ (0, 1], gets priority q_i = w_i / u_i, the k highest
    priorities survive, and every survivor's estimator weight is
    ``max(w_i, τ)`` with τ = the (k+1)-th priority — Σ estimates over
    any subset are unbiased for the true weighted sum. This is the
    principled form of quality-weighted corpus subsampling
    (temperature_mix reweights sources; this samples individual
    documents proportional-to-weight with an estimator attached).

    Determinism contract: u_i is the md5-uniform ``(h+1)/2^60`` over the
    salted id (the content-keyed device every sampler here uses —
    rerun/partitioning invariant, stable under appends), and the
    priority is computed as ``w · 2^60 / (h+1)`` — w·2^60 is exact in a
    double for any w < 2^10·…·2^52/2^60, then ONE correctly-rounded
    division — so the ranking is bit-identical across engines with no
    ln/pow in sight (the exponential-rank form of weighted sampling
    would cost a libm call whose last ulp differs between engines).

    One shuffle (the per-group window); τ falls out of the same sorted
    run as the rank, so the estimator is free. At 100 TB the hazard is
    a skew-heavy group — same WindowGroupLimit note as cap_per_group."""
    from pyspark.sql import Window

    from dicebox_sensorybatchprocessor_spark.utils import md5_prefix_int

    _reject_column_collisions(df, ("priority", "keep", "est_weight"), "priority_sample")
    h = md5_prefix_int(F.col(id_col).cast("string"), salt=salt)
    pri = (
        F.col(weight_col).cast("double") * F.lit(1152921504606846976.0)
    ) / (h + F.lit(1)).cast("double")
    w_rank = Window.partitionBy(group_col).orderBy(
        F.col("priority").desc(), F.col(id_col).asc()
    )
    w_grp = Window.partitionBy(group_col)
    ranked = df.withColumn("priority", pri).withColumn(
        "__sbp_rn", F.row_number().over(w_rank)
    )
    tau = F.max(
        F.when(F.col("__sbp_rn") == k + 1, F.col("priority"))
    ).over(w_grp)
    return ranked.select(
        id_col,
        group_col,
        weight_col,
        (F.col("__sbp_rn") <= k).alias("keep"),
        F.when(
            F.col("__sbp_rn") <= k,
            F.greatest(
                F.col(weight_col).cast("double"), F.coalesce(tau, F.lit(0.0))
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("est_weight"),
    )


def remove_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """The SCRUB half of exact-substring dedup (:func:`duplicate_spans`
    detects; this rewrites): every token covered by a recurring ≥``k``
    span is removed and the remaining tokens are re-joined in order —
    the transform Lee et al.-style pipelines apply to the corpus before
    training. Returns (id, n_tokens, n_removed, clean_text); a document
    whose every token was duplicated comes back with empty text, not a
    dropped row.

    Plan shape: the span relation costs the same three keyed exchanges
    as detection; the rewrite itself is JVM-side array surgery — the
    per-doc islands are collected to an array (one groupBy, span-count
    sized) and joined back on the id (broadcast while the island
    relation fits the threshold, an ordinary keyed shuffle join beyond
    — both correct; at 100 TB it is the shuffle), and tokens are
    filtered by a higher-order ``filter(... !exists(islands,
    s ≤ i ≤ e))`` inside one codegen'd projection. No explode of the
    token stream, no Python — the document is rewritten in place as an
    array value."""
    base, spans = _duplicate_span_relation(df, text_col, id_col, k, min_count)
    isl = spans.groupBy(id_col).agg(
        F.collect_list(
            F.struct(
                F.col("__sbp_s").alias("s"), F.col("__sbp_e").alias("e")
            )
        ).alias("__sbp_islands")
    )
    empty = F.array().cast("array<struct<s:bigint,e:bigint>>")
    islands = F.coalesce(F.col("__sbp_islands"), empty)
    indexed = F.transform(
        F.col("__sbp_toks"),
        lambda t, i: F.struct(t.alias("t"), i.cast("bigint").alias("i")),
    )
    kept = F.filter(
        indexed,
        lambda x: ~F.exists(
            islands, lambda s: (x["i"] >= s["s"]) & (x["i"] <= s["e"])
        ),
    )
    clean = F.transform(kept, lambda x: x["t"])
    return (
        base.join(isl, id_col, "left")
        .select(
            id_col,
            F.col("__sbp_n").cast("bigint").alias("n_tokens"),
            (F.col("__sbp_n") - F.size(clean)).cast("bigint").alias(
                "n_removed"
            ),
            F.concat_ws(" ", clean).alias("clean_text"),
        )
    )


def sq8_topk(
    df: DataFrame,
    query_vec: list,
    k: int = 5,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scalar-quantized (SQ8) ANN search — the missing search leg over
    :func:`quantize_int8`'s codes (FAISS IndexScalarQuantizer shape):
    the corpus is scanned as int8 codes (4× fewer bytes than float32 —
    at 100 TB the scan is IO-bound, so byte width IS the speedup), each
    candidate scored by the ASYMMETRIC inner product (full-precision
    normalized query against dequantized codes: ``scale · Σ q_i·q̂_i``),
    a ``shortlist``-sized prefix survives via TakeOrderedAndProject,
    and the exact cosine rerank tail shared with the PQ/IVF-PQ legs
    picks the final top-k from full vectors (rounded-then-id ordering,
    identical to :func:`knn_query`). Banked for round-13 registration
    (NOTES backlog #3); semantics pinned by tests now.

    Zero corpus vectors are EXCLUDED from the shortlist by construction
    (:func:`quantize_int8` drops scale==0 rows — a zero vector has no
    quantization and no defined cosine), so the "full shortlist == exact
    scan" degradation holds over the non-zero corpus; callers with
    possible zero embeddings should pre-filter them identically on any
    exact path they compare against (ADVICE r13 #3 documents this
    asymmetry vs :func:`knn_query`, which only guards the QUERY).

    The approximation error per component is bounded by the quantizer's
    guarantee (|v_i − scale·q_i| ≤ scale/2), so the approx score sits
    within ``(scale/2)·Σ|q̂_i|`` of the true inner product — rerank
    absorbs the rest. Plan: one map-only quantize+score projection (all
    JVM higher-order folds), one global top-``shortlist`` heap, one
    broadcast rerank join — no training, no index build, the simplest
    scan-speedup leg in the ANN family."""
    import math as _math

    qn = _math.sqrt(sum(x * x for x in query_vec)) or 1.0
    qarr = F.array(*[F.lit(float(x) / qn) for x in query_vec])
    codes = quantize_int8(df, id_col=id_col, vec_col=vec_col)
    approx = F.col("scale") * F.aggregate(
        F.zip_with(F.col("q"), qarr, lambda a, b: a.cast("double") * b),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    cand = (
        codes.select(F.col(id_col), approx.alias("approx_ip"))
        .orderBy(F.col("approx_ip").desc(), F.col(id_col))
        .limit(shortlist)
    )
    return _exact_cosine_rerank(df, cand, query_vec, k, vec_col, id_col)


def duplicate_spans_incremental(
    batch: DataFrame,
    state: DataFrame | None,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_count: int = 2,
    max_dup_ratio: float = 0.5,
    state_delta: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Incremental substring-span dedup — the O(batch) streaming form of
    :func:`duplicate_spans` (banked for round-13's encode-in-stream
    registration, NOTES backlog #3; same contract family as
    dedup_incremental's fingerprint table and stream_ann_ingest's
    frozen-quantizer encode): arriving documents are flagged against a
    persisted shingle-count ``state`` table, and the batch's own counts
    merge into the returned next state. Returns ``(flagged, new_state)``
    where ``flagged`` has duplicate_spans' exact output schema for the
    BATCH rows and ``new_state`` is (__sbp_h, __sbp_c).

    ``state_delta=True`` narrows ``new_state`` to the keys the batch
    TOUCHED (merged counts for the batch's distinct shingles only) —
    the form a keyed upsert sink wants, because
    :func:`lake.merge_upsert`'s anti-join already preserves unseen
    standing keys: upserting the delta yields the identical final state
    while touching only O(batch) rows/buckets instead of rewriting the
    whole state table every micro-batch (ADVICE r13 #1). The default
    ``False`` keeps the chainable full-state contract (``state =
    new_state`` across in-memory batches).

    Exactness contract (what the r13 oracle will claim): a shingle in an
    arriving document is duplicated iff its count over standing ∪ batch
    is ≥ ``min_count`` — so ``flagged`` equals the one-shot
    ``duplicate_spans(standing ∪ batch)`` RESTRICTED to the batch ids,
    provably, batch by batch. (Retroactive flags on STANDING docs whose
    shingles only now recur are the one-shot recompute's job — the
    incremental contract scores arrivals, exactly; it never rescores
    history. dedup_incremental draws the identical line.)

    Cost shape: the standing corpus is never rescanned — one map-only
    shingle emission over the batch, one batch-side count aggregate,
    one keyed join of the batch's DISTINCT shingle hashes against the
    state table (hash-partitioned; at 100 TB the state table is
    bucketed by hash so the probe is co-located), the same per-doc
    island merge, and a touched-keys count merge whose width is the
    batch's distinct-shingle count (flagging reads ONLY that delta —
    the full-state union is built lazily for the default return and
    never feeds the flagging path)."""
    base, shingles = _shingle_relation(batch, text_col, id_col, k)
    batch_counts = shingles.groupBy("__sbp_h").agg(
        F.count("*").alias("__sbp_cb")
    )
    if state is None:
        delta = batch_counts.select(
            "__sbp_h",
            F.col("__sbp_cb").cast("bigint").alias("__sbp_c"),
        )
        merged = delta
    else:
        standing = state.select("__sbp_h", F.col("__sbp_c").alias("__sbp_cs"))
        delta = batch_counts.join(standing, "__sbp_h", "left").select(
            "__sbp_h",
            (F.col("__sbp_cb") + F.coalesce(F.col("__sbp_cs"), F.lit(0)))
            .cast("bigint")
            .alias("__sbp_c"),
        )
        merged = (
            delta
            if state_delta
            else delta.unionByName(
                state.join(
                    batch_counts.select("__sbp_h"), "__sbp_h", "anti"
                ).select(
                    "__sbp_h",
                    F.col("__sbp_c").cast("bigint").alias("__sbp_c"),
                )
            )
        )
    dup_pos = shingles.join(
        delta.filter(F.col("__sbp_c") >= min_count).select("__sbp_h"),
        "__sbp_h",
    )
    spans = _islands_to_spans(dup_pos, id_col, k)
    per_doc = spans.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("dup_spans"),
        F.sum(F.col("__sbp_e") - F.col("__sbp_s") + 1)
        .cast("bigint")
        .alias("dup_tokens"),
    )
    from dicebox_sensorybatchprocessor_spark.utils import stable_round

    dup_tokens = F.coalesce(F.col("dup_tokens"), F.lit(0).cast("bigint"))
    ratio_num = int(round(max_dup_ratio * 1_000_000))
    flagged = (
        base.select(id_col, F.col("__sbp_n").cast("bigint").alias("n_tokens"))
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            "n_tokens",
            F.coalesce(F.col("dup_spans"), F.lit(0).cast("bigint")).alias(
                "dup_spans"
            ),
            dup_tokens.alias("dup_tokens"),
            stable_round(dup_tokens / F.col("n_tokens"), 6).alias("dup_ratio"),
            (dup_tokens * 1_000_000 <= F.col("n_tokens") * ratio_num).alias(
                "keep"
            ),
        )
    )
    return flagged, merged


def substring_dedup_stream(
    stream: DataFrame,
    results_table,
    state_table,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_count: int = 2,
    max_dup_ratio: float = 0.5,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
    txn_app_id: str | None = None,
):
    """Streaming substring-span dedup — :func:`duplicate_spans_incremental`
    wired through the manifest-commit protocol (banked for round-13's
    registration; stream_ann_ingest is the template): each arriving
    micro-batch is flagged against the persisted shingle-count STATE
    table in O(batch), the flagged rows blind-append to the RESULTS
    table, and the batch's TOUCHED-key merged counts (the
    ``state_delta`` form) upsert back into the state — so the commit
    rewrites only the rows/buckets the batch touched, never the whole
    standing table — each write one atomic manifest commit.

    Crash/replay correctness without version travel, by WRITE ORDER:
    the results append commits FIRST (txn ``<app>:res``), the state
    merge SECOND (txn ``<app>:state``), both exactly-once; ``<app>`` is
    ``txn_app_id`` or ``substring_dedup_stream:<checkpoint dir name>``,
    and the writer and checkpoint are :func:`_micro_batch_sink`'s. A replayed
    batch whose results landed but whose state merge didn't recomputes
    ``flagged`` from the still-pre-batch state (discarded by the
    results txn skip) and re-runs only the state merge; a fully-landed
    batch skips both. The inverse order would be WRONG: state-first
    means a crash between the writes replays the flagging against a
    state that already contains the batch's own shingles, double-
    counting them into the results.

    At 100 TB: the state table is the corpus's distinct-shingle counts
    — bucket it by ``__sbp_h`` (pass a bucketed ManifestTable) so each
    micro-batch's merge rewrites only touched buckets, and compact on
    the maintenance cadence. Returns the started StreamingQuery."""
    from dicebox_sensorybatchprocessor_spark import lake

    t_res, t_state = _as_table(results_table), _as_table(state_table)

    def process(batch_df: DataFrame, txn) -> None:
        app, batch_id = txn
        state_df = (
            t_state.read(batch_df.sparkSession) if t_state.data_files() else None
        )
        flagged, state_upd = duplicate_spans_incremental(
            batch_df,
            state_df,
            text_col=text_col,
            id_col=id_col,
            k=k,
            min_count=min_count,
            max_dup_ratio=max_dup_ratio,
            # only the touched keys go to the upsert: merge_upsert's
            # anti-join preserves unseen standing keys, so the commit
            # rewrites O(batch) rows/buckets, not the whole state table
            # (ADVICE r13 #1)
            state_delta=True,
        )
        t_res.append(flagged, txn=(f"{app}:res", batch_id))
        lake.merge_upsert(
            t_state, state_upd, ("__sbp_h",), txn=(f"{app}:state", batch_id)
        )

    return _micro_batch_sink(
        stream, "substring_dedup_stream", process, checkpoint_dir,
        available_now, "sbp_ck_substr_", txn_app_id,
    )


def token_budget_allocation(
    df: DataFrame,
    budget_tokens: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Token-budget allocation across sources + greedy deterministic
    selection (r14) — the training-mix budgeter: given a total token
    budget, each group gets a sqrt-proportional share (temperature-2
    mixing on TOKENS, the unit a training run actually spends — compare
    :func:`temperature_mix`, which rebalances row counts by acceptance
    rate), and documents fill the share in md5(id) order until the next
    doc would overflow it.

    Engine-exact by construction: group token totals are BIGINT sums;
    the sqrt weight is fixed-pointed straight off ONE correctly-rounded
    IEEE op per group (``floor(sqrt(double(T_g)) * 1e6)`` — sqrt is
    exactly rounded on every engine, the multiply is one op, so the
    BIGINT weights agree bit-for-bit cross-engine with no
    order-dependent double summation anywhere); shares are the integer
    quotient ``(budget * w_g) div Σw`` computed in DECIMAL(38,0)
    (HUGEINT on the DuckDB side) because the int64 product
    ``budget * w_g`` would overflow near ~1e9 total corpus tokens
    (w ≈ 1e6·√T, so budget·w ≈ T·1e6·√T crosses 2^63 at T ≈ 7e8) and
    Spark's non-ANSI mode would wrap it SILENTLY into wrong shares
    (ADVICE r14 #1); in 38-digit decimal the product is exact to
    T ≈ 1e18 — the int64 ceiling of the token sums themselves — and
    ``div`` on decimal(38,0) is exact integer division on both engines
    (verified bit-for-bit r15). The greedy cut is an integer
    cumulative-sum window ordered by the content-independent
    (md5(id), id) key. Returns one row per group: n_docs, total_tokens,
    alloc_tokens, docs_selected, tokens_selected.

    Scale shape: one scan + one group agg for totals, a group-count-
    sized broadcast back, one cumulative window partitioned by group
    (the shard key at 100 TB), one final group agg."""
    if budget_tokens < 0:
        raise ValueError(f"budget_tokens must be >= 0, got {budget_tokens}")
    from pyspark.sql import Window

    toks = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("__sbp_id"),
        F.col(group_col).alias("__sbp_g"),
        F.size(F.split(F.col(text_col), " ")).cast("bigint").alias("__sbp_t"),
    )
    totals = toks.groupBy("__sbp_g").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("__sbp_t").alias("total_tokens"),
    )
    w_fp = F.floor(
        F.sqrt(F.col("total_tokens").cast("double")) * F.lit(1_000_000.0)
    ).cast("long")
    weighted = totals.withColumn("__sbp_w", w_fp)
    total_w = weighted.agg(F.sum("__sbp_w").alias("__sbp_tw"))
    alloc = (
        weighted.crossJoin(F.broadcast(total_w))
        .withColumn(
            # Σw >= 1e6 whenever any row survives the non-null filter
            # (split('') is one empty token, so t >= 1 and w >= 1e6):
            # the divisor cannot be 0 on a non-empty relation. The
            # product runs in DECIMAL(38,0): int64 would wrap silently
            # at ~7e8 corpus tokens (see docstring)
            "alloc_tokens",
            F.expr(
                f"CAST((CAST({budget_tokens} AS DECIMAL(38,0)) * __sbp_w)"
                " div CAST(__sbp_tw AS DECIMAL(38,0)) AS BIGINT)"
            ),
        )
        .select("__sbp_g", "n_docs", "total_tokens", "alloc_tokens")
    )
    cum = F.sum("__sbp_t").over(
        Window.partitionBy("__sbp_g")
        .orderBy(F.md5(F.col("__sbp_id").cast("string")), F.col("__sbp_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    picked = (
        toks.withColumn("__sbp_cum", cum)
        .join(F.broadcast(alloc), "__sbp_g")
        .withColumn("__sbp_sel", F.col("__sbp_cum") <= F.col("alloc_tokens"))
    )
    return (
        picked.groupBy("__sbp_g", "n_docs", "total_tokens", "alloc_tokens")
        .agg(
            F.sum(F.when(F.col("__sbp_sel"), 1).otherwise(0))
            .cast("bigint")
            .alias("docs_selected"),
            F.coalesce(
                F.sum(F.when(F.col("__sbp_sel"), F.col("__sbp_t"))), F.lit(0)
            )
            .cast("bigint")
            .alias("tokens_selected"),
        )
        .select(
            F.col("__sbp_g").alias(group_col),
            "n_docs",
            "total_tokens",
            "alloc_tokens",
            "docs_selected",
            "tokens_selected",
        )
    )


def lpa_communities_incremental(
    batch_shingles: DataFrame,
    batch_ids: DataFrame,
    state: dict | None = None,
    rows: int = 8,
    bands: int = 4,
    id_col: str = "doc_id",
    shingle_col: str = "s",
    iterations: int = 3,
) -> tuple[DataFrame, dict]:
    """Incremental near-dup communities (r15, VERDICT r14 Next #3) — the
    appending-corpus form of the dedup_communities pipeline
    (shingle→minhash→bands→candidate edges→fixed-round LPA), O(touched)
    per batch instead of a full corpus recompute. Contract family:
    :func:`duplicate_spans_incremental` / dedup_incremental.

    ``batch_shingles`` is the (id, shingle) relation for NEW documents
    only; ``batch_ids`` enumerates every new id (including docs too
    short to shingle — they still need a singleton label). Batch ids
    must be disjoint from the standing corpus (the dedup_incremental
    append-only line). Returns ``(labels, new_state)`` where ``labels``
    is (doc_id, community) for the WHOLE corpus seen so far and
    ``new_state`` is the dict to pass next batch:

    * ``bands``  — (doc_id, b, band_key): the standing band relation a
      new batch probes (bucket by (b, band_key) at scale → co-located).
    * ``edges``  — SYMMETRIZED candidate edges (src, dst); append-only
      by construction (every new edge touches a new doc).
    * ``labels`` — (doc_id, l1 .. l``iterations``): the per-round label
      HISTORY of the synchronous LPA run on the corpus so far. The
      history is the state that makes incrementality EXACT.

    Exactness contract (the registered oracle proves it end-to-end):
    after each batch, ``labels`` equals the one-shot
    ``label_propagation_fixed(edges(standing ∪ batch), iterations)``
    on the union corpus — not approximately, bit for bit. Why bounded
    work suffices: round-``t`` labels depend only on the ``t``-hop
    neighborhood, so a node at graph distance ``d`` from every new doc
    has ``l_t`` unchanged for all ``t < d`` — the whole run is
    unchanged beyond distance ``iterations``. The batch therefore (1)
    bands only its own docs, (2) finds new edges by probing the
    standing band relation, (3) BFS-expands a frontier ``iterations``
    times (N_t = ids within t hops of the batch), and (4) re-runs
    round ``t`` ONLY on N_t, reading neighbors' round-(t−1) labels as
    coalesce(recomputed on N_{t-1}, standing history) — valid because
    any neighbor outside N_{t-1} is ≥ t hops out and its l_{t-1} is
    provably unchanged. Untouched components never enter any frontier
    and their rows pass through from state verbatim.

    Cost shape per batch: one band-bucket join (new bands × standing
    bands), ``iterations`` frontier-expansion joins and ``iterations``
    (join + count-agg + top-1 window) rounds over edges RESTRICTED to
    the frontier — all O(touched neighborhood), never O(corpus). The
    returned state relations are localCheckpoint'ed so chained batches
    do not stack lineage; at 100 TB each maps to a lake table (edges
    appended, labels merge-upserted on the touched ids only)."""
    from pyspark.sql import Window

    spark = batch_ids.sparkSession
    nb = _minhash_band_relation(
        batch_shingles, id_col, shingle_col, rows, bands
    ).select(F.col(id_col).alias("doc_id"), "b", "band_key")
    new_ids = batch_ids.select(F.col(id_col).alias("doc_id")).distinct()

    empty_edges = spark.createDataFrame([], "src bigint, dst bigint")
    lbl_cols = ", ".join(f"l{t} bigint" for t in range(1, iterations + 1))
    empty_labels = spark.createDataFrame([], f"doc_id bigint, {lbl_cols}")
    st_bands = state["bands"] if state else nb.limit(0)
    st_edges = state["edges"] if state else empty_edges
    st_labels = state["labels"] if state else empty_labels

    all_bands = st_bands.unionByName(nb)
    # every collision involving >= 1 new doc; symmetrize; distinct within
    # the batch's own emission only — state edges cannot repeat here
    # because batch ids are new, so the union below stays append-only
    hit = (
        nb.alias("n")
        .join(
            all_bands.alias("m"),
            (F.col("n.b") == F.col("m.b"))
            & (F.col("n.band_key") == F.col("m.band_key"))
            & (F.col("n.doc_id") != F.col("m.doc_id")),
        )
        .select(F.col("n.doc_id").alias("a"), F.col("m.doc_id").alias("z"))
    )
    new_edges = (
        hit.select(F.col("a").alias("src"), F.col("z").alias("dst"))
        .unionByName(
            hit.select(F.col("z").alias("src"), F.col("a").alias("dst"))
        )
        .distinct()
    )
    edges = st_edges.unionByName(new_edges).localCheckpoint(eager=False)

    # frontier ladder: N_t = ids within t hops of the batch
    frontiers = [new_ids.localCheckpoint(eager=False)]
    for _ in range(iterations):
        prev = frontiers[-1]
        nxt = (
            prev.unionByName(
                edges.join(
                    prev.withColumnRenamed("doc_id", "src"), "src"
                ).select(F.col("dst").alias("doc_id"))
            )
            .distinct()
            .localCheckpoint(eager=False)
        )
        frontiers.append(nxt)

    w = Window.partitionBy("dst").orderBy(
        F.col("__sbp_c").desc(), F.col("__sbp_lbl").asc()
    )
    computed: list[DataFrame] = []  # computed[t-1] = labels on N_t
    for t in range(1, iterations + 1):
        n_t = frontiers[t]
        # neighbors' round-(t-1) label: recomputed where recomputed,
        # standing history otherwise, identity at t=1
        inc = edges.join(
            n_t.withColumnRenamed("doc_id", "dst"), "dst"
        )
        if t == 1:
            inc = inc.withColumn("__sbp_lbl", F.col("src"))
        else:
            comp_prev = computed[-1].select(
                F.col("doc_id").alias("src"),
                F.col(f"l{t - 1}").alias("__sbp_cl"),
            )
            st_prev = st_labels.select(
                F.col("doc_id").alias("src"),
                F.col(f"l{t - 1}").alias("__sbp_sl"),
            )
            inc = (
                inc.join(comp_prev, "src", "left")
                .join(st_prev, "src", "left")
                .withColumn(
                    "__sbp_lbl",
                    F.coalesce(
                        F.col("__sbp_cl"), F.col("__sbp_sl"), F.col("src")
                    ),
                )
            )
        top = (
            inc.groupBy("dst", "__sbp_lbl")
            .agg(F.count("*").alias("__sbp_c"))
            .withColumn("__sbp_rk", F.row_number().over(w))
            .filter(F.col("__sbp_rk") == 1)
            .select(
                F.col("dst").alias("doc_id"),
                F.col("__sbp_lbl").alias("__sbp_new"),
            )
        )
        # keep-previous fallback for frontier nodes with no neighbors
        if t == 1:
            prev_own = n_t.withColumn("__sbp_prev", F.col("doc_id"))
        else:
            prev_own = (
                n_t.join(
                    computed[-1].select(
                        "doc_id", F.col(f"l{t - 1}").alias("__sbp_cp")
                    ),
                    "doc_id",
                    "left",
                )
                .join(
                    st_labels.select(
                        "doc_id", F.col(f"l{t - 1}").alias("__sbp_sp")
                    ),
                    "doc_id",
                    "left",
                )
                .withColumn(
                    "__sbp_prev",
                    F.coalesce(
                        F.col("__sbp_cp"), F.col("__sbp_sp"), F.col("doc_id")
                    ),
                )
            )
        lt = (
            prev_own.join(top, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce(F.col("__sbp_new"), F.col("__sbp_prev")).alias(
                    f"l{t}"
                ),
            )
            .localCheckpoint(eager=False)
        )
        if computed:
            lt = computed[-1].join(lt, "doc_id", "right").select(
                "doc_id",
                *[f"l{u}" for u in range(1, t)],
                f"l{t}",
            )
            # N_{t-1} ⊆ N_t, so the right join keeps every N_t row and
            # carries forward the earlier computed rounds where present
            lt = lt.localCheckpoint(eager=False)
        computed.append(lt)

    # merge the recomputed history over the standing one: touched rows
    # take the recomputed values (recomputed columns are authoritative
    # wherever the frontier reached; earlier rounds of an outer-frontier
    # node fall back to state/identity exactly as the proof permits)
    final_comp = computed[-1]
    all_ids = st_labels.select("doc_id").unionByName(new_ids).distinct()
    merged = (
        all_ids.join(
            final_comp.select(
                "doc_id",
                *[F.col(f"l{t}").alias(f"__sbp_c{t}") for t in range(1, iterations + 1)],
            ),
            "doc_id",
            "left",
        )
        .join(
            st_labels.select(
                "doc_id",
                *[F.col(f"l{t}").alias(f"__sbp_s{t}") for t in range(1, iterations + 1)],
            ),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            *[
                F.coalesce(
                    F.col(f"__sbp_c{t}"),
                    F.col(f"__sbp_s{t}"),
                    F.col("doc_id"),
                ).alias(f"l{t}")
                for t in range(1, iterations + 1)
            ],
        )
        .localCheckpoint(eager=False)
    )
    new_state = {
        "bands": all_bands.localCheckpoint(eager=False),
        "edges": edges,
        "labels": merged,
    }
    labels = merged.select(
        "doc_id", F.col(f"l{iterations}").alias("community")
    )
    return labels, new_state


# semantic_decontaminate broadcasts the BENCHMARK side; bench suites are
# small by contract, but a mis-passed corpus-scale ref must fail loudly
# rather than OOM the driver.
_SEMDECON_REF_BYTE_BUDGET = 256 << 20


def semantic_decontaminate(
    df: DataFrame,
    ref: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ref_id_col: str = "vec_id",
    ref_vec_col: str = "embedding",
    threshold_microcos: int = 500_000,
) -> DataFrame:
    """Embedding-space decontamination (r15) — the semantic counterpart
    to :func:`decontaminate` / the bloom leg's n-gram containment: flag
    every corpus row whose MAX cosine against a (small) benchmark
    embedding set reaches ``threshold_microcos`` (integer microcosine,
    so the gate is engine-exact). Paraphrased eval leakage has no
    8-gram overlap for the n-gram legs to catch — embedding similarity
    is the industry-standard second line. Columns: id, nearest_ref_id
    (ties at equal rounded cosine break by smallest ref id), max_cosine
    (6-dp stable-rounded), contaminated.

    Plan: the reference matrix broadcasts (bench suites are a few
    thousand rows; the byte budget fails loudly on misuse) and ONE
    partition-wise BLAS matmul per corpus partition SELECTS each row's
    argmax candidates — every ref within 2 microcosine of the row max
    is kept, a superset of any numpy-vs-JVM-fold .5-boundary rounding
    disagreement (the knn_join margin discipline) — then only those
    ~1-2 pairs per row are re-scored with the proven JVM-fold
    expression, which produces every hashed value, and the per-row max
    resolves as ONE map-side-combinable hash aggregate — a BIGINT max
    over a packed (cos_u, inverted ref id) encoding, largest cosine
    first and smallest ref id on ties; a struct max would fall back to
    SortAggregate (no window, no sort). At 100 TB this is one corpus scan +
    one doc-keyed shuffle of ~1 pre-combined row per corpus row; the
    corpus vector rides through the Arrow batch so the rerank never
    joins the corpus to itself, and the bench set never leaves the
    broadcast. Zero-norm rows on either side are excluded (cosine
    undefined)."""
    import numpy as np

    spark = df.sparkSession
    nrm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(F.col(c), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    c = df.select(
        F.col(id_col).alias("__sbp_qid"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("__sbp_qraw"),
    ).filter(nrm("__sbp_qraw") > 0.0)
    r = ref.select(
        F.col(ref_id_col).alias("__sbp_id"),
        F.transform(ref_vec_col, lambda x: x.cast("double")).alias("__sbp_v"),
    ).filter(nrm("__sbp_v") > 0.0)

    n_ref = r.count()
    dim_row = r.select("__sbp_v").first()
    if dim_row is None:
        return spark.createDataFrame(
            [],
            f"{id_col} bigint, nearest_ref_id bigint, max_cosine double,"
            " contaminated boolean",
        )
    if n_ref * len(dim_row[0]) * 8 > _SEMDECON_REF_BYTE_BUDGET:
        raise ValueError(
            f"reference set too large to broadcast ({n_ref} x "
            f"{len(dim_row[0])} doubles exceeds "
            f"{_SEMDECON_REF_BYTE_BUDGET >> 20} MiB); decontamination "
            "references are benchmark-sized by contract — for a "
            "corpus-scale reference use knn_join's distributed form"
        )
    rows = r.collect()
    rids = np.array([x["__sbp_id"] for x in rows], dtype="int64")
    if len(rids) and (rids.min() < 0 or rids.max() >= (1 << 41)):
        raise ValueError(
            "reference ids must lie in [0, 2^41) for the packed-max "
            f"tie-break encoding; got [{rids.min()}, {rids.max()}]"
        )
    rmat = np.stack([np.array(x["__sbp_v"]) for x in rows])
    runit = rmat / np.linalg.norm(rmat, axis=1, keepdims=True)
    bc = spark.sparkContext.broadcast((rids, runit))

    def row_argmax(batches):
        import pandas as pd

        b_rids, b_runit = bc.value
        for batch in batches:
            if batch.empty:
                continue
            qids = batch["__sbp_qid"].to_numpy()
            m = np.stack(batch["__sbp_qraw"].to_numpy()).astype("float64")
            sims = (m / np.linalg.norm(m, axis=1, keepdims=True)) @ b_runit.T
            sc = np.floor(sims * 1_000_000.0 + 0.5)
            thr = sc.max(axis=1) - 2.0  # rounding-disagreement margin
            keep_rows, keep_cols = np.nonzero(sc >= thr[:, None])
            # the corpus vector rides along so the rerank needs NO join
            # back to the corpus (a corpus-sized self-join at scale);
            # ~1-2 candidate rows per corpus row, each a small array
            yield pd.DataFrame(
                {
                    "__sbp_qid": qids[keep_rows],
                    "__sbp_qraw": batch["__sbp_qraw"].to_numpy()[keep_rows],
                    "__sbp_id": b_rids[keep_cols],
                }
            )

    cand = c.mapInPandas(
        row_argmax, "__sbp_qid long, __sbp_qraw array<double>, __sbp_id long"
    )
    dot = F.aggregate(
        F.zip_with("__sbp_v", "__sbp_qraw", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos_u = (
        F.floor(dot / (nrm("__sbp_v") * nrm("__sbp_qraw")) * 1_000_000.0 + 0.5)
        .cast("long")
        .alias("__sbp_cu")
    )
    scored = cand.join(F.broadcast(r), "__sbp_id").select(
        "__sbp_qid", "__sbp_id", cos_u
    )
    # per-row max under the (cos_u DESC, ref_id ASC) total order, as ONE
    # hash-aggregable BIGINT max: a struct max would plan as
    # SortAggregate (struct ordering is not hash-aggregable), so the
    # pair packs into (cu + 1e6)·2^41 + (2^41 − 1 − ref_id) — larger
    # cosine wins the high bits, the smaller ref id wins ties in the
    # inverted low bits, and the whole thing stays under 2^63
    # (cu ∈ [−1e6, 1e6]; ref ids < 2^41, checked above on the collected
    # id list). The shuffle carries ~1 map-side pre-combined row per
    # corpus row — no window, no sort.
    pack_base = 1 << 41
    packed = (F.col("__sbp_cu") + F.lit(1_000_000)) * F.lit(pack_base) + (
        F.lit(pack_base - 1) - F.col("__sbp_id")
    )
    best = (
        scored.groupBy("__sbp_qid")
        .agg(F.max(packed).alias("__sbp_p"))
        .select(
            F.col("__sbp_qid").alias(id_col),
            (
                F.lit(pack_base - 1)
                - F.pmod(F.col("__sbp_p"), F.lit(pack_base))
            ).alias("nearest_ref_id"),
            (
                (
                    F.expr(f"__sbp_p div {pack_base}L") - F.lit(1_000_000)
                ).cast("double")
                / F.lit(1_000_000.0)
            ).alias("max_cosine"),
            (
                F.expr(f"__sbp_p div {pack_base}L") - F.lit(1_000_000)
                >= F.lit(int(threshold_microcos))
            ).alias("contaminated"),
        )
    )
    return best
