"""The df-level public API (api.py) must work on a USER's DataFrame with
arbitrary column names — not just the fixture tables — and must be
exactly the code path the registered (oracle-checked) twins run."""

from __future__ import annotations

from pyspark.sql import functions as F

from dicebox_sensorybatchprocessor_spark import api, load
from tests.conftest import SF_ORACLE


def _renamed_docs(spark):
    return (
        load(spark, SF_ORACLE, "documents")
        .select(
            F.col("doc_id").alias("item_id"),
            F.col("text").alias("body"),
        )
    )


def test_quality_signals_custom_columns(spark):
    out = api.quality_signals(_renamed_docs(spark), text_col="body", id_col="item_id")
    assert out.columns == [
        "item_id", "n_tokens", "n_types", "token_entropy", "avg_logprob",
        "top_token_share", "type_token_ratio", "keep",
    ]
    rows = out.collect()
    assert len(rows) == 500
    # identical values to the registered twin (same engine code path)
    twin = {r.doc_id: r.avg_logprob for r in
            __import__("dicebox_sensorybatchprocessor_spark").all_queries()[
                "text_quality_composite"].fn(spark, SF_ORACLE).collect()}
    for r in rows:
        assert twin[r.item_id] == r.avg_logprob


def test_prefix_dedup_custom_columns(spark):
    out = api.prefix_dedup(_renamed_docs(spark), text_col="body", id_col="item_id")
    assert out.columns == ["item_id", "prefix_key", "group_size", "keep"]
    assert out.filter("keep").count() == out.select("prefix_key").distinct().count()


def test_bot_rate_hour_grain(spark):
    ev = load(spark, SF_ORACLE, "events").select(
        F.col("ts").alias("event_time"), F.col("user_id").alias("uid")
    )
    out = api.bot_rate(ev, ts_col="event_time", user_col="uid", grain="hour",
                       peak_threshold=2)
    assert out.columns == [
        "uid", "total_events", "n_active_hours", "peak_per_hour",
        "avg_per_hour", "is_bot",
    ]
    flagged = out.filter("is_bot").count()
    assert 0 < flagged < out.count()


def test_decontaminate_routes_agree(spark):
    docs = _renamed_docs(spark)
    toks = F.split("body", " ")
    ng = docs.select(
        "item_id", F.explode(api.word_ngrams(toks, 3)).alias("g")
    ).distinct()
    bench = ng.filter(F.col("item_id") % 29 == 0).select("g").distinct()
    corpus = ng.filter(F.col("item_id") % 29 != 0)
    a = api.decontaminate(corpus, bench, id_col="item_id", ngram_col="g",
                          via="broadcast")
    b = api.decontaminate(corpus, bench, id_col="item_id", ngram_col="g",
                          via="bloom")
    ra = sorted(map(str, a.collect()))
    rb = sorted(map(str, b.collect()))
    assert ra == rb and len(ra) > 0


def test_near_dedup_verified_custom_columns(spark):
    """The banded→verified dedup path must run on a user relation with
    arbitrary id/shingle column names and find the fixture's known
    near-dup families (nonempty, symmetric-free, ordered pairs)."""
    docs = _renamed_docs(spark)
    sh = api.char_shingles(docs, text_col="body", id_col="item_id")
    assert sh.columns == ["item_id", "s"]
    pairs = api.near_dedup_verified(sh, id_col="item_id")
    rows = pairs.collect()
    assert len(rows) > 0
    for r in rows:
        assert r.doc_a < r.doc_b
        assert r.jaccard >= 0.6
    # candidates from the banded stage must cover every verified pair
    cand = {(r.doc_a, r.doc_b) for r in
            api.minhash_banded_candidates(sh, id_col="item_id").collect()}
    assert {(r.doc_a, r.doc_b) for r in rows} <= cand


def _renamed_events(spark, sf=SF_ORACLE):
    return load(spark, sf, "events").select(
        F.col("event_id").alias("eid"),
        F.col("ts").alias("event_time"),
        F.col("user_id").alias("uid"),
        F.col("event_type").alias("etype"),
    )


def test_sessionize_custom_columns(spark):
    out = api.sessionize(
        _renamed_events(spark), ts_col="event_time", user_col="uid", gap_minutes=30
    )
    assert out.columns == [
        "uid", "session_id", "n_events", "session_start", "session_end",
    ]
    # identical sessions to the registered (oracle-checked) twin
    twin = sorted(
        (r.user_id, r.session_id, r.n_events, r.session_start, r.session_end)
        for r in __import__("dicebox_sensorybatchprocessor_spark").all_queries()[
            "sessionize_batch"].fn(spark, SF_ORACLE).collect()
    )
    got = sorted(
        (r.uid, r.session_id, r.n_events, r.session_start, r.session_end)
        for r in out.collect()
    )
    assert got == twin


def test_retention_cohort_week_grain(spark):
    out = api.retention_cohort(
        _renamed_events(spark), ts_col="event_time", user_col="uid", grain="week"
    )
    assert out.columns == ["cohort_week", "week_offset", "n_users"]
    rows = out.collect()
    assert len(rows) > 0 and all(r.week_offset >= 0 for r in rows)
    # offset-0 cohort sizes sum to the distinct-user count
    n_users = _renamed_events(spark).select("uid").distinct().count()
    assert sum(r.n_users for r in rows if r.week_offset == 0) == n_users


def test_funnel_custom_columns_and_stages(spark):
    ev = _renamed_events(spark)
    out = api.funnel(
        ev, ["view", "purchase"], ts_col="event_time", user_col="uid",
        type_col="etype",
    ).collect()
    assert [r.stage for r in out] == ["view", "purchase"]
    assert out[0].n_users >= out[1].n_users > 0  # funnels only narrow
    # default-stage funnel matches the registered twin exactly
    twin = [(r.stage_order, r.stage, r.n_users) for r in
            __import__("dicebox_sensorybatchprocessor_spark").all_queries()[
                "events_funnel"].fn(spark, SF_ORACLE).collect()]
    got = [(r.stage_order, r.stage, r.n_users) for r in api.funnel(
        ev, ["signup", "view", "purchase"], ts_col="event_time",
        user_col="uid", type_col="etype").collect()]
    assert got == twin


def test_gap_islands_custom_columns(spark):
    ev = _renamed_events(spark)
    out = api.gap_islands(
        ev, ts_col="event_time", user_col="uid", type_col="etype",
        tiebreak_col="eid",
    )
    assert out.columns == ["uid", "etype", "run_start", "run_len"]
    # islands partition the rows: run lengths sum to the row count
    total = out.agg(F.sum("run_len")).first()[0]
    assert total == ev.count()


def test_hash_split_custom_columns_and_weights(spark):
    docs = _renamed_docs(spark)
    out = api.hash_split(docs, id_col="item_id", weights=(("a", 50), ("b", 50)))
    rows = out.groupBy("split").count().collect()
    counts = {r.split: r["count"] for r in rows}
    assert set(counts) == {"a", "b"} and sum(counts.values()) == 500
    # assignment is a pure function of id: repartitioning changes nothing
    again = api.hash_split(
        docs.repartition(13), id_col="item_id", weights=(("a", 50), ("b", 50))
    )
    assert sorted(map(str, again.select("item_id", "split").collect())) == sorted(
        map(str, out.select("item_id", "split").collect())
    )
    import pytest

    with pytest.raises(ValueError, match="weights"):
        api.hash_split(docs, id_col="item_id", weights=(("a", 0),))


def test_stratified_sample_rates(spark):
    docs = load(spark, SF_ORACLE, "documents").select(
        F.col("doc_id").alias("item_id"), F.col("lang").alias("language")
    )
    out = api.stratified_sample(
        docs, id_col="item_id", strata_col="language",
        rates={"en": 1.0, "zh": 0.0}, default_rate=0.3,
    )
    langs = {r.language for r in out.select("language").distinct().collect()}
    assert "zh" not in langs
    n_en = docs.filter("language = 'en'").count()
    assert out.filter("language = 'en'").count() == n_en  # rate 1.0 keeps all


def test_pack_sequences_row_level(spark):
    docs = load(spark, SF_ORACLE, "documents").select(
        F.col("doc_id").alias("item_id"),
        F.col("n_chars").alias("length"),
        F.col("source").alias("shard"),
    )
    out = api.pack_sequences(
        docs, id_col="item_id", len_col="length", partition_col="shard",
        capacity=1000,
    )
    assert out.columns == ["shard", "item_id", "length", "start_off", "bin_id"]
    assert out.count() == docs.count()  # every row assigned
    # bins respect the capacity: a row's start offset sits inside its bin
    bad = out.filter(
        (F.col("start_off") < F.col("bin_id") * 1000)
        | (F.col("start_off") >= (F.col("bin_id") + 1) * 1000)
    ).count()
    assert bad == 0


def test_temperature_mix_rebalances(spark):
    docs = _renamed_docs(spark).withColumn(
        "origin", F.when(F.col("item_id") % 10 < 8, "big").otherwise("small")
    )
    out = api.temperature_mix(
        docs, id_col="item_id", group_col="origin", temperature=2.0,
        accept_c=0.35,
    )
    kept = {r.origin: r.n for r in
            out.filter("keep").groupBy("origin").agg(F.count("*").alias("n")).collect()}
    rates = {r.origin: r.rate for r in
             out.select("origin", "rate").distinct().collect()}
    # low-share group keeps a higher fraction than the high-share group
    assert rates["small"] > rates["big"]
    assert kept["big"] < docs.filter("origin = 'big'").count()


def test_stream_builders_match_batch(spark):
    """replay_stream → windowed_stream → run_stream on a USER relation
    (renamed columns, sf0.001) must equal the identical batch aggregate —
    the §5.2 batch-equivalence check for the df-level stream face."""
    from tests.conftest import SF_SMOKE

    ev = _renamed_events(spark, SF_SMOKE).select("eid", "event_time", "etype")
    stream = api.replay_stream(spark, [ev], name="api_replay_test")
    agg = api.windowed_stream(
        stream, ts_col="event_time", window="1 hour", group_cols=("etype",)
    )
    got = sorted(
        (r.window.start, r.etype, r.n_events)
        for r in api.run_stream(agg, mode="complete", name="api_ws").collect()
    )
    want = sorted(
        (r.win.start, r.etype, r.n_events)
        for r in ev.groupBy(
            F.window("event_time", "1 hour").alias("win"), "etype"
        ).agg(F.count("*").alias("n_events")).collect()
    )
    assert got == want and len(got) > 0


def test_session_stream_matches_batch_sessionize(spark):
    """api.session_stream sessions (start, end−gap=last event) must agree
    with api.sessionize on the same user relation."""
    from tests.conftest import SF_SMOKE

    ev = _renamed_events(spark, SF_SMOKE).select("event_time", "uid")
    stream = api.replay_stream(spark, [ev], name="api_sess_test")
    agg = api.session_stream(
        stream, ts_col="event_time", gap="30 minutes", group_cols=("uid",)
    )
    got = sorted(
        (r.uid, r.session_window.start, r.n_events)
        for r in api.run_stream(agg, mode="complete", name="api_ss").collect()
    )
    want = sorted(
        (r.uid, r.session_start, r.n_events)
        for r in api.sessionize(
            ev, ts_col="event_time", user_col="uid", gap_minutes=30
        ).collect()
    )
    assert got == want and len(got) > 0


def test_decontaminate_duplicate_rows_no_false_negative(spark):
    """ADVICE r5 (medium): duplicate (id, ngram) rows in corpus_ngrams made
    the bloom route count 2k exploded bits per duplicated n-gram and drop
    it from the candidate set — a silent false negative. Both routes must
    now return the distinct-input answer for duplicated input."""
    docs = _renamed_docs(spark)
    toks = F.split("body", " ")
    ng = docs.select(
        "item_id", F.explode(api.word_ngrams(toks, 3)).alias("g")
    ).distinct()
    bench = ng.filter(F.col("item_id") % 29 == 0).select("g").distinct()
    corpus = ng.filter(F.col("item_id") % 29 != 0)
    doubled = corpus.unionAll(corpus)  # the natural explode-caller hazard
    expected = sorted(map(str, api.decontaminate(
        corpus, bench, id_col="item_id", ngram_col="g", via="broadcast"
    ).collect()))
    assert len(expected) > 0
    for via in ("broadcast", "bloom"):
        got = sorted(map(str, api.decontaminate(
            doubled, bench, id_col="item_id", ngram_col="g", via=via
        ).collect()))
        assert got == expected, f"via={via} diverges on duplicated input"


def test_minhash_banded_rejects_uneven_rows(spark):
    """ADVICE r5: rows % bands != 0 silently ignored trailing minhash rows
    (rows=10, bands=4 used only 8) — must now be a ValueError."""
    import pytest

    docs = _renamed_docs(spark)
    sh = api.char_shingles(docs, text_col="body", id_col="item_id")
    with pytest.raises(ValueError, match="multiple of bands"):
        api.minhash_banded_candidates(sh, id_col="item_id", rows=10, bands=4)


def test_cosine_topk_empty_input(spark):
    """ADVICE r5: an empty relation crashed with TypeError on
    first()-returns-None; must return an empty (id_a, id_b, cosine) df."""
    e = load(spark, SF_ORACLE, "embeddings").filter("vec_id < 0").select(
        F.col("vec_id").alias("vid"), F.col("embedding").alias("v")
    )
    out = api.cosine_topk(e, id_col="vid", vec_col="v", k=5)
    assert out.columns == ["id_a", "id_b", "cosine"]
    assert out.count() == 0


def test_cosine_topk_custom_columns_and_k(spark):
    """api.cosine_topk on a renamed embedding relation with k=5 must be a
    prefix of the registered op's top-10 (same exact routing core)."""
    ten = [(r.id_a, r.id_b, r.cosine) for r in
           __import__("dicebox_sensorybatchprocessor_spark").all_queries()[
               "sim_cosine_topk"].fn(spark, SF_ORACLE).collect()]
    e = load(spark, SF_ORACLE, "embeddings").select(
        F.col("vec_id").alias("vid"), F.col("embedding").alias("v")
    )
    five = [(r.id_a, r.id_b, r.cosine) for r in
            api.cosine_topk(e, id_col="vid", vec_col="v", k=5).collect()]
    assert five == ten[:5]


# --- round-7 family: dq / maintenance / cluster survivorship --------------


def test_profile_custom_columns(spark):
    docs = load(spark, SF_ORACLE, "documents").select(
        F.col("doc_id").alias("item_id"),
        F.col("lang").alias("language"),
        F.col("n_chars").alias("length"),
    )
    out = api.profile(
        docs, table_name="docs", key_cols=("item_id",),
        categorical_cols=("language",), numeric_cols=("length",),
    )
    assert out.columns == [
        "table_name", "n_rows", "item_id_nonnull", "item_id_distinct",
        "language_distinct", "length_min", "length_max", "length_negative",
    ]
    r = out.first()
    assert r.table_name == "docs" and r.n_rows == 500
    assert r.item_id_nonnull == 500 and r.item_id_distinct == 500  # unique key
    assert r.length_negative == 0 and r.length_min > 0


def test_fk_violations_name_collision_safe(spark):
    """Child and parent sharing column names must not break the anti
    join, and the violating rows keep the child's full schema."""
    child = spark.createDataFrame(
        [(1, "x"), (2, "y"), (9, "z")], ["k", "payload"]
    )
    parent = spark.createDataFrame([(1, "p"), (2, "q")], ["k", "payload"])
    bad = api.fk_violations(child, parent, "k", "k")
    assert bad.columns == ["k", "payload"]
    assert [(r.k, r.payload) for r in bad.collect()] == [(9, "z")]


def test_check_constraints_report(spark):
    docs = load(spark, SF_ORACLE, "documents")
    out = api.check_constraints(
        [
            ("neg_len", docs.filter("n_chars < 0")),
            ("short", docs.filter("n_chars < 50")),
        ]
    ).collect()
    got = {r.constraint_name: r.n_violations for r in out}
    assert got["neg_len"] == 0
    assert got["short"] == docs.filter("n_chars < 50").count()
    import pytest

    with pytest.raises(ValueError, match="at least one"):
        api.check_constraints([])


def test_snapshot_diff_multi_key(spark):
    old = spark.createDataFrame(
        [("a", 1, "v1", 10.0), ("a", 2, "v1", 20.0), ("b", 1, "v1", 30.0)],
        ["region", "id", "status", "amount"],
    )
    new = spark.createDataFrame(
        [("a", 1, "v1", 10.0),            # unchanged
         ("a", 2, "v2", 20.0),            # update (status changed)
         ("c", 1, "v1", 99.0)],           # insert; ("b",1) deleted
        ["region", "id", "status", "amount"],
    )
    out = api.snapshot_diff(
        old, new, key_cols=("region", "id"), tracked_cols=("status", "amount")
    )
    assert out.columns == ["region", "id", "change_type"]
    got = {(r.region, r.id): r.change_type for r in out.collect()}
    assert got == {("a", 2): "update", ("b", 1): "delete", ("c", 1): "insert"}


def test_connected_components_transitive(spark):
    pairs = spark.createDataFrame(
        [("b", "a"), ("b", "c"), ("d", "e"), ("c", "b")],  # dup + both orders
        ["left_id", "right_id"],
    )
    out = api.connected_components(pairs, "left_id", "right_id")
    got = {r.node: r.component_id for r in out.collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "d": "d", "e": "d"}


def test_keep_one_per_cluster_singletons_and_survivors(spark):
    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in range(1, 7)], ["item_id", "body"]
    )
    pairs = spark.createDataFrame([(2, 3), (3, 4)], ["doc_a", "doc_b"])
    out = api.keep_one_per_cluster(docs, pairs, id_col="item_id")
    assert out.columns == ["item_id", "body", "cluster_id", "cluster_size", "keep"]
    rows = {r.item_id: r for r in out.collect()}
    assert len(rows) == 6  # every row labeled, singletons included
    for i in (2, 3, 4):
        assert rows[i].cluster_id == 2 and rows[i].cluster_size == 3
    for i in (1, 5, 6):
        assert rows[i].cluster_id == i and rows[i].cluster_size == 1 and rows[i].keep
    assert [i for i in (2, 3, 4) if rows[i].keep] == [2]  # min-id survivor
    # survivorship is partitioning-invariant
    again = api.keep_one_per_cluster(docs.repartition(7), pairs, id_col="item_id")
    assert sorted(map(str, again.collect())) == sorted(map(str, out.collect()))


def test_compact_parquet_roundtrip(spark, tmp_path):
    src, dest = str(tmp_path / "frag"), str(tmp_path / "compact")
    docs = load(spark, SF_ORACLE, "documents").select("doc_id", "n_chars")
    docs.repartition(16).write.parquet(src)
    stats = api.compact_parquet(spark, src, dest, target_file_bytes=1 << 30)
    assert stats["n_files_before"] == 16
    assert stats["n_files_after"] == stats["n_output_files_planned"] == 1
    back = spark.read.parquet(dest)
    assert back.count() == 500
    assert (back.agg(F.sum("n_chars")).first()[0]
            == docs.agg(F.sum("n_chars")).first()[0])


def test_temperature_mix_single_source(spark):
    """Hardening (VERDICT r6 #8): a one-group corpus must get the flat
    accept_c rate (w=1 ⇒ denom=1), not a degenerate division."""
    docs = _renamed_docs(spark).withColumn("origin", F.lit("only"))
    out = api.temperature_mix(
        docs, id_col="item_id", group_col="origin", temperature=2.0,
        accept_c=0.35,
    )
    rates = out.select("rate").distinct().collect()
    assert len(rates) == 1 and abs(rates[0].rate - 0.35) < 1e-12
    kept = out.filter("keep").count()
    assert 0 < kept < 500  # the deterministic uniform actually thins


def test_decontaminate_duplicate_heavy_sf01(spark):
    """Hardening (VERDICT r6 #8): the r6 duplicate-input fix must hold on
    the sf0.1 corpus with every (id, ngram) row tripled — volume enough
    that a bloom-side bits_hit==k regression would drop real hits."""
    docs = load(spark, "/root/testdata/sf0.1", "documents")
    toks = F.split("text", " ")
    ng = docs.select(
        "doc_id", F.explode(api.word_ngrams(toks, 3)).alias("g")
    )
    bench = ng.filter(F.col("doc_id") % 97 == 0).select("g").distinct()
    corpus = ng.filter(F.col("doc_id") % 97 != 0)
    tripled = corpus.unionAll(corpus).unionAll(corpus)
    expected = sorted(map(str, api.decontaminate(
        corpus, bench, id_col="doc_id", ngram_col="g", via="broadcast"
    ).collect()))
    assert len(expected) > 0
    for via in ("broadcast", "bloom"):
        got = sorted(map(str, api.decontaminate(
            tripled, bench, id_col="doc_id", ngram_col="g", via=via
        ).collect()))
        assert got == expected, f"via={via} diverges on tripled sf0.1 input"


def test_dedup_pipeline_one_call_matches_twin(spark):
    """api.dedup_pipeline (raw text -> survivors in one call) on a USER
    relation with renamed columns must reproduce the registered
    (oracle-checked) dedup_survivors twin exactly, keep the input's own
    columns, and actually drop near-duplicates."""
    out = api.dedup_pipeline(_renamed_docs(spark), text_col="body", id_col="item_id")
    assert out.columns == ["item_id", "body", "cluster_id", "cluster_size", "keep"]
    got = sorted(
        (r.item_id, r.cluster_id, r.cluster_size, r.keep) for r in out.collect()
    )
    twin = sorted(
        (r.doc_id, r.cluster_id, r.cluster_size, r.keep)
        for r in __import__("dicebox_sensorybatchprocessor_spark").all_queries()[
            "dedup_survivors"].fn(spark, SF_ORACLE).collect()
    )
    assert got == twin
    n_dropped = sum(1 for _, _, _, keep in got if not keep)
    assert n_dropped > 0  # the fixture's dup families collapse


def test_knn_query_custom_columns(spark):
    emb = load(spark, SF_ORACLE, "embeddings").select(
        F.col("vec_id").alias("vid"), F.col("embedding").alias("vec"),
        F.col("label").alias("cls"),
    )
    q = emb.orderBy("vid").first()
    out = api.knn_query(
        emb.filter(F.col("vid") != q.vid), [float(x) for x in q.vec],
        id_col="vid", vec_col="vec", k=5, extra_cols=("cls",),
    )
    assert out.columns == ["vid", "cls", "cosine"]
    rows = out.collect()
    assert len(rows) == 5
    assert rows == sorted(rows, key=lambda r: (-r.cosine, r.vid))
    import pytest

    with pytest.raises(ValueError, match="non-zero"):
        api.knn_query(emb, [0.0] * 64, id_col="vid", vec_col="vec")


def test_ann_candidates_lsh_matches_twin_pairs(spark):
    emb = load(spark, SF_ORACLE, "embeddings").select(
        F.col("vec_id").alias("vid"), F.col("embedding").alias("vec")
    )
    out = api.ann_candidates_lsh(emb, id_col="vid", vec_col="vec", radius=8.0)
    assert out.columns == ["id_a", "id_b", "euclid_dist"]
    rows = out.collect()
    assert len(rows) > 0
    for r in rows:
        assert r.id_a < r.id_b and r.euclid_dist <= 8.0


def test_cap_per_group_exact_k_and_invariance(spark):
    docs = _renamed_docs(spark).withColumn(
        "origin", F.when(F.col("item_id") % 3 == 0, "a").otherwise("b")
    )
    out = api.cap_per_group(docs, group_col="origin", id_col="item_id", k=10)
    kept = out.filter("keep").groupBy("origin").count().collect()
    assert {r.origin: r["count"] for r in kept} == {"a": 10, "b": 10}
    again = api.cap_per_group(
        docs.repartition(11), group_col="origin", id_col="item_id", k=10
    )
    assert sorted(map(str, again.select("item_id", "keep").collect())) == sorted(
        map(str, out.select("item_id", "keep").collect())
    )
    # append-displacement law: old rows never reorder among themselves
    half = docs.filter(F.col("item_id") % 2 == 0)
    kept_half = {r.item_id for r in api.cap_per_group(
        half, group_col="origin", id_col="item_id", k=10).filter("keep").collect()}
    kept_full_evens = {r.item_id for r in out.filter("keep").collect()
                       if r.item_id % 2 == 0}
    # every even survivor of the full corpus also survives the evens-only
    # corpus (removing rows can only promote, never demote)
    assert kept_full_evens <= kept_half


def test_top_k_per_group_matches_twin_and_group_limits(spark):
    o = load(spark, SF_ORACLE, "orders").select(
        F.col("o_custkey").alias("cust"),
        F.col("o_orderkey").alias("okey"),
        F.col("o_totalprice").alias("price"),
    )
    out = api.top_k_per_group(
        o, group_cols=("cust",), order_by=[F.col("price").desc(), F.col("okey")],
        k=3, rank_col="r",
    )
    assert out.columns == ["cust", "okey", "price", "r"]
    per_group = out.groupBy("cust").count().agg(F.max("count")).first()[0]
    assert per_group <= 3
    twin = sorted(
        (r.o_custkey, r.o_orderkey, r.rn)
        for r in __import__("dicebox_sensorybatchprocessor_spark").all_queries()[
            "win_topk_group"].fn(spark, SF_ORACLE).collect()
    )
    got = sorted((r.cust, r.okey, r.r) for r in out.collect())
    assert got == twin


def test_quantize_int8_roundtrip_bound(spark):
    emb = load(spark, SF_ORACLE, "embeddings").select(
        F.col("vec_id").alias("vid"), F.col("embedding").alias("vec")
    )
    out = api.quantize_int8(emb, id_col="vid", vec_col="vec")
    assert out.columns == ["vid", "scale", "q", "max_abs_err"]
    rows = out.collect()
    assert len(rows) > 0
    for r in rows[:50]:
        assert all(-127 <= x <= 127 for x in r.q)
        assert r.max_abs_err <= r.scale * 0.5000001


def test_profile_drift_gate(spark):
    """A fabricated 2x volume shift must fail the tolerance gate while
    identical batches pass it; metric set and arithmetic are
    column-name agnostic."""
    docs = _renamed_docs(spark)
    p_full = api.profile(docs, key_cols=("item_id",))
    p_half = api.profile(docs.filter(F.col("item_id") % 2 == 0), key_cols=("item_id",))
    drift = {r.metric: r for r in api.profile_drift(
        p_full, p_half, metrics=("n_rows", "item_id_distinct"), tolerance=0.2
    ).collect()}
    assert not drift["n_rows"].within_tolerance  # 500 -> ~250 is a breach
    assert drift["n_rows"].rel_change < -0.4
    same = api.profile_drift(p_full, p_full, metrics=("n_rows",)).first()
    assert same.within_tolerance and same.rel_change == 0.0
    import pytest

    with pytest.raises(ValueError, match="at least one"):
        api.profile_drift(p_full, p_half, metrics=())


def test_ivf_index_probe_recall(spark):
    """api.ivf_index + api.ivf_probe on a renamed user relation: probing
    all cells IS the exact scan (graceful degradation), and the
    nprobe=8/16 configuration recovers the pinned fixture recall."""
    emb = load(spark, SF_ORACLE, "embeddings").select(
        F.col("vec_id").alias("vid"), F.col("embedding").alias("vec")
    )
    assigned, centers = api.ivf_index(emb, vec_col="vec", n_cells=16, seed=42)
    assert "cell" in assigned.columns and len(centers) == 16
    q = emb.orderBy("vid").first()
    rest = assigned.filter(F.col("vid") != q.vid)
    qvec = [float(x) for x in q.vec]
    exact = api.knn_query(
        emb.filter(F.col("vid") != q.vid), qvec, id_col="vid", vec_col="vec", k=5
    )
    all_cells = api.ivf_probe(
        rest, centers, qvec, id_col="vid", vec_col="vec", nprobe=16, k=5
    )
    assert [r.vid for r in all_cells.collect()] == [r.vid for r in exact.collect()]
    probed = api.ivf_probe(
        rest, centers, qvec, id_col="vid", vec_col="vec", nprobe=8, k=5
    )
    overlap = {r.vid for r in probed.collect()} & {r.vid for r in exact.collect()}
    assert len(overlap) >= 3  # the sim_ann_ivf margin; measured 5/5


def test_dedup_pipeline_exact_collapse_equivalence(spark):
    """The round-7 exact-collapse pre-stage must be a pure performance
    change: on a duplicate-heavy corpus (every text tripled under fresh
    ids) the collapsed pipeline must produce the identical
    (id, cluster_id, cluster_size, keep) relation as the direct
    all-rows formulation, and each x1 cluster's survivor count must be
    unchanged by the duplication."""
    base = _renamed_docs(spark)
    tripled = base.withColumn(
        "rep", F.explode(F.array(F.lit(0), F.lit(1), F.lit(2)))
    ).select((F.col("item_id") * 3 + F.col("rep")).alias("item_id"), "body")
    fast = api.dedup_pipeline(tripled, text_col="body", id_col="item_id")
    # direct formulation: shingle every row, verify, survive
    sh = api.char_shingles(tripled, text_col="body", id_col="item_id")
    pairs = api.near_dedup_verified(sh, id_col="item_id")
    direct = api.keep_one_per_cluster(
        tripled, pairs.select("doc_a", "doc_b"), id_col="item_id"
    )
    key = lambda r: (r.item_id, r.cluster_id, r.cluster_size, r.keep)  # noqa: E731
    assert sorted(map(key, fast.collect())) == sorted(map(key, direct.collect()))
    # survivor count is amplification-invariant vs the unduplicated base
    n_base = api.dedup_pipeline(base, text_col="body", id_col="item_id").filter(
        "keep"
    ).count()
    assert fast.filter("keep").count() == n_base


def test_reserved_column_collisions_rejected(spark):
    """The survivorship/cap/top-k faces ADD columns via withColumn, which
    silently REPLACES same-named user columns — must be a loud error."""
    import pytest

    docs = _renamed_docs(spark)
    with_keep = docs.withColumn("keep", F.lit(True))
    pairs = spark.createDataFrame([(1, 2)], ["doc_a", "doc_b"])
    with pytest.raises(ValueError, match="keep_one_per_cluster"):
        api.keep_one_per_cluster(with_keep, pairs, id_col="item_id")
    with pytest.raises(ValueError, match="dedup_pipeline"):
        api.dedup_pipeline(with_keep, text_col="body", id_col="item_id")
    with pytest.raises(ValueError, match="cap_per_group"):
        api.cap_per_group(with_keep, group_col="body", id_col="item_id")
    with pytest.raises(ValueError, match="top_k_per_group"):
        api.top_k_per_group(
            docs.withColumn("rn", F.lit(1)), ("body",), ["item_id"], 3
        )
    emb = spark.createDataFrame([(1, [1.0, 0.0])], ["vid", "vec"])
    with pytest.raises(ValueError, match="nprobe"):
        api.ivf_probe(emb.withColumn("cell", F.lit(0)), [[0.0, 0.0]], [1.0, 0.0],
                      id_col="vid", vec_col="vec", nprobe=0)


def test_lag_features_one_window_many_features(spark):
    """N shifted features over one spec must match the registered twin
    exactly AND collapse into a single Window node / single exchange —
    ten features, one sort."""
    ev = _renamed_events(spark)
    out = api.lag_features(
        ev, partition_cols=("uid",), order_by=("event_time",),
        specs=[("prev_v", "eid", 1, -1), ("next_v", "eid", -1, -1),
               ("prev2_v", "eid", 2, -1)],
    )
    assert out.columns == ["eid", "event_time", "uid", "etype",
                           "prev_v", "next_v", "prev2_v"]
    out.collect()
    plan = spark._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    tree = plan.split("== Initial Plan ==")[0]
    assert tree.count("Window") == 1, tree
    assert tree.count("Exchange") == 1, tree
    # twin equality through the registered (oracle-checked) query
    twin = sorted(
        (r.event_id, r.prev_value, r.next_type, r.delta)
        for r in __import__("dicebox_sensorybatchprocessor_spark").all_queries()[
            "win_lag_lead"].fn(spark, SF_ORACLE).collect()
    )
    assert len(twin) == ev.count()
    import pytest

    with pytest.raises(ValueError, match="offset"):
        api.lag_features(ev, ("uid",), ("event_time",), [("x", "eid", 0, None)])
    with pytest.raises(ValueError, match="lag_features"):
        api.lag_features(ev, ("uid",), ("event_time",), [("etype", "eid", 1, None)])


def test_dedup_stream_restores_exactly_once(spark):
    """api.dedup_stream over a USER stream (renamed columns): batch 2
    redelivers a third of batch 1; both the unbounded and the
    within-watermark form must restore exactly-once counts."""
    from tests.conftest import SF_SMOKE

    ev = _renamed_events(spark, SF_SMOKE).select(
        # watermarks require TIMESTAMP (the fixture loads TIMESTAMP_NTZ)
        "eid", F.col("event_time").cast("timestamp").alias("event_time"), "etype"
    )
    redelivered = ev.filter(F.col("eid") % 3 == 0)
    n_clean = ev.count()

    for kwargs, name in (
        ({}, "api_dedup_plain"),
        ({"ts_col": "event_time", "within_watermark": "2 hours"}, "api_dedup_wm"),
    ):
        stream = api.replay_stream(
            spark, [ev, redelivered], name=name, max_files_per_trigger=1
        )
        deduped = api.dedup_stream(stream, ("eid",), **kwargs)
        out = api.run_stream(deduped, mode="append", name=name + "_out")
        assert out.count() == n_clean, name


def test_quarantine_stream_routes_and_repairs(spark, tmp_path):
    """api.quarantine_stream over a USER stream: invalid rows (null label
    or negative amount) land repaired in the dead-letter sink, the rest
    in the dataset sink; nothing is lost or duplicated."""
    rows = [
        (1, "a", 1.0),
        (2, None, 2.0),
        (3, "b", -3.0),
        (4, "b", 4.0),
    ]
    df = spark.createDataFrame(rows, "id int, label string, amount double")
    stream = api.replay_stream(spark, [df], name="api_quar_test")
    ok_dir, bad_dir = str(tmp_path / "ok"), str(tmp_path / "bad")
    invalid = F.col("label").isNull() | (F.col("amount") < 0)
    q = api.quarantine_stream(
        stream,
        invalid,
        ok_dir,
        bad_dir,
        repair=lambda b: b.withColumn("label", F.coalesce("label", F.lit("_x"))),
        checkpoint_dir=str(tmp_path / "ck"),
    )
    q.awaitTermination()
    from dicebox_sensorybatchprocessor_spark import lake

    ok = {r.id for r in lake.ManifestTable(ok_dir).read(spark).collect()}
    bad = {(r.id, r.label) for r in lake.ManifestTable(bad_dir).read(spark).collect()}
    assert ok == {1, 4}
    assert bad == {(2, "_x"), (3, "b")}


def test_upsert_stream_keeps_latest_version(spark, tmp_path):
    """api.upsert_stream over a USER stream through a ManifestTable:
    three single-file micro-batches carry successive versions of keyed
    rows; the final snapshot must be keep-latest-per-key with unseen
    keys surviving, and each batch must have committed one atomic
    version."""
    from dicebox_sensorybatchprocessor_spark import lake

    batches = [
        spark.createDataFrame([(1, "v0"), (2, "v0")], "k int, v string"),
        spark.createDataFrame([(2, "v1"), (3, "v1")], "k int, v string"),
        spark.createDataFrame([(1, "v2")], "k int, v string"),
    ]
    stream = api.replay_stream(
        spark, batches, name="api_upsert_test", max_files_per_trigger=1
    )
    table = lake.ManifestTable(str(tmp_path / "t"))
    q = api.upsert_stream(
        stream, table, ("k",), checkpoint_dir=str(tmp_path / "ck")
    )
    q.awaitTermination()
    got = sorted((r.k, r.v) for r in table.read(spark).collect())
    assert got == [(1, "v2"), (2, "v1"), (3, "v1")]
    assert table.latest_version() == 3


def test_ivf_save_load_probe_identical(spark, tmp_path):
    """Probe over a LOADED IVF index must return results identical to
    probe over the just-built one, and the loaded probe's cell filter
    must be served by partition pruning (the amortize-the-index story
    at scale)."""
    e = load(spark, SF_ORACLE, "embeddings").select("vec_id", "label", "embedding")
    assigned, centers = api.ivf_index(e, vec_col="embedding", n_cells=8, seed=7)
    path = str(tmp_path / "ivf")
    api.ivf_save(assigned, centers, path)
    loaded_assigned, loaded_centers = api.ivf_load(spark, path)
    assert loaded_centers == centers

    qvec = [float(x) for x in e.orderBy("vec_id").first()["embedding"]]

    def probe(a, c):
        return sorted(
            (r.vec_id, r.cosine)
            for r in api.ivf_probe(
                a, c, qvec, id_col="vec_id", vec_col="embedding", nprobe=3, k=5
            ).collect()
        )

    built = probe(assigned, centers)
    loaded = probe(loaded_assigned, loaded_centers)
    assert built == loaded and len(built) == 5

    # the loaded probe's cell IN (...) filter prunes partitions at scan
    order = sorted(
        range(len(loaded_centers)),
        key=lambda i: sum((c - q) ** 2 for c, q in zip(loaded_centers[i], qvec)),
    )
    plan = loaded_assigned.filter(
        F.col("cell").isin(order[:3])
    )._jdf.queryExecution().executedPlan().toString()
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "cell" in m.group(1), plan


def test_dedup_route_decision():
    """The router is a pure function of (n_docs, n_distinct): collapse
    iff duplicates exist, all-pairs iff representatives are few."""
    assert api.dedup_route(500, 500) == "allpairs"
    assert api.dedup_route(1500, 500) == "collapse+allpairs"
    assert api.dedup_route(5000, 5000) == "banded"
    assert api.dedup_route(50000, 5000) == "collapse+banded"
    assert api.dedup_route(500, 500, allpairs_max_docs=100) == "banded"


def test_dedup_route_emission_stage():
    """The r11 emission stage (VERDICT r10 #1): on the banded leg the
    bucket histogram flips pairs→star only when pair emission exceeds
    BOTH the absolute budget and the blowup ratio vs star edges — the
    quadratic-cluster signature the ×10 stress measured at wall
    exponent 1.24 (star: 0.93)."""
    # quadratic-cluster shape: pairs >> edges and past the budget → star
    assert (
        api.dedup_route(50_000, 5_000, band_pairs=6_100_000, band_edges=60_000)
        == "collapse+star"
    )
    assert api.dedup_route(5_000, 5_000, band_pairs=500_000, band_edges=1_000) == "star"
    # under the absolute budget: pairs' exact in-bucket recall is free
    assert (
        api.dedup_route(5_000, 5_000, band_pairs=50_000, band_edges=1_000) == "banded"
    )
    # pairs ≈ edges (no large buckets): ratio gate keeps pairs emission
    assert (
        api.dedup_route(5_000, 5_000, band_pairs=200_000, band_edges=150_000)
        == "banded"
    )
    # emission stats never override the allpairs verifier (its pair
    # budget is already bounded by allpairs_max_docs)
    assert (
        api.dedup_route(500, 500, band_pairs=10_000_000, band_edges=10) == "allpairs"
    )
    # no stats supplied → stage 1 behavior unchanged
    assert api.dedup_route(5_000, 5_000) == "banded"


def test_dedup_pipeline_all_routes_agree(spark):
    """Every forced leg — and auto — must produce the same
    (id, cluster, keep) assignment on the fixture (banded has full
    recall there, so all-pairs adds nothing; collapse is semantics-
    preserving for >= k-char texts). Auto on the duplicated corpus must
    pick the collapse+allpairs leg and still match."""
    base = _renamed_docs(spark)
    dup = base.unionByName(
        base.limit(40).withColumn("item_id", F.col("item_id") + 10_000)
    )

    def clusters(out):
        return sorted((r.item_id, r.cluster_id, r.keep) for r in out.collect())

    want = clusters(
        api.dedup_pipeline(dup, text_col="body", id_col="item_id",
                           route="collapse+banded")
    )
    for route in ("banded", "allpairs", "star", "collapse+allpairs",
                  "collapse+star", "auto"):
        got = clusters(
            api.dedup_pipeline(dup, text_col="body", id_col="item_id", route=route)
        )
        assert got == want, route
    # auto's decision on this corpus: duplicates exist, 500 reps <= 2000
    assert api.dedup_route(dup.count(), 500) == "collapse+allpairs"

    import pytest

    with pytest.raises(ValueError, match="route"):
        api.dedup_pipeline(dup, text_col="body", id_col="item_id", route="bogus")


def test_dedup_pipeline_auto_routes_to_star_on_grown_clusters(spark, monkeypatch):
    """route='auto' must actually take the star emission when the band
    histogram shows the quadratic-cluster blowup (VERDICT r10 #1) — the
    crawl shape: one template, many perturbed copies, each a DISTINCT
    text so collapse cannot absorb it. Asserts (1) the star emitter ran
    and the pairs emitter did not, (2) the survivor relation equals the
    all-pairs composition's on the same corpus."""
    base = (
        "the quick brown fox jumps over the lazy dog and then wanders "
        "through the quiet forest looking for something interesting to eat"
    )
    distinct = [
        "astronomy telescopes gather photons from distant galaxies nightly",
        "the recipe calls for flour butter sugar and a pinch of cinnamon",
        "quarterly revenue grew while operating margins stayed flat again",
    ]
    rows = [(i, f"{base} v{i}") for i in range(40)]
    rows += [(100 + i, t) for i, t in enumerate(distinct)]
    docs = spark.createDataFrame(rows, "doc_id int, text string")

    calls: list[str] = []
    orig_star, orig_pairs = api._star_from_bands, api._pairs_from_bands

    def spy_star(bands_df, id_col):
        calls.append("star")
        return orig_star(bands_df, id_col)

    def spy_pairs(bands_df, id_col):
        calls.append("pairs")
        return orig_pairs(bands_df, id_col)

    monkeypatch.setattr(api, "_star_from_bands", spy_star)
    monkeypatch.setattr(api, "_pairs_from_bands", spy_pairs)

    # allpairs_max_docs=0 forces the banded verifier (43 distinct texts
    # would otherwise go all-pairs); star_min_pairs scaled to the test
    # corpus (real default 100k is crawl-scale). Bucket math: the 40
    # near-dups collide per band → pairs ≈ 4·C(40,2)=3120, star ≈ 4·39.
    out = api.dedup_pipeline(
        docs,
        route="auto",
        allpairs_max_docs=0,
        star_min_pairs=1_000,
    )
    got = sorted((r.doc_id, r.cluster_id, r.cluster_size, r.keep)
                 for r in out.collect())
    assert calls == ["star"], calls
    want = sorted(
        (r.doc_id, r.cluster_id, r.cluster_size, r.keep)
        for r in api.dedup_pipeline(docs, route="banded").collect()
    )
    assert got == want
    # and the pure router agrees on the measured stats
    sh = api.char_shingles(docs, text_col="text", id_col="doc_id", k=8)
    bp, be = api.band_emission_stats(
        api._minhash_band_relation(sh, "doc_id", "s", 8, 4)
    )
    assert bp > 4.0 * be > 0
    assert api.dedup_route(
        43, 43, allpairs_max_docs=0, band_pairs=bp, band_edges=be,
        star_min_pairs=1_000,
    ) == "star"


def test_decontaminate_n_bench_hint_skips_count_job(spark, monkeypatch):
    """Passing n_bench must eliminate the per-call bench.count() driver
    job (VERDICT r7 #7) while returning identical rows."""
    from pyspark.sql import DataFrame

    docs = _renamed_docs(spark)
    toks = F.split("body", " ")
    ng = docs.select(
        "item_id", F.explode(api.word_ngrams(toks, 3)).alias("g")
    ).distinct()
    bench = ng.filter(F.col("item_id") % 29 == 0).select("g").distinct()
    corpus = ng.filter(F.col("item_id") % 29 != 0)
    n_bench = bench.count()

    counts = []
    orig = DataFrame.count

    def spy(self):
        counts.append(1)
        return orig(self)

    monkeypatch.setattr(DataFrame, "count", spy)
    hinted = api.decontaminate(
        corpus, bench, id_col="item_id", ngram_col="g", via="bloom",
        n_bench=n_bench,
    )
    assert counts == []  # plan built with ZERO driver count jobs
    monkeypatch.setattr(DataFrame, "count", orig)

    want = sorted(map(str, api.decontaminate(
        corpus, bench, id_col="item_id", ngram_col="g", via="bloom"
    ).collect()))
    assert sorted(map(str, hinted.collect())) == want and len(want) > 0


def test_decontaminate_auto_route(spark):
    """via='auto' routes on the benchmark n-gram count: broadcast below
    AUTO_BLOOM_MIN_NGRAMS, bloom past it (forced via the n_bench hint —
    the plan gains the bloom probe's hash nodes), with identical rows
    either way."""
    docs = _renamed_docs(spark)
    toks = F.split("body", " ")
    ng = docs.select(
        "item_id", F.explode(api.word_ngrams(toks, 3)).alias("g")
    ).distinct()
    bench = ng.filter(F.col("item_id") % 29 == 0).select("g").distinct()
    corpus = ng.filter(F.col("item_id") % 29 != 0)

    auto_small = api.decontaminate(corpus, bench, id_col="item_id", ngram_col="g",
                                   via="auto")
    auto_big = api.decontaminate(corpus, bench, id_col="item_id", ngram_col="g",
                                 via="auto", n_bench=api.AUTO_BLOOM_MIN_NGRAMS)
    # route evidence: the bloom leg probes xxhash64 bit positions
    assert "xxhash64" not in auto_small._jdf.queryExecution().analyzed().toString()
    assert "xxhash64" in auto_big._jdf.queryExecution().analyzed().toString()
    assert sorted(map(str, auto_small.collect())) == sorted(map(str, auto_big.collect()))


def test_upsert_stream_bucketed_partial_rewrite(spark, tmp_path):
    """api.upsert_stream(n_buckets=...) must leave the store bucketed so
    each micro-batch rewrites only its touched buckets, and the final
    snapshot still equals keep-latest-per-key."""
    from dicebox_sensorybatchprocessor_spark import lake

    batches = [
        spark.createDataFrame([(k, "v0") for k in range(32)], "k int, v string"),
        spark.createDataFrame([(3, "v1")], "k int, v string"),
    ]
    stream = api.replay_stream(
        spark, batches, name="api_upsert_bkt", max_files_per_trigger=1
    )
    table = lake.ManifestTable(str(tmp_path / "t"))
    q = api.upsert_stream(
        stream, table, ("k",), checkpoint_dir=str(tmp_path / "ck"), n_buckets=8
    )
    q.awaitTermination()
    s1, s2 = table.snapshot(1), table.snapshot(2)
    assert s2["n_buckets"] == 8
    # batch 2 touched ONE key -> all other buckets' files reused verbatim
    reused = set(s1["files"]) & set(s2["files"])
    assert len(reused) >= len(s1["files"]) - 1 > 0
    rows = {r.k: r.v for r in table.read(spark).collect()}
    assert rows[3] == "v1" and rows[4] == "v0" and len(rows) == 32


def test_append_stream_with_maintained_view(spark, tmp_path):
    """api.append_stream: blind-append each micro-batch as one atomic
    lake commit (no read of existing data), refresh the attached
    MaterializedAgg per commit; the view must track the stream exactly
    and the append must be exactly-once under txn replay semantics."""
    from dicebox_sensorybatchprocessor_spark import lake
    from dicebox_sensorybatchprocessor_spark.mv import MaterializedAgg

    batches = [
        spark.createDataFrame([("a", 1.0), ("b", 2.0)], "g string, x double"),
        spark.createDataFrame([("a", 3.0)], "g string, x double"),
        spark.createDataFrame([("b", 4.0), ("b", 5.0)], "g string, x double"),
    ]
    stream = api.replay_stream(
        spark, batches, name="api_append_test", max_files_per_trigger=1
    )
    table = lake.ManifestTable(str(tmp_path / "t"))
    view = MaterializedAgg(
        table,
        str(tmp_path / "mv"),
        ("g",),
        {"n": ("count", "*"), "sx": ("sum", "x"), "mx": ("max", "x")},
    )
    q = api.append_stream(
        stream,
        table,
        checkpoint_dir=str(tmp_path / "ck"),
        txn_app_id="app_test",
        refresh_views=(view,),
    )
    q.awaitTermination()
    assert table.latest_version() == 3  # one atomic commit per batch
    assert table.read(spark).count() == 5  # appends never collapse rows
    assert table.txn_version("app_test") == 2
    assert view.refreshed_version() == 3  # maintained through the stream
    got = {r.g: (r.n, r.sx, r.mx) for r in view.read(spark).collect()}
    assert got == {"a": (2, 4.0, 3.0), "b": (3, 11.0, 5.0)}


def test_upsert_stream_refresh_views(spark, tmp_path):
    """upsert_stream(refresh_views=...): the view follows keyed MERGE
    semantics — a later version of a key replaces its contribution."""
    from dicebox_sensorybatchprocessor_spark import lake
    from dicebox_sensorybatchprocessor_spark.mv import MaterializedAgg

    batches = [
        spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], "k int, g string, x double"),
        spark.createDataFrame([(1, "a", 10.0)], "k int, g string, x double"),
    ]
    stream = api.replay_stream(
        spark, batches, name="api_upsert_mv_test", max_files_per_trigger=1
    )
    table = lake.ManifestTable(str(tmp_path / "t"))
    view = MaterializedAgg(
        table, str(tmp_path / "mv"), ("g",),
        {"n": ("count", "*"), "sx": ("sum", "x")},
    )
    q = api.upsert_stream(
        stream, table, ("k",),
        checkpoint_dir=str(tmp_path / "ck"),
        refresh_views=(view,),
    )
    q.awaitTermination()
    got = {r.g: (r.n, r.sx) for r in view.read(spark).collect()}
    assert got == {"a": (1, 10.0), "b": (1, 2.0)}


def test_cdc_stream_applies_feed_with_maintained_view(spark, tmp_path):
    """api.cdc_stream: three micro-batches of a CDC feed (including an
    update->delete history within one batch that net-effect collapse
    must drop, and a cross-batch delete of an earlier insert) land as
    three atomic commits; the attached view tracks inserts AND deletes
    incrementally."""
    from dicebox_sensorybatchprocessor_spark import lake
    from dicebox_sensorybatchprocessor_spark.mv import MaterializedAgg

    schema = "k int, g string, x double, op string, seq int"
    batches = [
        spark.createDataFrame(
            [(1, "a", 1.0, "insert", 1), (2, "a", 2.0, "insert", 1),
             (3, "b", 3.0, "insert", 1)], schema),
        spark.createDataFrame(
            [(2, "a", 20.0, "update", 2), (3, None, None, "delete", 2),
             (4, "b", 4.0, "insert", 2),
             (4, "b", 40.0, "update", 3), (4, None, None, "delete", 4)],
            schema),
        spark.createDataFrame([(1, None, None, "delete", 5)], schema),
    ]
    table = lake.ManifestTable(str(tmp_path / "t"))
    lake.merge_upsert(  # create the keyed store first (empty feed tables
        table,          # need a schema-bearing v1)
        spark.createDataFrame([], "k int, g string, x double"),
        ("k",), n_buckets=4,
    )
    view = MaterializedAgg(
        table, str(tmp_path / "mv"), ("g",),
        {"n": ("count", "*"), "sx": ("sum", "x")},
    )
    stream = api.replay_stream(
        spark, batches, name="api_cdc_test", max_files_per_trigger=1
    )
    q = api.cdc_stream(
        stream, table, ("k",), op_col="op", seq_col="seq",
        checkpoint_dir=str(tmp_path / "ck"), refresh_views=(view,),
    )
    q.awaitTermination()
    assert table.latest_version() == 4  # 1 create + 3 batch commits
    got = sorted((r.k, r.g, r.x) for r in table.read(spark).collect())
    assert got == [(2, "a", 20.0)]  # k1 deleted, k3 deleted, k4 net-dropped
    assert {r.g: (r.n, r.sx) for r in view.read(spark).collect()} == {
        "a": (1, 20.0)
    }


def test_pq_save_load_probe_identical(spark, tmp_path):
    """pq_search over a LOADED PQ index returns results identical to the
    just-built one — the amortize-the-ingest story for the memory-side
    ANN leg (same contract as test_ivf_save_load_probe_identical)."""
    e = load(spark, SF_ORACLE, "embeddings").select("vec_id", "label", "embedding")
    qvec = [float(x) for x in e.orderBy("vec_id").first()["embedding"]]
    corpus = e.filter("vec_id <> 0")
    codes, books = api.pq_index(
        corpus, vec_col="embedding", n_segments=8, n_codes=16, seed=7
    )
    path = str(tmp_path / "pq")
    api.pq_save(codes, books, path)
    codes2, books2 = api.pq_load(spark, path)
    assert books2 == books

    def run(c, b):
        return [
            (r["vec_id"], round(r["cosine"], 9))
            for r in api.pq_search(corpus, c, b, qvec, k=5, shortlist=30).collect()
        ]

    assert run(codes2, books2) == run(codes, books)


def test_mv_refresh_nets_zero_across_compact_small(spark, tmp_path):
    """compact_small rewrites only the fragmented tail; the MV refresh
    over that commit must cancel arithmetically (the packed rows appear
    as +, the small files' rows as -, carried rows appear in NEITHER)
    and leave the view equal to a from-scratch recompute."""
    from dicebox_sensorybatchprocessor_spark import lake
    from dicebox_sensorybatchprocessor_spark.mv import MaterializedAgg

    t = lake.ManifestTable(str(tmp_path / "t"))
    t.overwrite(
        spark.createDataFrame(
            [(i, "g%d" % (i % 3), float(i)) for i in range(3000)],
            "k int, g string, x double",
        ),
        n_files=1,
    )
    for i in range(4):
        t.append(
            spark.createDataFrame(
                [(10_000 + i, "g0", 1.0)], "k int, g string, x double"
            ),
            n_files=1,
        )
    view = MaterializedAgg(
        t, str(tmp_path / "mv"), ("g",),
        {"n": ("count", "*"), "sx": ("sum", "x"), "mx": ("max", "x")},
    )
    view.refresh(spark)
    before = {r.g: (r.n, r.sx, r.mx) for r in view.read(spark).collect()}
    t.compact_small(spark, target_file_bytes=1 << 30, small_file_bytes=10_000)
    # force the incremental leg: this test exists to prove the ± delta
    # CANCELS across a partial rewrite (auto mode would route a commit
    # this delta-heavy to the recompute leg, which proves nothing here)
    led = view.refresh(spark, mode="incremental")
    assert not led["noop"] and led["minus_files"] == 4  # tail only, not 5
    after = {r.g: (r.n, r.sx, r.mx) for r in view.read(spark).collect()}
    assert after == before
    direct = {
        r.g: (r.n, r.sx, r.mx)
        for r in t.read(spark).groupBy("g")
        .agg(F.count("*").alias("n"), F.sum("x").alias("sx"), F.max("x").alias("mx"))
        .collect()
    }
    assert after == direct


def test_star_candidates_are_a_bounded_subset(spark):
    """The star candidate set is a SUBSET of the all-pairs band
    candidates (same buckets, bounded emission) — the refinement
    property behind the oracle claim. r12's hybrid emitter makes
    sub-32-doc buckets exact all-pairs, so on the fixture (small
    buckets throughout) the sets may coincide; strictness — emission
    bounded by bucket membership, not its square — is pinned where it
    matters, on the grown >cap cluster in
    test_star_survivors_on_grown_near_dup_cluster."""
    docs = api.char_shingles(
        load(spark, SF_ORACLE, "documents").select("doc_id", "text"),
        text_col="text",
        id_col="doc_id",
        k=8,
    )
    pairs = api.minhash_banded_candidates(docs).select("doc_a", "doc_b")
    star = api.minhash_banded_candidates_star(docs).select("doc_a", "doc_b")
    n_pairs, n_star = pairs.count(), star.count()
    assert 0 < n_star <= n_pairs
    assert star.join(pairs, ["doc_a", "doc_b"], "left_anti").count() == 0
    assert star.filter(F.col("doc_a") >= F.col("doc_b")).count() == 0


def test_star_survivors_match_pairs_pipeline_on_fixture(spark):
    """On the fixture corpus the bounded star composition reproduces
    dedup_pipeline's survivor relation exactly (verified at sf0.001 and
    sf0.01 when written); the theoretical recall gap (an in-bucket chain
    whose representative fails verification) does not occur here, and a
    fixture evolution that introduces one will surface as this test."""
    docs = load(spark, SF_ORACLE, "documents").select("doc_id", "text")
    cols = ("doc_id", "cluster_id", "cluster_size", "keep")
    a = sorted(map(tuple, api.dedup_pipeline(docs).select(*cols).collect()))
    b = sorted(map(tuple, api.dedup_survivors_star(docs).select(*cols).collect()))
    assert a == b


def test_star_survivors_on_grown_near_dup_cluster(spark):
    """A near-dup cluster that GROWS (the scale-stress shape: one
    template, n perturbed copies) must collapse to one survivor under
    the star composition with O(n) candidates — the all-pairs twin
    would emit C(n,2). n=48 sits past the r12 hybrid's 32-doc
    small-bucket cap, so the cluster's buckets take the bounded
    star+sorted-neighbor leg — the leg whose emission must stay linear
    as clusters grow."""
    base = (
        "the quick brown fox jumps over the lazy dog and then wanders "
        "through the quiet forest looking for something interesting to eat"
    )
    distinct = [
        "astronomy telescopes gather photons from distant galaxies nightly",
        "the recipe calls for flour butter sugar and a pinch of cinnamon",
        "quarterly revenue grew while operating margins stayed flat again",
        "marathon training requires consistent weekly mileage and recovery",
        "the committee adjourned without voting on the amended proposal",
    ]
    n = 48
    rows = [(i, f"{base} v{i}") for i in range(n)]
    rows += [(100 + i, t) for i, t in enumerate(distinct)]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    out = api.dedup_survivors_star(docs, text_col="text", id_col="doc_id")
    got = {r.doc_id: (r.cluster_size, r.keep) for r in out.collect()}
    assert got[0] == (n, True)  # min-id survivor of the big cluster
    assert all(got[i] == (n, False) for i in range(1, n))
    assert all(got[100 + i] == (1, True) for i in range(5))  # singletons keep
    sh = api.char_shingles(docs, text_col="text", id_col="doc_id", k=8)
    n_star = api.minhash_banded_candidates_star(sh).count()
    # big buckets emit ≤ 2(c−1) edges per band (star + sorted-neighbor);
    # sub-cap loose buckets may add a bounded all-pairs term, but the
    # grown cluster itself must stay linear — far under C(48,2) = 1128
    assert n_star <= 4 * 2 * (n - 1), n_star


def test_ivfpq_degrades_to_exact_at_full_probe(spark):
    """nprobe=n_cells + shortlist=corpus makes IVF-PQ a shortlist of
    EVERYTHING followed by the exact rerank — the result must equal
    brute-force knn_query row-for-row (the graceful-degradation contract
    both dials document). Also pins the index shape: one cell + one
    n_segments-long code array per row, codes in [0, n_codes)."""
    e = load(spark, SF_ORACLE, "embeddings").select("vec_id", "embedding")
    q = [float(x) for x in e.orderBy("vec_id").first()["embedding"]]
    corpus = e.filter(F.col("vec_id") > 0)
    n = corpus.count()
    codes, centers, books = api.ivfpq_index(
        corpus, n_cells=8, n_segments=8, n_codes=16, seed=7
    )
    assert len(centers) == 8 and len(books) == 8 and len(books[0]) == 16
    row = codes.first()
    assert 0 <= row["cell"] < 8 and len(row["codes"]) == 8
    assert codes.filter(
        (F.col("cell") < 0) | (F.col("cell") >= 8)
    ).count() == 0

    got = api.ivfpq_search(
        corpus, codes, centers, books, q, k=5, nprobe=8, shortlist=n
    ).collect()
    want = api.knn_query(corpus, q, k=5).collect()
    assert [(r.vec_id, round(r.cosine, 6)) for r in got] == [
        (r.vec_id, round(r.cosine, 6)) for r in want
    ]


def test_ivfpq_registered_dials_measure_full_recall(spark):
    """Locally pins what the registered claim's >=3 margin deliberately
    hides from the driver hash (the sim_ann_ivf discipline): at the
    registered dials (nprobe=10/16, shortlist=max(100, 5%), sampled
    training) the measured overlap is >=4 of 5 on the fixture (KMeans
    centers move at float-reduce-order granularity across session
    configs, so the last hit sits at the shortlist margin — 5/5 in the
    driver-shaped session, 4/5 seen under the test session's
    parallelism). A codebook or cell-ranking regression (the L2
    mis-ranking this test was written against measured 2/5) surfaces
    here, not as driver flakiness."""
    e = load(spark, SF_ORACLE, "embeddings").select("vec_id", "embedding")
    qrow = e.orderBy("vec_id").first()
    q = [float(x) for x in qrow["embedding"]]
    corpus = e.filter(F.col("vec_id") != qrow["vec_id"])
    n = corpus.count()
    codes, centers, books = api.ivfpq_index(
        corpus, n_cells=16, n_segments=16, n_codes=32, seed=42,
        train_rows=2048, corpus_n=n,
    )
    got = {
        r["vec_id"]
        for r in api.ivfpq_search(
            corpus, codes, centers, books, q, k=5, nprobe=10,
            shortlist=max(100, int(n * 0.05)),
        ).collect()
    }
    exact = {r["vec_id"] for r in api.knn_query(corpus, q, k=5).collect()}
    assert len(got & exact) >= 4
    # probing fewer cells reads fewer rows: the candidate pool shrinks
    n_all = codes.count()
    n_probed = codes.filter(
        F.col("cell").isin(
            sorted(range(16), key=lambda i: -sum(
                a * b for a, b in zip(centers[i], q)
            ))[:10]
        )
    ).count()
    assert 0 < n_probed < n_all


def test_star_is_always_a_refinement_of_pairs_clustering(spark):
    """The structural guarantee behind the star leg's oracle claim: its
    candidate set is a SUBSET of pairs-mode's, so its verified edge set
    is too — star clustering can only REFINE the all-pairs clustering
    (split, never merge across it), on ANY corpus. Probed on seeded
    adversarial corpora (perturbed-template chains — the shape where
    the r11 residual recall gap bit): refinement must hold exactly AND
    the clustering must now EQUAL all-pairs — the same invariant the
    registered oracle claims (VERDICT r11 #2). r12 closed the measured
    1–4/120 gap with two devices in _star_from_bands: band-rotated
    sort keys (multi-pass sorted-neighborhood — each band emits
    DIFFERENT neighbor edges) and exact all-pairs emission inside
    sub-cap buckets (≤C(32,2) edges each — small loose buckets are
    where every divergent doc sat). Deterministic per seed: shingles,
    md5 minhashes and min-id survivorship involve no floating
    KMeans."""
    import random
    from collections import defaultdict

    words = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango"
    ).split()

    def corpus(seed, n=120, n_templates=8):
        rng = random.Random(seed)
        templates = [" ".join(rng.choices(words, k=14)) for _ in range(n_templates)]
        rows = []
        for i in range(n):
            if rng.random() < 0.55:
                w = rng.choice(templates).split()
                for _ in range(rng.randrange(0, 4)):
                    w[rng.randrange(len(w))] = rng.choice(words)
                rows.append((i, " ".join(w)))
            else:
                rows.append((i, " ".join(rng.choices(words, k=14))))
        return spark.createDataFrame(rows, "doc_id int, text string")

    for seed in (0, 3):
        docs = corpus(seed)
        pairs_cl = {
            r.doc_id: r.cluster_id
            for r in api.dedup_pipeline(docs, route="collapse+banded").collect()
        }
        star_cl = {
            r.doc_id: r.cluster_id for r in api.dedup_survivors_star(docs).collect()
        }
        groups = defaultdict(list)
        for d, c in star_cl.items():
            groups[c].append(d)
        # refinement: a star cluster never spans two pairs clusters
        assert all(len({pairs_cl[d] for d in g}) == 1 for g in groups.values()), seed
        # and the clustering is IDENTICAL to all-pairs — the exact oracle
        # claim (r12; measured 0 divergent across seeds 0..7, pinned on
        # the two seeds that previously diverged 4/120)
        n_div = sum(1 for d in pairs_cl if pairs_cl[d] != star_cl[d])
        assert n_div == 0, (seed, n_div)


def test_ivfpq_save_load_encode_roundtrip(spark, tmp_path):
    """Persistence + incremental-encode contract: load returns the
    exact quantizers save wrote (center/codebook order restored from
    the companion parquets), and ivfpq_encode against the LOADED
    quantizers reproduces the trainer's own (cell, codes) rows — the
    property that makes appending new batches to a standing index
    sound."""
    e = load(spark, SF_ORACLE, "embeddings").select("vec_id", "embedding")
    codes, centers, books = api.ivfpq_index(
        e, n_cells=8, n_segments=8, n_codes=16, seed=7
    )
    path = str(tmp_path / "idx")
    api.ivfpq_save(codes.select("vec_id", "cell", "codes"), centers, books, path)
    l_codes, l_centers, l_books = api.ivfpq_load(spark, path)
    assert l_centers == centers and l_books == books
    stored = {r.vec_id: (r.cell, tuple(r.codes)) for r in codes.collect()}
    loaded = {r.vec_id: (r.cell, tuple(r.codes)) for r in l_codes.collect()}
    assert loaded == stored
    enc = {
        r.vec_id: (r.cell, tuple(r.codes))
        for r in api.ivfpq_encode(
            e, l_centers, l_books, id_cols=("vec_id",)
        ).collect()
    }
    assert enc == stored


def test_chunk_tokens_overlap_invariants(spark):
    """api.chunk_tokens (r12): chunk arithmetic and content invariants —
    every doc yields 1+floor((n-1)/stride) chunks; consecutive chunks
    overlap by chunk_size-stride tokens; reassembling stride-aligned
    chunk prefixes reproduces the document; single-token docs yield one
    chunk; NULL text drops; invalid stride rejected."""
    rows = [
        (1, " ".join(f"t{i}" for i in range(80))),  # 80 tokens -> 4 chunks
        (2, "solo"),
        (3, None),
        (4, " ".join(f"u{i}" for i in range(24))),  # exactly one stride -> 1 chunk
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = api.chunk_tokens(df, chunk_size=32, stride=24).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == {1, 2, 4}  # NULL text dropped
    c1 = sorted(by_doc[1], key=lambda r: r.chunk_no)
    assert [r.token_off for r in c1] == [0, 24, 48, 72]
    assert [r.n_tokens_chunk for r in c1] == [32, 32, 32, 8]
    assert all(r.n_tokens_doc == 80 for r in c1)
    # overlap: chunk k's last 8 tokens == chunk k+1's first 8
    for a, b in zip(c1, c1[1:]):
        assert a.chunk_text.split()[24:32] == b.chunk_text.split()[:8]
    # full coverage: stride-prefixes of each chunk reassemble the doc
    reassembled = []
    for r in c1:
        reassembled += r.chunk_text.split()[:24]
    assert reassembled[:80] == rows[0][1].split()
    assert by_doc[2][0].chunk_text == "solo" and by_doc[2][0].n_tokens_chunk == 1
    assert len(by_doc[4]) == 1 and by_doc[4][0].n_tokens_chunk == 24
    import pytest as _pytest

    with _pytest.raises(ValueError, match="stride"):
        api.chunk_tokens(df, chunk_size=8, stride=9)
    with _pytest.raises(ValueError, match="stride"):
        api.chunk_tokens(df, chunk_size=8, stride=0)


def test_sq8_topk_recall_and_full_shortlist_equals_exact(spark):
    """api.sq8_topk (banked for r13 registration): with the shortlist
    covering the whole corpus the rerank IS the exact scan (graceful
    degradation, same contract as ivf_probe nprobe=all), and a 50-wide
    shortlist over int8 codes recovers the exact top-5 on the fixture —
    SQ8's per-component error (≤ scale/2) is far below the fixture's
    neighbor margins."""
    emb = load(spark, SF_ORACLE, "embeddings").select("vec_id", "embedding")
    q = emb.orderBy("vec_id").first()
    qvec = [float(x) for x in q.embedding]
    rest = emb.filter(F.col("vec_id") != q.vec_id)
    exact = api.knn_query(rest, qvec, k=5)
    full = api.sq8_topk(rest, qvec, k=5, shortlist=10_000)
    assert [r.vec_id for r in full.collect()] == [
        r.vec_id for r in exact.collect()
    ]
    short = api.sq8_topk(rest, qvec, k=5, shortlist=50)
    overlap = {r.vec_id for r in short.collect()} & {
        r.vec_id for r in exact.collect()
    }
    assert len(overlap) >= 4  # measured 5/5 at SF_ORACLE; claim leaves margin


def test_rerank_rounded_tie_ordering_matches_knn(spark):
    """ADVICE r13 #3: the shared rerank tail must order by the 6-decimal
    ROUNDED cosine then id, exactly like knn_query — on a corpus where
    the unrounded cosines differ only past the 6th decimal (a rounded
    tie), a full-shortlist sq8_topk must return knn_query's rows in
    knn_query's order, not the unrounded order (which would flip the
    pair)."""
    rows = [
        (1, [1.0, 0.0010]),   # cosine ≈ 0.9999995 — rounds to 1.0
        (5, [1.0, 0.0009]),   # cosine ≈ 0.9999996 — HIGHER unrounded,
        #                       same 6-dp value: tie must break by id
        (9, [0.1, 1.0]),      # clearly lower — fills k
    ]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id bigint, embedding array<double>",
    )
    qvec = [1.0, 0.0]
    exact = [(r.vec_id, r.cosine) for r in api.knn_query(df, qvec, k=3).collect()]
    full = [(r.vec_id, r.cosine) for r in api.sq8_topk(df, qvec, k=3, shortlist=100).collect()]
    assert [i for i, _ in exact] == [1, 5, 9]  # rounded tie broken by id
    assert full == exact  # full shortlist ≡ exact scan, values included


def test_priority_sample_null_group_matches_registered_oracle(spark):
    """ADVICE r13 #2: a NULL group key is a real window partition on the
    Spark side; the REGISTERED oracle's τ join must neither drop those
    rows (inner equi-join: NULL = NULL is NULL) nor lose their own τ
    (plain LEFT JOIN can't match NULL to NULL either). Runs the
    registered oracle text — k rescaled — over a corpus with an
    over-quota NULL-lang group and demands an exact match."""
    import duckdb

    from dicebox_sensorybatchprocessor_spark import all_queries
    from tests.oracle import _canon_rows

    rows = [
        (i, None if i < 6 else "en", 10 + 7 * i) for i in range(12)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, lang string, n_chars bigint")
    got = api.priority_sample(
        df, weight_col="n_chars", group_col="lang", k=3
    ).toPandas()
    base_sql = all_queries()["sample_priority"].oracle
    sql = base_sql.replace("= 31", "= 4").replace("<= 30", "<= 3")
    # ADVICE r14: the k-rescale is a textual rewrite of the registered
    # oracle; if the oracle's constants/format drift, the replace would
    # silently no-op and this test would run at the wrong k. Demand that
    # both rewrites actually fired.
    assert "= 31" in base_sql and "<= 30" in base_sql, (
        "sample_priority oracle constants changed; update the k-rescale "
        "rewrites in this test to match"
    )
    assert "= 31" not in sql and "<= 30" not in sql
    con = duckdb.connect()
    con.register("documents", df.toPandas())
    exp = con.execute(sql).fetchdf()
    assert len(got) == len(exp) == 12  # NULL-lang rows survive the τ join
    assert _canon_rows(got) == _canon_rows(exp)


def test_scratch_stage_evicts_incomplete_staging():
    """ADVICE r13 #4: a staging body that raises mid-way must not leave
    the half-written directory published as complete — the next call
    sees fresh=True on a clean dir instead of reusing the partial one."""
    import os

    import pytest as _pytest

    from dicebox_sensorybatchprocessor_spark.utils import scratch_stage

    key = "advice-r13-4"
    with _pytest.raises(RuntimeError, match="mid-staging"):
        with scratch_stage("sbp_stage_test_", cache_key=key) as (p, fresh):
            assert fresh
            with open(os.path.join(p, "partial.bin"), "wb") as fh:
                fh.write(b"half")
            raise RuntimeError("simulated mid-staging crash")
    assert not os.path.exists(p)  # partial dir removed, not published
    with scratch_stage("sbp_stage_test_", cache_key=key) as (p2, fresh2):
        assert fresh2 and os.listdir(p2) == []  # re-staged from scratch
    with scratch_stage("sbp_stage_test_", cache_key=key) as (p3, fresh3):
        assert p3 == p2 and not fresh3  # completed staging caches normally


def test_scratch_stage_keeps_cached_dir_on_post_staging_failure():
    """ADVICE r14 / VERDICT r13 residual #1: a failure inside the block
    while REUSING a completed cached fixture (fresh=False — e.g. a
    post-staging read error) must not evict the cache entry or rmtree
    the known-good directory; only a fresh, possibly-partial staging is
    evicted."""
    import os

    import pytest as _pytest

    from dicebox_sensorybatchprocessor_spark.utils import scratch_stage

    key = "advice-r14-keep-cached"
    with scratch_stage("sbp_stage_test_", cache_key=key) as (p, fresh):
        assert fresh
        with open(os.path.join(p, "complete.bin"), "wb") as fh:
            fh.write(b"done")
    with _pytest.raises(RuntimeError, match="post-staging"):
        with scratch_stage("sbp_stage_test_", cache_key=key) as (p2, fresh2):
            assert p2 == p and not fresh2
            raise RuntimeError("simulated post-staging read failure")
    # known-good fixture survives: same dir, same contents, still cached
    assert os.path.exists(p) and os.listdir(p) == ["complete.bin"]
    with scratch_stage("sbp_stage_test_", cache_key=key) as (p3, fresh3):
        assert p3 == p and not fresh3


def test_ivfpq_encode_zero_vector_matches_trainer_guard(spark):
    """ADVICE r12 (b): an all-zero embedding must encode deterministically
    like the trainer treats it (zero-norm guard → the zero UNIT vector →
    cell = argmin ||center||²), not divide by zero or vanish — the
    incremental-ingest path sees raw user batches."""
    import numpy as np

    rows = [(i, [float((i * 7 + j * 3) % 5 + 1) for j in range(4)]) for i in range(24)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    _, centers, books = api.ivfpq_index(
        df, vec_col="embedding", n_cells=2, n_segments=2, n_codes=2, seed=1
    )
    batch = spark.createDataFrame(
        [(99, [0.0, 0.0, 0.0, 0.0]), (100, [1.0, 2.0, 3.0, 4.0])],
        "vec_id bigint, embedding array<double>",
    )
    enc = {
        r["vec_id"]: r
        for r in api.ivfpq_encode(
            batch, centers, books, vec_col="embedding", id_cols=("vec_id",)
        ).collect()
    }
    assert set(enc) == {99, 100}  # the zero vector is encoded, not dropped
    exp_cell = int(np.argmin([sum(c * c for c in ctr) for ctr in centers]))
    assert enc[99]["cell"] == exp_cell
    assert all(isinstance(c, int) for c in enc[99]["codes"])  # finite codes


def test_pq_index_unpersists_train_sample_on_raising_fit(spark, monkeypatch):
    """ADVICE r12 (c): a KMeans fit that raises mid-build must not leak
    the persisted training sample — the try/finally unpersists it, so
    repeated failed builds cannot accumulate cached partitions."""
    import pytest as _pytest
    import pyspark.ml.clustering as mlc

    rows = [(i, [float((i + j) % 7) + 1.0 for j in range(4)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    before = spark.sparkContext._jsc.getPersistentRDDs().size()

    def boom(self, dataset):
        raise RuntimeError("simulated fit failure")

    monkeypatch.setattr(mlc.KMeans, "fit", boom)
    with _pytest.raises(RuntimeError, match="simulated fit failure"):
        api.pq_index(
            df, vec_col="embedding", n_segments=2, n_codes=2,
            train_rows=8, corpus_n=40,
        )
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == before


def test_token_budget_allocation_invariants(spark):
    """The budgeter's exact-integer contract: selected tokens never
    exceed the allocation, selections are greedy prefixes in md5(id)
    order, budget 0 selects nothing, and a budget >= the corpus total
    selects everything."""
    rows = [
        (i, " ".join(["w"] * n), f"s{i % 2}")
        for i, n in enumerate([10, 20, 30, 40, 50, 60])
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    out = {r["source"]: r for r in api.token_budget_allocation(df, 100).collect()}
    assert set(out) == {"s0", "s1"}
    for r in out.values():
        assert 0 <= r["tokens_selected"] <= r["alloc_tokens"]
        assert r["docs_selected"] <= r["n_docs"]
    # the two shares never exceed the budget (integer floor division)
    assert sum(r["alloc_tokens"] for r in out.values()) <= 100

    zero = api.token_budget_allocation(df, 0).collect()
    assert all(r["docs_selected"] == 0 and r["tokens_selected"] == 0 for r in zero)

    full = api.token_budget_allocation(df, 10**9).collect()
    assert all(
        r["docs_selected"] == r["n_docs"]
        and r["tokens_selected"] == r["total_tokens"]
        for r in full
    )

    import pytest as _pytest

    with _pytest.raises(ValueError):
        api.token_budget_allocation(df, -1)


def test_token_budget_allocation_survives_int64_product_overflow(spark):
    """ADVICE r14 #1 regression: the share product budget*w must run in
    DECIMAL(38,0) — with w >= 1e6 always, any budget above ~9.2e12
    overflows the old int64 product and Spark's non-ANSI mode would wrap
    it silently into wrong (possibly negative) allocations. Pin the
    exact shares against the unbounded-int Python mirror at a budget
    deep inside the wrap regime."""
    import hashlib
    import math

    rows = [
        (i, " ".join(["w"] * n), f"s{i % 2}")
        for i, n in enumerate([10, 20, 30, 40, 50, 60])
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    budget = 10**15  # budget * w ~ 2e21 >> 2^63
    out = {r["source"]: r for r in api.token_budget_allocation(df, budget).collect()}

    toks = {"s0": [(0, 10), (2, 30), (4, 50)], "s1": [(1, 20), (3, 40), (5, 60)]}
    w = {g: math.floor(math.sqrt(float(sum(t for _, t in ds))) * 1_000_000)
         for g, ds in toks.items()}
    tw = sum(w.values())
    for g, ds in toks.items():
        exp_alloc = (budget * w[g]) // tw  # Python ints: never wraps
        assert out[g]["alloc_tokens"] == exp_alloc, g
        assert budget * w[g] > 2**63  # really inside the wrap regime
        # budget exceeds the corpus: every doc selected
        assert out[g]["docs_selected"] == len(ds)
        assert out[g]["tokens_selected"] == sum(t for _, t in ds)



def test_prefix_filter_candidates_exact_vs_brute_force(spark):
    """r15 optimization guard: dedup_ngram_jaccard's prefix-filter
    candidate generator must (a) emit a SUPERSET of the true J>=t pair
    set for any corpus — every prune (prefix theorem, length filter,
    suffix-count bound, positional bound) is one-sided — and (b) compose
    with _verify_candidates to EXACTLY the brute-force all-pairs
    verifier. Checked on a synthetic corpus built to stress the seams:
    near-identical pairs at/around the threshold, disjoint docs, a
    shared hot token, and size-skewed pairs the length filter must not
    over-prune."""
    import itertools

    from pyspark.sql import functions as F

    base = "abcdefghijklmnopqrstuvwxyz0123456789"
    docs = {
        1: [base[i : i + 4] for i in range(0, 32)],          # dense set
        2: [base[i : i + 4] for i in range(0, 32)],          # == doc 1
        3: [base[i : i + 4] for i in range(0, 20)],          # 0.625 of doc1
        4: [base[i : i + 4] for i in range(12, 32)],         # suffix slice
        5: ["zzzz", "yyyy", "xxxx"],                         # disjoint
        6: [base[i : i + 4] for i in range(0, 8)] + ["hot1"],
        7: [base[i : i + 4] for i in range(24, 32)] + ["hot1"],
        8: [base[i : i + 4] for i in range(0, 13)],          # ~0.40 of doc1
    }
    rows = [(d, s) for d, toks in docs.items() for s in toks]
    sh = spark.createDataFrame(rows, "doc_id bigint, s string")

    t = 0.6
    truth = set()
    for a, b in itertools.combinations(sorted(docs), 2):
        sa, sb = set(docs[a]), set(docs[b])
        j = len(sa & sb) / len(sa | sb)
        if j >= t:
            truth.add((a, b))
    assert truth  # the fixture really exercises the >= t leg

    cand, arrs = api._prefix_jaccard_candidates(sh, "doc_id", "s", t)
    got_cand = {(r.doc_a, r.doc_b) for r in cand.collect()}
    assert truth <= got_cand, f"pruned a true pair: {truth - got_cand}"

    out = api._verify_candidates(cand, sh, "doc_id", "s", t, arrs=arrs)
    got = {(r.doc_a, r.doc_b): (r.n_common, r.jaccard) for r in out.collect()}
    assert set(got) == truth
    for (a, b), (n_common, j) in got.items():
        sa, sb = set(docs[a]), set(docs[b])
        assert n_common == len(sa & sb)
        assert j == round(len(sa & sb) / len(sa | sb), 6)


def test_prefix_containment_candidates_exact_vs_brute_force(spark):
    """r16 optimization guard (VERDICT r15 #2): text_containment's
    one-sided prefix-filter candidate generator must (a) emit a SUPERSET
    of the true C >= t pair set for any corpus — the smaller set's
    prefix bound, the probe-prefix test, and the per-occurrence
    positional bound are all one-sided — and (b) compose with
    _verify_containment to EXACTLY the brute-force all-pairs overlap
    coefficient. The corpus stresses containment's specialty: tiny
    snippets fully inside huge documents (which Jaccard's union dilutes
    below threshold), boundary ratios, ties in size, and disjoint
    docs."""
    import itertools

    base = "abcdefghijklmnopqrstuvwxyz0123456789"
    docs = {
        1: [base[i : i + 4] for i in range(0, 32)],   # big doc
        2: [base[i : i + 4] for i in range(0, 5)],    # snippet inside 1 (C=1.0)
        3: [base[i : i + 4] for i in range(4, 9)],    # snippet inside 1
        4: [base[i : i + 4] for i in range(0, 5)] + ["qqqq"],  # 5/6 ≈ 0.83
        5: [base[i : i + 4] for i in range(0, 4)] + ["qqqq"],  # 4/5 = 0.8 boundary
        6: ["zzzz", "yyyy", "xxxx"],                  # disjoint
        7: [base[i : i + 4] for i in range(0, 32)],   # == doc 1
        8: [base[i : i + 4] for i in range(16, 21)],  # snippet, ties size w/ 2
        9: [base[i : i + 4] for i in range(0, 3)] + ["rrrr", "ssss"],  # 3/5 < 0.8
    }
    rows = [(d, s) for d, toks in docs.items() for s in toks]
    sh = spark.createDataFrame(rows, "doc_id bigint, s string")

    t = 0.8
    truth = {}
    for a, b in itertools.combinations(sorted(docs), 2):
        sa, sb = set(docs[a]), set(docs[b])
        n_common = len(sa & sb)
        if n_common >= 1 and n_common * 1.0 / min(len(sa), len(sb)) >= t:
            truth[(a, b)] = n_common
    assert truth and any(
        len(docs[a]) != len(docs[b]) for a, b in truth
    )  # the snippet-in-big-doc leg is really exercised

    cand, arrs = api._prefix_containment_candidates(sh, "doc_id", "s", t)
    got_cand = {(r.doc_a, r.doc_b) for r in cand.collect()}
    assert set(truth) <= got_cand, f"pruned a true pair: {set(truth) - got_cand}"

    out = api._verify_containment(cand, arrs, "doc_id", t)
    got = {(r.doc_a, r.doc_b): (r.n_common, r.containment) for r in out.collect()}
    assert set(got) == set(truth)
    for (a, b), (n_common, c) in got.items():
        sa, sb = set(docs[a]), set(docs[b])
        assert n_common == truth[(a, b)]
        assert c == round(len(sa & sb) / min(len(sa), len(sb)), 6)


def _random_token_corpus(rng, n_docs: int, vocab: int):
    """Random corpus with planted near-dup families and heavy-hitter
    tokens — the seams prefix filtering must survive."""
    docs = {}
    did = 1
    for _ in range(n_docs):
        size = rng.randint(1, 24)
        toks = {f"t{rng.randint(0, vocab)}" for _ in range(size)}
        docs[did] = toks or {"t0"}
        did += 1
        if rng.random() < 0.4:  # planted near-dup of the previous doc
            mutated = set(docs[did - 1])
            for _ in range(rng.randint(0, 2)):
                if mutated and rng.random() < 0.5:
                    mutated.discard(next(iter(mutated)))
                else:
                    mutated.add(f"t{rng.randint(0, vocab)}")
            docs[did] = mutated or {"t0"}
            did += 1
    return docs


def test_prefix_filter_generators_random_corpora(spark):
    """Randomized leg of the exactness property (r16): on seeded random
    corpora with planted near-dups, hot tokens and singleton docs, BOTH
    prefix-filter generators must compose to exactly the brute-force
    answer — Jaccard >= 0.6 via _verify_candidates and containment >=
    0.8 via _verify_containment."""
    import itertools
    import random

    for seed in (7, 23, 61):
        rng = random.Random(seed)
        docs = _random_token_corpus(rng, n_docs=24, vocab=40)
        rows = [(d, s) for d, toks in docs.items() for s in toks]
        sh = spark.createDataFrame(rows, "doc_id bigint, s string")

        jac_truth, con_truth = {}, {}
        for a, b in itertools.combinations(sorted(docs), 2):
            sa, sb = docs[a], docs[b]
            inter = len(sa & sb)
            if inter and inter / len(sa | sb) >= 0.6:
                jac_truth[(a, b)] = inter
            if inter and inter / min(len(sa), len(sb)) >= 0.8:
                con_truth[(a, b)] = inter

        cand, arrs = api._prefix_jaccard_candidates(sh, "doc_id", "s", 0.6)
        got = {
            (r.doc_a, r.doc_b): r.n_common
            for r in api._verify_candidates(
                cand, sh, "doc_id", "s", 0.6, arrs=arrs
            ).collect()
        }
        assert got == jac_truth, f"seed {seed}: jaccard mismatch"

        ccand, carrs = api._prefix_containment_candidates(sh, "doc_id", "s", 0.8)
        cgot = {
            (r.doc_a, r.doc_b): r.n_common
            for r in api._verify_containment(ccand, carrs, "doc_id", 0.8).collect()
        }
        assert cgot == con_truth, f"seed {seed}: containment mismatch"
