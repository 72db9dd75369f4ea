"""Derived per-file Bloom filters (lake.ManifestTable.collect_file_blooms).

A bucketed commit pairs each added file with the same bucket's removed
files and derives its filter as OR(parent bitsets) | bits(new values)
when the parents' sizing matches and every parent value survived. These
tests pin that the result is bit-identical to a from-scratch build by
the original per-value loop, kept here as the reference, over random
merge / delete / append / compaction histories that cross power-of-two
size steps and reach the 2^17-bit cap, and that an unreadable parent
takes the full build.
"""

from __future__ import annotations

import hashlib
import os

import pyarrow.parquet as pq

from dicebox_sensorybatchprocessor_spark import lake
from dicebox_sensorybatchprocessor_spark.lake import ManifestTable, merge_upsert

_COLS = ("k", "s")


def _reference_bloom(values, bits_per_value=10, k=7, max_bits=1 << 17):
    """The per-value build the derived and vectorised filters replace."""
    n = max(64, min(max_bits, 1 << (bits_per_value * max(1, len(values))).bit_length()))
    bits = bytearray(n // 8)
    for v in values:
        for i in range(k):
            h = (
                int.from_bytes(hashlib.md5(f"{i}|{v}".encode()).digest()[:8], "big")
                % n
            )
            bits[h >> 3] |= 1 << (h & 7)
    return [n, bytes(bits).hex()]


def _assert_blooms_match_reference(t: ManifestTable) -> list[int]:
    """Every live file's recorded filters equal the reference build;
    returns each file's n_bits on the key column."""
    snap = t.snapshot()
    sizes = []
    for f in snap["files"]:
        tab = pq.read_table(os.path.join(t.root, f), columns=list(_COLS))
        for c in _COLS:
            vals = {lake._bloom_canon(v) for v in tab.column(c).drop_null().to_pylist()}
            assert snap["file_blooms"][f][c] == _reference_bloom(vals), (f, c)
        sizes.append(snap["file_blooms"][f]["k"][0])
    return sizes


def _spy_hashed(monkeypatch) -> list[str]:
    """Collects every value the commit hashes into a filter."""
    hashed: list[str] = []
    orig = lake._bloom_bitset

    def spying(values, n_bits, k=7):
        values = list(values)
        hashed.extend(values)
        return orig(values, n_bits, k)

    monkeypatch.setattr(lake, "_bloom_bitset", spying)
    return hashed


def _rows(spark, lo, hi, prefix="s"):
    return spark.range(lo, hi).selectExpr("id AS k", f"concat('{prefix}', id) AS s")


def test_derived_filters_equal_reference_over_random_histories(spark, tmp_path):
    """Property: after any sequence of bucketed merge_upsert (with and
    without delete_keys, with and without a changed non-key value),
    append and compact_buckets, every live file's filter on the key and
    on a non-key string column equals the reference build."""
    from hypothesis import HealthCheck, example, given, settings
    from hypothesis import strategies as st

    step = st.one_of(
        st.tuples(
            st.just("merge"),
            st.integers(0, 2500),  # new keys
            st.integers(0, 300),  # re-delivered keys
            st.integers(0, 50),  # deleted keys
            st.booleans(),  # re-delivered rows change their string
        ),
        st.tuples(st.just("append"), st.integers(1, 400)),
        st.tuples(st.just("compact_buckets")),
    )
    seen_sizes: set[int] = set()

    @settings(
        max_examples=4,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
    )
    @given(
        seed=st.sampled_from([40, 3000, 9000]),
        steps=st.lists(step, min_size=1, max_size=4),
    )
    # a history that reaches the cap: the seed fills each of the two
    # buckets past 6554 keys, so every later filter is 2^17 bits
    @example(
        seed=14000,
        steps=[
            ("merge", 300, 200, 0, False),
            ("merge", 100, 100, 20, False),
            ("merge", 50, 100, 0, True),
            ("append", 200),
            ("compact_buckets",),
        ],
    )
    def run(seed, steps):
        import uuid

        t = ManifestTable(str(tmp_path / uuid.uuid4().hex))
        merge_upsert(t, _rows(spark, 0, seed), ("k",), n_buckets=2)
        t.set_bloom_index(_COLS)
        seen_sizes.update(_assert_blooms_match_reference(t))
        top = seed
        for st_ in steps:
            if st_[0] == "merge":
                _, n_new, n_old, n_del, changed = st_
                lo = max(0, top - n_old)
                upd = _rows(spark, top, top + n_new)
                if n_old:
                    upd = upd.unionByName(_rows(spark, lo, top, "t" if changed else "s"))
                dels = spark.range(0, n_del).selectExpr("id AS k") if n_del else None
                merge_upsert(t, upd, ("k",), delete_keys=dels)
                top += n_new
            elif st_[0] == "append":
                t.append(_rows(spark, top, top + st_[1]))
                top += st_[1]
            else:
                t.compact_buckets(spark)
            seen_sizes.update(_assert_blooms_match_reference(t))

    run()
    assert 1 << 17 in seen_sizes  # the cap was reached
    assert len(seen_sizes) >= 3  # and several power-of-two steps crossed


def test_derived_filter_hashes_only_new_values(spark, tmp_path, monkeypatch):
    """A merge whose buckets keep every old key hashes only the keys no
    parent held; the filters still equal the reference build."""
    t = ManifestTable(str(tmp_path / "t"))
    merge_upsert(t, _rows(spark, 0, 1000), ("k",), n_buckets=2)
    t.set_bloom_index(_COLS)
    hashed = _spy_hashed(monkeypatch)
    merge_upsert(t, _rows(spark, 990, 1010), ("k",))
    # 10 new keys and their 10 new strings; the 10 re-delivered rows
    # and every carried key come from the parents' bits
    assert sorted(hashed) == sorted(
        [str(i) for i in range(1000, 1010)] + [f"s{i}" for i in range(1000, 1010)]
    )
    _assert_blooms_match_reference(t)


def test_unreadable_parent_takes_the_full_build(spark, tmp_path, monkeypatch):
    """Parents that can no longer be read (one corrupt, one vacuumed)
    cannot prove their values survived: the commit hashes every value
    of the new files, and the filters equal the reference build."""
    t = ManifestTable(str(tmp_path / "t"))
    merge_upsert(t, _rows(spark, 0, 1000), ("k",), n_buckets=2)
    t.set_bloom_index(_COLS)
    snap = t.snapshot()
    new_map = t.stage_bucketed(_rows(spark, 0, 1010), ("k",), 2)
    corrupt, gone = sorted(snap["files"])
    with open(os.path.join(t.root, corrupt), "wb") as fh:
        fh.write(b"not a parquet file")
    os.remove(os.path.join(t.root, gone))

    hashed = _spy_hashed(monkeypatch)
    t.commit(
        sorted(new_map),
        snap["version"],
        bucket_meta={"n_buckets": 2, "bucket_keys": ["k"], "file_buckets": new_map},
    )
    assert len(hashed) == 2 * 1010  # every key and every string
    _assert_blooms_match_reference(t)
