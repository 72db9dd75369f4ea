"""Seeded synthetic inputs for the benchmark.

The tables follow the schemas and value domains the engine's fixtures use
(FIXTURES.md): a TPC-H-like star schema, an ``events`` sensor stream, a
``documents`` text corpus and an ``embeddings`` vector table. The same
seed always gives byte-identical tables, and every table is built in
memory with NumPy and Arrow, so generating them costs no Spark work.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

# Row counts of the fixtures' sf0.1 scale (FIXTURES.md "Row counts").
STAR_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "large", "hot", "small", "red", "green", "cold", "shiny"]
PART_NOUN = ["anvil", "ring", "bolt", "widget", "gear", "spring", "valve", "nut"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "zh", "fr", "es", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
VOCAB = (
    "join a value fast column sort scan small customer merge hash line spark "
    "part batch slow group row filter query key big window table stream order "
    "data vector agg the"
).split()

_EVENTS_START = np.datetime64("2024-01-01T00:00:00", "us")
_EVENTS_SPAN_US = 30 * 24 * 3600 * 1_000_000


def _dates(rng: np.random.Generator, n: int, start: str, end: str) -> pa.Array:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    days = lo + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def events_table(rng: np.random.Generator, n: int) -> pa.Table:
    """``n`` time-ordered events; ``event_id`` grows with ``ts``."""
    offsets = np.sort(rng.integers(0, _EVENTS_SPAN_US, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(_EVENTS_START + offsets.astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, 1_500, n, dtype=np.int64)),
            "event_type": pa.array(np.take(EVENT_TYPES, rng.integers(0, 5, n))),
            "value": pa.array(np.round(rng.lognormal(3.4, 1.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    words = np.array(VOCAB)
    texts = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document: a few words swapped
            base = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(base), 1 + len(base) // 20):
                base[j] = "dup"
            texts.append(" ".join(base))
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), rng.integers(10, 101))]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(np.take(LANGS, rng.choice(5, n, p=LANG_P))),
            "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centers = rng.normal(0, 1, (10, dim))
    vecs = centers[labels] + rng.normal(0, 0.8, (n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(vecs.reshape(-1))
    offsets = pa.array(np.arange(0, (n + 1) * dim, dim, dtype=np.int32))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(labels),
        }
    )


def star_tables(seed: int) -> dict[str, pa.Table]:
    """Every table ``io.TABLES`` names, at the fixtures' sf0.1 row counts."""
    rng = np.random.default_rng([seed, 1])
    n = STAR_ROWS
    region = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS),
        }
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }
    )
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(n["customer"], dtype=np.int64)),
            "c_name": _names("Customer", n["customer"]),
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"], dtype=np.int32)),
            "c_acctbal": pa.array(_money(rng, n["customer"], -999.99, 9999.99)),
            "c_mktsegment": pa.array(np.take(SEGMENTS, rng.integers(0, 5, n["customer"]))),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n["supplier"], dtype=np.int64)),
            "s_name": _names("Supplier", n["supplier"]),
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"], dtype=np.int32)),
            "s_acctbal": pa.array(_money(rng, n["supplier"], -999.99, 9999.99)),
        }
    )
    partkeys = np.arange(n["part"], dtype=np.int64)
    part = pa.table(
        {
            "p_partkey": pa.array(partkeys),
            "p_name": pa.array(
                [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in rng.integers(0, 8, (n["part"], 2))
                ]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n["part"])]),
            "p_type": pa.array(np.take(PART_TYPES, rng.integers(0, 6, n["part"]))),
            "p_size": pa.array(rng.integers(1, 51, n["part"], dtype=np.int32)),
            "p_retailprice": pa.array(900.0 + (partkeys % 1000) / 10.0),
        }
    )
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n["orders"], dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"], dtype=np.int64)),
            "o_orderstatus": pa.array(np.take(["O", "F", "P"], rng.integers(0, 3, n["orders"]))),
            "o_totalprice": pa.array(_money(rng, n["orders"], 1000.0, 500000.0)),
            "o_orderdate": _dates(rng, n["orders"], "1995-01-01", "2001-08-01"),
            "o_orderpriority": pa.array(np.take(PRIORITIES, rng.integers(0, 5, n["orders"]))),
        }
    )
    m = n["lineitem"]
    quantity = rng.integers(1, 51, m).astype(np.float64)
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n["orders"], m, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, n["part"], m, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], m, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, m, dtype=np.int32)),
            "l_quantity": pa.array(quantity),
            "l_extendedprice": pa.array(np.round(quantity * rng.uniform(900.0, 2100.0, m), 2)),
            "l_discount": pa.array(rng.integers(0, 11, m) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, m) / 100.0),
            "l_returnflag": pa.array(np.take(["A", "N", "R"], rng.integers(0, 3, m))),
            "l_linestatus": pa.array(np.take(["O", "F"], rng.integers(0, 2, m))),
            "l_shipdate": _dates(rng, m, "1995-01-02", "2001-11-04"),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "events": events_table(rng, n["events"]),
        "documents": _documents(rng, n["documents"]),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }


def ingest_batches(
    seed: int, n_batches: int, batch_rows: int
) -> list[pa.Table]:
    """Newly landed sensor batches, time-ordered.

    Each batch holds ``batch_rows`` new events plus what an at-least-once
    feed delivers around them: ~2% of the previous batch re-delivered,
    ~0.5% of its own rows twice, and ~0.5% malformed rows (null
    ``user_id`` or a negative ``value``) that validation must drop.
    """
    rng = np.random.default_rng([seed, 2])
    stream = events_table(rng, n_batches * batch_rows)
    batches = []
    prev = None
    for b in range(n_batches):
        fresh = stream.slice(b * batch_rows, batch_rows)
        bad = rng.random(batch_rows) < 0.005
        null_user = bad & (rng.random(batch_rows) < 0.5)
        fresh = fresh.set_column(
            2,
            "user_id",
            pa.array(fresh["user_id"].to_numpy(), mask=null_user),
        ).set_column(
            4,
            "value",
            pa.array(np.where(bad & ~null_user, -1.0, fresh["value"].to_numpy())),
        )
        parts = [fresh, fresh.take(rng.choice(batch_rows, batch_rows // 200, replace=False))]
        if prev is not None:
            parts.append(prev.take(rng.choice(batch_rows, batch_rows // 50, replace=False)))
        batches.append(pa.concat_tables(parts))
        prev = fresh
    return batches


def valid_mask(t: pa.Table) -> np.ndarray:
    """Rows the ingest validation keeps (the pipeline_sensory_ingest rule)."""
    user = t["user_id"].is_valid().to_numpy(zero_copy_only=False)
    kind = t["event_type"].is_valid().to_numpy(zero_copy_only=False)
    value = t["value"].to_numpy()
    return user & kind & (value >= 0)

