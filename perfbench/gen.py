"""Seeded input generator: the ten fixture tables the engine reads.

The same seed and scale factor always give byte-identical inputs. Shapes and
value domains follow FIXTURES.md (one parquet file with one row group per
table; naive microsecond timestamps; two-decimal money columns), so every
registered query and its DuckDB oracle twin run on them unchanged.

The ETL nightly increments are derived here too: each night is a complete,
fresh input directory (the engine memoizes scans per directory), with a
seeded set of customers that change attributes, new events whose ids and
timestamps lie above everything loaded so far, and a few lineitem rows that
break the pipeline's data-quality rules.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PRIO = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_EVENTS_T0 = np.datetime64("2024-01-01T00:00:00", "us")
_EVENT_SPAN_US = 30 * 86400 * 10**6


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform two-decimal amounts in [lo, hi] (exact cents, as the
    fixtures' integer-exact aggregates expect)."""
    cents = rng.integers(round(lo * 100), round(hi * 100) + 1, n)
    return np.round(cents / 100.0, 2)


def _days(rng: np.random.Generator, first: str, last: str, n: int) -> np.ndarray:
    d0, d1 = np.datetime64(first, "D"), np.datetime64(last, "D")
    off = rng.integers(0, int((d1 - d0).astype(int)) + 1, n)
    return (d0 + off).astype("datetime64[us]")


def _ts(values: np.ndarray) -> pa.Array:
    return pa.array(values.astype("datetime64[us]"), type=pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _events(rng: np.random.Generator, first_id: int, n: int, t0, span_us: int,
            n_users: int) -> dict:
    """`n` events with ids from `first_id`, strictly increasing unique
    timestamps inside [t0, t0 + span_us)."""
    gaps = rng.exponential(1.0, n) + 1e-3
    off = np.cumsum(gaps) / (gaps.sum() + 1.0) * span_us
    ts = t0 + off.astype("int64").astype("timedelta64[us]")
    ts = np.maximum.accumulate(ts)
    for i in range(1, n):  # exact µs ties are rare; nudge them apart
        if ts[i] <= ts[i - 1]:
            ts[i] = ts[i - 1] + np.timedelta64(1, "us")
    return {
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, n_users, n).astype(np.int64)),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, n)),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def _documents(rng: np.random.Generator, n: int) -> dict:
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document (the dedup operators'
            # target): its text plus one marker token
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(_WORDS, k)))
    langs = rng.choice(_LANGS, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _sizes(sf: float) -> dict:
    return {
        "customer": max(1, round(150_000 * sf)),
        "supplier": max(1, round(10_000 * sf)),
        "part": max(1, round(200_000 * sf)),
        "orders": max(1, round(1_500_000 * sf)),
        "lineitem": max(1, round(6_000_000 * sf)),
        "events": max(1, round(1_000_000 * sf)),
        "users": max(1, round(15_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def generate(out_dir: str, seed: int, sf: float) -> None:
    """Write the ten base tables for (seed, sf) into `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 20260101])
    n = _sizes(sf)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    nc = n["customer"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, nc)),
    })
    ns = n["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
    })
    npart = n["part"]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
        "p_name": pa.array(
            [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, npart), rng.choice(_NOUN, npart))]
        ),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, npart)]),
        "p_type": pa.array(rng.choice(_PTYPES, npart)),
        "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
        "p_retailprice": pa.array(
            np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2)
        ),
    })
    no = n["orders"]
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
        "o_orderdate": _ts(_days(rng, "1995-01-01", "2001-08-01", no)),
        "o_orderpriority": pa.array(rng.choice(_PRIO, no)),
    })
    nl = n["lineitem"]
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, npart, nl).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nl).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], nl)),
        "l_shipdate": _ts(_days(rng, "1995-01-02", "2001-11-04", nl)),
    })
    _write(out_dir, "events", _events(
        rng, 0, n["events"], _EVENTS_T0, _EVENT_SPAN_US, n["users"]
    ))
    _write(out_dir, "documents", _documents(rng, n["documents"]))
    ne = n["embeddings"]
    vec = rng.standard_normal((ne, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(ne, dtype=np.int64)),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, ne).astype(np.int32)),
    })


def nightly(base_dir: str, out_dir: str, seed: int, night: int, prev_dir: str) -> None:
    """Night `night` (1-based) of the ETL increments. Starts from the
    previous night's customer and events tables (`prev_dir`; the base
    directory for night 1) and the base directory's other tables."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 777, night])
    for t in TABLES:
        if t not in ("customer", "events", "lineitem"):
            shutil.copyfile(os.path.join(base_dir, f"{t}.parquet"),
                            os.path.join(out_dir, f"{t}.parquet"))

    # about 0.2% of customers change attributes each night
    cust = pq.read_table(os.path.join(prev_dir, "customer.parquet"))
    nc = cust.num_rows
    changed = np.sort(rng.choice(nc, max(2, nc // 500), replace=False))
    bal = cust["c_acctbal"].to_numpy().copy()
    seg = cust["c_mktsegment"].to_numpy(zero_copy_only=False).copy()
    bal[changed] = _money(rng, -999.99, 9999.99, len(changed))
    flip = changed[rng.random(len(changed)) < 0.5]
    seg[flip] = rng.choice(_SEGMENTS, len(flip))
    cust = cust.set_column(cust.schema.get_field_index("c_acctbal"), "c_acctbal", pa.array(bal))
    cust = cust.set_column(cust.schema.get_field_index("c_mktsegment"), "c_mktsegment",
                           pa.array(seg, type=pa.string()))
    pq.write_table(cust, os.path.join(out_dir, "customer.parquet"))

    # a day of new events, ids and timestamps above everything so far
    ev_prev = pq.read_table(os.path.join(prev_dir, "events.parquet"))
    last_id = int(pc.max(ev_prev["event_id"]).as_py())
    last_ts = np.datetime64(pc.max(ev_prev["ts"]).as_py(), "us")
    n_users = int(pc.max(ev_prev["user_id"]).as_py()) + 1
    n_new = max(10, ev_prev.num_rows // 30)
    new = pa.table(_events(
        rng, last_id + 1, n_new, last_ts + np.timedelta64(1, "s"), 86400 * 10**6, n_users
    ))
    pq.write_table(pa.concat_tables([ev_prev, new.cast(ev_prev.schema)]),
                   os.path.join(out_dir, "events.parquet"))

    # the base lineitem with a few rows that break the DQ rules
    li = pq.read_table(os.path.join(base_dir, "lineitem.parquet"))
    bad = np.sort(rng.choice(li.num_rows, 3 + night % 4, replace=False))
    qty = li["l_quantity"].to_numpy().copy()
    disc = li["l_discount"].to_numpy().copy()
    key_null = np.zeros(li.num_rows, dtype=bool)
    qty[bad[0::3]] = rng.choice([0.0, 60.0], len(bad[0::3]))
    disc[bad[1::3]] = 0.25
    key_null[bad[2::3]] = True
    for name, arr in (
        ("l_quantity", pa.array(qty)),
        ("l_discount", pa.array(disc)),
        ("l_orderkey", pa.array(li["l_orderkey"].to_numpy(), mask=key_null)),
    ):
        li = li.set_column(li.schema.get_field_index(name), name, arr)
    pq.write_table(li, os.path.join(out_dir, "lineitem.parquet"))
