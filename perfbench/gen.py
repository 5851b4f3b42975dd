"""Seeded input generation for the benchmark workloads.

Everything here is a pure function of (seed, size): the same seed gives
byte-identical inputs. The query tables mirror the shape of the
project's TPC-H-ish test tables (same names, columns, types and value
ranges), so every registered query and its DuckDB oracle twin run on
them unchanged.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "join hash row batch scan customer column filter small slow merge order "
    "vector line data table agg value key stream window spark a group part "
    "big sort query fast the"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["small", "red", "blue", "hot", "old", "large", "new"]
P_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_DAY_US = 86_400_000_000


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per table, so adding a table never shifts
    # the values of another
    return np.random.default_rng([seed, sum(map(ord, stream)) * 7919 + len(stream)])


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _days_since(year: int, month: int, day: int) -> int:
    return int(np.datetime64(f"{year:04d}-{month:02d}-{day:02d}", "D").astype("int64"))


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _text(rng, n_words: int) -> str:
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words))


def query_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten query tables at scale factor ``sf``; return rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_line = max(400, int(6_000_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_users = max(20, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))
    rows: dict[str, int] = {}

    def put(name, cols):
        t = pa.table(cols)
        _write(out_dir, name, t)
        rows[name] = t.num_rows

    put("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    put("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    r = _rng(seed, "customer")
    put("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, n_cust)],
    })

    r = _rng(seed, "supplier")
    put("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
    })

    r = _rng(seed, "part")
    put("part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in zip(
            r.integers(0, len(P_ADJ), n_part), r.integers(0, len(P_NOUN), n_part))],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, n_part)],
        "p_type": [P_TYPES[i] for i in r.integers(0, len(P_TYPES), n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
    })

    r = _rng(seed, "orders")
    d0, d1 = _days_since(1995, 1, 1), _days_since(2001, 8, 1)
    put("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in r.integers(0, 3, n_ord)],
        "o_totalprice": _money(r, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(r.integers(d0, d1 + 1, n_ord) * _DAY_US),
        "o_orderpriority": [PRIORITIES[i] for i in r.integers(0, 5, n_ord)],
    })

    r = _rng(seed, "lineitem")
    d0, d1 = _days_since(1995, 1, 2), _days_since(2001, 11, 4)
    qty = r.integers(1, 51, n_line).astype("float64")
    flags = r.integers(0, 3, n_line)
    put("lineitem", {
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": np.round(r.integers(0, 11, n_line) * 0.01, 2),
        "l_tax": np.round(r.integers(0, 9, n_line) * 0.01, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in flags],
        "l_linestatus": [("F", "O")[i] for i in r.integers(0, 2, n_line)],
        "l_shipdate": _ts(r.integers(d0, d1 + 1, n_line) * _DAY_US),
    })

    r = _rng(seed, "events")
    t0 = _days_since(2024, 1, 1) * _DAY_US
    ts = np.sort(r.integers(0, 30 * _DAY_US, n_ev)) + t0
    put("events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(r.integers(0, n_users, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in r.integers(0, 5, n_ev)],
        "value": np.round(r.exponential(40.0, n_ev), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
    })

    # documents: random word soup with a fixed multiset of lengths and
    # exactly 5% planted near-duplicates (a copy of another document with
    # a trailing "dup" marker), like the test corpus. Fixing the counts
    # keeps the amount of work the same from seed to seed.
    r = _rng(seed, "documents")
    lengths = r.permutation(10 + np.arange(n_docs) % 90)
    texts = [_text(r, int(k)) for k in lengths]
    planted = r.choice(n_docs, n_docs // 20, replace=False)
    for i in planted:
        src = (int(i) + 1 + int(r.integers(0, n_docs - 1))) % n_docs  # never i itself
        texts[i] = texts[src] + " dup" * int(r.integers(1, 3))
    lang_p = np.array([0.44, 0.14, 0.14, 0.14, 0.14])
    put("documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in r.choice(5, n_docs, p=lang_p)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    # embeddings: unit-norm 64-d float32 vectors, 10 labels
    r = _rng(seed, "embeddings")
    v = r.standard_normal((n_vec, 64)).astype("float32")
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_vec), pa.int32()),
    })
    return rows


# ------------------------------------------------------------ etl input

ETL_HEADER = "id,customer,amount,quantity,order_date,region,discount,email"


def etl_csv(path: str, seed: int, n_rows: int) -> int:
    """Write the transfer source: 8 typed columns (ints, decimals, dates,
    strings, nulls), shaped like TinyETL's 100k-row sample run. About 3%
    of emails are malformed, so the schema's pattern rule filters rows."""
    r = _rng(seed, "etl")
    ids = np.arange(1, n_rows + 1)
    names = [f"{P_ADJ[a]}_{P_NOUN[b]}_{k}" for a, b, k in zip(
        r.integers(0, len(P_ADJ), n_rows), r.integers(0, len(P_NOUN), n_rows),
        r.integers(0, 1000, n_rows))]
    amount = _money(r, 1.0, 999.99, n_rows)
    qty = r.integers(1, 21, n_rows)
    d0 = _days_since(2020, 1, 1)
    days = np.datetime64("1970-01-01") + (d0 + r.integers(0, 1461, n_rows)).astype("timedelta64[D]")
    region = r.integers(0, 5, n_rows)
    disc = r.integers(0, 31, n_rows)
    disc_null = r.random(n_rows) < 0.1
    email_kind = r.random(n_rows)
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(ETL_HEADER + "\n")
        for i in range(n_rows):
            e = email_kind[i]
            email = ("" if e < 0.05 else
                     f"{names[i]}-at-example.com" if e < 0.08 else
                     f"{names[i]}@example.com")
            d = "" if disc_null[i] else f"{disc[i] / 100:.2f}"
            fh.write(f"{ids[i]},{names[i]},{amount[i]:.2f},{qty[i]},{days[i]},"
                     f"{REGIONS[region[i]]},{d},{email}\n")
    return n_rows
