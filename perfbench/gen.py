"""Seeded input generators for the benchmark.

Everything here is a pure function of ``seed`` (and the scale factor),
written with pyarrow so that generating inputs never runs a Spark job.
The tables follow the engine's TPC-H-ish testdata contract
(``core.contracts.TESTDATA``): same names, columns and types, and the
same value domains, so every catalog query and its DuckDB oracle run
unchanged on them.

Three generators:

- :func:`write_tables` — one sf-shaped directory of all ten tables;
- :class:`EtlDays` — one input directory per run date for the daily
  DAG: shifted order keys (each day's sales are new), a seeded ~1% of
  customers and parts changed since the previous day (the truth the
  reconcile check compares against), and duplicate order lines kept;
- :class:`DocStream` — parquet files of token-tagged documents for the
  streaming near-dup ingest, a seeded share of them planted
  near-duplicates of documents landed in earlier files.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

ORDER_EPOCH = np.datetime64("1995-01-01")
EVENT_EPOCH = np.datetime64("2024-01-01T00:00:00", "us")


def sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (testdata ratios)."""
    return {
        "customer": max(30, int(150_000 * sf)),
        "supplier": max(5, int(10_000 * sf)),
        "part": max(40, int(200_000 * sf)),
        "orders": max(300, int(1_500_000 * sf)),
        "events": max(500, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _write(out_dir: str, name: str, cols: dict, schema: pa.Schema) -> None:
    pq.write_table(pa.table(cols, schema=schema), os.path.join(out_dir, f"{name}.parquet"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


# --- dimension tables --------------------------------------------------------


def _region_nation(out_dir: str) -> None:
    _write(out_dir, "region",
           {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS},
           pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]))
    keys = np.arange(25, dtype=np.int32)
    _write(out_dir, "nation",
           {"n_nationkey": keys, "n_name": [f"NATION_{k}" for k in keys],
            "n_regionkey": keys % 5},
           pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                      ("n_regionkey", pa.int32())]))


def customers(rng, n: int) -> dict:
    return {
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{k:09d}" for k in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": rng.choice(SEGMENTS, n).tolist(),
    }


CUSTOMER_SCHEMA = pa.schema([
    ("c_custkey", pa.int64()), ("c_name", pa.string()), ("c_nationkey", pa.int32()),
    ("c_acctbal", pa.float64()), ("c_mktsegment", pa.string()),
])


def suppliers(rng, n: int) -> dict:
    return {
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{k:09d}" for k in range(n)],
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    }


SUPPLIER_SCHEMA = pa.schema([
    ("s_suppkey", pa.int64()), ("s_name", pa.string()),
    ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64()),
])


def parts(rng, n: int) -> dict:
    keys = np.arange(n, dtype=np.int64)
    return {
        "p_partkey": keys,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n), rng.choice(PART_NOUN, n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(PART_TYPES, n).tolist(),
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1),
    }


PART_SCHEMA = pa.schema([
    ("p_partkey", pa.int64()), ("p_name", pa.string()), ("p_brand", pa.string()),
    ("p_type", pa.string()), ("p_size", pa.int32()), ("p_retailprice", pa.float64()),
])


# --- facts --------------------------------------------------------------------


def orders_lineitem(rng, n_orders: int, n_cust: int, n_part: int, n_supp: int,
                    key_offset: int = 0) -> tuple[dict, dict]:
    """Orders plus ~4 line items per order. Line numbers are drawn at
    random, so some (orderkey, linenumber) pairs repeat: the duplicate
    order lines the DAG's ingest dedupes before its uniqueness gate."""
    okeys = np.arange(n_orders, dtype=np.int64) + key_offset
    odate = ORDER_EPOCH + rng.integers(0, 2404, n_orders).astype("timedelta64[D]")
    orders = {
        "o_orderkey": okeys,
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders).tolist(),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_orders),
        "o_orderdate": odate.astype("datetime64[us]"),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders).tolist(),
    }
    n_lines = 4 * n_orders
    ship = ORDER_EPOCH + rng.integers(1, 2499, n_lines).astype("timedelta64[D]")
    lineitem = {
        "l_orderkey": rng.choice(okeys, n_lines),
        "l_partkey": rng.integers(0, n_part, n_lines).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_lines).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_lines).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_lines).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_lines),
        "l_discount": rng.integers(0, 11, n_lines) / 100.0,
        "l_tax": rng.integers(0, 9, n_lines) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_lines).tolist(),
        "l_linestatus": rng.choice(["F", "O"], n_lines).tolist(),
        "l_shipdate": ship.astype("datetime64[us]"),
    }
    return orders, lineitem


ORDERS_SCHEMA = pa.schema([
    ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()), ("o_orderstatus", pa.string()),
    ("o_totalprice", pa.float64()), ("o_orderdate", pa.timestamp("us")),
    ("o_orderpriority", pa.string()),
])
LINEITEM_SCHEMA = pa.schema([
    ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()), ("l_suppkey", pa.int64()),
    ("l_linenumber", pa.int32()), ("l_quantity", pa.float64()),
    ("l_extendedprice", pa.float64()), ("l_discount", pa.float64()), ("l_tax", pa.float64()),
    ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
    ("l_shipdate", pa.timestamp("us")),
])


def _events(rng, n: int) -> dict:
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n))
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": EVENT_EPOCH + offsets.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(15, n // 66), n).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n).tolist(),
        "value": _money(rng, 0.01, 500.0, n),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)],
    }


def random_text(rng, n_tokens: int, tag: str = "") -> list[str]:
    return [w + tag for w in rng.choice(WORDS, n_tokens)]


def near_copy(rng, tokens: list[str]) -> list[str]:
    """One token replaced: word-3-gram Jaccard >= 0.85 for >= 40 tokens."""
    out = list(tokens)
    out[int(rng.integers(0, len(out)))] = "dup"
    return out


def _documents(rng, n: int) -> dict:
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.06:  # planted near-dup of an earlier doc
            toks = texts[int(rng.integers(0, i))].split()
            texts.append(" ".join(near_copy(rng, toks) if len(toks) >= 40 else toks + ["dup"]))
        else:
            texts.append(" ".join(random_text(rng, int(rng.integers(10, 100)))))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n).tolist(),
        "source": [f"src{s}" for s in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n: int, dim: int = 64, k: int = 10) -> dict:
    centers = rng.normal(0.0, 1.0, (k, dim))
    labels = rng.integers(0, k, n)
    v = centers[labels] + rng.normal(0.0, 0.8, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return {"vec_id": np.arange(n, dtype=np.int64), "embedding": list(v),
            "label": labels.astype(np.int32)}


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """All ten testdata tables at ``sf``; returns row counts per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 0])
    n = sizes(sf)
    _region_nation(out_dir)
    _write(out_dir, "customer", customers(rng, n["customer"]), CUSTOMER_SCHEMA)
    _write(out_dir, "supplier", suppliers(rng, n["supplier"]), SUPPLIER_SCHEMA)
    _write(out_dir, "part", parts(rng, n["part"]), PART_SCHEMA)
    o, li = orders_lineitem(rng, n["orders"], n["customer"], n["part"], n["supplier"])
    _write(out_dir, "orders", o, ORDERS_SCHEMA)
    _write(out_dir, "lineitem", li, LINEITEM_SCHEMA)
    _write(out_dir, "events", _events(rng, n["events"]), pa.schema([
        ("event_id", pa.int64()), ("ts", pa.timestamp("us")), ("user_id", pa.int64()),
        ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string()),
    ]))
    _write(out_dir, "documents", _documents(rng, n["documents"]), pa.schema([
        ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
        ("source", pa.string()), ("n_chars", pa.int64()),
    ]))
    _write(out_dir, "embeddings", _embeddings(rng, n["embeddings"]), pa.schema([
        ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32()),
    ]))
    return {**n, "lineitem": len(li["l_orderkey"]), "region": 5, "nation": 25}


# --- daily DAG inputs -----------------------------------------------------------


class EtlDays:
    """Run-date input directories for the daily DAG. Dimensions carry
    over from day to day with ``change_share`` of customers and parts
    changed per day; orders are new each day (keys shifted by the day
    index)."""

    def __init__(self, root: str, seed: int, sf: float, change_share: float = 0.01):
        self.root, self.seed, self.change_share = root, seed, change_share
        self.n = sizes(sf)
        rng = np.random.default_rng([seed, 1])
        self.customer = customers(rng, self.n["customer"])
        self.supplier = suppliers(rng, self.n["supplier"])
        self.part = parts(rng, self.n["part"])
        self.changed_customers: dict[int, int] = {}
        self.sales_rows: dict[int, int] = {}

    def _change(self, rng, day: int) -> None:
        c, p = self.customer, self.part
        k = max(1, round(self.change_share * len(c["c_custkey"])))
        for i in rng.choice(len(c["c_custkey"]), k, replace=False):
            c["c_name"][i] = f"Customer#{i:09d}-v{day}"
            c["c_mktsegment"][i] = SEGMENTS[(SEGMENTS.index(c["c_mktsegment"][i]) + 1) % 5]
        self.changed_customers[day] = k
        k = max(1, round(self.change_share * len(p["p_partkey"])))
        for i in rng.choice(len(p["p_partkey"]), k, replace=False):
            p["p_type"][i] = PART_TYPES[(PART_TYPES.index(p["p_type"][i]) + 1) % 6]

    def write(self, day: int) -> str:
        """Write day ``day`` (0-based, days in order) and return its dir."""
        out = os.path.join(self.root, f"day{day:02d}")
        os.makedirs(out, exist_ok=True)
        rng = np.random.default_rng([self.seed, 2, day])
        if day > 0:
            self._change(rng, day)
        n = self.n
        o, li = orders_lineitem(rng, n["orders"], n["customer"], n["part"], n["supplier"],
                                key_offset=day * n["orders"])
        _write(out, "customer", self.customer, CUSTOMER_SCHEMA)
        _write(out, "supplier", self.supplier, SUPPLIER_SCHEMA)
        _write(out, "part", self.part, PART_SCHEMA)
        _write(out, "orders", o, ORDERS_SCHEMA)
        _write(out, "lineitem", li, LINEITEM_SCHEMA)
        self.sales_rows[day] = len(li["l_orderkey"])
        return out


def run_date(day: int) -> dt.date:
    return dt.date(2024, 3, 1) + dt.timedelta(days=day)


# --- streaming documents -------------------------------------------------------


class DocStream:
    """Files of ``docs_per_file`` documents. Tokens of the original
    documents in file ``f`` carry the tag ``@f`` (the token-tagged
    protocol: no two originals share a shingle, so there are no
    accidental duplicate cliques); a ``dup_share`` of each file from the
    second on is near-copies of originals from earlier files. The
    ground truth is kept here: ``planted`` maps each planted doc id to
    the id it copies."""

    SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])

    def __init__(self, seed: int, docs_per_file: int, dup_share: float):
        self.rng = np.random.default_rng([seed, 3])
        self.docs_per_file, self.dup_share = docs_per_file, dup_share
        self.originals: list[tuple[int, list[str]]] = []
        self.planted: dict[int, int] = {}
        self.files = 0

    def next_table(self) -> pa.Table:
        f, rng = self.files, self.rng
        ids, texts = [], []
        n_dup = round(self.dup_share * self.docs_per_file) if f > 0 else 0
        for j in range(self.docs_per_file):
            doc_id = f * self.docs_per_file + j
            if j < n_dup:
                src_id, toks = self.originals[int(rng.integers(0, len(self.originals)))]
                toks = near_copy(rng, toks)
                self.planted[doc_id] = src_id
            else:
                toks = random_text(rng, int(rng.integers(40, 80)), f"@{f}")
                self.originals.append((doc_id, toks))
            ids.append(doc_id)
            texts.append(" ".join(toks))
        self.files += 1
        order = rng.permutation(len(ids))
        return pa.table({"doc_id": np.array(ids, dtype=np.int64)[order],
                         "text": [texts[i] for i in order]}, schema=self.SCHEMA)
