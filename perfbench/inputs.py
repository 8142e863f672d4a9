"""Seeded input generation for the workloads.

Every generator seeds its own ``numpy.random.Generator`` from the run's
``--seed`` and writes parquet with pyarrow, so the same seed gives the
same inputs and generation never touches Spark (its cost lands in
``setup_s``, not in a timed call).  The program under test only ever
sees the files.

Row shape of the ingestion workload::

    pkey BIGINT, modified_date TIMESTAMP, arrival BIGINT,
    amount DOUBLE, name STRING, cat INT, created_ms BIGINT

``modified_date`` is whole seconds so equal versions occur and the
``arrival`` tie-break (unique per row across a run) decides them.
``created_ms`` is the row's scheduled creation time, in milliseconds from
the start of the delivery schedule (0 for pre-loaded rows).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_EPOCH_S = 1_700_000_000  # 2023-11-14T22:13:20Z
VERSION_TYPE = pa.timestamp("us", tz="UTC")  # read by Spark as TIMESTAMP, not TIMESTAMP_NTZ

ROW_SCHEMA = pa.schema(
    [
        ("pkey", pa.int64()),
        ("modified_date", VERSION_TYPE),
        ("arrival", pa.int64()),
        ("amount", pa.float64()),
        ("name", pa.string()),
        ("cat", pa.int32()),
        ("created_ms", pa.int64()),
    ]
)

_NAMES = np.array([f"name-{i:04d}" for i in range(4099)], dtype=object)


def skewed_keys(rng: np.random.Generator, n_keys: int, size: int, hot_share: float, hot_keys: int) -> np.ndarray:
    """``size`` keys from ``[0, n_keys)``: a ``hot_share`` of them drawn
    from ``hot_keys`` hot keys (spread over the key space by a fixed
    stride), the rest uniform."""
    out = rng.integers(0, n_keys, size)
    hot = rng.random(size) < hot_share
    stride = max(1, n_keys // max(hot_keys, 1))
    out[hot] = rng.integers(0, hot_keys, int(hot.sum())) * stride
    return out


def rows(
    rng: np.random.Generator,
    keys: np.ndarray,
    version_s: np.ndarray,
    arrival0: int,
    created_ms: int = 0,
) -> pa.Table:
    n = len(keys)
    return pa.table(
        {
            "pkey": pa.array(keys, pa.int64()),
            "modified_date": pa.array((BASE_EPOCH_S + version_s) * 1_000_000, VERSION_TYPE),
            "arrival": pa.array(np.arange(arrival0, arrival0 + n), pa.int64()),
            "amount": pa.array(np.round(rng.random(n) * 1000.0, 2)),
            "name": pa.array(_NAMES[(keys + rng.integers(0, len(_NAMES), n)) % len(_NAMES)]),
            "cat": pa.array(rng.integers(0, 64, n), pa.int32()),
            "created_ms": pa.array(np.full(n, created_ms), pa.int64()),
        },
        schema=ROW_SCHEMA,
    )


def write(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path


# ---------------------------------------------------------------- stream


@dataclass(frozen=True)
class StreamSpec:
    keys: int = 20_000
    rows_per_delivery: int = 200
    rate_per_s: float = 0.5
    new_key_share: float = 0.02
    hot_share: float = 0.2
    hot_keys: int = 200
    stale_share: float = 0.15
    num_buckets: int = 16


def stream_inputs(seed: int, spec: StreamSpec, n_deliveries: int, out_dir: str) -> tuple[str, list[tuple[str, float]]]:
    """Pre-load file plus ``n_deliveries`` staged delivery files.

    Returns the pre-load path and ``(staged_path, due_s)`` per delivery,
    where ``due_s`` is the delivery's landing time on a fixed-rate
    schedule.  Versions increase with the schedule, except a
    ``stale_share`` of rows that carry an older version and must lose
    under newer-wins."""
    rng = np.random.default_rng([seed, 1])
    preload = rows(rng, np.arange(spec.keys), rng.integers(0, 600, spec.keys), 0)
    pre_path = write(preload, os.path.join(out_dir, "preload.parquet"))
    staged = []
    arrival = spec.keys
    period = 1.0 / spec.rate_per_s
    for i in range(n_deliveries):
        due = i * period
        m = spec.rows_per_delivery
        keys = skewed_keys(rng, spec.keys, m, spec.hot_share, spec.hot_keys)
        new = rng.random(m) < spec.new_key_share
        keys[new] = spec.keys + rng.integers(0, spec.keys, int(new.sum()))
        version = 600 + int(due) + rng.integers(0, 3, m)
        stale = rng.random(m) < spec.stale_share
        version[stale] = rng.integers(0, 600 + int(due), int(stale.sum()))
        t = rows(rng, keys, version, arrival, created_ms=int(due * 1000))
        arrival += m
        staged.append((write(t, os.path.join(out_dir, "staged", f"d{i:05d}.parquet")), due))
    return pre_path, staged


# ---------------------------------------------------------------- corpus

CORPUS_SF = 0.01  # relational and embedding tables at sf0.01 sizes
CORPUS_DOCS = 50  # documents at sf0.001 size, set by the run budget and the text oracles' DuckDB cost
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
_PART_WORDS = (["small", "red", "large", "blue", "green", "tiny", "dark", "bright"],
               ["ring", "widget", "gear", "bolt", "panel", "valve", "spring", "cable"])


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, span: int, n):
    base = np.datetime64(start, "D")
    return pa.array((base + rng.integers(0, span, n)).astype("datetime64[us]"), pa.timestamp("us"))


def _names(fmt: str, n: int):
    return pa.array([fmt % i for i in range(n)])


def corpus_tables(seed: int, out_dir: str) -> dict[str, list[str]]:
    """The query corpus's nine tables, as ``<out_dir>/<name>.parquet``
    with the column names and types the registered queries and their
    oracle SQL read.  Returns the column names per table."""
    rng = np.random.default_rng([seed, 3])
    sf, n_doc = CORPUS_SF, CORPUS_DOCS
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_emb = int(50_000 * sf)
    i32 = pa.int32()
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": _names("NATION_%d", 25),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": _names("Customer#%09d", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": _names("Supplier#%09d", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj, noun = _PART_WORDS
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", 2498, n_line),
    })
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier document
            words = texts[int(rng.integers(0, i))].split()
            j = int(rng.integers(0, len(words)))
            words[j] = "dup"
        else:
            words = list(rng.choice(_WORDS, int(rng.integers(8, 91))))
        texts.append(" ".join(words))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "zh", "de", "fr", "es"], n_doc, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32),
    })
    os.makedirs(out_dir, exist_ok=True)
    for name, table in t.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.column_names for name, table in t.items()}
