"""Deterministic inputs for the benchmark.

``write_tables`` writes the ten catalog tables (TPC-H-style star schema
plus ``events``, ``documents`` and ``embeddings``) at a scale factor,
with the same schemas and value distributions the catalog and query
registry expect: uniform foreign keys, two-decimal money, exponential
event values, a 30-word document vocabulary with 5% exact-copy
documents, and 64-dimensional unit embeddings. The tables depend only
on the scale factor, never on the benchmark seed, so every run of a
workload reads the same bytes.

``stream_batch`` draws one events-shaped stream file from a seeded
generator and returns the expected pipeline outcome of every row,
computed in numpy from the arrays it wrote.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
NOUNS = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]

_DAY_US = 86_400_000_000


def _days(start: str, n: np.ndarray) -> np.ndarray:
    return (np.datetime64(start, "D") + n.astype("timedelta64[D]")).astype(
        "datetime64[us]"
    )


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _write(path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path)


def _tables(sf: float) -> dict[str, dict]:
    rng = np.random.default_rng(TABLE_SEED)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(10, int(200_000 * sf))
    n_ord = max(10, int(1_500_000 * sf))
    n_line = max(10, int(6_000_000 * sf))
    n_ev = max(10, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    n_user = max(10, int(15_000 * sf))

    t: dict[str, dict] = {}
    t["region"] = {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS,
    }
    t["nation"] = {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    }
    t["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    }
    t["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = {
        "p_partkey": pk,
        "p_name": [
            f"{ADJECTIVES[a]} {NOUNS[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": 900.0 + (pk % 1000) / 10.0,
    }
    t["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days("1995-01-01", rng.integers(0, 2405, n_ord)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    }
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days("1995-01-02", rng.integers(0, 2499, n_line)),
    }
    # Poisson arrivals over 30 days, as a consumer would see them
    gaps = rng.exponential(30 * _DAY_US / n_ev, n_ev)
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    t["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n_user, n_ev),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }
    t["documents"] = _documents(rng, n_doc)
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    }
    return t


def _documents(rng: np.random.Generator, n: int) -> dict:
    vocab = np.array(VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), k)])
        for k in rng.integers(10, 101, n)
    ]
    # 5% of documents copy an earlier one plus a marker token, so the
    # near-duplicate operators have true pairs to find
    for i in rng.choice(np.arange(1, n), n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    }


def write_tables(sf: float, out_dir: str) -> None:
    """Write every catalog table for scale ``sf`` under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, cols in _tables(sf).items():
        _write(os.path.join(out_dir, f"{name}.parquet"), cols)


STREAM_SCHEMA = (
    "event_id BIGINT, offset BIGINT, ts TIMESTAMP, user_id BIGINT, "
    "event_type STRING, value DOUBLE, props STRING"
)


def stream_batch(
    rng: np.random.Generator, first_id: int, rows: int, n_users: int = 2000
) -> tuple[dict, dict[str, np.ndarray]]:
    """One events-shaped stream file and its expected outcomes.

    ``user_id`` is Zipf-skewed (a few hot keys), about 5% of rows are
    ``error`` events and about 5% lack ``k`` in ``props``; ``value`` is
    uniform on [0, 100). ``offset`` is the source position (= event_id)
    that KEY_ORDERED mode keeps in order within a key. The expected
    outcome follows the benchmark pipeline: error -> failed, missing k
    or value <= 50 -> filtered, else passed.
    """
    ids = np.arange(first_id, first_id + rows, dtype=np.int64)
    users = (rng.zipf(1.3, rows) - 1) % n_users
    is_error = rng.random(rows) < 0.05
    kinds = np.where(
        is_error, "error", np.array(["click", "purchase", "view"])[rng.integers(0, 3, rows)]
    )
    no_k = rng.random(rows) < 0.05
    ks = rng.integers(0, 100, rows)
    props = [("{}" if m else f'{{"k": {k}}}') for m, k in zip(no_k, ks)]
    value = np.round(rng.random(rows) * 100.0, 2)
    ts = np.datetime64("2024-01-01", "us") + (ids * 1000).astype("timedelta64[us]")
    cols = {
        "event_id": ids,
        "offset": ids,
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "user_id": users.astype(np.int64),
        "event_type": kinds,
        "value": value,
        "props": props,
    }
    failed = is_error
    filtered = ~is_error & (no_k | (value <= 50.0))
    expected = {
        "passed": ids[~failed & ~filtered],
        "filtered": ids[filtered],
        "failed": ids[failed],
    }
    return cols, expected


def write_stream_file(path: str, cols: dict) -> None:
    """Write atomically: the file source must never list a half file."""
    tmp = os.path.join(os.path.dirname(os.path.dirname(path)), "." + os.path.basename(path))
    _write(tmp, cols)
    os.replace(tmp, path)
