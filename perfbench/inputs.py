"""Seeded input generator for the benchmark.

Writes the ten tables the engine reads (``region`` .. ``embeddings``)
as single-row-group parquet files with the column names and types of
the test data described in TESTDATA.md, at the row counts of its sf0.01
scale.  The tables come from the fixed ``DATA_SEED``, so every run
works on byte-identical tables and the cost of a query does not move
with ``--seed`` (the walk and connected-components rounds depend on the
data); ``--seed`` picks the query order and the stream cut.

``cut_stream`` splits the generated ``events`` and ``documents`` into
micro-batch files for the streaming workload: events by event time,
with a stated share displaced across slice boundaries (within the
10-minute watermark) and a stated share of exact duplicates.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Row counts of the sf0.01 test data (documents and embeddings do not
#: scale there either).
ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
SCALE = "sf0.01"

N_USERS = 500
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
EVENT_T0 = dt.datetime(2024, 1, 1)
EVENT_DAYS = 30
WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = (["en", "zh", "de", "fr", "es"], [0.42, 0.15, 0.14, 0.14, 0.15])
DATA_SEED = 20240101
NEAR_DUP_SHARE = 0.05
EMB_DIM = 64
EMB_NEAR_DUP_SHARE = 0.02

#: Streaming cut: events within this many minutes AFTER a slice
#: boundary may move into the earlier file, events within LATE_MIN
#: minutes BEFORE it into the later file.  EARLY_MIN + LATE_MIN stays
#: under the channels' 10-minute watermark, so no displaced row is
#: ever late enough to be dropped.
EARLY_MIN = 4
LATE_MIN = 5
DISPLACE_P = 0.5
DUP_SHARE = 0.02


def _ts(values: np.ndarray) -> pa.Array:
    return pa.array(values.astype("datetime64[us]"), type=pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   row_group_size=max(1, table.num_rows))


def _days(rng, n, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n).astype("datetime64[D]")


def _cents(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def generate(out_dir: str) -> dict:
    """Write every table under ``out_dir``; return {table: rows}."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(DATA_SEED)
    n = ROWS

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    segs = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": _cents(rng.uniform(-999.99, 9999.99, n["customer"])),
        "c_mktsegment": rng.choice(segs, n["customer"]).tolist(),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": _cents(rng.uniform(-999.99, 9999.99, n["supplier"])),
    })
    adj = ["large", "hot", "blue", "old", "cold", "green", "small", "shiny"]
    noun = ["ring", "bolt", "plate", "gear", "pipe", "nut", "valve", "spring"]
    types = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
    np_ = n["part"]
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(np_), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(adj, np_), rng.choice(noun, np_))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": rng.choice(types, np_).tolist(),
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 1),
    })
    no = n["orders"]
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], no), pa.int64()),
        "o_orderstatus": rng.choice(["O", "F", "P"], no).tolist(),
        "o_totalprice": _cents(rng.uniform(1000.0, 500000.0, no)),
        "o_orderdate": _ts(_days(rng, no, "1995-01-01", "2001-08-01")),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no
        ).tolist(),
    })
    nl = n["lineitem"]
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _cents(rng.uniform(900.0, 105000.0, nl)),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl).tolist(),
        "l_linestatus": rng.choice(["O", "F"], nl).tolist(),
        "l_shipdate": _ts(_days(rng, nl, "1995-01-02", "2001-11-04")),
    })

    ne = n["events"]
    span_us = EVENT_DAYS * 86400 * 10**6
    offs = np.sort(rng.integers(0, span_us, ne))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts(np.datetime64(EVENT_T0, "us") + offs.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, N_USERS, ne), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, ne).tolist(),
        "value": _cents(rng.exponential(50.0, ne)),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)],
    })

    nd = n["documents"]
    texts: list[str] = []
    for i in range(nd):
        if i > 10 and rng.random() < NEAR_DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(8, 97)))))
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS[0], nd, p=LANGS[1]).tolist(),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    nv = n["embeddings"]
    x = rng.standard_normal((nv, EMB_DIM))
    for i in np.flatnonzero(rng.random(nv) < EMB_NEAR_DUP_SHARE):
        j = int(rng.integers(0, nv))
        x[i] = x[j] + 0.05 * rng.standard_normal(EMB_DIM)
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    })
    return {"region": 5, "nation": 25, **n}


def _write_files(out_dir: str, table: pa.Table, parts: list[np.ndarray]) -> list[str]:
    """One parquet file per part, with strictly increasing mtimes: the
    file stream source consumes files in modification-time order, so
    file i becomes micro-batch i."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for i, idx in enumerate(parts):
        p = os.path.join(out_dir, f"batch-{i:04d}.parquet")
        pq.write_table(table.take(pa.array(idx, pa.int64())), p)
        os.utime(p, (1_700_000_000 + 100 * i,) * 2)
        paths.append(p)
    return paths


def cut_stream(sf_dir: str, out_dir: str, seed: int, n_files: int) -> dict:
    """Cut ``events`` into ``n_files`` event-time slices and
    ``documents`` into ``n_files`` id ranges under ``out_dir``/{events,
    documents}.  Returns the cut's sizes and displacement counts."""
    rng = np.random.default_rng(seed + 1)
    ev = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    ts = ev.column("ts").to_numpy().astype("datetime64[us]").astype(np.int64)
    t0 = np.datetime64(EVENT_T0, "us").astype(np.int64)
    hour = 3600 * 10**6
    # slice boundaries on whole hours, so a candle window never spans one
    bounds = t0 + np.round(np.linspace(0, EVENT_DAYS * 24, n_files + 1)).astype(np.int64) * hour
    home = np.clip(np.searchsorted(bounds, ts, side="right") - 1, 0, n_files - 1)
    slot = home.copy()
    minute = 60 * 10**6
    upper = bounds[home + 1]
    lower = bounds[home]
    late = (home < n_files - 1) & (ts >= upper - LATE_MIN * minute)
    early = (home > 0) & (ts < lower + EARLY_MIN * minute)
    move = rng.random(len(ts)) < DISPLACE_P
    slot[late & move] += 1
    slot[early & move & ~late] -= 1
    dups = np.flatnonzero(rng.random(len(ts)) < DUP_SHARE)
    rows = np.concatenate([np.arange(len(ts)), dups])
    slots = np.concatenate([slot, slot[dups]])
    parts = []
    for i in range(n_files):
        idx = rows[slots == i]
        parts.append(rng.permutation(idx))
    ev_paths = _write_files(os.path.join(out_dir, "events"), ev, parts)

    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    doc_parts = np.array_split(np.arange(docs.num_rows), n_files)
    doc_paths = _write_files(os.path.join(out_dir, "documents"), docs, doc_parts)
    return {
        "files_per_table": n_files,
        "event_rows": int(len(rows)),
        "events_displaced": int((slot != home).sum()),
        "event_duplicates": int(len(dups)),
        "document_rows": int(docs.num_rows),
        "bytes": int(sum(os.path.getsize(p) for p in ev_paths + doc_paths)),
    }
