"""Seeded inputs for the benchmark workloads.

`write_tables` writes the ten analytics tables (the TPC-H-like star
schema plus `events`, `documents` and `embeddings`) as one parquet file
each, with the column names, types and value shapes of the repository's
synthetic test data, so every registered query and its DuckDB oracle
run on them unchanged. The same seed gives byte-identical files.

`crud_ops` and `ingest_plan` build the op sequences of the two parts of
the oltp workload, and `oltp_order` interleaves them. Each is a fixed composition of op kinds (the count of every
kind is the same for every seed) whose order and arguments come from the
seed, so runs on different seeds do the same amount of each kind of work.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_VOCAB = (
    "join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window a spark "
    "part group big sort query fast the"
).split()
_PART_WORDS = (
    "anvil blue bolt cold gear gizmo hot large new old plate red ring rod "
    "small widget"
).split()


def _ts(days_from: str, n: int, rng: np.random.Generator, span_days: int):
    base = np.datetime64(days_from, "D")
    return (base + rng.integers(0, span_days, n).astype("timedelta64[D]")).astype(
        "datetime64[us]"
    )


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write the analytics tables at `scale` (1.0 = the sf1 row counts)
    into `out_dir`; return rows per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_line = int(1_500_000 * scale), int(6_000_000 * scale)
    n_ev, n_doc, n_emb = int(1_000_000 * scale), int(50_000 * scale), int(50_000 * scale)
    i32 = pa.int32()

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"], n_cust
        ),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    w = rng.integers(0, len(_PART_WORDS), (n_part, 2))
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{_PART_WORDS[a]} {_PART_WORDS[b]}" for a, b in w],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(
            ["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"], n_part
        ),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["P", "O", "F"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts("1995-01-01", n_ord, rng, 2404),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["R", "A", "N"], n_line),
        "l_linestatus": rng.choice(["O", "F"], n_line),
        "l_shipdate": _ts("1995-01-02", n_line, rng, 2498),
    })
    # events: one month of strictly increasing timestamps
    span_us = 30 * 86_400_000_000
    ev_us = np.sort(rng.choice(span_us, n_ev, replace=False))
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(
            np.datetime64("2024-01-01T00:00:00", "us") + ev_us.astype("timedelta64[us]"),
            pa.timestamp("us"),
        ),
        "user_id": rng.integers(0, max(1, int(15_000 * scale)), n_ev),
        "event_type": rng.choice(["signup", "error", "click", "view", "purchase"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2) + 0.01,
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })
    # documents: random word runs; one in twenty is a near-duplicate of
    # an earlier document with " dup" appended (the dedup families'
    # positive cases)
    texts: list[str] = []
    for i in range(n_doc):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(_VOCAB[j] for j in rng.integers(0, len(_VOCAB), k)))
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "zh", "es", "de", "fr"], n_doc, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    # embeddings: 64-d unit vectors loosely clustered around ten labels
    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = rng.normal(0.0, 1.0, (n_emb, 64)) + 0.15 * centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part, "orders": n_ord,
        "lineitem": n_line, "events": n_ev, "documents": n_doc, "embeddings": n_emb,
    }


# -- crud ------------------------------------------------------------------

# Per-round composition of oltp's crud part: about half reads. Every
# seed runs exactly these counts; the seed picks order and arguments.
CRUD_MIX = {
    "insert": 2,
    "update": 1,
    "upsert": 1,
    "delete": 1,
    "txn": 1,
    "find": 3,
    "range": 3,
    "litesql": 1,
    "nl": 1,
}
CRUD_READS = frozenset({"find", "range", "litesql", "nl"})
CRUD_DEVICES = 120
CRUD_READINGS = 600
SITES = [f"site{i}" for i in range(8)]


def crud_seed_rows(seed: int) -> tuple[list[dict], list[dict]]:
    """Initial parent (device) and child (reading) rows."""
    rng = random.Random(seed * 7919 + 1)
    devices = [
        {"id": i, "serial": f"SN{i:06d}", "site": rng.choice(SITES),
         "rating": float(rng.randint(0, 100))}
        for i in range(1, CRUD_DEVICES + 1)
    ]
    readings = [
        {"id": i, "device_id": rng.randint(1, CRUD_DEVICES),
         "kind": rng.choice(["temp", "hum", "co2"]),
         "v": round(rng.uniform(0.0, 100.0), 2)}
        for i in range(1, CRUD_READINGS + 1)
    ]
    return devices, readings


def crud_ops(seed: int, mix: dict[str, int] = CRUD_MIX) -> list[tuple[str, dict]]:
    """One round's op list: (kind, args), with `mix[kind]` ops of each
    kind. Arguments are drawn against a CrudModel of the live rows, so
    every write is valid (no FK or unique violation) and ids of new rows
    are explicit."""
    from perfbench.models import CrudModel

    rng = random.Random(seed)
    model = CrudModel(*crud_seed_rows(seed))
    kinds = [k for k, n in mix.items() for _ in range(n)]
    rng.shuffle(kinds)
    next_dev, next_read = CRUD_DEVICES + 1, CRUD_READINGS + 1

    def device(i: int) -> dict:
        return {"id": i, "serial": f"SN{i:06d}", "site": rng.choice(SITES),
                "rating": float(rng.randint(0, 100))}

    ops: list[tuple[str, dict]] = []
    for kind in kinds:
        live = sorted(model.devices)
        if kind == "insert":
            rows = []
            for _ in range(rng.randint(2, 6)):
                rows.append({"id": next_read, "device_id": rng.choice(live),
                             "kind": rng.choice(["temp", "hum", "co2"]),
                             "v": round(rng.uniform(0.0, 100.0), 2)})
                next_read += 1
            args = {"rows": rows}
        elif kind == "update":
            args = {"site": rng.choice(SITES), "delta": float(rng.randint(1, 5))}
        elif kind == "upsert":
            # one live device rewritten, one new device added
            args = {"rows": [device(rng.choice(live)), device(next_dev)]}
            next_dev += 1
        elif kind == "delete":
            args = {"id": rng.choice(live)}
        elif kind == "txn":
            args = {"device": device(next_dev),
                    "reading": {"id": next_read, "device_id": next_dev, "kind": "temp",
                                "v": round(rng.uniform(0.0, 100.0), 2)}}
            next_dev += 1
            next_read += 1
        elif kind == "find":
            args = {"serial": f"SN{rng.randint(1, next_dev - 1):06d}"}
        elif kind == "range":
            lo = round(rng.uniform(0.0, 80.0), 2)
            args = {"lo": lo, "hi": lo + 20.0}
        elif kind == "litesql":
            args = {"site": rng.choice(SITES)}
        else:  # nl
            args = {"rating": float(rng.randint(10, 90))}
        model.apply(kind, args)
        ops.append((kind, args))
    return ops


def oltp_order(seed: int, n_crud: int, n_ingest: int) -> str:
    """A seeded interleaving of the crud and ingest op lists: 'c' and 'i'
    marks, consumed in order, so each list keeps its own order."""
    marks = ["c"] * n_crud + ["i"] * n_ingest
    random.Random(seed * 13 + 7).shuffle(marks)
    return "".join(marks)


# -- ingest ----------------------------------------------------------------

INGEST_POINTS = 1000
INGEST_BATCHES = 2
INGEST_BATCH_ROWS = 300
INGEST_TICK_EVERY = 2
BATCH_SPAN_S = 420  # every row of batch b lies in batch_window(b)
FLAG_TS, FLAG_CHAIN, FLAG_PASSWORD, FLAG_P9 = 2, 4, 8, 64
_EPOCH = dt.datetime(2024, 1, 1)


def ingest_points(seed: int) -> list[dict]:
    """The fleet: a seeded mix of TimeSeries / BlockChain / Password /
    Priority9Only flags and strict types."""
    rng = random.Random(seed * 31 + 5)
    pts = []
    for i in range(INGEST_POINTS):
        flags = 0
        if rng.random() < 0.6:
            flags |= FLAG_TS
        if rng.random() < 0.4:
            flags |= FLAG_CHAIN
        if rng.random() < 0.05:
            flags |= FLAG_PASSWORD
        if rng.random() < 0.15:
            flags |= FLAG_P9
        strict = rng.choice([None, None, "double"])
        pts.append({"guid": f"pt-{i:05d}", "name": f"point {i}", "flags": flags,
                    "strict_type": strict, "unit": "degC"})
    return pts


def ingest_batches(seed: int, points: list[dict]) -> list[list[tuple]]:
    """Seeded batches of (guid, ts, priority, value) with advancing
    timestamps. Each batch also carries a few rows gated out by
    Priority9Only, a few with non-numeric values for strict-double
    points, a few retro rows (ts before the point's chain head) and a
    few exact duplicates."""
    rng = random.Random(seed)
    by_flag_p9 = [p for p in points if p["flags"] & FLAG_P9]
    strict = [p for p in points if p["strict_type"] == "double"]
    chained = [p for p in points if p["flags"] & FLAG_CHAIN and not p["flags"] & FLAG_P9]
    batches = []
    for b in range(INGEST_BATCHES):
        t0 = batch_window(b)[0]
        rows = []
        for j in range(INGEST_BATCH_ROWS - 20):
            p = points[rng.randrange(len(points))]
            prio = rng.choice([9, 16]) if p["flags"] & FLAG_P9 else rng.choice([9, 10, 12, 16])
            rows.append((p["guid"], t0 + dt.timedelta(seconds=j), prio,
                         f"{rng.uniform(0.0, 100.0):.2f}"))
        for j in range(5):  # gated: Priority9Only point written at slot 10
            p = by_flag_p9[rng.randrange(len(by_flag_p9))]
            rows.append((p["guid"], t0 + dt.timedelta(seconds=400 + j), 10, "1.0"))
        for j in range(5):  # strict double rejects a text value
            p = strict[rng.randrange(len(strict))]
            rows.append((p["guid"], t0 + dt.timedelta(seconds=410 + j), 10, "n/a"))
        for j in range(5):  # retro: far before every earlier batch
            p = chained[rng.randrange(len(chained))]
            rows.append((p["guid"], _EPOCH - dt.timedelta(days=1, seconds=j), 10,
                         f"{rng.uniform(0.0, 100.0):.2f}"))
        for j in range(5):  # duplicates of rows already in this batch
            rows.append(rows[rng.randrange(INGEST_BATCH_ROWS - 20)])
        rng.shuffle(rows)
        batches.append(rows)
    return batches


def batch_window(b: int) -> tuple[dt.datetime, dt.datetime]:
    """The time range batch b's in-order rows fall in."""
    t0 = _EPOCH + dt.timedelta(minutes=10 * (b + 1))
    return t0, t0 + dt.timedelta(seconds=BATCH_SPAN_S)


def ingest_plan(seed: int) -> list[tuple[str, dict]]:
    """One round's op list over `ingest_batches(seed, ...)`: each batch
    write is followed by the three reads in seeded order, a tick runs
    every INGEST_TICK_EVERY batches and the round ends with a chain
    verification."""
    rng = random.Random(seed + 17)
    ops: list[tuple[str, dict]] = []
    for b in range(INGEST_BATCHES):
        ops.append(("write_batch", {"batch": b}))
        reads = [("current_state", {}), ("get_series", {"batch": b}), ("heads", {})]
        rng.shuffle(reads)
        ops.extend(reads)
        if (b + 1) % INGEST_TICK_EVERY == 0:
            ops.append(("tick", {}))
    ops.append(("verify_chains", {}))
    return ops
