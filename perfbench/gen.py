"""Seeded input generator for the refresh benchmark.

Writes parquet sources in the exact column types of the engine's
testdata tables, so `examples/tpch_model.yaml` and
`examples/nightly_admission.yaml` run unchanged. The same seed always
gives byte-identical inputs. Every generator parameter, the seed and the
source byte count are recorded in `<out>/inputs.json`; the program only
ever sees the parquet files.

    python3 perfbench/gen.py tpch|docs SEED OUT_DIR
"""

import datetime as dt
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Column types as in the engine's testdata parquet files: nullable
# columns, timestamps in microseconds without a time zone
# (isAdjustedToUTC=false), prices as double (the model declares
# numeric(18,6); the engine casts on read).
TS = pa.timestamp("us")
SCHEMAS = {
    "orders": pa.schema([
        ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
        ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
        ("o_orderdate", TS), ("o_orderpriority", pa.string())]),
    "lineitem": pa.schema([
        ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
        ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
        ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
        ("l_discount", pa.float64()), ("l_tax", pa.float64()),
        ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
        ("l_shipdate", TS)]),
    "customer": pa.schema([
        ("c_custkey", pa.int64()), ("c_name", pa.string()),
        ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
        ("c_mktsegment", pa.string())]),
    "documents": pa.schema([
        ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
        ("source", pa.string()), ("n_chars", pa.int64())]),
}

# Sizes come from measured runs on a 4-core host against the 170 s budget
# of one run, whose longest form is the traced run (the first command
# untraced, then every command traced).
#   docs: 2,500 documents per batch, two batches: 32 s and 36 s per batch
#     untraced, 107 s for the traced run. A third batch would bring the
#     traced run to about 150 s.
#   tpch: 40 days, a 20-30 s refresh. The day-partition count, not the row
#     count, sets its cost: a 7-year span takes 120 s per refresh, which the
#     traced run (two refreshes, the read-back and compact) cannot fit.
TPCH = {
    "orders": 6000,
    "customers": 400,
    "parts": 2000,
    "suppliers": 100,
    "max_lines_per_order": 7,
    "days": 40,
    "ship_lag_days": 2,
    "start": "1996-03-01",
    "order_statuses": ["F", "O", "P"],
    "order_priorities": ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
    "return_flags": ["A", "N", "R"],
    "line_statuses": ["F", "O"],
}

DOCS = {
    "batches": 2,
    "docs_per_batch": 2500,
    "vocab": 400,
    "min_lines": 3,
    "max_lines": 8,
    "min_words": 6,
    "max_words": 14,
    "boilerplate_lines": 12,
    "boilerplate_rate": 0.25,
    "dup_within_rate": 0.05,
    "dup_across_rate": 0.08,
    "near_dup_rate": 0.05,
    "langs": ["en", "de", "fr", "es", "zh"],
    "sources": 20,
}


def _write(table, path):
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


def gen_tpch(rng, out):
    p = TPCH
    n_orders = p["orders"]
    start = dt.datetime.fromisoformat(p["start"])
    last_day = p["days"] - 1
    order_day = rng.integers(0, p["days"], n_orders)
    orders = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, p["customers"], n_orders).astype(np.int64),
        "o_orderstatus": rng.choice(p["order_statuses"], n_orders),
        "o_totalprice": np.round(rng.uniform(1000, 400000, n_orders), 2),
        "o_orderdate": [start + dt.timedelta(days=int(d)) for d in order_day],
        "o_orderpriority": rng.choice(p["order_priorities"], n_orders),
    }, schema=SCHEMAS["orders"])
    lines_per = rng.integers(1, p["max_lines_per_order"] + 1, n_orders)
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), lines_per)
    n_lines = len(okey)
    lineno = np.concatenate([np.arange(1, k + 1) for k in lines_per]).astype(np.int32)
    ship_day = np.minimum(np.repeat(order_day, lines_per)
                          + rng.integers(0, p["ship_lag_days"] + 1, n_lines), last_day)
    qty = rng.integers(1, 51, n_lines).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, p["parts"], n_lines).astype(np.int64),
        "l_suppkey": rng.integers(0, p["suppliers"], n_lines).astype(np.int64),
        "l_linenumber": lineno,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_lines), 2),
        "l_discount": np.round(rng.integers(0, 11, n_lines) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_lines) / 100.0, 2),
        "l_returnflag": rng.choice(p["return_flags"], n_lines),
        "l_linestatus": rng.choice(p["line_statuses"], n_lines),
        "l_shipdate": [start + dt.timedelta(days=int(d)) for d in ship_day],
    }, schema=SCHEMAS["lineitem"])
    nc = p["customers"]
    customer = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, nc), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc),
    }, schema=SCHEMAS["customer"])
    src = os.path.join(out, "src")
    os.makedirs(src)
    nbytes = sum(_write(t, os.path.join(src, f"{name}.parquet")) for name, t in
                 (("orders", orders), ("lineitem", lineitem), ("customer", customer)))
    return {
        "params": p,
        "rows": {"orders": n_orders, "lineitem": n_lines, "customer": nc},
        "source_bytes": nbytes,
        "source_dirs": [src],
        "end": str(start + dt.timedelta(days=p["days"])),
    }


def _line(rng, p, words):
    return " ".join(words[rng.integers(0, len(words), rng.integers(p["min_words"], p["max_words"] + 1))])


def gen_docs(rng, out):
    p = DOCS
    words = np.array([f"w{i:03d}" for i in range(p["vocab"])] + ["the", "a", "data", "table"])
    boiler = [f"boilerplate notice {i} " + _line(rng, p, words) for i in range(p["boilerplate_lines"])]
    admitted_pool = []   # texts of earlier batches, the source of cross-batch repeats
    next_id = 0
    nbytes = 0
    dirs = []
    counts = []
    for b in range(p["batches"]):
        texts, kinds = [], []
        for _ in range(p["docs_per_batch"]):
            r = rng.random()
            if texts and r < p["dup_within_rate"]:
                texts.append(texts[rng.integers(0, len(texts))]); kinds.append("dup_within")
            elif admitted_pool and r < p["dup_within_rate"] + p["dup_across_rate"]:
                texts.append(admitted_pool[rng.integers(0, len(admitted_pool))]); kinds.append("dup_across")
            elif texts and r < p["dup_within_rate"] + p["dup_across_rate"] + p["near_dup_rate"]:
                lines = texts[rng.integers(0, len(texts))].split("\n")
                i = rng.integers(0, len(lines))
                toks = lines[i].split(" ")
                toks[rng.integers(0, len(toks))] = str(words[rng.integers(0, len(words))])
                lines[i] = " ".join(toks)
                texts.append("\n".join(lines)); kinds.append("near_dup")
            else:
                lines = [_line(rng, p, words)
                         for _ in range(rng.integers(p["min_lines"], p["max_lines"] + 1))]
                if rng.random() < p["boilerplate_rate"]:
                    lines.insert(rng.integers(0, len(lines) + 1), boiler[rng.integers(0, len(boiler))])
                texts.append("\n".join(lines)); kinds.append("fresh")
        n = len(texts)
        table = pa.table({
            "doc_id": np.arange(next_id, next_id + n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(p["langs"], n),
            "source": [f"src{int(s)}" for s in rng.integers(0, p["sources"], n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }, schema=SCHEMAS["documents"])
        next_id += n
        d = os.path.join(out, f"batch{b}")
        os.makedirs(d)
        # the pipeline's `input: batch` reads <source dir>/batch.parquet
        nbytes += _write(table, os.path.join(d, "batch.parquet"))
        dirs.append(d)
        admitted_pool.extend(texts)
        counts.append({k: kinds.count(k) for k in sorted(set(kinds))})
    return {"params": p, "rows": {"documents": next_id}, "kinds_per_batch": counts,
            "source_bytes": nbytes, "source_dirs": dirs}


GENERATORS = {"tpch": gen_tpch, "docs": gen_docs}


def generate(kind, seed, out):
    """Write the inputs of one generator kind under `out` (created fresh)
    and return the recorded description (also written to inputs.json)."""
    os.makedirs(out)
    info = GENERATORS[kind](np.random.default_rng(seed), out)
    info.update({"kind": kind, "seed": seed})
    with open(os.path.join(out, "inputs.json"), "w") as f:
        json.dump(info, f, indent=1, default=str)
    return info


if __name__ == "__main__":
    if len(sys.argv) != 4 or sys.argv[1] not in GENERATORS:
        sys.exit(f"usage: gen.py {{{'|'.join(GENERATORS)}}} SEED OUT_DIR")
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3]), default=str))
