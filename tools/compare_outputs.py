#!/usr/bin/env python3
"""Compare two graft.Cli warehouse output directories.

    python3 tools/compare_outputs.py PARENT_OUT CHANGE_OUT

Checks, and exits 1 at the first difference:
  - the same derived tables exist, and each is row-identical: DuckDB
    reads both sides (hive partitions such as p_day included) and
    compares every column as a multiset of rows, ignoring row order;
  - the same top-level files (dependencies.json, dimensions.json,
    facts.json) exist and are byte-identical;
  - create/, fullrefresh/ and increfresh/ hold the same files, each
    byte-identical;
  - plans/*.txt are identical once expression ids (#123), plan_ids, the
    output directory and the sketch aggregator's printed name are masked.
Prints one line per check passed and exits 0 when everything matches.
"""
import os
import re
import sys

import duckdb

ARTIFACT_DIRS = ("create", "fullrefresh", "increfresh")
PLANS_DIR = "plans"


def fail(msg):
    print(f"DIFF: {msg}")
    sys.exit(1)


def listing(d):
    return sorted(os.listdir(d)) if os.path.isdir(d) else []


def same_names(what, a, b):
    if a != b:
        fail(f"{what}: {sorted(set(a) ^ set(b))} on one side only")


def read_bytes(p):
    with open(p, "rb") as f:
        return f.read()


def tables(out):
    """Top-level directories holding parquet files: the derived tables."""
    skip = set(ARTIFACT_DIRS) | {PLANS_DIR}
    found = []
    for name in listing(out):
        d = os.path.join(out, name)
        if name in skip or not os.path.isdir(d):
            continue
        if any(f.endswith(".parquet") for _, _, fs in os.walk(d) for f in fs):
            found.append(name)
    return found


def scan(con, d):
    """SELECT of every column of table dir `d` as text, maps sorted by key."""
    src = f"read_parquet('{d}/**/*.parquet', hive_partitioning = true, union_by_name = true)"
    cols = con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall()
    exprs = []
    for name, typ, *_ in cols:
        q = '"' + name.replace('"', '""') + '"'
        e = f"list_sort(map_entries({q}))" if typ.upper().startswith("MAP") else q
        exprs.append(f"CAST({e} AS VARCHAR) AS {q}")
    return [c[0] for c in cols], f"SELECT {', '.join(exprs)} FROM {src}"


def compare_table(con, name, a, b):
    cols_a, sql_a = scan(con, a)
    cols_b, sql_b = scan(con, b)
    if sorted(cols_a) != sorted(cols_b):
        fail(f"table {name}: columns {cols_a} != {cols_b}")
    order = ", ".join('"' + c.replace('"', '""') + '"' for c in sorted(cols_a))
    n_a = con.execute(f"SELECT count(*) FROM ({sql_a})").fetchone()[0]
    n_b = con.execute(f"SELECT count(*) FROM ({sql_b})").fetchone()[0]
    if n_a != n_b:
        fail(f"table {name}: {n_a} rows != {n_b} rows")
    for x, y, side in ((sql_a, sql_b, "first"), (sql_b, sql_a, "second")):
        extra = con.execute(
            f"SELECT count(*) FROM (SELECT {order} FROM ({x}) EXCEPT ALL "
            f"SELECT {order} FROM ({y}))").fetchone()[0]
        if extra:
            fail(f"table {name}: {extra} rows only in the {side} output")
    return n_a


def mask_plan(text, out):
    text = text.replace(os.path.abspath(out), "<OUT>")
    text = re.sub(r"#\d+L?", "#N", text)
    text = re.sub(r"plan_id=\d+", "plan_id=N", text)
    text = re.sub(r"graft\.functions\.RegisterSketch\$\w+@[0-9a-f]+", "<sketch>", text)
    return re.sub(r"sketch_(build|merge)\(m=\d+\)", "<sketch>", text)


def main():
    if len(sys.argv) != 3:
        print(__doc__.strip().split("\n\n")[1].strip())
        sys.exit(2)
    a, b = sys.argv[1], sys.argv[2]
    for d in (a, b):
        if not os.path.isdir(d):
            fail(f"{d} is not a directory")

    con = duckdb.connect()
    names = tables(a)
    same_names("derived tables", names, tables(b))
    for t in names:
        rows = compare_table(con, t, os.path.join(a, t), os.path.join(b, t))
        print(f"ok  table {t}: {rows} rows")

    files = [f for f in listing(a) if os.path.isfile(os.path.join(a, f))]
    same_names("top-level files", files, [f for f in listing(b) if os.path.isfile(os.path.join(b, f))])
    for f in files:
        if read_bytes(os.path.join(a, f)) != read_bytes(os.path.join(b, f)):
            fail(f"{f} differs")
        print(f"ok  {f}")

    for sub in ARTIFACT_DIRS:
        da, db = os.path.join(a, sub), os.path.join(b, sub)
        same_names(f"{sub}/", listing(da), listing(db))
        for f in listing(da):
            if read_bytes(os.path.join(da, f)) != read_bytes(os.path.join(db, f)):
                fail(f"{sub}/{f} differs")
        print(f"ok  {sub}/ ({len(listing(da))} files)")

    pa, pb = os.path.join(a, PLANS_DIR), os.path.join(b, PLANS_DIR)
    plans = [f for f in listing(pa) if f.endswith(".txt")]
    same_names("plans/", plans, [f for f in listing(pb) if f.endswith(".txt")])
    for f in plans:
        ta = mask_plan(read_bytes(os.path.join(pa, f)).decode(), a)
        tb = mask_plan(read_bytes(os.path.join(pb, f)).decode(), b)
        if ta != tb:
            for i, (la, lb) in enumerate(zip(ta.split("\n"), tb.split("\n"))):
                if la != lb:
                    fail(f"plans/{f} line {i + 1}:\n  {la}\n  {lb}")
            fail(f"plans/{f}: one text is a prefix of the other")
    print(f"ok  plans/ ({len(plans)} files, masked)")
    print("outputs match")


if __name__ == "__main__":
    main()
