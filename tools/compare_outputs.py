#!/usr/bin/env python3
"""Compare two graft.Cli output directories, warehouse or pipeline.

    python3 tools/compare_outputs.py PARENT_OUT CHANGE_OUT [PARENT_STATE CHANGE_STATE]

Checks, and exits 1 at the first difference:
  - the same derived tables (or pipeline step tables) exist, and each is
    row-identical: DuckDB reads both sides (hive partitions such as
    p_day included) and compares every column as a multiset of rows,
    ignoring row order;
  - the same top-level files (dependencies.json, dimensions.json,
    facts.json, pipeline_manifest.json) exist and are byte-identical,
    except the per-step "seconds" of pipeline_manifest.json;
  - create/, fullrefresh/ and increfresh/ hold the same files, each
    byte-identical;
  - exports/<step> of a pipeline holds the same files: Spark part files
    compare as tables (the multiset of their lines per directory, part
    file names ignored), every other file byte-identical;
  - plans/*.txt are identical once expression ids (#123), plan_ids, RDD
    ids, the output and state directories, the sketch aggregator's
    printed name and the identity of a printed JVM lambda are masked;
  - given the two state directories of a `pipeline --state` run: every
    `_graft*` marker is byte-identical and every parquet store is
    row-identical.
Prints one line per check passed and exits 0 when everything matches.
"""
import os
import re
import sys

import duckdb

ARTIFACT_DIRS = ("create", "fullrefresh", "increfresh")
PLANS_DIR = "plans"
EXPORTS_DIR = "exports"
MANIFEST = "pipeline_manifest.json"


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
    skip = set(ARTIFACT_DIRS) | {PLANS_DIR, EXPORTS_DIR}
    found = []
    for name in listing(out):
        d = os.path.join(out, name)
        if name in skip or not os.path.isdir(d):
            continue
        if any(f.endswith(".parquet") for _, _, fs in os.walk(d) for f in fs):
            found.append(name)
    return found


def store_roots(state):
    """Relative paths of the parquet stores under a state directory: each
    parquet file's directory with its trailing `k=v` partitions removed."""
    roots = set()
    for d, _, fs in os.walk(state):
        if any(f.endswith(".parquet") for f in fs):
            rel = os.path.relpath(d, state).split(os.sep)
            while rel and "=" in rel[-1]:
                rel.pop()
            roots.add(os.path.join(*rel) if rel else ".")
    return sorted(roots)


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


def export_files(d):
    """{relative path: bytes} of an export dir's non-part files, and
    {relative dir: sorted lines} of its Spark part files."""
    files, parts = {}, {}
    for root, _, fs in os.walk(d):
        rel = os.path.relpath(root, d)
        for f in fs:
            if f.startswith((".", "_")) or f.endswith(".crc"):
                continue
            data = read_bytes(os.path.join(root, f))
            if f.startswith("part-"):
                parts.setdefault(rel, []).extend(data.splitlines())
            else:
                files[os.path.join(rel, f)] = data
    return files, {k: sorted(v) for k, v in parts.items()}


def compare_export(name, a, b):
    files_a, parts_a = export_files(a)
    files_b, parts_b = export_files(b)
    same_names(f"exports/{name} files", sorted(files_a), sorted(files_b))
    same_names(f"exports/{name} part dirs", sorted(parts_a), sorted(parts_b))
    for f in files_a:
        if files_a[f] != files_b[f]:
            fail(f"exports/{name}/{f} differs")
    for p in parts_a:
        if parts_a[p] != parts_b[p]:
            fail(f"exports/{name}/{p}: part file lines differ")
    return len(files_a), sum(len(v) for v in parts_a.values())


def mask_manifest(data):
    return re.sub(rb'"seconds":[0-9.]+', b'"seconds":N', data)


def mask_plan(text, dirs):
    for d, tag in dirs:
        text = text.replace(os.path.abspath(d), tag)
    text = re.sub(r"#\d+L?", "#N", text)
    text = re.sub(r"plan_id=\d+", "plan_id=N", text)
    text = re.sub(r"graft\.functions\.RegisterSketch\$\w+@[0-9a-f]+", "<sketch>", text)
    text = re.sub(r"\$\$Lambda\$\d+/0x[0-9a-f]+@[0-9a-f]+", "$$Lambda<id>", text)
    text = re.sub(r"RDD\[\d+\]", "RDD[N]", text)
    return re.sub(r"sketch_(build|merge)\(m=\d+\)", "<sketch>", text)


def compare_state(con, a, b):
    markers = lambda s: sorted(os.path.relpath(os.path.join(r, f), s)
                               for r, _, fs in os.walk(s) for f in fs if f.startswith("_graft"))
    names = markers(a)
    same_names("state markers", names, markers(b))
    for m in names:
        if read_bytes(os.path.join(a, m)) != read_bytes(os.path.join(b, m)):
            fail(f"state marker {m} differs")
    print(f"ok  state markers ({len(names)} files)")
    roots = store_roots(a)
    same_names("state stores", roots, store_roots(b))
    for r in roots:
        rows = compare_table(con, f"state {r}", os.path.join(a, r), os.path.join(b, r))
        print(f"ok  state {r}: {rows} rows")


def main():
    if len(sys.argv) not in (3, 5):
        print(__doc__.strip().split("\n\n")[1].strip())
        sys.exit(2)
    a, b = sys.argv[1], sys.argv[2]
    state_a, state_b = (sys.argv[3], sys.argv[4]) if len(sys.argv) == 5 else (None, None)
    for d in sys.argv[1:]:
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
        fa, fb = read_bytes(os.path.join(a, f)), read_bytes(os.path.join(b, f))
        if f == MANIFEST:
            fa, fb = mask_manifest(fa), mask_manifest(fb)
        if fa != fb:
            fail(f"{f} differs")
        print(f"ok  {f}")

    for sub in ARTIFACT_DIRS:
        da, db = os.path.join(a, sub), os.path.join(b, sub)
        same_names(f"{sub}/", listing(da), listing(db))
        for f in listing(da):
            if read_bytes(os.path.join(da, f)) != read_bytes(os.path.join(db, f)):
                fail(f"{sub}/{f} differs")
        print(f"ok  {sub}/ ({len(listing(da))} files)")

    ea, eb = os.path.join(a, EXPORTS_DIR), os.path.join(b, EXPORTS_DIR)
    same_names(f"{EXPORTS_DIR}/", listing(ea), listing(eb))
    for e in listing(ea):
        n_files, n_lines = compare_export(e, os.path.join(ea, e), os.path.join(eb, e))
        print(f"ok  {EXPORTS_DIR}/{e}: {n_files} files, {n_lines} part lines")

    pa, pb = os.path.join(a, PLANS_DIR), os.path.join(b, PLANS_DIR)
    plans = [f for f in listing(pa) if f.endswith(".txt")]
    same_names("plans/", plans, [f for f in listing(pb) if f.endswith(".txt")])
    for f in plans:
        # the state dir first: it may lie inside the output dir
        ta = mask_plan(read_bytes(os.path.join(pa, f)).decode(),
                       [(state_a, "<STATE>")] * bool(state_a) + [(a, "<OUT>")])
        tb = mask_plan(read_bytes(os.path.join(pb, f)).decode(),
                       [(state_b, "<STATE>")] * bool(state_b) + [(b, "<OUT>")])
        if ta != tb:
            for i, (la, lb) in enumerate(zip(ta.split("\n"), tb.split("\n"))):
                if la != lb:
                    fail(f"plans/{f} line {i + 1}:\n  {la}\n  {lb}")
            fail(f"plans/{f}: one text is a prefix of the other")
    print(f"ok  plans/ ({len(plans)} files, masked)")

    if state_a:
        compare_state(con, state_a, state_b)
    print("outputs match")


if __name__ == "__main__":
    main()
