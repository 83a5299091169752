"""Output checks for the refresh benchmark, run outside Spark with DuckDB.

Each check returns a list of failure strings (empty = passed); run.py
counts every check attempted and every one that failed. Expected values
come from the generated source parquet, never from the engine.
"""

import json
import os

import duckdb

# tpch_model.yaml's defaults: minute time unit, `dim_`/`fact_` prefixes.
ORDER_FACT = "fact_order_by_minute"
LINE_FACT = "fact_line_by_minute"
DIMS = {
    "dim_order_status": ("orders", ["o_orderstatus"]),
    "dim_order_priority": ("orders", ["o_orderpriority"]),
    "dim_line_status": ("lineitem", ["l_returnflag", "l_linestatus"]),
}
PIPELINE_STEPS = ["validated", "admitted", "stripped", "novel", "budgeted"]


def _table(path):
    """SQL source for a parquet table directory (hive partitions included)."""
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"


def _close(a, b):
    return abs(float(a) - float(b)) <= 1e-6 * max(1.0, abs(float(a)), abs(float(b)))


def _same(a, b):
    """Equal values across engines: numbers to a relative 1e-6, the rest
    as text."""
    try:
        return _close(a, b)
    except (TypeError, ValueError):
        return str(a) == str(b)


def _diff_rows(what, got, want):
    got, want = dict(got), dict(want)
    if got.keys() != want.keys():
        return [f"{what}: keys differ: got {sorted(got)} want {sorted(want)}"]
    bad = [k for k in want if not all(_close(x, y) for x, y in zip(got[k], want[k]))]
    return [f"{what}: {k}: got {got[k]} want {want[k]}" for k in bad]


def tpch_facts(out, src, end):
    """Per month, each fact's count and sum columns equal a direct
    aggregation of the source over the covered range [start, end)."""
    con = duckdb.connect()
    month = "strftime(to_timestamp({} * 60), '%Y-%m')"
    got = con.sql(f"""
        select {month.format('o_orderdate_minute_id')} m,
               [sum(order_count), sum(total_price)]
        from {_table(f'{out}/{ORDER_FACT}')} group by m""").fetchall()
    want = con.sql(f"""
        select strftime(o_orderdate, '%Y-%m') m,
               [count(*), sum(round(o_totalprice, 6))]
        from '{src}/orders.parquet' where o_orderdate < timestamp '{end}' group by m""").fetchall()
    fails = _diff_rows(ORDER_FACT, got, want)
    got = con.sql(f"""
        select {month.format('l_shipdate_minute_id')} m,
               [sum(line_count), sum(qty), sum(price)]
        from {_table(f'{out}/{LINE_FACT}')} group by m""").fetchall()
    want = con.sql(f"""
        select strftime(l_shipdate, '%Y-%m') m,
               [count(*), sum(round(l_quantity, 6)), sum(round(l_extendedprice, 6))]
        from '{src}/lineitem.parquet' where l_shipdate < timestamp '{end}' group by m""").fetchall()
    return fails + _diff_rows(LINE_FACT, got, want)


def tpch_dims(out, src, end):
    """Each derived dim holds exactly the distinct source values of the
    covered range, under unique ids, and every fact dim id resolves."""
    con = duckdb.connect()
    fails = []
    time_col = {"orders": "o_orderdate", "lineitem": "l_shipdate"}
    for dim, (table, cols) in DIMS.items():
        c = ", ".join(cols)
        got = set(con.sql(f"select {c} from {_table(f'{out}/{dim}')}").fetchall())
        want = set(con.sql(f"""select distinct {c} from '{src}/{table}.parquet'
                               where {time_col[table]} < timestamp '{end}'""").fetchall())
        if got != want:
            fails.append(f"{dim}: values {sorted(got)} != source {sorted(want)}")
        n, ids = con.sql(f"select count(*), count(distinct id) from {_table(f'{out}/{dim}')}").fetchone()
        if n != ids:
            fails.append(f"{dim}: {n} rows but {ids} distinct ids")
    for fact, dim_ids in ((ORDER_FACT, ["order_status", "order_priority"]),
                          (LINE_FACT, ["line_status", "order_status", "order_priority"])):
        for d in dim_ids:
            dangling = con.sql(f"""select count(*) from {_table(f'{out}/{fact}')} f
                anti join {_table(f'{out}/dim_{d}')} d on f.{d}_id = d.id""").fetchone()[0]
            if dangling:
                fails.append(f"{fact}: {dangling} rows with unknown {d}_id")
    return fails


def readback(results_path, queries):
    """The Spark read-back rows equal DuckDB's answer to the same SQL over
    the same files."""
    fails = []
    got = {}
    with open(results_path) as f:
        for line in f:
            if line.strip():
                r = json.loads(line)
                got[r["name"]] = r["rows"]
    con = duckdb.connect()
    for name, path in queries["views"]:
        con.sql(f"create or replace view {name} as select * from {_table(path)}")
    for name, sql in queries["queries"]:
        want = con.sql(sql).fetchall()
        rows = [list(r.values()) for r in got.get(name, [])]
        key = lambda r: [str(x) for x in r]
        rows, want = sorted(rows, key=key), sorted([list(r) for r in want], key=key)
        if len(rows) != len(want) or not all(
                len(a) == len(b) and all(map(_same, a, b)) for a, b in zip(rows, want)):
            fails.append(f"readback {name}: spark {rows[:3]} != duckdb {want[:3]}")
    return fails


def docs_batches(outs, srcs):
    """Pipeline admission: manifest row counts chain and match the files;
    exact-duplicate admission keeps one copy of every new content and no
    content is admitted in two batches; later steps only narrow."""
    con = duckdb.connect()
    fails = []
    seen = set()
    for b, (out, src) in enumerate(zip(outs, srcs)):
        with open(os.path.join(out, "pipeline_manifest.json")) as f:
            steps = {s["name"]: s for s in json.load(f)["steps"]}
        batch_rows = con.sql(f"select count(*) from '{src}/batch.parquet'").fetchone()[0]
        prev = batch_rows
        for name in PIPELINE_STEPS:
            s = steps[name]
            on_disk = con.sql(f"select count(*) from {_table(f'{out}/{name}')}").fetchone()[0]
            if s["in_rows"] != prev or s["rows"] != on_disk or s["rows"] > s["in_rows"]:
                fails.append(f"batch {b} {name}: manifest in={s['in_rows']} out={s['rows']}, "
                             f"expected in={prev}, {on_disk} rows on disk")
            prev = s["rows"]
        admitted = con.sql(f"select text from {_table(f'{out}/admitted')}").fetchall()
        texts = [t for (t,) in admitted]
        if len(texts) != len(set(texts)):
            fails.append(f"batch {b}: admitted holds duplicate contents")
        new = {t for (t,) in con.sql(f"select distinct text from '{src}/batch.parquet'").fetchall()} - seen
        if set(texts) != new:
            fails.append(f"batch {b}: admitted {len(set(texts))} contents, "
                         f"{len(set(texts) & seen)} of them admitted before; expected {len(new)} new")
        seen |= set(texts)
        for narrower, wider in zip(PIPELINE_STEPS[2:], PIPELINE_STEPS[1:]):
            extra = con.sql(f"""select count(*) from {_table(f'{out}/{narrower}')} n
                anti join {_table(f'{out}/{wider}')} w using (doc_id)""").fetchone()[0]
            if extra:
                fails.append(f"batch {b}: {extra} {narrower} docs not in {wider}")
    return fails
