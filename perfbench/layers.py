"""Per-layer attribution of one traced command.

Input: the trace JSON that graft.perfbench.TracedCli writes (spans
recorded around engine calls, plus Spark listener counts) and the launch
and exit times the benchmark measured around the process.

Span tree of one command:
  command                  launch .. exit; its self time is unattributed
    jvm.boot               launch .. main entered
    <harness spans>        session.start, model.parse, exec.refresh, ...
      exec.dim, exec.fact    exec.refresh split at the end of the last SQL
                             execution started by the dim populate
      pipeline.step.<name>   pipeline.run split at each step's first job
    jvm.exit               trace written .. exit
A span's self time is its duration minus its children's.

Jobs, and the stages and SQL metrics under them, belong to the innermost
span that holds their start, except that an SQL execution started by the
dim or fact populate (Runner.writeDim / writeFact, DimPopulate /
FactPopulate on the call-site stack) belongs to exec.dim / exec.fact.
"""

import collections
import json

WRITE_NODE = "InsertIntoHadoopFsRelationCommand"
SQL_METRICS = {  # (plan node kind, SQL metric name) -> layer counter
    ("write", "number of written files"): "files_written",
    ("write", "number of output rows"): "rows_written",
    ("write", "written output"): "bytes_written",
    ("scan", "number of files read"): "files_read",
}


def _step_of(description):
    """Step name from a CurationPipeline job description,
    `pipeline <job>: step <name> (<op>)`."""
    if description and ": step " in description:
        return description.split(": step ", 1)[1].split(" (", 1)[0]
    return None


def analyse(trace_path, launch, exit_, source_dir):
    """Spans with self times, and per-layer counters, of one command.
    `launch` and `exit_` are epoch seconds; `source_dir` is the absolute
    source directory, to count the dim populate's source scans."""
    with open(trace_path) as f:
        t = json.load(f)
    sec = lambda x: x / 1000.0
    jobs = sorted(t["jobs"], key=lambda j: j["start"])
    harness = [(s["name"], sec(s["start"]), sec(s["end"])) for s in t["spans"]]

    children = {}
    refresh = []   # (writer, start, end) of each SQL execution inside a refresh
    for name, start, end in harness:
        if name == "exec.refresh":
            inside = [(e["writer"], sec(e["start"]), sec(e["end"])) for e in t["executions"]
                      if start <= sec(e["start"]) <= end]
            refresh += inside
            dim_ends = [e for w, _, e in inside if w == "dim"]
            cut = min(max(dim_ends), end) if dim_ends else start
            children[name] = [("exec.dim", start, cut), ("exec.fact", cut, end)]
        elif name == "pipeline.run":
            first, last = {}, {}
            for j in jobs:
                step = _step_of(j["description"])
                if step and start <= sec(j["start"]) <= end:
                    first.setdefault(step, sec(j["start"]))
                    last[step] = max(last.get(step, 0.0), sec(j["end"] or j["start"]))
            order = sorted(first, key=first.get)
            ends = [first[s] for s in order[1:]] + [last[s] for s in order[-1:]]
            children[name] = [(f"pipeline.step.{s}", first[s], e) for s, e in zip(order, ends)]

    top = [("jvm.boot", launch, sec(t["main_entered"]))] + harness + \
          [("jvm.exit", sec(t["written"]), exit_)]
    spans = []
    for name, start, end in top:
        kids = children.get(name, [])
        spans.append((name, start, end, (end - start) - sum(e - s for _, s, e in kids)))
        spans += [(k, s, e, e - s) for k, s, e in kids]
    spans.append(("command", launch, exit_, (exit_ - launch) - sum(e - s for _, s, e in top)))

    leaves = [(n, s, e) for n, s, e, _ in spans if n not in children and n != "command"]

    def layer_at(ms, writer=""):
        if writer:
            return "exec." + writer
        return next((n for n, s, e in leaves if s <= sec(ms) <= e), "command")

    executions = {str(e["id"]): e for e in t["executions"]}
    per = collections.defaultdict(collections.Counter)
    stage_layer = {}
    for j in jobs:
        ex = executions.get(j["execution"] or "")
        layer = layer_at(j["start"], ex["writer"] if ex else "")
        per[layer]["jobs"] += 1
        for sid in j["stages"]:
            stage_layer.setdefault(sid, layer)
    for st in t["stages"]:
        c = per[stage_layer.get(st["id"], "command")]
        for k in ("tasks", "failed", "shuffle_write_bytes", "output_bytes",
                  "input_records", "input_tasks"):
            c[k] += st[k]
        # stages that feed a shuffle aggregate; stages that write files
        # finish the aggregate and write
        if st["shuffle_write_bytes"]:
            c["shuffle_task_ms"] += st["run_ms"]
        if st["output_bytes"]:
            c["write_task_ms"] += st["run_ms"]

    for e in t["executions"]:
        if e["writer"] == "dim":
            per["exec.dim"]["source_scans"] += sum(source_dir in s for s in e["scans"])
    for m in t["metrics"]:
        ex = executions.get(str(m["execution"]))
        if ex is None:
            continue
        kind = "write" if WRITE_NODE in m["node"] else "scan" if m["node"].startswith("Scan ") else ""
        key = SQL_METRICS.get((kind, m["metric"]))
        if key:
            per[layer_at(ex["start"], ex["writer"])][key] += m["value"]
    return {"spans": spans, "layers": per, "counts": t["counts"], "refresh": refresh}
