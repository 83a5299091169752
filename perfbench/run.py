#!/usr/bin/env python3
"""End-to-end refresh benchmark for graft.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a source checkout. The first run builds the engine
and this benchmark's JVM harness from source with sbt; later runs reuse
the build while the sources are unchanged. Every command is its own
`java -cp` process on the compiled classpath with the engine's
javaOptions, one at a time, as a scheduler would run it: a closed loop
with one client, each process using local[nproc].

Workloads (inputs come from perfbench/gen.py and the seed):
  tpch_full       examples/tpch_model.yaml: one full refresh.
  docs_admission  examples/nightly_admission.yaml: two nightly batches
                  against the maintained stores (`--state`), the second
                  with `--compact-state`.

--trace 0 reports the end-to-end metrics of BENCHMARK.json; --trace 1
runs the same commands through graft.perfbench.TracedCli and reports the
per-layer metrics, summed over the traced commands (see layers.py). The
traced run first runs the first command untraced, for the tracing
overhead. On tpch_full the traced refresh is followed by a read-back
query set over the layout it wrote, then by `--compact`, so that those
layers are measured too. Every run checks the outputs
against the generated sources with DuckDB. The last stdout line is the
JSON result; a readable table and any failures go to stderr.
`--workload all` runs every workload in turn.
"""

import argparse
import calendar
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

HARNESS = "perfbench/harness"
LAUNCH = f"{HARNESS}/target/launch"
WORK = ".perfbench"
TPCH_MODEL = "examples/tpch_model.yaml"
ADMISSION_JOB = "examples/nightly_admission.yaml"
REQUIRED = ["build.sbt", "src/main/scala/graft/Cli.scala", TPCH_MODEL, ADMISSION_JOB,
            "BENCHMARK.json", f"{HARNESS}/build.sbt"]
BUDGET_S = 170          # a run must end within 180 s once built
BUILD_TIMEOUT_S = 840   # the first run in a checkout may take 900 s


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def cpus():
    return len(os.sched_getaffinity(0))


def driver_mem():
    """SPARK_DRIVER_MEM as the tier-1 tests set it: half of RAM in GiB,
    clamped to 2..8."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


# ---------------------------------------------------------------- build

def _source_hash():
    h = hashlib.sha256()
    roots = ["build.sbt", "project/build.properties", "src/main", HARNESS]
    for r in roots:
        for dirpath, dirnames, files in os.walk(r) if os.path.isdir(r) else [("", [], [r])]:
            dirnames[:] = sorted(d for d in dirnames if d not in ("target", "project"))
            for f in sorted(files):
                p = os.path.join(dirpath, f)
                h.update(p.encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine and the harness once per source state. Returns
    (java options, probe classpath, tracer classpath or None)."""
    stamp = f"{WORK}/build/stamp"
    digest = _source_hash()
    fresh = os.path.exists(stamp) and open(stamp).read() == digest
    if not fresh:
        os.makedirs(f"{WORK}/build", exist_ok=True)
        shutil.rmtree(LAUNCH, ignore_errors=True)
        env = dict(os.environ, SPARK_DRIVER_MEM=driver_mem())
        env.setdefault("COURSIER_MODE", "offline")
        env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx4g")
        t0 = time.time()
        with open(f"{WORK}/build/sbt.log", "w") as out:
            # the tracer comes last: untraced runs still work when it no
            # longer compiles against the engine
            rc = _run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                             "launchFiles", "tracerFiles"], out, env, BUILD_TIMEOUT_S, cwd=HARNESS)
        log(f"built in {time.time() - t0:.1f} s" +
            (f"; sbt exited {rc}, see {WORK}/build/sbt.log" if rc else ""))
        if not os.path.exists(f"{LAUNCH}/probe.classpath"):
            sys.exit(3)
        with open(stamp, "w") as f:
            f.write(digest)
    read = lambda n: open(f"{LAUNCH}/{n}").read().strip()
    tracer = read("tracer.classpath") if os.path.exists(f"{LAUNCH}/tracer.classpath") else None
    return read("java_options").split("\n"), read("probe.classpath"), tracer


_children = set()   # process groups started and not yet reaped


def _stop_children(signum, _frame):
    """On SIGTERM/SIGINT: kill every started process group, wait, exit."""
    for pid in list(_children):
        try:
            os.killpg(pid, signal.SIGKILL)
            os.waitpid(pid, 0)
        except (ProcessLookupError, ChildProcessError):
            pass
    sys.exit(128 + signum)


def _run_group(argv, out, env, timeout, cwd=None):
    """Run a process in its own process group; kill the group on timeout."""
    p = subprocess.Popen(argv, stdout=out, stderr=subprocess.STDOUT, env=env, cwd=cwd,
                         start_new_session=True)
    _children.add(p.pid)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    finally:
        _children.discard(p.pid)


# ------------------------------------------------------------- commands

class Launcher:
    def __init__(self, java_options, probe_cp, tracer_cp, run_dir, deadline):
        self.opts, self.probe_cp, self.tracer_cp = java_options, probe_cp, tracer_cp
        self.run_dir, self.deadline, self.n = run_dir, deadline, 0

    def run(self, kind, args, traced):
        """Run one CLI command; returns its measurements."""
        self.n += 1
        tag = f"{self.n:02d}_{kind}"
        local = os.path.join(self.run_dir, "local", tag)
        os.makedirs(local)
        ready = os.path.join(self.run_dir, f"{tag}.ready")
        trace = os.path.join(self.run_dir, f"{tag}.trace.json")
        if traced:
            main = ["-cp", self.tracer_cp, "graft.perfbench.TracedCli", trace]
        else:
            main = ["-Dspark.extraListeners=graft.perfbench.ReadyListener",
                    f"-Dgraft.perfbench.readyFile={ready}",
                    "-cp", self.probe_cp, "graft.Cli"]
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus()), SPARK_DRIVER_MEM=driver_mem(),
                   SPARK_LOCAL_DIRS=os.path.abspath(local))
        timeout = self.deadline - time.time()
        if timeout <= 5:
            raise TimeoutError(f"no time left for {tag}")
        with open(os.path.join(self.run_dir, f"{tag}.log"), "w") as out:
            t0 = time.time()
            p = subprocess.Popen(["java"] + self.opts + main + args, stdout=out,
                                 stderr=subprocess.STDOUT, env=env, start_new_session=True)
            _children.add(p.pid)
            killer = threading.Timer(timeout, os.killpg, (p.pid, signal.SIGKILL))
            killer.start()
            try:
                # wait4 rather than wait: it returns the child's peak RSS
                _, status, usage = os.wait4(p.pid, 0)
            finally:
                killer.cancel()
                _children.discard(p.pid)
            t1 = time.time()
            p.returncode = os.waitstatus_to_exitcode(status)
        r = {"kind": kind, "tag": tag, "args": args, "rc": p.returncode, "wall": t1 - t0,
             "rss_mb": usage.ru_maxrss / 1024.0, "launch": t0, "exit": t1}
        if os.path.exists(ready):
            r["setup"] = int(open(ready).read()) / 1000.0 - t0
        if traced and os.path.exists(trace):
            r["trace"] = trace
        if r["rc"] != 0:
            log(f"command {tag} failed with exit {r['rc']}: {' '.join(args)}")
        shutil.rmtree(local, ignore_errors=True)
        return r


def disk(*dirs):
    """(parquet files, bytes of all files) under the given directories."""
    files = size = 0
    for d in dirs:
        for dirpath, _, names in os.walk(d):
            for n in names:
                size += os.path.getsize(os.path.join(dirpath, n))
                files += n.endswith(".parquet")
    return files, size


# ------------------------------------------------------------ workloads

def tpch_readback_queries(inp, out):
    """Downstream query set: a full-scan aggregate per fact, a one-month
    time-id range and a fact-dim rollup."""
    lo = calendar.timegm(time.strptime(inp["params"]["start"], "%Y-%m-%d")) // 60
    hi = lo + 30 * 24 * 60
    return {
        "views": [("fo", f"{out}/fact_order_by_minute"), ("fl", f"{out}/fact_line_by_minute"),
                  ("dls", f"{out}/dim_line_status")],
        "queries": [
            ("scan_order", "select count(*) n, sum(order_count) c, sum(total_price) p from fo"),
            ("scan_line", "select count(*) n, sum(line_count) c, sum(qty) q, sum(price) p from fl"),
            ("month_range", "select count(*) n, sum(line_count) c, sum(price) p from fl "
                            f"where l_shipdate_minute_id >= {lo} and l_shipdate_minute_id < {hi}"),
            ("rollup", "select d.l_returnflag, d.l_linestatus, sum(f.line_count) c, sum(f.qty) q "
                       "from fl f join dls d on f.line_status_id = d.id "
                       "group by d.l_returnflag, d.l_linestatus"),
        ]}


def pass_tpch(inp, d, launcher, traced, first_only=False):
    src, out = inp["source_dirs"][0], os.path.join(d, "out")
    cmds, checked, extra = [], [], {}

    def cli(kind, *flags):
        r = launcher.run(kind, [TPCH_MODEL, src, out, *flags], traced)
        cmds.append(r)
        return r["rc"] == 0

    ok = cli("initial_load")
    if first_only:
        return cmds, checked, extra
    if ok:
        checked.append(("facts", checks.tpch_facts(out, src, inp["end"])))
        checked.append(("dims", checks.tpch_dims(out, src, inp["end"])))
    extra["disk"] = disk(out)
    if traced and ok:
        # trace-only commands: they load the read and compact layers, which
        # the timed sequence leaves out to fit the run budget. The read-back
        # comes first, so that it reads the layout the full refresh wrote.
        facts = [os.path.join(out, t) for t in (checks.ORDER_FACT, checks.LINE_FACT)]
        extra["fact_files_on_disk"] = disk(*facts)[0]
        q = tpch_readback_queries(inp, out)
        qfile, rfile = os.path.join(d, "readback.tsv"), os.path.join(d, "readback.jsonl")
        with open(qfile, "w") as f:
            f.writelines(f"view\t{n}\t{p}\n" for n, p in q["views"])
            f.writelines(f"query\t{n}\t{s}\n" for n, s in q["queries"])
        r = launcher.run("readback", ["readback", qfile, rfile], True)
        cmds.append(r)
        if r["rc"] == 0:
            checked.append(("readback", checks.readback(rfile, q)))
        tables = facts + [os.path.join(out, t) for t in checks.DIMS]
        extra["compact_before"] = disk(*tables)[0]
        if cli("compact", "--compact"):
            checked.append(("facts_after_compact", checks.tpch_facts(out, src, inp["end"])))
        extra["compact_after"] = disk(*tables)[0]
    return cmds, checked, extra


def pass_docs(inp, d, launcher, traced, first_only=False):
    state = os.path.join(d, "state")
    cmds, checked, outs = [], [], []
    n = len(inp["source_dirs"])
    for b, src in enumerate(inp["source_dirs"]):
        out = os.path.join(d, f"out{b}")
        flags = ["--state", state] + (["--compact-state"] if b == n - 1 else [])
        r = launcher.run("initial_load" if b == 0 else "incremental",
                         ["pipeline", ADMISSION_JOB, src, out, *flags], traced)
        cmds.append(r)
        if r["rc"] != 0 or first_only:
            break
        outs.append(out)
    if len(outs) == n:
        checked.append(("admission", checks.docs_batches(outs, inp["source_dirs"])))
    extra = {"disk": disk(state, *outs), "state": disk(state), "outs": outs}
    return cmds, checked, extra


WORKLOADS = {
    "tpch_full": ("tpch", pass_tpch),
    "docs_admission": ("docs", pass_docs),
}


# -------------------------------------------------------------- metrics

def end_to_end(inp, cmds, extra):
    walls = lambda k: [c["wall"] for c in cmds if c["kind"] == k]
    files, size = extra["disk"]
    return {
        "setup_s": statistics.median(c["setup"] for c in cmds),
        "initial_load_s": statistics.median(walls("initial_load")),
        "workload_s": sum(c["wall"] for c in cmds),
        "files_written": files,
        "bytes_per_source_byte": size / inp["source_bytes"],
    }


LAYER_GROUPS = {   # tasks_failed groups -> span-name prefixes
    "session": ("session.",), "model": ("model.",), "exec.dim": ("exec.dim",),
    "exec.fact": ("exec.fact",), "exec.staging": ("exec.staging",), "emit": ("emit.",),
    "exec.quality": ("exec.quality",), "exec.compact": ("exec.compact",), "read": ("read.",),
    "pipeline": ("pipeline.",),
    "streaming": tuple(f"pipeline.step.{s}" for s in ("admitted", "stripped", "novel")),
}


def per_layer(inp, cmds, extra, untraced_wall):
    """Per-layer metrics of a traced pass, summed over its commands.
    `untraced_wall` is the wall of the first command run untraced."""
    src = os.path.abspath(inp["source_dirs"][0])
    self_s, counters, counts = {}, {}, {}
    unattributed, spans, refresh = [], [], []
    for c in cmds:
        a = layers.analyse(c["trace"], c["launch"], c["exit"], src)
        spans.append(a["spans"])
        refresh += a["refresh"]
        for name, s, e, own in a["spans"]:
            self_s[name] = self_s.get(name, 0.0) + own
        unattributed.append(a["spans"][-1][3] / c["wall"])
        for layer, cnt in a["layers"].items():
            counters.setdefault(layer, {})
            for k, v in cnt.items():
                counters[layer][k] = counters[layer].get(k, 0) + v
        counts.update({k: counts.get(k, 0) + v for k, v in a["counts"].items()})
    S = lambda *names: sum(self_s.get(n, 0.0) for n in names)
    C = lambda layer, k: counters.get(layer, {}).get(k, 0)
    m = {
        "jvm.boot_s": S("jvm.boot"), "jvm.exit_s": S("jvm.exit"),
        "jvm.peak_rss_mb": max(c["rss_mb"] for c in cmds),
        "session.start_s": S("session.start"), "session.stop_s": S("session.stop"),
        "model.parse_s": S("model.parse"), "model.validate_s": S("model.validate"),
        "exec.dim.s": S("exec.dim"), "exec.dim.jobs": C("exec.dim", "jobs"),
        "exec.dim.tasks": C("exec.dim", "tasks"),
        "exec.dim.shuffle_bytes": C("exec.dim", "shuffle_write_bytes"),
        "exec.dim.source_scans": C("exec.dim", "source_scans"),
        "exec.dim.bytes_written": C("exec.dim", "bytes_written"),
        "exec.fact.s": S("exec.fact"), "exec.fact.jobs": C("exec.fact", "jobs"),
        "exec.fact.agg_task_s": C("exec.fact", "shuffle_task_ms") / 1000.0,
        "exec.fact.write_task_s": C("exec.fact", "write_task_ms") / 1000.0,
        "exec.fact.shuffle_bytes": C("exec.fact", "shuffle_write_bytes"),
        "exec.fact.files_written": C("exec.fact", "files_written"),
        "exec.fact.bytes_written": C("exec.fact", "bytes_written"),
        "exec.fact.rows_per_file":
            C("exec.fact", "rows_written") / max(1, C("exec.fact", "files_written")),
        "exec.staging.promote_s": S("exec.staging.promote"),
        "exec.staging.tables": counts.get("exec.staging.tables", 0),
        "emit.metadata_s": S("emit.metadata"), "emit.plans_s": S("emit.plans"),
        "emit.ddl_s": S("emit.ddl"), "emit.sql_s": S("emit.sql"),
        "exec.quality.unique_check_s": S("exec.quality.unique_check"),
        "exec.quality.files_read": C("exec.quality.unique_check", "files_read"),
        "exec.quality.rows_scanned_per_row_written":
            C("exec.quality.unique_check", "input_records")
            / max(1, C("exec.dim", "rows_written") + C("exec.fact", "rows_written")),
        "exec.compact.s": S("exec.compact"),
        "exec.compact.files_before": extra.get("compact_before", 0),
        "exec.compact.files_after": extra.get("compact_after", 0),
        "exec.compact.bytes_rewritten": C("exec.compact", "bytes_written"),
        "read.s": S("read.open", "read.query"),
        "read.files_scanned": C("read.open", "files_read") + C("read.query", "files_read"),
        "read.scan_tasks": C("read.open", "input_tasks") + C("read.query", "input_tasks"),
        "pipeline.run_self_s": S("pipeline.run"),
        "trace.unattributed_s": S("command"),
    }
    manifests = []
    for out in extra.get("outs", []):
        with open(os.path.join(out, "pipeline_manifest.json")) as f:
            manifests.append({s["name"]: s for s in json.load(f)["steps"]})
    for step in checks.PIPELINE_STEPS:
        p = f"pipeline.step.{step}"
        m[f"{p}.s"] = S(p)
        m[f"{p}.rows_in"] = sum(x[step]["in_rows"] for x in manifests)
        m[f"{p}.rows_out"] = sum(x[step]["rows"] for x in manifests)
        m[f"{p}.jobs"] = C(p, "jobs")
        m[f"{p}.shuffle_bytes"] = C(p, "shuffle_write_bytes")
    first, last = checks.PIPELINE_STEPS[0], checks.PIPELINE_STEPS[-1]
    m["pipeline.admit_ratio"] = (m[f"pipeline.step.{last}.rows_out"]
                                 / max(1, m[f"pipeline.step.{first}.rows_in"]))
    m["streaming.state_files"], m["streaming.state_bytes"] = extra.get("state", (0, 0))
    for group, prefixes in LAYER_GROUPS.items():
        m[f"{group}.tasks_failed"] = sum(
            cnt.get("failed", 0) for layer, cnt in counters.items() if layer.startswith(prefixes))
    traced_wall = cmds[0]["wall"]
    m.update({
        "trace.wall_s": traced_wall,
        "trace.untraced_wall_s": untraced_wall,
        "trace.overhead_s": traced_wall - untraced_wall,
        "trace.overhead_frac": (traced_wall - untraced_wall) / untraced_wall,
        "trace.unattributed_frac_max": max(unattributed),
    })
    return m, spans, refresh


def trace_gates(workload, m, extra, refresh):
    """Checks of the traced run's attribution, one entry per check: None
    when it passed, else what failed. Besides the coverage of each
    command's wall by layer spans (which holds almost by construction),
    they check what the split of exec.refresh and pipeline.run rests on."""
    gates = [None if m["trace.unattributed_frac_max"] <= 0.10 else
             "a command's layer self times cover less than 90% of its wall"]
    if workload == "tpch_full":
        n, on_disk = m["exec.fact.files_written"], extra["fact_files_on_disk"]
        gates.append(None if n == on_disk else
                     f"exec.fact.files_written {n} != {on_disk} fact parquet files on disk")
        gates += [None if m[f"{layer}.jobs"] > 0 else f"no job attributed to {layer}"
                  for layer in ("exec.dim", "exec.fact")]
        other = sum(w not in ("dim", "fact") for w, _, _ in refresh)
        gates.append(None if not other else
                     f"{other} SQL executions in exec.refresh come from neither the dim "
                     "nor the fact populate")
        dim_end = max((e for w, _, e in refresh if w == "dim"), default=None)
        fact_start = min((s for w, s, _ in refresh if w == "fact"), default=None)
        gates.append(None if dim_end is not None and fact_start is not None
                     and dim_end <= fact_start else
                     "dim and fact SQL executions overlap, so the exec.dim / exec.fact "
                     "cut at the end of the last dim execution is wrong")
    else:
        gates += [None if m[f"pipeline.step.{s}.jobs"] > 0 else
                  f"no job attributed to pipeline step {s}" for s in checks.PIPELINE_STEPS]
    return gates


def command_figures(workload, cmds):
    """Figures logged but not gated: the per-command walls that the gated
    metrics fold together, and the peak RSS, which varies too much
    between runs to gate."""
    walls = lambda k: [c["wall"] for c in cmds if c["kind"] == k]
    f = {"peak_rss_mb": (max(c["rss_mb"] for c in cmds), "MB")}
    if workload == "docs_admission":
        f["batch_p50_s"] = (statistics.median(walls("initial_load") + walls("incremental")), "s")
    else:
        f["full_refresh_s"] = (statistics.median(walls("initial_load")), "s")
    for kind in ("compact", "readback"):
        if walls(kind):
            f[f"{kind}_s (traced)"] = (walls(kind)[0], "s")
    return f


def run_all(a):
    """`--workload all`: every workload in turn, one result line each,
    then a combined line with metrics named <workload>/<metric>."""
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        p = subprocess.run([sys.executable, __file__, "--workload", w, "--seed", str(a.seed),
                            "--seconds", str(a.seconds), "--trace", str(a.trace)],
                           stdout=subprocess.PIPE, text=True)
        lines = p.stdout.strip().split("\n")
        print(lines[-1], flush=True)
        if p.returncode != 0:
            sys.exit(p.returncode)
        r = json.loads(lines[-1])
        combined["correct"] &= r["correct"]
        combined["attempted"] += r["attempted"]
        combined["failed"] += r["failed"]
        combined["metrics"].update({f"{w}/{k}": v for k, v in r["metrics"].items()})
    print(json.dumps(combined))


# ----------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, _stop_children)
    signal.signal(signal.SIGINT, _stop_children)
    missing = [p for p in REQUIRED if not os.path.exists(p)]
    if missing:
        log(f"not a graft source checkout (missing {', '.join(missing)}); run from its root")
        sys.exit(2)
    if a.workload == "all":
        return run_all(a)
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    java_options, probe_cp, tracer_cp = build()
    if a.trace and not tracer_cp:
        log("the traced harness did not build; see the sbt log")
        sys.exit(3)
    start = time.time()
    deadline = start + BUDGET_S
    kind, run_pass = WORKLOADS[a.workload]
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    inp = gen.generate(kind, a.seed, os.path.join(run_dir, "inputs"))
    records = os.path.join(WORK, "records")
    os.makedirs(records, exist_ok=True)

    attempted = failed = 0
    passes = []

    def one_pass(traced, first_only=False):
        nonlocal attempted, failed
        d = os.path.join(run_dir, f"pass{len(passes)}")
        os.makedirs(d)
        launcher = Launcher(java_options, probe_cp, tracer_cp, d, deadline)
        cmds, checked, extra = run_pass(inp, d, launcher, traced, first_only)
        attempted += len(cmds) + len(checked)
        failed += sum(c["rc"] != 0 for c in cmds) + sum(bool(f) for _, f in checked)
        for name, fails in checked:
            for msg in fails[:10]:
                log(f"check {name} failed: {msg}")
        passes.append((cmds, checked, extra))
        return cmds, extra

    if a.trace:
        # tracing overhead: the first command runs untraced, then the whole
        # sequence runs traced on the same inputs
        untraced_wall = one_pass(False, first_only=True)[0][0]["wall"]
        if not failed:
            cmds, extra = one_pass(True)
        if not failed:
            metrics, spans, refresh = per_layer(inp, cmds, extra, untraced_wall)
            gates = trace_gates(a.workload, metrics, extra, refresh)
            attempted += len(gates)
            for msg in filter(None, gates):
                failed += 1
                log(f"trace: {msg}")
            with open(os.path.join(records, f"{a.workload}_c{cpus()}_trace.json"), "w") as f:
                json.dump({"seed": a.seed, "cpus": cpus(), "inputs": inp, "metrics": metrics,
                           "commands": [{k: c[k] for k in ("kind", "args", "wall", "rc")}
                                        | {"spans": sp} for c, sp in zip(cmds, spans)]},
                          f, indent=1)
    else:
        while True:
            t0 = time.time()
            cmds, extra = one_pass(False)
            if failed:
                break
            took = time.time() - t0
            if time.time() - start >= a.seconds or time.time() + took > deadline:
                break
        if not failed:
            per_pass = [end_to_end(inp, c, e) for c, _, e in passes]
            metrics = {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}

    if failed:
        log(f"{failed} of {attempted} operations failed; outputs kept in {run_dir}")
        metrics = {}
    result_metrics = {}
    for m in wanted:
        if m["name"] not in metrics and not failed:
            log(f"metric {m['name']} was not measured")
            sys.exit(4)
        result_metrics[m["name"]] = {"value": metrics.get(m["name"], 0), "unit": m["unit"]}
    cmds = [c for p in passes for c in p[0]]
    log(f"{a.workload} seed={a.seed} cpus={cpus()} passes={len(passes)} "
        f"commands={len(cmds)} ops_failed_frac={failed / max(1, attempted):.3f} "
        f"({failed}/{attempted})")
    for c in cmds:
        setup = f"{c['setup']:5.2f} s" if "setup" in c else "    -  "
        log(f"  {c['tag']:<18} wall {c['wall']:7.2f} s  setup {setup}  "
            f"rss {c['rss_mb']:6.0f} MB  exit {c['rc']}")
    for k, v in result_metrics.items():
        log(f"  {k:<44} {v['value']:>14.4f} {v['unit']}")
    if cmds and not failed:
        for k, (v, unit) in command_figures(a.workload, cmds).items():
            log(f"  {k:<44} {v:>14.4f} {unit}")
    if not failed:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": max(1, attempted),
                      "failed": failed, "metrics": result_metrics}))


if __name__ == "__main__":
    main()
