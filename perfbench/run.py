#!/usr/bin/env python3
"""Benchmark of the graft pipeline. Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

It builds the harness and the program from source (perfbench/build.sbt,
reused while no source changes), makes the ingest input in one JVM, runs
the workload in a second, checks its outputs and prints, as its last line, one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics untraced, the
per-layer metrics traced. The full record of the run (every sample,
failure, check and, when traced, every span) goes to
.bench_out/<workload>-seed<n>-trace<t>.json. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402

WORKLOADS = ("bulk_ingest", "query_mix")
BENCH_DIR = "perfbench"
BUILD_RECORD = os.path.join(BENCH_DIR, "target", "bench-build.json")
RUN_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ------------------------------------------------------------------ build

def build_inputs():
    files = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    files += ["src/test/scala/graft/PipelineOracle.scala",
              os.path.join(BENCH_DIR, "build.sbt"),
              os.path.join(BENCH_DIR, "project", "build.properties")]
    files += sorted(glob.glob(os.path.join(BENCH_DIR, "src/main/**/*.scala"), recursive=True))
    return files


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("SPARK_HOME is unset and spark-submit is not on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return home


def build():
    """Compile with sbt unless the sources are unchanged since the last
    build in this checkout; return the runtime classpath."""
    h = hashlib.sha256()
    for f in build_inputs():
        if not os.path.isfile(f):
            fail(f"missing source {f}: run from the root of a full checkout")
        h.update(f.encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    if os.path.isfile(BUILD_RECORD):
        with open(BUILD_RECORD) as fh:
            rec = json.load(fh)
        if rec.get("stamp") == stamp and all(
                os.path.exists(p) for p in rec["classpath"].split(os.pathsep)):
            return rec["classpath"]
    env = dict(os.environ, SPARK_HOME=spark_home())
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=BENCH_DIR, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    classpath = lines[-1].strip()
    with open(BUILD_RECORD, "w") as fh:
        json.dump({"stamp": stamp, "classpath": classpath}, fh)
    return classpath


# -------------------------------------------------------------------- run

def run_jvm(classpath, phase, args, cpus, work, log, deadline):
    """Runs one harness JVM (`setup` or `run`) to its end, or stops it at
    the deadline (a `time.monotonic()` value); returns its wall time."""
    t0 = time.monotonic()
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = [java, *opens, f"-Xmx{HEAP}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
           "-cp", classpath, "perfbench.Main", phase,
           args.workload, str(args.seed), str(args.seconds), str(args.trace),
           str(cpus), work]
    env = {k: v for k, v in os.environ.items()
           if k not in ("GRAFT_ADMIN_PORT", "GRAFT_PIPELINE_CONFIG")}
    env["SPARK_GRAFT_CPUS"] = str(cpus)  # RunPipeline sizes its own session from it
    log.write(f"==== {phase}\n")
    log.flush()
    proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env)
    try:
        rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        fail(f"the run took longer than {RUN_TIMEOUT_S} s; log: {log.name}")
    finally:
        if proc.poll() is None:  # timed out, or this process was stopped
            proc.kill()
            proc.wait()
    if rc != 0:
        fail(f"the harness {phase} exited with {rc}; log: {log.name}")
    return time.monotonic() - t0


def run(classpath, args, cpus, work, log_file):
    """The measured JVM, after a set-up JVM that makes the ingest input;
    returns the measured result."""
    os.makedirs(os.path.join(work, "tmp"))
    deadline = time.monotonic() + RUN_TIMEOUT_S
    with open(log_file, "w") as log:
        walls = {phase: run_jvm(classpath, phase, args, cpus, work, log, deadline)
                 for phase in ("setup", "run")
                 if phase == "run" or args.workload == "bulk_ingest"}
    result_file = os.path.join(work, "result.json")
    if not os.path.isfile(result_file):
        fail(f"the harness wrote no result; log: {log_file}")
    with open(result_file) as fh:
        res = json.load(fh)
    res["jvm_wall_s"] = walls
    return res


# ----------------------------------------------------------------- reduce

def wall_s(x):
    return (x["end_ms"] - x["start_ms"]) / 1000.0


def rate(rounds):
    """Items (turns or queries) per second over the rounds."""
    return sum(r["items"] for r in rounds) / sum(wall_s(r) for r in rounds) if rounds else None


def end_to_end(res):
    """The gated metrics, with their sample counts."""
    warm_ops = [o for o in res["ops"] if o["phase"] == "warm"]
    warm_rounds = [r for r in res["rounds"] if r["phase"] == "warm"]
    cold = [r for r in res["rounds"] if r["phase"] == "cold"]
    if not warm_ops or not cold or not res["setup_s"] or not res["live_mem_mb"]:
        return None
    return {
        "setup_s": (stats.median(res["setup_s"]), "s", len(res["setup_s"])),
        "op_gmean_s": (stats.geomean([wall_s(o) for o in warm_ops]), "s", len(warm_ops)),
        "items_per_s": (rate(warm_rounds), "1/s", len(warm_rounds)),
        "cold_s": (wall_s(cold[0]), "s", 1),
        "live_mem_mb": (stats.median(res["live_mem_mb"]), "MB", len(res["live_mem_mb"])),
    }


def named_metrics(res):
    """The workload's own metrics by the names ROADMAP and the README use:
    (name, value or None, unit, samples, note)."""
    w = res["workload"]
    ops = res["ops"]
    warm = [wall_s(o) for o in ops if o["phase"] == "warm"]
    cold = [wall_s(o) for o in ops if o["phase"] == "cold"]
    warm_rounds = [r for r in res["rounds"] if r["phase"] == "warm"]
    out = [("setup_s", stats.median(res["setup_s"]), "s", len(res["setup_s"]), "median")]

    def timing(prefix, xs, unit_note):
        out.append((f"{prefix}_p50_s", stats.median(xs) if xs else None, "s", len(xs), unit_note))
        t = stats.tail(xs) if xs else None
        if t:
            out.append((f"{prefix}_p{round(t[0] * 100)}_s", t[1], "s", len(xs),
                        f"highest percentile with >= {stats.MIN_BEYOND} samples beyond"))
        else:
            out.append((f"{prefix}_tail", None, "s", len(xs),
                        f"no percentile has {stats.MIN_BEYOND} samples beyond it"))

    if w == "bulk_ingest":
        out.append(("bulk_turns_per_s", rate(warm_rounds), "turns/s", len(warm_rounds),
                    "warm jobs"))
        timing("bulk_job", warm, "warm jobs")
    else:
        timing("query_cold", cold, "cold pass")
        timing("query_warm", warm, "warm passes")
        out.append(("query_cold_total_s", sum(cold) if cold else None, "s", len(cold),
                    "sum over the cold pass"))
    out.append(("error_rate", stats.error_rate(res["failed"], res["attempted"]), "ratio",
                res["attempted"], f"{res['failed']} failed of {res['attempted']}"))
    out.append(("live_mem_mb", stats.median(res["live_mem_mb"]), "MB", len(res["live_mem_mb"]),
                "median after the warm rounds"))
    out.append(("peak_rss_mb", res["peak_rss_mb"], "MB", 1, "VmHWM of the JVM; not gated"))
    out.append(("heap_peak_mb", res["heap_peak_mb"], "MB", 1, "peak used heap; not gated"))
    return out


# ------------------------------------------------------------------ spans

def build_spans(res):
    """Spans from the listener records: round > op > (bulk phase) > SQL
    execution > job. Executions link to jobs by SQL execution id, and to
    the operation whose interval holds their start. Each span has a
    name, start, end, parent and trace id; times are epoch ms."""
    recs = res.get("trace_records", [])
    spans = []

    def add(name, start, end, parent, trace, **attrs):
        span = {"id": len(spans) + 1, "name": name, "start": start, "end": end,
                "parent": parent["id"] if parent else None, "trace": trace, **attrs}
        spans.append(span)
        return span

    rounds = [add("round", r["start_ms"], r["end_ms"], None, r["name"], phase=r["phase"],
                  traced=r["traced"], items=r["items"]) for r in res["rounds"]]

    def holder(candidates, t):
        for c in candidates:
            if c["start"] <= t <= c["end"]:
                return c
        return None

    op_spans = []
    for o in res["ops"]:
        if res["workload"] == "bulk_ingest":
            r = next(x for x in rounds if x["trace"] == o["name"])
            op_spans.append(r)  # a bulk job is both the round and the operation
            r.update(op=True, compile_ns=o.get("compile_ns", 0), compiles=o.get("compiles", 0))
            continue
        r = holder(rounds, o["start_ms"])
        op_spans.append(add("op", o["start_ms"], o["end_ms"], r, r["trace"] if r else o["name"],
                            op_name=o["name"], phase=o["phase"], traced=o["traced"],
                            domain=o.get("domain"), compile_ns=o.get("compile_ns"),
                            compiles=o.get("compiles")))

    ends = {e["exec"]: e for e in recs if e["kind"] == "exec_end"}
    execs = {}
    for s in sorted((r for r in recs if r["kind"] == "exec_start"), key=lambda r: r["t"]):
        p = ends.get(s["exec"], {})
        end = p.get("t", s["t"])
        parent = execs.get(s["root"]) if s["root"] not in (-1, s["exec"]) else None
        parent = parent or holder(op_spans, s["t"])
        execs[s["exec"]] = add(
            "sql", s["t"], end, parent, parent["trace"] if parent else "unattributed",
            exec=s["exec"], desc=s["desc"], writes=s["writes"], scans_staging=s["scans_staging"], analysis_ms=p.get("analysis_ms", 0),
            optimize_ms=p.get("optimize_ms", 0), plan_ms=p.get("plan_ms", 0),
            output_files=p.get("output_files", 0))
    for j in sorted((r for r in recs if r["kind"] == "job"), key=lambda r: r["start"]):
        parent = execs.get(j["exec"]) or holder(op_spans, j["start"])
        add("job", j["start"], j["end"], parent, parent["trace"] if parent else "unattributed",
            **{k: j[k] for k in ("tasks", "cpu_ns", "gc_ms", "shuffle_write_bytes",
                                 "input_bytes", "output_bytes", "desc")})
    for p in (r for r in recs if r["kind"] == "progress"):
        parent = holder(rounds, p["start"])
        add("streaming.batch", p["start"], p["start"] + p["batch_ms"], parent,
            parent["trace"] if parent else "unattributed", batch=p["batch"],
            rows=p["rows"], duration_ms=p["duration_ms"])
    if res["workload"] == "bulk_ingest":
        for op in op_spans:
            bulk_phases(op, spans, recs, add)
    return spans


def children(spans, span):
    return [s for s in spans if s["parent"] == span["id"]]


def descendants(spans, span, name):
    out, todo = [], [span]
    while todo:
        for c in children(spans, todo.pop()):
            todo.append(c)
            if c["name"] == name:
                out.append(c)
    return out


def bulk_phases(op, spans, recs, add):
    """Split one RunPipeline job into contiguous steps: session start
    (until its SparkContext is ready), prepare (input schema and planning,
    until the write starts), the Lineage staging write, the per-bucket
    stats scan, the commit (moves and markers: the gap until the next
    Spark activity) and the re-read for metrics. The SQL executions and
    jobs move under the step they start in."""
    lo, hi = op["start"], op["end"]
    ready = [r["t"] for r in recs if r["kind"] == "context_ready" and lo <= r["t"] <= hi]
    work = sorted((c for c in children(spans, op) if c["name"] in ("sql", "job")),
                  key=lambda c: c["start"])
    write = next((s for s in work if s["name"] == "sql" and s["writes"]), None)
    if not ready or not write:
        return
    steps = [("runpipeline.session", lo, ready[0]),
             ("runpipeline.prepare", ready[0], write["start"]),
             ("lineage.write", write["start"], write["end"])]
    t = write["end"]
    scans = [s for s in work if s["name"] == "sql" and s["scans_staging"] and s["start"] >= t]
    if scans:
        steps.append(("lineage.stats", t, max(s["end"] for s in scans)))
        t = steps[-1][2]
    later = [s for s in work if s["start"] >= t]
    app_end = [r["t"] for r in recs if r["kind"] == "app_end" and t <= r["t"] <= hi]
    nxt = min([s["start"] for s in later] + app_end + [hi])
    steps.append(("lineage.commit", t, nxt))
    if later:
        steps.append(("runpipeline.reread", nxt, max(s["end"] for s in later)))
    made = [add(name, a, b, op, op["trace"]) for name, a, b in steps]
    for c in work:
        step = next((m for m in made if m["start"] <= c["start"] < m["end"]), None)
        if step:
            c["parent"] = step["id"]


def per_layer(res, spans):
    """Per-layer metrics of a traced run. Every metric is measured on
    every workload; a count or share that a workload never exercises
    reads 0. Per-operation values are means over the traced operations:
    many layer times are whole milliseconds, and a median of them would
    often read the same on every run."""
    cpus = res["cpus"]
    ops = [s for s in spans if s.get("op") or s["name"] == "op"]
    warm_t = [o for o in ops if o["phase"] == "warm" and o["traced"]]
    warm_u = [o for o in ops if o["phase"] == "warm" and not o["traced"]]
    cold = [o for o in ops if o["phase"] == "cold"]

    def sqls(op):
        return descendants(spans, op, "sql")

    def jobs(op):
        return descendants(spans, op, "job")

    def per_op(fn, group):
        vals = [fn(o) for o in group]
        return sum(vals) / len(vals) if vals else 0.0

    def phase_ms(key):
        return lambda o: float(sum(s[key] for s in sqls(o)))

    def compile_ms(o):
        return (o.get("compile_ns") or 0) / 1e6

    def exec_ms(o):
        return ((o["end"] - o["start"]) - sum(phase_ms(k)(o) for k in
                ("analysis_ms", "optimize_ms", "plan_ms")) - compile_ms(o))

    m = {}
    for key, name in (("analysis_ms", "catalyst.analysis_ms"),
                      ("optimize_ms", "catalyst.optimize_ms"),
                      ("plan_ms", "catalyst.plan_ms")):
        m[name + "_cold"] = (per_op(phase_ms(key), cold), "ms")
        m[name + "_warm"] = (per_op(phase_ms(key), warm_t), "ms")
    m["codegen.compile_ms_cold"] = (per_op(compile_ms, cold), "ms")
    m["codegen.compile_ms_warm"] = (per_op(compile_ms, warm_t + warm_u), "ms")
    m["codegen.compiles_cold"] = (per_op(lambda o: float(o.get("compiles") or 0), cold), "count")
    m["codegen.compiles_warm"] = (per_op(lambda o: float(o.get("compiles") or 0),
                                         warm_t + warm_u), "count")
    m["codegen.failures"] = (res["codegen_failures"], "count")
    m["exec.ms_cold"] = (per_op(exec_ms, cold), "ms")
    m["exec.ms_warm"] = (per_op(exec_ms, warm_t), "ms")
    m["spark.jobs_per_op"] = (per_op(lambda o: float(len(jobs(o))), warm_t), "count")
    m["spark.tasks_per_op"] = (per_op(lambda o: float(sum(j["tasks"] for j in jobs(o))),
                                      warm_t), "count")
    m["sql.executions_per_op"] = (per_op(lambda o: float(len(sqls(o))), warm_t), "count")
    m["spark.broadcast_jobs_per_op"] = (per_op(lambda o: float(sum(
        1 for j in jobs(o) if "broadcast" in j["desc"].lower())), warm_t), "count")
    cpu_s = sum(j["cpu_ns"] for o in warm_t for j in jobs(o)) / 1e9
    wall = sum(o["end"] - o["start"] for o in warm_t) / 1000.0
    m["spark.task_cpu_s_per_op"] = (cpu_s / max(1, len(warm_t)), "s")
    m["spark.cpu_util"] = (cpu_s / (wall * cpus) if wall else 0.0, "ratio")
    m["spark.gc_ms_per_op"] = (per_op(lambda o: float(sum(j["gc_ms"] for j in jobs(o))),
                                      warm_t), "ms")
    m["spark.shuffle_write_bytes_per_op"] = (per_op(lambda o: float(sum(
        j["shuffle_write_bytes"] for j in jobs(o))), warm_t), "bytes")
    m["io.input_bytes_per_op"] = (per_op(lambda o: float(sum(
        j["input_bytes"] for j in jobs(o))), warm_t), "bytes")
    m["io.output_bytes_per_op"] = (per_op(lambda o: float(sum(
        j["output_bytes"] for j in jobs(o))), warm_t), "bytes")
    m["io.output_files_per_op"] = (per_op(lambda o: float(sum(
        s["output_files"] for s in sqls(o))), warm_t), "count")
    m["trace.unattributed_ms_warm"] = (per_op(lambda o: stats.self_time(o, children(spans, o)),
                                              warm_t), "ms")
    tw = [o["end"] - o["start"] for o in warm_t]
    uw = [o["end"] - o["start"] for o in warm_u]
    m["trace.overhead_pct"] = ((stats.median(tw) / stats.median(uw) - 1) * 100
                               if tw and uw else 0.0, "%")
    m["trace.spans"] = (len(spans), "count")
    m["session.create_s"] = (session_s(res, spans), "s")

    # shares of a bulk job by step, and of a streaming trigger by phase
    step_names = ("runpipeline.session", "runpipeline.prepare", "lineage.write",
                  "lineage.stats", "lineage.commit", "runpipeline.reread")
    for step in step_names:
        m[f"share.{step}_pct"] = (per_op(lambda o: 100.0 * sum(
            c["end"] - c["start"] for c in children(spans, o) if c["name"] == step)
            / (o["end"] - o["start"]), warm_t) if res["workload"] == "bulk_ingest" else 0.0, "%")
    m["share.bulk_unattributed_pct"] = (per_op(lambda o: 100.0 * stats.self_time(
        o, children(spans, o)) / (o["end"] - o["start"]), warm_t)
        if res["workload"] == "bulk_ingest" else 0.0, "%")
    bands = res.get("bands", {})
    job_ms = [o["end"] - o["start"] for o in warm_t]
    for band in ("scan", "pipeline", "enrich", "route"):
        m[f"share.{band}_band_pct"] = (100.0 * bands[band] * 1000.0 / stats.median(job_ms)
                                       if bands and job_ms else 0.0, "%")
    batches = [s for s in spans if s["name"] == "streaming.batch"]
    for key, name in (("addBatch", "add_batch"), ("latestOffset", "offsets"),
                      ("commitOffsets", "commit"), ("walCommit", "wal_commit"),
                      ("queryPlanning", "query_planning")):
        m[f"share.streaming_{name}_pct"] = (stats.median([
            100.0 * b["duration_ms"].get(key, 0) / max(1, b["duration_ms"].get(
                "triggerExecution", 0)) for b in batches]) if batches else 0.0, "%")
    m["streaming.batches"] = (len(batches), "count")
    local1 = [r for r in res["rounds"] if r["phase"] == "local1"]
    warm_jobs = [wall_s(r) for r in res["rounds"] if r["phase"] == "warm"]
    m["spark.scaling_eff_1to4"] = (wall_s(local1[0]) / (stats.median(warm_jobs) * cpus)
                                   if local1 and warm_jobs else 0.0, "ratio")
    return m


def session_s(res, spans):
    if res["workload"] == "bulk_ingest":
        xs = [(s["end"] - s["start"]) / 1000.0 for s in spans
              if s["name"] == "runpipeline.session"]
        return stats.median(xs) if xs else 0.0
    return res["session_s"]


def breakdown(res, spans):
    """Absolute layer times of the traced run, for the report and the
    artifact: self time per span name, and the per-workload splits."""
    selfs = {}
    for s in spans:
        selfs.setdefault(s["name"], 0.0)
        selfs[s["name"]] += stats.self_time(s, children(spans, s)) / 1000.0
    out = {"self_s_by_span": selfs}
    if res["workload"] == "bulk_ingest":
        bands = res.get("bands", {})
        jobs = []
        for op in (s for s in spans if s.get("op") and s["traced"]):
            wall = (op["end"] - op["start"]) / 1000.0
            parts = {c["name"]: (c["end"] - c["start"]) / 1000.0
                     for c in children(spans, op) if c["name"] not in ("job", "sql")}
            if bands and "lineage.write" in parts:
                # the bands split the write step; the rest is the sink write
                rest = parts.pop("lineage.write") - sum(bands.values())
                parts.update({f"{band}.band": sec for band, sec in bands.items()})
                parts["lineage.write_rest"] = rest
            parts["unattributed"] = wall - sum(parts.values())
            jobs.append({"job": op["trace"], "wall_s": wall, "parts_s": parts})
        out["bulk_jobs"] = jobs
        out["bands_s"] = bands
    if res["workload"] == "query_mix":
        split = []
        for o in (s for s in spans if s["name"] == "op" and s["traced"]):
            wall = o["end"] - o["start"]
            catalyst = sum(x[k] for x in descendants(spans, o, "sql")
                           for k in ("analysis_ms", "optimize_ms", "plan_ms"))
            codegen = (o["compile_ns"] or 0) / 1e6
            split.append({"query": o["op_name"], "phase": o["phase"], "wall_ms": wall,
                          "catalyst_ms": catalyst, "codegen_ms": codegen,
                          "exec_ms": wall - catalyst - codegen})
        out["query_split_ms"] = split
        dom = {}
        for o in res["ops"]:
            key = f"queries.{o['domain']}.{o['phase']}_s"
            dom[key] = dom.get(key, 0.0) + wall_s(o)
        out["domains"] = dom
    batches = [s for s in spans if s["name"] == "streaming.batch"]
    if batches:
        keys = sorted({k for b in batches for k in b["duration_ms"]})
        out["streaming_ms_p50"] = {k: stats.median([b["duration_ms"].get(k, 0)
                                                    for b in batches]) for k in keys}
    return out


# ------------------------------------------------------------------- main

def main():
    # a stop request unwinds through run_jvm, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join("src", "main", "scala", "graft")):
        fail("run from the root of a checkout: src/main/scala/graft is missing")

    classpath = build()
    cpus = len(os.sched_getaffinity(0))
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.abspath(os.path.join(".bench_work", f"{tag}-{os.getpid()}"))
    out_dir = os.path.abspath(".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run(classpath, args, cpus, work, os.path.join(out_dir, f"{tag}.log"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    checks_ok = all(c["ok"] for c in res["checks"]) and bool(res["checks"])
    artifact = {"result": res, "named": named_metrics(res)}
    if args.trace:
        spans = build_spans(res)
        layer = per_layer(res, spans)
        artifact.update(spans=spans, breakdown=breakdown(res, spans))
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in layer.items()}
        complete = True
    else:
        e2e = end_to_end(res)
        complete = e2e is not None
        metrics = {k: {"value": v, "unit": u} for k, (v, u, _) in (e2e or {}).items()}
    res.pop("trace_records", None)
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as fh:
        json.dump(artifact, fh, indent=1)

    print(f"{args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace} "
          f"cpus={cpus}")
    for name, value, unit, n, note in artifact["named"]:
        shown = "n/a" if value is None else f"{value:.6g}"
        print(f"  {name:<22} {shown:>12} {unit:<8} n={n:<5} {note}")
    for f in res["failures"]:
        print(f"  FAILED {f['op']}: {f['class']}: {f['message']}")
    print(f"  output checks: {sum(c['ok'] for c in res['checks'])}/{len(res['checks'])} passed")
    if args.trace:
        for k, v in sorted(artifact["breakdown"].items()):
            print(f"  {k}: {json.dumps(v)[:600]}")
    print(f"  full record: {os.path.relpath(os.path.join(out_dir, tag + '.json'))}")
    print(json.dumps({
        "correct": checks_ok and res["failed"] == 0 and complete,
        "attempted": res["attempted"], "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
