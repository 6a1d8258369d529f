#!/usr/bin/env python3
"""graft benchmark: one command, three workloads.

    python3 perfbench/run.py --workload <registry_sf01|registry_x10|ingest_stream>
        --seed <n> --seconds <s> --trace <0|1> [--queries a,b,...]

Run from the repository root. The first run in a checkout compiles the
engine and the benchmark driver into `.bench_build/`. Each run writes its
seeded inputs under `.bench_build/run/`, starts one JVM (Spark in
local[nproc]), measures for --seconds, checks every answer, and prints a
report line with every metric the workload has, then one result line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the result
metrics are the end-to-end metrics of BENCHMARK.json; with --trace 1 they
are its per-layer metrics.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import fixtures  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

WORKLOADS = {"registry_sf01": "registry", "registry_x10": "registry",
             "ingest_stream": "ingest"}
HEAP = "4g"
# the gated workloads must finish well inside 180 s; registry_x10 runs
# take about four minutes
JVM_TIMEOUT_S = {"registry_x10": 600}
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


class BenchError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise BenchError("no Spark installation found (set SPARK_HOME)")
    return os.path.join(jars, "*")


def build(root, build_dir, jars):
    """Compile the engine (src/main/scala) with the driver (perfbench/scala)
    into a class directory keyed by the sources' hash."""
    srcs = sorted(glob.glob(os.path.join(root, "src", "main", "scala", "**", "*.scala"),
                            recursive=True))
    if not srcs:
        raise BenchError(f"no engine sources under {root}/src/main/scala")
    srcs += sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    out = os.path.join(build_dir, "classes-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".done")):
        return out
    for old in glob.glob(os.path.join(build_dir, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", jars] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        raise BenchError("compile failed:\n" + r.stdout[-4000:])
    open(os.path.join(out, ".done"), "w").close()
    return out


def run_jvm(classes, jars, run_dir, argv, extra_props, timeout_s):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + opens + [f"-Xmx{HEAP}", f"-Xms{HEAP}", "-Xss8m", "-XX:-UsePerfData",
                               f"-Djava.io.tmpdir={tmp}"]
           + [f"-D{k}={v}" for k, v in extra_props.items()]
           + ["-cp", classes + os.pathsep + jars, "perfbench.Main"] + argv)
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise BenchError(f"driver JVM exceeded {timeout_s}s")
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise BenchError(f"driver JVM exited {rc}:\n{tail}")
    with open(os.path.join(run_dir, "raw.json")) as f:
        return json.load(f)


def q50(xs):
    return stats.percentile(xs, 0.5)[0]


def lat_summary(lat_s):
    v50, n, _ = stats.percentile(lat_s, 0.5)
    v90, _, beyond = stats.percentile(lat_s, 0.9)
    return v50, v90, {"n": n, "beyond_p90": beyond, "tail_ok": stats.tail_ok(beyond)}


def op_spans(op, jobs, stages):
    """Span tree of one registry op: op -> build, action -> jobs -> stages.
    A job is a child of the build when it starts before the build ends."""
    spans = {"op": {"start": op["start"], "end": op["end"], "parent": None},
             "build": {"start": op["start"], "end": op["build_end"], "parent": "op"},
             "action": {"start": op["build_end"], "end": op["end"], "parent": "op"}}
    for j in jobs:
        end = j["end"] if j["end"] >= 0 else op["end"]
        spans[f"job{j['id']}"] = {"start": j["start"], "end": end,
                                  "parent": "build" if j["start"] < op["build_end"] else "action"}
    for s in stages:
        if f"job{s['job']}" in spans and s["start"] > 0:
            end = s["end"] if s["end"] >= 0 else spans[f"job{s['job']}"]["end"]
            spans[f"stage{s['id']}"] = {"start": s["start"], "end": end,
                                        "parent": f"job{s['job']}"}
    return spans


def layer_split(op, jobs, stages, tasks, qes):
    """Per-op layer split from the trace (times in seconds)."""
    spans = op_spans(op, jobs, stages)
    selfs = stats.self_times(spans)
    job_iv = [(spans[k]["start"], spans[k]["end"]) for k in spans if k.startswith("job")]
    span = (op["start"], op["end"])
    t = tasks.get(op["tag"], {})
    mine = [q for q in qes if op["start"] <= q["start"] <= op["end"]]
    return {
        "wall_s": (op["end"] - op["start"]) / 1e3,
        "build_s": (op["build_end"] - op["start"]) / 1e3,
        "action_s": (op["end"] - op["build_end"]) / 1e3,
        "build_self_s": selfs["build"] / 1e3,
        "action_self_s": selfs["action"] / 1e3,
        "job_self_s": sum(v for k, v in selfs.items() if k.startswith("job")) / 1e3,
        "stage_s": sum(v for k, v in selfs.items() if k.startswith("stage")) / 1e3,
        "analysis_s": sum(q["analysis_ms"] for q in mine) / 1e3,
        "optimization_s": sum(q["optimization_ms"] for q in mine) / 1e3,
        "planning_s": sum(q["planning_ms"] for q in mine) / 1e3,
        "codegen_compiles": op["compiles"],
        "jobs": len(jobs), "stages": len(stages),
        "tasks": t.get("tasks", 0),
        "task_wait_s": t.get("wait_ms", 0) / 1e3,
        "outside_jobs_s": stats.outside(span, job_iv) / 1e3,
        "job_wall_s": stats.union_length(job_iv, *span) / 1e3,
        "task_run_s": t.get("run_ms", 0) / 1e3,
        "task_cpu_s": t.get("cpu_ns", 0) / 1e9,
        "shuffle_write_bytes": t.get("shuffle_write", 0),
        "shuffle_read_bytes": t.get("shuffle_read", 0),
        "shuffle_fetch_wait_s": t.get("fetch_wait_ms", 0) / 1e3,
        "spill_bytes": t.get("spill", 0),
        "gc_s": op["gc_ms"] / 1e3,
        "input_bytes": t.get("in_bytes", 0), "input_rows": t.get("in_rows", 0),
        "output_bytes": t.get("out_bytes", 0),
    }


def streaming_layers(progress):
    """Per-trigger streaming layer metrics from progress records."""
    ps = [p for p in progress if p["durations"].get("triggerExecution") is not None]
    d = lambda k: [p["durations"].get(k, 0) / 1e3 for p in ps]
    busy = [p for p in ps if p["rows"] > 0]
    return {
        "streaming.triggers": len(ps),
        "streaming.trigger_p50_s": q50(d("triggerExecution")) if ps else 0.0,
        "streaming.add_batch_s": q50(d("addBatch")) if ps else 0.0,
        "streaming.latest_offset_s": q50(d("latestOffset")) if ps else 0.0,
        "streaming.get_batch_s": q50(d("getBatch")) if ps else 0.0,
        "streaming.query_planning_s": q50(d("queryPlanning")) if ps else 0.0,
        "streaming.wal_commit_s": q50(d("walCommit")) if ps else 0.0,
        "streaming.commit_offsets_s": q50(d("commitOffsets")) if ps else 0.0,
        "streaming.rows_per_trigger": (sum(p["rows"] for p in busy) / len(busy)) if busy else 0.0,
        "streaming.late_rows_dropped": sum(p["dropped"] for p in ps),
    }


# every end-to-end name the report prints, with its unit; END_TO_END are
# the ones every workload has, the result line's metrics with --trace 0
UNITS = {"setup_s": "s", "latency_p50_s": "s", "latency_p90_s": "s",
         "queries_per_s": "1/s", "freshness_p50_s": "s", "freshness_p90_s": "s",
         "committed_events_per_s": "1/s", "error_rate": "fraction", "live_heap_mb": "MB"}
END_TO_END = ["setup_s", "latency_p50_s", "latency_p90_s", "queries_per_s", "live_heap_mb"]

PER_LAYER = [
    "plans.analysis_s", "plans.optimization_s", "plans.planning_s", "plans.codegen_compiles",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_wait_s", "spark.outside_jobs_s",
    "spark.job_wall_s", "spark.task_run_s", "spark.task_cpu_s", "spark.slot_busy",
    "spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.shuffle_fetch_wait_s",
    "spark.spill_bytes", "spark.gc_s", "sources.input_bytes", "sources.input_rows",
    "registry.build_s", "registry.action_s",
    "operators.latency_p50_s", "analytics.latency_p50_s", "llm.latency_p50_s",
    "etl.latency_p50_s", "streaming.latency_p50_s", "sources.latency_p50_s",
    "streaming.triggers", "streaming.trigger_p50_s", "streaming.add_batch_s",
    "streaming.latest_offset_s", "streaming.get_batch_s", "streaming.query_planning_s",
    "streaming.wal_commit_s", "streaming.commit_offsets_s", "streaming.rows_per_trigger",
    "streaming.late_rows_dropped",
    "etl.commits", "etl.files_per_commit", "etl.write_amp", "etl.space_amp",
    "etl.read_s", "etl.changes_s", "sources.output_bytes",
    "setup.session_s", "setup.inputs_s", "setup.warmup_s", "sources.first_load_s",
    "spark.storage_bytes", "bench.generator_late_s", "bench.trace_overhead",
]


def registry_metrics(raw, t0_ms, inputs_s, trace, data_dir, answers_dir):
    warm_err = {o["name"]: o["error"] for o in raw["warmup"] if not o["ok"]}
    ref = raw["reference"]
    failures = [{"op": n, "pass": -1, "why": why} for n, why in warm_err.items()]
    lat, ok_ops = [], 0
    for o in raw["ops"]:
        r = ref.get(o["name"])
        bad = None
        if not o["ok"]:
            bad = o["error"]
        elif r is None:
            bad = "no warm-up answer"
        elif (o["count"], o["digest"]) != (r["count"], r["digest"]):
            bad = f"answer differs from warm-up: rows {o['count']} vs {r['count']}"
        if bad:
            failures.append({"op": o["name"], "pass": o["pass"], "why": bad})
            lat.append(math.inf)
        else:
            ok_ops += 1
            lat.append((o["end"] - o["start"]) / 1e3)
    checks = oracle.check(raw["oracle_sql"], data_dir, answers_dir,
                          {n: "no warm-up answer" for n in warm_err if n in raw["oracle_sql"]})
    failures += [{"op": n, "why": "oracle: " + why} for n, why in checks["mismatches"].items()]
    attempted = len(raw["warmup"]) + len(raw["ops"]) + len(checks["checked"])
    ops = raw["ops"]
    wall_s = (max(o["end"] for o in ops) - min(o["start"] for o in ops)) / 1e3
    p50, p90, tail = lat_summary(lat)
    e2e = {
        "setup_s": (raw["setup_end"] - t0_ms) / 1e3,
        "latency_p50_s": p50, "latency_p90_s": p90,
        "queries_per_s": ok_ops / wall_s,
        "live_heap_mb": max(raw["heap_mb"]),
    }
    report = dict(e2e, error_rate=len(failures) / attempted,
                  freshness_p50_s=None, freshness_p90_s=None, committed_events_per_s=None)
    extra = {"latency_samples": tail, "passes": raw["passes"], "sample": raw["sample"],
             "oracle_checked": checks["checked"], "failures": failures}
    layers = None
    if trace:
        layers = registry_layers(raw, inputs_s)
    return e2e, report, extra, layers, attempted, len(failures)


def registry_layers(raw, inputs_s):
    jobs, stages, tasks, qes = raw["jobs"], raw["stages"], raw["tasks"], raw["qes"]
    by_op_jobs, by_op_stages = {}, {}
    for j in jobs:
        by_op_jobs.setdefault(j["op"], []).append(j)
    for s in stages:
        by_op_stages.setdefault(s["op"], []).append(s)
    traced = [o for o in raw["ops"] if o["traced"] and o["ok"]]
    splits = [layer_split(o, by_op_jobs.get(o["tag"], []), by_op_stages.get(o["tag"], []),
                          tasks, qes) for o in traced]
    mean = lambda k: sum(s[k] for s in splits) / len(splits) if splits else 0.0
    cores = raw["cores"]
    job_wall = sum(s["job_wall_s"] for s in splits)
    out = {
        "plans.analysis_s": mean("analysis_s"), "plans.optimization_s": mean("optimization_s"),
        "plans.planning_s": mean("planning_s"), "plans.codegen_compiles": mean("codegen_compiles"),
        "spark.jobs": mean("jobs"), "spark.stages": mean("stages"), "spark.tasks": mean("tasks"),
        "spark.task_wait_s": mean("task_wait_s"), "spark.outside_jobs_s": mean("outside_jobs_s"),
        "spark.job_wall_s": mean("job_wall_s"), "spark.task_run_s": mean("task_run_s"),
        "spark.task_cpu_s": mean("task_cpu_s"),
        "spark.slot_busy": (sum(s["task_run_s"] for s in splits) / (job_wall * cores))
        if job_wall > 0 else 0.0,
        "spark.shuffle_write_bytes": mean("shuffle_write_bytes"),
        "spark.shuffle_read_bytes": mean("shuffle_read_bytes"),
        "spark.shuffle_fetch_wait_s": mean("shuffle_fetch_wait_s"),
        "spark.spill_bytes": mean("spill_bytes"), "spark.gc_s": mean("gc_s"),
        "sources.input_bytes": mean("input_bytes"), "sources.input_rows": mean("input_rows"),
        "sources.output_bytes": mean("output_bytes"),
        "registry.build_s": mean("build_s"), "registry.action_s": mean("action_s"),
        "setup.session_s": raw["session_s"], "setup.inputs_s": inputs_s,
        "setup.warmup_s": raw["warmup_s"], "sources.first_load_s": raw["first_load_s"],
        "spark.storage_bytes": raw["storage_bytes"],
    }
    for fam in ["operators", "analytics", "llm", "etl", "streaming", "sources"]:
        xs = [s["wall_s"] for o, s in zip(traced, splits) if o["family"] == fam]
        out[f"{fam}.latency_p50_s"] = q50(xs) if xs else 0.0
    out.update(streaming_layers(raw["progress"]))
    out["bench.trace_overhead"] = trace_overhead(raw["ops"])
    per_op = [dict(s, name=o["name"], family=o["family"], pass_=o["pass"])
              for o, s in zip(traced, splits)]
    return out, per_op


def trace_overhead(ops):
    """Median over queries of (traced latency / untraced latency) - 1. The
    passes alternate untraced and traced; pass 0 is left out, so the
    untraced passes bracket the traced ones and JIT warm-up cancels."""
    by = {}
    for o in ops:
        if o["ok"] and o["pass"] > 0:
            by.setdefault(o["name"], {}).setdefault(o["traced"], []).append(o["end"] - o["start"])
    ratios = [q50(v[True]) / q50(v[False]) for v in by.values()
              if v.get(True) and v.get(False) and q50(v[False]) > 0]
    return q50(ratios) - 1.0 if ratios else 0.0


def ingest_metrics(raw, t0_ms, trace):
    failures = []
    reads = raw["reads"]
    for r in reads:
        if not r["ok"]:
            failures.append({"op": "read", "why": r["error"]})
    fin = raw["final"]
    if not fin["ok"]:
        failures.append({"op": "final_store",
                         "why": f"store differs from keepLatest over releases: rows "
                                f"{fin['rows']} vs {fin['expected_rows']}"})
    if raw["drain_error"]:
        failures.append({"op": "drain", "why": raw["drain_error"]})
    attempted = len(reads) + 2
    lat = [((r["end"] - r["start"]) / 1e3) if r["ok"] else math.inf for r in reads]
    p50, p90, tail = lat_summary(lat)
    ok_reads = sum(1 for r in reads if r["ok"])
    wall_s = (raw["window_end"] - raw["setup_end"]) / 1e3
    releases = raw["releases"]
    # the file source logs files under its own offsets; a micro-batch
    # takes the log offsets (src_start, src_end]
    log_batch, batch_end = {}, {}
    for p in raw["progress_all"]:
        for off in range(p["src_start"] + 1, p["src_end"] + 1):
            log_batch[off] = p["batch"]
        batch_end[p["batch"]] = max(batch_end.get(p["batch"], 0), p["start"] + p["duration_ms"])
    file_batch = {f["name"]: log_batch.get(f["batch"]) for f in raw["file_batches"]}
    fresh = [x / 1e3 for x in stats.freshness(releases, file_batch, batch_end)]
    f50, f90, ftail = lat_summary(fresh)
    first_at = min(r["at"] for r in releases)
    # commit throughput up to the last trigger that ended inside the window
    last_end = max([e for e in batch_end.values() if e <= raw["window_end"]] or [raw["window_end"]])
    e2e = {
        "setup_s": (raw["setup_end"] - t0_ms) / 1e3,
        "latency_p50_s": p50, "latency_p90_s": p90,
        "queries_per_s": ok_reads / wall_s,
        "live_heap_mb": max(raw["heap_mb"]),
    }
    report = dict(e2e, error_rate=len(failures) / attempted,
                  freshness_p50_s=f50, freshness_p90_s=f90,
                  committed_events_per_s=(raw["tip_rows"] - raw["start_rows"])
                  / (max(last_end - first_at, 1) / 1e3))
    extra = {"latency_samples": tail, "freshness_samples": ftail,
             "released_files": len(releases),
             "replays": sum(1 for r in releases if r["replay"]),
             "final_store": fin, "failures": failures}
    layers = None
    if trace:
        layers = ingest_layers(raw, reads)
    return e2e, report, extra, layers, attempted, len(failures)


def ingest_layers(raw, reads):
    st = raw["store"]
    tasks = raw["tasks"]
    tot = lambda k: sum(t.get(k, 0) for t in tasks.values())
    read_s = [(r["read_end"] - r["start"]) / 1e3 for r in reads if r["ok"]]
    changes_s = [(r["end"] - r["read_end"]) / 1e3 for r in reads if r["ok"]]
    job_iv = [(j["start"], j["end"]) for j in raw["jobs"] if j["end"] >= 0]
    window = (raw["setup_end"], raw["window_end"])
    job_wall = stats.union_length(job_iv, *window) / 1e3
    late = [max(0, r["at"] - r["due"]) / 1e3 for r in raw["releases"]]
    qes = raw["qes"]
    out = {
        "plans.analysis_s": sum(q["analysis_ms"] for q in qes) / 1e3,
        "plans.optimization_s": sum(q["optimization_ms"] for q in qes) / 1e3,
        "plans.planning_s": sum(q["planning_ms"] for q in qes) / 1e3,
        "spark.jobs": len(raw["jobs"]), "spark.stages": len(raw["stages"]),
        "spark.tasks": tot("tasks"), "spark.task_wait_s": tot("wait_ms") / 1e3,
        "spark.outside_jobs_s": stats.outside(window, job_iv) / 1e3,
        "spark.job_wall_s": job_wall, "spark.task_run_s": tot("run_ms") / 1e3,
        "spark.task_cpu_s": tot("cpu_ns") / 1e9,
        "spark.slot_busy": (tot("run_ms") / 1e3) / (job_wall * raw["cores"]) if job_wall else 0.0,
        "spark.shuffle_write_bytes": tot("shuffle_write"),
        "spark.shuffle_read_bytes": tot("shuffle_read"),
        "spark.shuffle_fetch_wait_s": tot("fetch_wait_ms") / 1e3,
        "spark.spill_bytes": tot("spill"), "spark.gc_s": tot("gc_ms") / 1e3,
        "sources.input_bytes": tot("in_bytes"), "sources.input_rows": tot("in_rows"),
        "sources.output_bytes": tot("out_bytes"),
        "etl.commits": st["commits"],
        "etl.files_per_commit": q50(st["files_per_commit"]) if st["files_per_commit"] else 0.0,
        "etl.write_amp": tot("out_bytes") / st["input_bytes"] if st["input_bytes"] else 0.0,
        "etl.space_amp": st["disk_bytes"] / st["live_bytes"] if st["live_bytes"] else 0.0,
        "etl.read_s": q50(read_s) if read_s else 0.0,
        "etl.changes_s": q50(changes_s) if changes_s else 0.0,
        "setup.session_s": raw["session_s"], "setup.inputs_s": raw["inputs_s"],
        "setup.warmup_s": raw["warmup_s"], "spark.storage_bytes": raw["storage_bytes"],
        "bench.generator_late_s": max(late) if late else 0.0,
        "bench.trace_overhead": raw["trace_callback_ms"] / (raw["window_end"] - raw["setup_end"]),
    }
    out.update(streaming_layers(raw["progress"]))
    return out, []


LAYER_UNITS = {
    "plans.codegen_compiles": "count", "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "spark.slot_busy": "fraction",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes", "sources.input_bytes": "bytes", "sources.input_rows": "count",
    "streaming.triggers": "count", "streaming.rows_per_trigger": "count",
    "streaming.late_rows_dropped": "count", "etl.commits": "count",
    "etl.files_per_commit": "count", "etl.write_amp": "ratio", "etl.space_amp": "ratio",
    "sources.output_bytes": "bytes", "spark.storage_bytes": "bytes",
    "bench.trace_overhead": "fraction",
}

def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--queries", default="", help="fixed registry sample (comma-separated)")
    a = ap.parse_args(argv)
    root = os.getcwd()
    build_dir = os.path.join(root, ".bench_build")
    try:
        jars = spark_jars()
        classes = build(root, build_dir, jars)
        t0_ms = int(time.time() * 1000)
        run_dir = os.path.join(build_dir, "run")
        shutil.rmtree(run_dir, ignore_errors=True)
        os.makedirs(run_dir)
        t_in = time.time()
        data = os.path.join(run_dir, "data")
        if a.workload == "registry_sf01":
            fixtures.write_base(data)
        elif a.workload == "registry_x10":
            base = os.path.join(run_dir, "base")
            fixtures.write_base(base)
            fixtures.write_x10(base, data, a.seed)
        inputs_s = time.time() - t_in
        props = {}
        if a.queries:
            props["perfbench.queries"] = a.queries
        kind = WORKLOADS[a.workload]
        raw = run_jvm(classes, jars, run_dir,
                      [kind, str(a.seed), str(a.seconds), str(a.trace), data, run_dir,
                       str(t0_ms), str(os.cpu_count())], props,
                      JVM_TIMEOUT_S.get(a.workload, 160))
        if kind == "registry":
            e2e, report, extra, layers, attempted, failed = registry_metrics(
                raw, t0_ms, inputs_s, a.trace, data, os.path.join(run_dir, "answers"))
        else:
            e2e, report, extra, layers, attempted, failed = ingest_metrics(raw, t0_ms, a.trace)
    except BenchError as e:
        print(f"benchmark error: {e}", file=sys.stderr)
        return 2
    print(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                      "report": {k: {"value": v, "unit": UNITS[k]} for k, v in report.items()},
                      "attempted": attempted, "failed": failed, **extra}))
    if a.trace:
        values, per_op = layers
        with open(os.path.join(run_dir, "layers.json"), "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "per_op": per_op}, f)
        metrics = {k: {"value": values.get(k, 0.0), "unit": LAYER_UNITS.get(k, "s")}
                   for k in PER_LAYER}
    else:
        metrics = {k: {"value": e2e[k], "unit": UNITS[k]} for k in END_TO_END}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
