#!/usr/bin/env python3
"""Adjudication tables: the same queries traced at sf0.1 and at x10, with
each op's time split by layer and the x10 / sf0.1 ratio of every column.

    python3 perfbench/adjudicate.py --queries l03,q73,q85,q91 [--seed 1]
        [--seconds 1] > table.md

Run from the repository root. Values are per-op medians over the traced
pass(es) of one traced run per scale."""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))

# (column, per-op field) — wall time first, then its split
COLUMNS = [
    ("wall", "wall_s"), ("build self", "build_self_s"), ("action self", "action_self_s"),
    ("job self", "job_self_s"), ("stages", "stage_s"),
    ("outside jobs", "outside_jobs_s"), ("job wall", "job_wall_s"),
    ("catalyst", "catalyst_s"), ("task run", "task_run_s"), ("task cpu", "task_cpu_s"),
    ("gc", "gc_s"), ("jobs", "jobs"), ("tasks", "tasks"),
    ("input MB", "input_mb"), ("shuffle MB", "shuffle_mb"),
]


def traced_ops(workload, queries, seed, seconds):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "1",
                        "--queries", queries], stdout=subprocess.PIPE, text=True)
    if r.returncode != 0:
        raise SystemExit(f"{workload} run failed ({r.returncode})")
    with open(os.path.join(".bench_build", "run", "layers.json")) as f:
        per_op = json.load(f)["per_op"]
    out = {}
    for op in per_op:
        op["catalyst_s"] = op["analysis_s"] + op["optimization_s"] + op["planning_s"]
        op["input_mb"] = op["input_bytes"] / 1e6
        op["shuffle_mb"] = (op["shuffle_write_bytes"] + op["shuffle_read_bytes"]) / 1e6
        out.setdefault(op["name"], []).append(op)
    return {n: {f: statistics.median(o[f] for o in ops) for _, f in COLUMNS}
            for n, ops in out.items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1)
    a = ap.parse_args()
    small = traced_ops("registry_sf01", a.queries, a.seed, a.seconds)
    big = traced_ops("registry_x10", a.queries, a.seed, a.seconds)
    print("| query | scale | " + " | ".join(c for c, _ in COLUMNS) + " |")
    print("|---|---|" + "---|" * len(COLUMNS))
    for name in sorted(small):
        s, b = small[name], big.get(name)
        print(f"| {name} | sf0.1 | " + " | ".join(f"{s[f]:.3g}" for _, f in COLUMNS) + " |")
        if b:
            print(f"| | x10 | " + " | ".join(f"{b[f]:.3g}" for _, f in COLUMNS) + " |")
            print(f"| | ratio | " + " | ".join(
                f"{b[f] / s[f]:.2f}" if s[f] else "-" for _, f in COLUMNS) + " |")
    return 0


if __name__ == "__main__":
    sys.exit(main())
