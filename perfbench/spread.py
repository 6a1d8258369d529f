#!/usr/bin/env python3
"""Steadiness check: run one workload once per seed and report, for every
metric, the median and the interquartile range as a share of the median
(statistics.quantiles(values, n=4)).

    python3 perfbench/spread.py --workload registry_sf01 --seeds 1,2,3,4,5 \\
        [--seconds 10] [--trace 0] [--out results.jsonl]

Run from the repository root. Every run's result line (seed added) is
appended to --out when given, with its report line under "report", and its
raw records are copied to <out>.raw/<workload>-<seed>.json."""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def spread(values):
    med = statistics.median(values)
    if len(values) < 2 or med == 0:
        return med, float("nan")
    q = statistics.quantiles(values, n=4)
    return med, (q[2] - q[0]) / med


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--seconds", default=None)
    ap.add_argument("--trace", default="0")
    ap.add_argument("--out")
    a = ap.parse_args()
    seconds = a.seconds
    if seconds is None:
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            seconds = str(json.load(f)["run_seconds"])
    rows = []
    for seed in a.seeds.split(","):
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", seed, "--seconds", seconds, "--trace", a.trace],
                           stdout=subprocess.PIPE, text=True)
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or not lines:
            print(f"seed {seed}: exit {r.returncode}", file=sys.stderr)
            continue
        res = json.loads(lines[-1])
        res["seed"] = int(seed)
        res["workload"] = a.workload
        if len(lines) > 1:
            res["report"] = json.loads(lines[-2])
        rows.append(res)
        if a.out:
            with open(a.out, "a") as f:
                f.write(json.dumps(res) + "\n")
            raw_dir = a.out + ".raw"
            os.makedirs(raw_dir, exist_ok=True)
            shutil.copy(os.path.join(".bench_build", "run", "raw.json"),
                        os.path.join(raw_dir, f"{a.workload}-{seed}.json"))
        print(json.dumps({"seed": seed, "correct": res["correct"],
                          **{k: round(v["value"], 4) for k, v in res["metrics"].items()}}))
    if not rows:
        return 1
    print(f"{a.workload}: {len(rows)} runs, all correct: {all(r['correct'] for r in rows)}")
    for k in rows[0]["metrics"]:
        med, sp = spread([r["metrics"][k]["value"] for r in rows])
        print(f"  {k:28s} median {med:12.4f}  iqr/median {sp:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
