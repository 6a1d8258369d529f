#!/usr/bin/env python3
"""Summarise a tools/paired_ab.sh run: per end-to-end metric of
BENCHMARK.json, each side's median and quartiles, the pairs the change (B)
won, and the gain verdict: at least ten pairs, B wins at least nine
tenths of them (ties count for neither side), and the medians differ, in
B's favour, by more than the distance between A's quartiles. It also
flags a B median worse than A's by more than the metric's bound.

Then the report-only metrics of each run's report line (REPORTED): each
side's quartiles and B's median change vs A, marked "reported, not
gated", so a summary also shows the writer-side cost of an ingest
change. A metric the workload does not report (null) is left out.

    python3 tools/paired_ab.py <dir with a_pair<i>.json / b_pair<i>.json>
"""
import glob
import json
import os
import re
import statistics
import sys

BENCHMARK = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")
REPORTED = ("freshness_p50_s", "freshness_p90_s", "committed_events_per_s")


def run_lines(path):
    """The run's (report line, result line); either is None when absent."""
    if not os.path.exists(path):
        return None, None
    with open(path) as f:
        docs = [json.loads(x) for x in f.read().splitlines() if x.strip().startswith("{")]
    if not docs:
        return None, None
    report = next((d["report"] for d in reversed(docs[:-1]) if "report" in d), None)
    return report, docs[-1]


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def verdict(a, b, lower_better):
    """(B's pair wins, gain?) for paired values a[i], b[i]."""
    better = (lambda x, y: y < x) if lower_better else (lambda x, y: y > x)
    wins = sum(1 for x, y in zip(a, b) if better(x, y))
    q1, med_a, q3 = quartiles(a)
    med_b = statistics.median(b)
    gap = (med_a - med_b) if lower_better else (med_b - med_a)
    return wins, len(a) >= 10 and wins >= 0.9 * len(a) and gap > q3 - q1


def main(d):
    with open(BENCHMARK) as f:
        metrics = json.load(f)["end_to_end"]
    idx = sorted(int(re.search(r"(\d+)\.json$", p).group(1))
                 for p in glob.glob(os.path.join(d, "a_pair*.json")))
    pairs, reports, broken = [], [], []
    for i in idx:
        pa, ra = run_lines(os.path.join(d, f"a_pair{i}.json"))
        pb, rb = run_lines(os.path.join(d, f"b_pair{i}.json"))
        if ra is None or rb is None or "metrics" not in ra or "metrics" not in rb:
            broken.append(i)
        else:
            pairs.append((ra, rb))
            reports.append((pa or {}, pb or {}))
    if not pairs:
        sys.exit(f"no complete pairs under {d}")
    print(f"{len(pairs)} complete pairs" + (f"; pairs without a result: {broken}" if broken else ""))
    for side, k in (("A", 0), ("B", 1)):
        failed = sum(p[k]["failed"] for p in pairs)
        attempted = sum(p[k]["attempted"] for p in pairs)
        wrong = sum(1 for p in pairs if not p[k]["correct"])
        print(f"{side}: {failed} of {attempted} ops failed, {wrong} runs not correct")
    print("metric,better,A_q1,A_median,A_q3,B_q1,B_median,B_q3,B_wins,gain,B_vs_A,bound,within_bound")
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        a = [p[0]["metrics"][name]["value"] for p in pairs]
        b = [p[1]["metrics"][name]["value"] for p in pairs]
        wins, gain = verdict(a, b, lower)
        aq, bq = quartiles(a), quartiles(b)
        rel = (bq[1] - aq[1]) / aq[1] if aq[1] else 0.0
        worse = rel if lower else -rel
        print(f"{name},{m['better']},{aq[0]:.4g},{aq[1]:.4g},{aq[2]:.4g},"
              f"{bq[0]:.4g},{bq[1]:.4g},{bq[2]:.4g},{wins}/{len(pairs)},"
              f"{'yes' if gain else 'no'},{rel:+.1%},{m['bound']},"
              f"{'yes' if worse <= m['bound'] else 'NO'}")
    def values(name, k):
        xs = [r[k].get(name, {}).get("value") for r in reports]
        return [x for x in xs if x is not None]
    reported = [n for n in REPORTED if values(n, 0) and values(n, 1)]
    if reported:
        print("reported, not gated")
        print("metric,A_q1,A_median,A_q3,B_q1,B_median,B_q3,B_vs_A")
    for name in reported:
        a, b = values(name, 0), values(name, 1)
        aq, bq = quartiles(a), quartiles(b)
        rel = (bq[1] - aq[1]) / aq[1] if aq[1] else 0.0
        print(f"{name},{aq[0]:.4g},{aq[1]:.4g},{aq[2]:.4g},"
              f"{bq[0]:.4g},{bq[1]:.4g},{bq[2]:.4g},{rel:+.1%}")


if __name__ == "__main__":
    main(sys.argv[1])
