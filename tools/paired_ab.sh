#!/usr/bin/env bash
# Paired, alternating A/B of the benchmark (perfbench/run.py) between two
# commits on one box: A is the baseline (the parent), B the change.
#
# Usage: tools/paired_ab.sh <A> <B> <workload> [pairs=10] [seed]
#   A, B      commits; each is exported with `git archive` into its own
#             directory and its benchmark classes are built once, untimed
#   workload  registry_sf01, ingest_stream or registry_x10
#   pairs     odd pairs run A first, even pairs run B first
#   seed      one seed for every run (e.g. the held-out 7919); without it
#             pair i runs seed i on both sides
# Every run is `--seconds <BENCHMARK.json run_seconds> --trace 0`.
# Output: ${PAIRED_AB_OUT:-/tmp/paired_ab/<A>_<B>_<workload>}/{a,b}_pair<i>.json
# (each run's report and result lines) and summary.txt (tools/paired_ab.py).
set -euo pipefail
A=${1:?commit A}; B=${2:?commit B}; W=${3:?workload}
PAIRS=${4:-10}
SEED=${5:-}
ROOT=$(git rev-parse --show-toplevel)
RA=$(git -C "$ROOT" rev-parse --short "$A"); RB=$(git -C "$ROOT" rev-parse --short "$B")
OUT=${PAIRED_AB_OUT:-/tmp/paired_ab/${RA}_${RB}_${W}}
SECONDS_PER_RUN=$(python3 -c 'import json, sys; print(json.load(open(sys.argv[1]))["run_seconds"])' \
  "$ROOT/BENCHMARK.json")
mkdir -p "$OUT"

checkout() { # $1 = commit, $2 = dir
  if [ ! -d "$2" ]; then
    mkdir -p "$2"
    git -C "$ROOT" archive "$1" | tar -x -C "$2"
  fi
  (cd "$2" && python3 -c 'import sys; sys.path.insert(0, "perfbench"); import run
run.build(".", ".bench_build", run.spark_jars())')
}
DA=$OUT/src_a; DB=$OUT/src_b
checkout "$RA" "$DA"; checkout "$RB" "$DB"

run() { # $1 = checkout, $2 = seed, $3 = out file
  (cd "$1" && python3 perfbench/run.py --workload "$W" --seed "$2" \
    --seconds "$SECONDS_PER_RUN" --trace 0) > "$3" 2>> "$OUT/stderr.log" \
    || echo "run failed: $3" >&2
}

for i in $(seq 1 "$PAIRS"); do
  s=${SEED:-$i}
  if [ $((i % 2)) -eq 1 ]; then
    run "$DA" "$s" "$OUT/a_pair$i.json"; run "$DB" "$s" "$OUT/b_pair$i.json"
  else
    run "$DB" "$s" "$OUT/b_pair$i.json"; run "$DA" "$s" "$OUT/a_pair$i.json"
  fi
  echo "pair $i (seed $s) done"
done

python3 "$ROOT/tools/paired_ab.py" "$OUT" | tee "$OUT/summary.txt"
