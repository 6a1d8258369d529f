#!/usr/bin/env bash
# Paired same-box A/B bench between two commits (r14 verdict #2).
#
# The box's measured drift (1.30x on identical code across a day, 1.35x
# median per-query swing) poisons cross-day BENCH comparisons; r14's
# defense — rebuild the old tip in a worktree and bench both back to
# back — is codified here with interleaving: the two builds run
# ALTERNATING full Bench passes (A B B A A B ... balanced pairs), and
# the paired per-query deltas + sign test come from tools/paired_ab.py.
#
# Usage: tools/paired_ab.sh <commitA> <commitB> [pairs=3] [sfDir=/root/testdata/sf0.1]
# Output: /tmp/paired_ab/<A>_<B>/{a,b}_pass<i>.json + paired_summary.txt
set -euo pipefail
A=${1:?commitA}; B=${2:?commitB}
PAIRS=${3:-3}
SF=${4:-/root/testdata/sf0.1}
ROOT=$(git rev-parse --show-toplevel)
OUT=/tmp/paired_ab/${A}_${B}
mkdir -p "$OUT"

build() { # $1 = commit, $2 = worktree dir
  if [ ! -d "$2" ]; then git -C "$ROOT" worktree add --detach "$2" "$1"; fi
  (cd "$2" && sbt -batch compile > /dev/null)
}
WA=/tmp/paired_ab/wt_$A; WB=/tmp/paired_ab/wt_$B
build "$A" "$WA"; build "$B" "$WB"

# Size the bench JVM to this box, as the tier-1 test command does: one
# slot per core, and half the RAM clamped to 2-8 GB of driver heap.
CPUS=$(env -u OMP_NUM_THREADS nproc)
MEM=$(awk '/^MemTotal:/ {g = int($2 / 2097152)} END {print (g < 2 ? 2 : g > 8 ? 8 : g) "g"}' \
  2>/dev/null </proc/meminfo || echo 2g)

run() { # $1 = worktree, $2 = out json
  # Bench prints TWO "metric" lines (the full per-query map, then a
  # top-15 tail line for truncated log windows) — keep only the FIRST,
  # the full map, or paired_ab.py's json.loads chokes on extra data
  (cd "$1" && SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_CPUS="$CPUS" SPARK_DRIVER_MEM="$MEM" \
    sbt -batch "runMain graft.Bench" 2>/dev/null | grep -m1 '"metric"' > "$2")
}

for i in $(seq 1 "$PAIRS"); do
  # alternate order each pair so neither commit owns the warmer slot
  if [ $((i % 2)) -eq 1 ]; then
    run "$WA" "$OUT/a_pass$i.json"; run "$WB" "$OUT/b_pass$i.json"
  else
    run "$WB" "$OUT/b_pass$i.json"; run "$WA" "$OUT/a_pass$i.json"
  fi
  echo "pair $i done"
done

python3 "$ROOT/tools/paired_ab.py" "$OUT" | tee "$OUT/paired_summary.txt"
echo "NOTE: remove worktrees when done: git worktree remove $WA $WB --force"
