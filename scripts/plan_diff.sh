#!/usr/bin/env bash
# Compare the physical plans of registered rows between a git revision and
# the working tree.
#
#   scripts/plan_diff.sh <parent-rev> <sf-dir> <row,row,...>
#
# Exports <parent-rev> with `git archive` into a temp dir, runs
# `graft.tools.Probe plan 1 <rows>` over <sf-dir> on both trees (offline sbt),
# and prints two diffs, parent first:
#   - norm:  the plans with run-local ids masked (expression ids, plan_id=,
#            RDD ids and call sites, lambda variable numbers, temp dirs
#            (graft_<name><digits>), memory-sink names (st_<name>_<uuid>),
#            AQE query-stage ids);
#   - nodes: per row, the count of Exchange, *Join, HashAggregate, Window,
#            InMemoryTableScan and LocalTableScan nodes, for when the norm
#            diff is not empty (a driver-built relation shows as a
#            LocalTableScan beside the joins and exchanges it replaced).
# Exits 0 when both diffs are empty, 1 when either is not, 2 on a failed run.
# The temp dir (parent tree, plan dumps, stderr logs) is removed on exit 0
# and kept, with its path printed, otherwise.
#
# Lines that may differ even between two runs of one commit: `[codegen id : N]`
# inside a cached frame's final AQE plan (isFinalPlan=true), which follows
# stage completion order.
set -euo pipefail

if [ "$#" -ne 3 ]; then
  echo "usage: $0 <parent-rev> <sf-dir> <row,row,...>" >&2
  exit 2
fi
rev=$1
sf=$(cd "$2" && pwd)
rows=$3
repo=$(cd "$(dirname "$0")/.." && pwd)
work=$(mktemp -d)
cleanup() {
  if [ "$?" -eq 0 ]; then rm -rf "$work"; else echo "plan_diff: work dir kept: $work" >&2; fi
}
trap cleanup EXIT

export COURSIER_MODE=offline
export SBT_OPTS="${SBT_OPTS:--Dsbt.override.build.repos=true -Dsbt.repository.config=$HOME/.sbt/repositories -Dsbt.offline=true -Xmx4g}"

# Masks run-local ids, keeping only the plan text from the first row on.
norm() {
  sed -n '/^====/,$p' "$1" |
    grep -v '^\[\(info\|success\|warn\|error\)\]' |
    sed -E 's/#[0-9]+/#N/g; s/plan_id=[0-9]+/plan_id=N/g; s/RDD\[[0-9]+\] at ([A-Za-z]+) at [A-Za-z]+\.scala:[0-9]+/RDD[N] at \1/g; s/(graft_[a-z_]+)[0-9]+/\1N/g; s/(st_[a-z_]+_)[0-9a-f]{32}/\1UUID/g; s/lambda ([A-Za-z]+)_[0-9]+/lambda \1_N/g' |
    awk '/QueryStage$/ {q = 1} q && /^Arguments: [0-9]+$/ {$0 = "Arguments: N"; q = 0} {print}'
}

# "<row> <node> <count>" lines, sorted.
nodes() {
  norm "$1" | awk '
    /^====/ {row = $2; next}
    /^\(/ {next}
    {
      s = $0
      while (match(s, /[A-Za-z]*(Exchange|Join|HashAggregate|Window|InMemoryTableScan|LocalTableScan)( [A-Za-z]+)* \([0-9]+\)/)) {
        split(substr(s, RSTART, RLENGTH), w, " ")
        c[row " " w[1]]++
        s = substr(s, RSTART + RLENGTH)
      }
    }
    END {for (k in c) print k, c[k]}' | sort
}

# Runs Probe's plan mode in tree $1, writing stdout to $2.
plans() {
  (cd "$1" && SPARK_GRAFT_SF_DIR="$sf" timeout -k 10 2400 sbt --batch \
    -Dsbt.log.noformat=true "runMain graft.tools.Probe plan 1 $rows" \
    >"$2" 2>"$2.err") || {
    echo "plan_diff: Probe failed in $1 (stderr: $2.err)" >&2
    exit 2
  }
}

mkdir -p "$work/parent"
git -C "$repo" archive "$rev" | tar -x -C "$work/parent"
plans "$work/parent" "$work/plan_parent.txt"
plans "$repo" "$work/plan_change.txt"

status=0
echo "==== norm diff (parent < > change) ===="
diff <(norm "$work/plan_parent.txt") <(norm "$work/plan_change.txt") || status=1
echo "==== nodes diff (parent < > change) ===="
diff <(nodes "$work/plan_parent.txt") <(nodes "$work/plan_change.txt") || status=1
exit $status
