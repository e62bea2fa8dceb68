#!/bin/bash
# Route matrix: runs graft.Verify + tools/check.py over one fixture
# (sf0.001 takes about 10 min on 4 cores) once per forced side of a
# measured route switch, each against the same DuckDB oracles:
#   default    every gate on the routes its inputs select
#   m-nobcast  the matrix gates (m<N>_*, at most 50², where the row join
#              stays by default) with broadcast off, so every
#              planner-selected multiply, m13's two included, takes the
#              block operator
#   sparse     every gate with the near-dup dense kernel off
#              (spark.graft.dedup.denseUniverseMax=0)
#   local-off  every gate with the driver-local cc union-find and sql8
#              chain walk off and the near-dup verify spread forced on
#              (cc.localMaxRows=0, sql8.localMaxRows=0,
#              dedup.pairSpreadMinDocs=0; the three switches serve
#              different gates, so one run forces all three)
# Usage: tools/route_matrix.sh <sfDir> [outDir]
# Exits nonzero when any configuration has a failing gate.
set -u
[ $# -ge 1 ] || { echo "usage: tools/route_matrix.sh <sfDir> [outDir]" >&2; exit 2; }
SF="$(cd "$1" && pwd)"
cd "$(dirname "$0")/.."
OUT="${2:-${TMPDIR:-/tmp}/graft-route-matrix}"
export SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-4}"
sbt -batch compile >/dev/null || { echo "route_matrix: compile failed" >&2; exit 2; }

status=0
# run <label> <conf or empty> [gate ...]
run() {
  local label="$1" conf="$2"; shift 2
  rm -rf "$OUT/$label"
  SPARK_GRAFT_CONF="$conf" tools/run.sh graft.Verify "$SF" "$OUT/$label" "$@" \
    2>"$OUT/$label.log" >/dev/null
  local summary
  # check.py's own exit status: 1 on a failing gate, an unknown name, a
  # missing oracle file or an empty run.
  summary=$(python3 tools/check.py "$SF" "$OUT/$label" "$@" 2>&1 |
    tee "$OUT/$label.check" | tail -1; exit "${PIPESTATUS[0]}") || status=1
  echo "$label${conf:+ ($conf)}: $summary"
}

mkdir -p "$OUT"
run default ""
gates=$(python3 -c "import json, re, sys
print(' '.join(sorted(n for n in json.load(open(sys.argv[1]))
                      if re.match(r'm[0-9]+_', n))))" "$OUT/default/oracle_sql.json")
run m-nobcast "spark.sql.autoBroadcastJoinThreshold=-1" $gates
run sparse "spark.graft.dedup.denseUniverseMax=0"
run local-off "spark.graft.cc.localMaxRows=0,spark.graft.sql8.localMaxRows=0,spark.graft.dedup.pairSpreadMinDocs=0"
exit $status
