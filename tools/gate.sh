#!/usr/bin/env bash
# End-of-round gate (round-16 verdict item 4): the r16 snapshot commit
# added a main-source file AFTER the last full-suite run and shipped a
# red tree (897/898 — its own lint caught it, but nothing re-ran the
# lint). This script is the rule: run it on the EXACT tree you are
# about to commit as the snapshot; a green exit is the precondition for
# the snapshot commit. It runs, in order:
#   1. full `sbt test` (includes the cache-regime + plan-audit lints),
#   2. Verify at sf0.01 + the DuckDB oracle compare (tools/check.py);
#      Verify runs with java.io.tmpdir set to a fresh directory, and the
#      leak step fails if anything but the cross-JVM source fixtures
#      (Fixtures.onDisk, prefix graft_fixture_) survives the JVM,
#   3. the stress_diff gate selftest,
#   4. a four-key StressSweep (q1_agg, g1_connected_components, and
#      d2_minhash_lsh and st8c_stream_admit_capped, whose full-row
#      evaluation runs the LSH kernel's verify projections) whose
#      artifact must load in tools/stress_diff.py (diffed against
#      itself, exit 0),
#   5. the repo benchmark's trace-analysis self-tests (pure Python),
#   6. the shortest run of the benchmark's seeded search templates
#      (warm-up plus one round), each output checked against its
#      DuckDB twin,
#   7. the shortest run of the benchmark's build workload
#      (la_build_pipeline on a permuted file split), its output checked
#      against DuckDB,
#   8. the shortest run of the benchmark's curate workload (the corpus
#      pipeline and v9_ivf_pq on a permuted row-to-file split — the only
#      check of the vector index off the fixture's file layout), its
#      output checked against DuckDB.
# Usage: tools/gate.sh [sf-dir]       (default /root/testdata/sf0.01)
# Logs land in /tmp/graft_gate/ stamped with the tree state so the
# round record can cite "gate ran at <sha/dirty>".
set -u
cd "$(dirname "$0")/.."
SF=${1:-/root/testdata/sf0.01}
OUT=/tmp/graft_gate
VDIR=$OUT/verify
TMPD=$OUT/tmpdir
rm -rf "$VDIR" "$TMPD"
mkdir -p "$OUT" "$TMPD"

SHA=$(git rev-parse --short HEAD)
DIRTY=$(git status --porcelain | wc -l)
STAMP="$SHA dirty_files=$DIRTY $(date -u +%Y-%m-%dT%H:%M:%SZ)"
echo "[gate] tree: $STAMP"

fail=0
step() {
  local name=$1; shift
  echo "[gate] $name: $*"
  if "$@" >"$OUT/$name.log" 2>&1; then
    echo "[gate] $name: OK"
  else
    echo "[gate] $name: FAIL (see $OUT/$name.log, tail:)"
    tail -5 "$OUT/$name.log" | sed 's/^/        /'
    fail=1
  fi
}

# everything a JVM leaves in its tmpdir besides the onDisk fixtures
leaks() {
  local left
  left=$(ls -A "$TMPD" | grep -v '^graft_fixture_')
  [ -z "$left" ] || { echo "left behind in $TMPD:"; echo "$left"; return 1; }
}

step sbt_test sbt -batch test
step verify sbt -batch "set run / javaOptions += \"-Djava.io.tmpdir=$TMPD\"" \
  "runMain graft.Verify $SF $VDIR"
step tmp_leaks leaks
step oracle python3 tools/check.py "$VDIR" "$SF"
step diff_selftest python3 tools/stress_diff_selftest.py
rm -f "$OUT/stress.json"
step stress_smoke env SPARK_GRAFT_SWEEP_ONLY=q1_agg,g1_connected_components,d2_minhash_lsh,st8c_stream_admit_capped \
  sbt -batch "runMain graft.StressSweep $SF 120 $OUT/stress.json"
step stress_smoke_diff python3 tools/stress_diff.py "$OUT/stress.json" "$OUT/stress.json"
step perfbench_layers python3 perfbench/test_perfbench.py LayerTest
step perfbench_search python3 perfbench/run.py --workload search --seed 5 \
  --seconds 0 --trace 0
step perfbench_build python3 perfbench/run.py --workload build --seed 5 \
  --seconds 0 --trace 0
step perfbench_curate python3 perfbench/run.py --workload curate --seed 5 \
  --seconds 0 --trace 0

if [ "$fail" -eq 0 ]; then
  echo "[gate] ALL GREEN at $STAMP — snapshot commit may proceed"
else
  echo "[gate] RED at $STAMP — do NOT snapshot this tree"
fi
exit $fail
