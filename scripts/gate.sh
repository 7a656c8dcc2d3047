#!/usr/bin/env bash
# Round gate (driver-side tooling; NOT part of the Scala engine).
#
# Runs, in order, refusing (nonzero exit + loud banner) on any red:
#   1.  sbt compile + Test/compile + test  (the full ScalaTest suite)
#   1b. ScaleCertSpec (SPARK_GRAFT_SLOW=1)  (scale certifications;
#       skip: GATE_SKIP_SLOW=1)
#   2.  graft.Verify at sf0.01             (dump every query to parquet)
#   3.  scripts/check_oracle.py            (DuckDB value-level compare)
#   3b. forced-distributed Verify + compare (100 TB regime plans;
#       skip: GATE_SKIP_DISTRIBUTED=1)
#   4.  graft.Bench smoke at sf0.01        (rc=0 and n_failed=0;
#       skip: GATE_SKIP_BENCH=1)
#   5.  paired bench @ sf0.1, GATE_PAIRED_RUNS legs, median-leg
#       selection -> BENCH_FULL/DUCK/PAIRED_rNN artifacts
#       (skip: GATE_SKIP_PAIRED=1)
#   6.  round-over-round compare from the COMMITTED BENCH_FULL pair
#       -> COMPARE_rNN.txt (runs only with a numeric GATE_ROUND)
#
# Usage: scripts/gate.sh [sfDir]          default /root/testdata/sf0.01
# Fast variant while iterating: GATE_SKIP_BENCH=1 scripts/gate.sh
# Round-stamped artifacts: GATE_ROUND=14 scripts/gate.sh writes
# CORRECTNESS_DISTRIBUTED_r14.txt; unset rounds write *_rdev.txt so a
# dev run can never silently overwrite a committed round artifact.
#
# Exists because rounds 5 and 8 both shipped non-compiling HEADs and
# scored zero; the end-of-round habit is: run this, see GATE GREEN,
# then (and only then) snapshot.
set -euo pipefail
cd "$(dirname "$0")/.."

SF="${1:-/root/testdata/sf0.01}"
OUT="${GATE_OUT:-/tmp/gate_verify}"
ROUND="${GATE_ROUND:-dev}"

fail() { echo; echo "!!!!!!!! GATE RED: $1 !!!!!!!!"; exit 1; }

echo "== gate 1/6: sbt compile + Test/compile + test =="
sbt -batch compile Test/compile test || fail "sbt build/test"

# 1b: scale certifications (ScaleCertSpec) — the distributed-CC
# ground-truth check, eviction-regime bounds, and the flagship 10x
# growth tripwire, promoted from manual tools so drift costs a red
# gate (VERDICT r12 #3). assume()-gated: only runs with
# SPARK_GRAFT_SLOW=1. Skippable while iterating: GATE_SKIP_SLOW=1.
if [[ "${GATE_SKIP_SLOW:-0}" != "1" ]]; then
  echo "== gate 1b/6: scale certifications (SPARK_GRAFT_SLOW=1) =="
  SPARK_GRAFT_SLOW=1 sbt -batch "Test/testOnly graft.ScaleCertSpec" \
    || fail "scale certifications"
else
  echo "== gate 1b/6: scale certifications SKIPPED =="
fi

echo "== gate 2/6: graft.Verify @ $SF -> $OUT =="
rm -rf "$OUT"
sbt -batch "runMain graft.Verify $SF $OUT" || fail "graft.Verify"

echo "== gate 3/6: DuckDB oracle compare =="
python3 scripts/check_oracle.py "$SF" "$OUT" || fail "oracle compare"

# 3b: the SAME compare with every dual-regime operator pinned to its
# LARGE-SCALE form (graft.Regimes / SPARK_GRAFT_FORCE_DISTRIBUTED) —
# hash-certifies the 100 TB plans (distributed CC loop, checkpoint
# broadcast barriers, two-phase percentiles, eval-gram joins), not
# just the small-input fast paths (VERDICT r12 #1). Skippable while
# iterating: GATE_SKIP_DISTRIBUTED=1.
if [[ "${GATE_SKIP_DISTRIBUTED:-0}" != "1" ]]; then
  echo "== gate 3b/6: FORCED-DISTRIBUTED Verify + oracle compare =="
  DOUT="${GATE_OUT:-/tmp/gate_verify}_dist"
  rm -rf "$DOUT"
  SPARK_GRAFT_FORCE_DISTRIBUTED=1 sbt -batch "runMain graft.Verify $SF $DOUT" \
    || fail "graft.Verify (forced distributed)"
  python3 scripts/check_oracle.py "$SF" "$DOUT" \
    | tee "CORRECTNESS_DISTRIBUTED_r${ROUND}.txt" \
    || fail "oracle compare (forced distributed)"
  grep -q ", 0 fail ==" "CORRECTNESS_DISTRIBUTED_r${ROUND}.txt" \
    || fail "forced-distributed compare had failures"
else
  echo "== gate 3b/6: forced-distributed compare SKIPPED =="
fi

if [[ "${GATE_SKIP_BENCH:-0}" != "1" ]]; then
  echo "== gate 4/6: bench smoke @ $SF =="
  BOUT=/tmp/gate_bench.out
  SPARK_GRAFT_SF_DIR="$SF" SPARK_GRAFT_BENCH_JSON=/tmp/gate_bench_smoke.json \
    sbt -batch "runMain graft.Bench" | tee "$BOUT" \
    || fail "bench rc"
  grep -o '{"metric":.*}' "$BOUT" | tail -1 > /tmp/gate_bench.json \
    || fail "bench printed no JSON line"
  python3 - <<'EOF' || fail "bench n_failed"
import json
j = json.load(open("/tmp/gate_bench.json"))
assert j.get("n_failed", 1) == 0, f"bench failures: {j.get('errors')}"
print(f"bench ok: {j['value']} {j['unit']} over {len(j['queries'])} queries")
EOF
else
  echo "== gate 4/6: bench smoke SKIPPED (GATE_SKIP_BENCH=1) =="
fi

# 5: the judge-paired bench, gate-produced (VERDICT r14 #8): graft.Bench
# and the DuckDB anchor back-to-back at the bench SF, merged into the
# PAIRED artifact the round report cites — no manual step between "gate
# green" and verifiable headline numbers. The Spark side's full-suite
# JSON is itself the committed BENCH_FULL_rNN artifact (VERDICT r14 #4:
# the driver-tail BENCH_rN.json fragment is truncated; this file is the
# document of record).
#
# DISPERSION CONTROL (VERDICT r15 #5): single paired samples on this
# box swing 0.91–1.22× whole-suite (DuckDB alone ranged 35.5–45.4 s on
# identical SQL in the r15 five-run study), so one noisy sample can
# manufacture or hide a weak row (q146's r15 false-weak). The gate now
# runs GATE_PAIRED_RUNS (default 3) full paired legs back-to-back and
# commits the MEDIAN-by-total-ratio leg; every leg's totals are folded
# into PAIRED_rNN.json under "dispersion" so the selection is auditable.
# Skippable while iterating: GATE_SKIP_PAIRED=1.
if [[ "${GATE_SKIP_PAIRED:-0}" != "1" ]]; then
  PSF="${GATE_PAIRED_SF:-/root/testdata/sf0.1}"
  NRUNS="${GATE_PAIRED_RUNS:-3}"
  echo "== gate 5/6: paired bench @ $PSF x${NRUNS} legs =="
  for i in $(seq 1 "$NRUNS"); do
    echo "-- paired leg $i/$NRUNS --"
    # LOAD GUARD (r19, VERDICT r18 #3): sample CPU busy/steal for 3 s
    # while the gate itself is idle — instantaneous busy% here is
    # FOREIGN load (loadavg alone can't separate another job from the
    # decay tail of our own previous leg). A contended box gets a
    # refusal, not a silently-drifted committed artifact; the sample is
    # embedded in the leg's paired JSON either way. Abort rule (see
    # BASELINE.md): busy_pct > GATE_MAX_FOREIGN_BUSY (default 25) or
    # steal_pct > 2 refuses the run; GATE_LOAD_OVERRIDE=1 downgrades
    # the refusal to the loud annotation.
    python3 scripts/boxstate.py 3 > "/tmp/gate_boxstate_$i.json" \
      || fail "boxstate probe (leg $i)"
    python3 - "$i" <<'EOF' || { [[ "${GATE_LOAD_OVERRIDE:-0}" == "1" ]] \
      && echo "!! GATE_LOAD_OVERRIDE=1: contended leg annotated, not refused" \
      || fail "box contended before paired leg (see /tmp/gate_boxstate_*.json; rerun idle or GATE_LOAD_OVERRIDE=1)"; }
import json, os, sys
b = json.load(open(f"/tmp/gate_boxstate_{sys.argv[1]}.json"))
maxbusy = float(os.environ.get("GATE_MAX_FOREIGN_BUSY", "25"))
print(f"boxstate leg {sys.argv[1]}: busy {b['busy_pct']}% steal {b['steal_pct']}% load1 {b['load1']}")
sys.exit(1 if b["busy_pct"] > maxbusy or b["steal_pct"] > 2 else 0)
EOF
    SPARK_GRAFT_SF_DIR="$PSF" \
      SPARK_GRAFT_BENCH_JSON="/tmp/gate_paired_spark_$i.json" \
      sbt -batch "runMain graft.Bench" || fail "paired bench (spark, leg $i)"
    python3 scripts/bench_duckdb.py "$PSF" "$OUT/oracle_sql.json" \
      > "/tmp/gate_paired_duck_$i.json" || fail "paired bench (duckdb, leg $i)"
    python3 scripts/make_paired.py "/tmp/gate_paired_spark_$i.json" \
      "/tmp/gate_paired_duck_$i.json" "/tmp/gate_paired_$i.json" \
      "/tmp/gate_boxstate_$i.json" \
      || fail "paired merge (leg $i)"
  done
  python3 scripts/pick_median_paired.py "$NRUNS" "$ROUND" \
    || fail "median paired selection"
else
  echo "== gate 5/6: paired bench SKIPPED (GATE_SKIP_PAIRED=1) =="
fi

# 6: round-over-round comparison, computed FROM THE COMMITTED ARTIFACTS
# and itself committed (VERDICT r15 #3: BASELINE.md's closing claim
# must be byte-reproducible by a reader running bench_compare.py on the
# committed pair — COMPARE_rNN.txt IS that run's output, and BASELINE.md
# quotes it or nothing).
if [[ "${GATE_SKIP_PAIRED:-0}" != "1" && "$ROUND" != "dev" ]]; then
  PREV=$(printf '%02d' $((10#$ROUND - 1)))
  if [[ -f "BENCH_FULL_r${PREV}.json" ]]; then
    echo "== gate 6/6: committed-artifact compare r${PREV} -> r${ROUND} =="
    python3 scripts/bench_compare.py "BENCH_FULL_r${PREV}.json" \
      "BENCH_FULL_r${ROUND}.json" > "COMPARE_r${ROUND}.txt" \
      || fail "bench_compare"
    head -1 "COMPARE_r${ROUND}.txt"
  else
    echo "== gate 6/6: no BENCH_FULL_r${PREV}.json — compare skipped =="
  fi
fi

echo
echo "======== GATE GREEN ========"
