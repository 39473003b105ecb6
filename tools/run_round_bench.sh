#!/bin/bash
# Round-end bench session (round 16 onward): one continuous same-session
# run over every scale, each scale's artifacts written atomically and the
# cross-round third-sample trigger armed with the PREVIOUS round's sidecar
# (Bench.needsThirdSample — VERDICT r15 ask #2).
#
#   tools/run_round_bench.sh r16 [r15]
#
# Runs on local[$SPARK_GRAFT_CPUS], by default every core of the machine.
# Produces BENCH_<round>_{local,sf1,sf2,sf5,sf10}.json +
# bench_details_<round>_*.json at the repo root. Run
# tools/gen_bench_table.py <round> afterwards to regenerate the
# BASELINE.md gate table, and tools/check_artifacts.py before committing.
set -euo pipefail
cd "$(dirname "$0")/.."

ROUND="${1:?usage: run_round_bench.sh <round> [prev-round]}"
PREV="${2:-}"

FAILED_SCALES=()

run_scale() { # <tag> <sfdir>
  local tag="$1" dir="$2" prev="" log rc
  if [[ -n "$PREV" && -f "bench_details_${PREV}_${tag}.json" ]]; then
    prev="bench_details_${PREV}_${tag}.json"
  fi
  echo "[session] ${tag} <- ${dir} (prev: ${prev:-none})"
  # run to a log and check the exit status BEFORE grepping: the old
  # `| grep ... || true` masked a crashed or timed-out scale under
  # `set -e`, so a dead scale could go unnoticed until someone inspected
  # the generated table (ADVICE r16)
  log="$(mktemp /tmp/bench_${ROUND}_${tag}.XXXX.log)"
  rc=0
  SPARK_GRAFT_SF_DIR="$dir" SPARK_GRAFT_CPUS="${SPARK_GRAFT_CPUS:-$(nproc)}" \
  SPARK_GRAFT_PREV_DETAILS="$prev" \
  SPARK_GRAFT_BENCH_DETAILS="bench_details_${ROUND}_${tag}.json" \
  SPARK_GRAFT_BENCH_SUMMARY="BENCH_${ROUND}_${tag}.json" \
    timeout 3600 sbt -batch "runMain graft.Bench" >"$log" 2>&1 || rc=$?
  if [[ $rc -ne 0 ]]; then
    echo "[session] ############################################"
    echo "[session] FAIL: scale ${tag} exited rc=${rc} (124 = timeout)"
    echo "[session] log tail (${log}):"
    tail -5 "$log"
    echo "[session] ############################################"
    FAILED_SCALES+=("$tag")
    return 0  # keep measuring the remaining scales; fail loudly at the end
  fi
  grep -a '"metric"' "$log" || {
    echo "[session] FAIL: scale ${tag} exited 0 but emitted no metric line"
    FAILED_SCALES+=("$tag")
  }
}

run_scale local /root/testdata/sf0.1
run_scale sf1  /root/repo/benchdata/sf1
run_scale sf2  /root/repo/benchdata/sf2
run_scale sf5  /root/repo/benchdata/sf5
run_scale sf10 /root/repo/benchdata/sf10

if [[ ${#FAILED_SCALES[@]} -gt 0 ]]; then
  echo "[session] FAIL: dead scales: ${FAILED_SCALES[*]}"
  exit 1
fi
echo "[session] all scales green"
