#!/usr/bin/env bash
# The mechanized close-out gate: run the FULL SparkEntry registry at all
# three test scale factors and compare every query against its DuckDB
# oracle (tools/oracle_check.py — the same compare the driver runs).
# Prints the registry size and per-SF pass counts, and appends ONE
# machine-written log line to PLANS.md, so "the full set is green at
# 3 SFs" is a tooling fact instead of a discipline promise (the seam
# that drifted in r7 and r9: queries landing after the last manual
# full-set run were only individually gated).
#
# FAIL-CLOSED (the r10 ADVICE fix): a non-zero sbt Verify exit, a
# missing/unparseable oracle_sql.json, or an oracle_check summary line
# that does not match "== N pass, M fail ==" is a HARD failure — the
# script exits 2 without ever writing an ALL GREEN line. Empty-string
# arithmetic can no longer count a crashed run as 0 failures.
#
# Compiles perfbench/ after the root build: it compiles src/main/scala
# with its own driver, so a broken import there fails the gate here.
#
# Runs perfbench's curate_dedup workload once and requires its DuckDB
# oracle check of z3 to pass ("correct": true). Then runs exact_job once
# traced, which requires the streaming twin's flags to equal the batch
# scoring of the same injected rows ("correct": true).
#
# Also runs the full ScalaTest suite and appends its count to the same
# PLANS line (the r10 verdict ask #7: the whole close is ONE
# machine-written fact). Skip with GATE_SKIP_TESTS=1 for fast re-runs —
# the line then says tests=skipped.
#
# Usage: tools/gate_all.sh            # from the repo root, one command
# Exit 0 iff every query passes at every SF (and the suite, if run).
set -u
cd "$(dirname "$0")/.."

SFS=("sf0.001" "sf0.01" "sf0.1")
STAMP="$(date -u +%Y-%m-%dT%H:%MZ)"
SHA="$(git rev-parse --short HEAD 2>/dev/null || echo nogit)"

hard_fail() { echo "[gate_all] HARD FAIL: $1"; exit 2; }

echo "[gate_all] compiling..."
sbt -batch compile >/tmp/gate_all_compile.log 2>&1 || \
  hard_fail "compile failed — see /tmp/gate_all_compile.log"
# perfbench compiles ../src/main/scala with its own driver, so a src/main
# change that breaks one of its imports would otherwise surface only as a
# benchmark run failure
echo "[gate_all] compiling perfbench..."
(cd perfbench && sbt -batch compile) >/tmp/gate_all_perfbench_compile.log 2>&1 || \
  hard_fail "perfbench compile failed — see /tmp/gate_all_perfbench_compile.log"

# z3 against its DuckDB oracle on perfbench's planted-chain corpus, whose
# near-dup drop is far denser than the test corpora's: one short run, which
# must report "correct": true (its last stdout line is one JSON object)
echo "[gate_all] perfbench curate_dedup oracle run..."
python3 perfbench/run.py --workload curate_dedup --seed 7 --seconds 1 \
  --trace 0 >/tmp/gate_all_perfbench_curate.out \
  2>/tmp/gate_all_perfbench_curate.log || \
  hard_fail "perfbench curate_dedup run failed — see /tmp/gate_all_perfbench_curate.log"
tail -1 /tmp/gate_all_perfbench_curate.out | python3 -c \
  'import json,sys; sys.exit(0 if json.loads(sys.stdin.read()).get("correct") is True else 1)' || \
  hard_fail "perfbench curate_dedup: not correct — see /tmp/gate_all_perfbench_curate.out"
echo "[gate_all] perfbench curate_dedup: correct"

# exact_job's traced run adds the streaming twin: its job_stream table,
# written by StreamJob.detectSink over StreamJob.injectStream, must hold the
# same flags, scores and labels as the batch scoring of the same injected
# rows
echo "[gate_all] perfbench exact_job traced run..."
python3 perfbench/run.py --workload exact_job --seed 7 --seconds 1 \
  --trace 1 >/tmp/gate_all_perfbench_exact.out \
  2>/tmp/gate_all_perfbench_exact.log || \
  hard_fail "perfbench exact_job run failed — see /tmp/gate_all_perfbench_exact.log"
tail -1 /tmp/gate_all_perfbench_exact.out | python3 -c \
  'import json,sys; sys.exit(0 if json.loads(sys.stdin.read()).get("correct") is True else 1)' || \
  hard_fail "perfbench exact_job: not correct — see /tmp/gate_all_perfbench_exact.out"
echo "[gate_all] perfbench exact_job: correct"

TESTLINE="tests=skipped"
if [ "${GATE_SKIP_TESTS:-0}" != "1" ]; then
  echo "[gate_all] sbt test (full suite)..."
  sbt -batch test >/tmp/gate_all_test.log 2>&1
  test_rc=$?
  # "Tests: succeeded N, failed M, ..." — take the LAST such line
  tsum=$(grep -Eo 'Tests: succeeded [0-9]+, failed [0-9]+' \
    /tmp/gate_all_test.log | tail -1)
  [[ "$tsum" =~ ^Tests:\ succeeded\ ([0-9]+),\ failed\ ([0-9]+)$ ]] || \
    hard_fail "cannot parse sbt test summary (rc=$test_rc) — see /tmp/gate_all_test.log"
  t_ok="${BASH_REMATCH[1]}"; t_bad="${BASH_REMATCH[2]}"
  { [ "$test_rc" -eq 0 ] && [ "$t_bad" -eq 0 ]; } || \
    hard_fail "sbt test: $t_bad failures (rc=$test_rc) — see /tmp/gate_all_test.log"
  TESTLINE="tests=$t_ok/0fail"
  echo "[gate_all] sbt test: $t_ok succeeded, 0 failed"
fi

declare -A PASS FAIL
REG=""
TOTAL_FAIL=0
for sf in "${SFS[@]}"; do
  out="/tmp/gate_all_$sf"
  rm -rf "$out"
  echo "[gate_all] Verify full registry at $sf ..."
  sbt -batch "runMain graft.Verify /root/testdata/$sf $out" \
    >"/tmp/gate_all_verify_$sf.log" 2>&1 || \
    hard_fail "Verify exited non-zero at $sf — see /tmp/gate_all_verify_$sf.log"
  # every [verify] <name> failed: line is a query that produced no parquet
  grep '\[verify\].*failed:' "/tmp/gate_all_verify_$sf.log" || true
  [ -s "$out/oracle_sql.json" ] || \
    hard_fail "Verify wrote no oracle_sql.json at $sf"
  reg_sf=$(python3 -c "import json;print(len(json.load(open('$out/oracle_sql.json'))))") || \
    hard_fail "oracle_sql.json unparseable at $sf"
  [[ "$reg_sf" =~ ^[0-9]+$ ]] && [ "$reg_sf" -gt 0 ] || \
    hard_fail "registry size '$reg_sf' at $sf is not a positive count"
  REG="${REG:-$reg_sf}"
  if [ "$reg_sf" != "$REG" ]; then
    echo "[gate_all] REGISTRY SIZE DRIFT: $sf dumped $reg_sf oracles vs $REG"
    TOTAL_FAIL=$((TOTAL_FAIL + 1))
  fi
  summary=$(python3 tools/oracle_check.py "/root/testdata/$sf" "$out" \
    | tee "/tmp/gate_all_oracle_$sf.log" | tail -1)
  # fail-closed: the summary must be EXACTLY "== N pass, M fail =="
  [[ "$summary" =~ ^==\ ([0-9]+)\ pass,\ ([0-9]+)\ fail\ ==$ ]] || \
    hard_fail "oracle_check summary unparseable at $sf: '$summary'"
  PASS[$sf]="${BASH_REMATCH[1]}"
  FAIL[$sf]="${BASH_REMATCH[2]}"
  # the compare must have covered the whole registry, not a subset
  [ $((PASS[$sf] + FAIL[$sf])) -eq "$reg_sf" ] || \
    hard_fail "oracle_check covered $((PASS[$sf] + FAIL[$sf])) of $reg_sf at $sf"
  TOTAL_FAIL=$((TOTAL_FAIL + FAIL[$sf]))
  echo "[gate_all] $sf: ${PASS[$sf]}/$reg_sf pass, ${FAIL[$sf]} fail" \
    "(detail: /tmp/gate_all_oracle_$sf.log)"
done

LINE="- \`gate_all\` $STAMP @$SHA — registry=$REG;"
for sf in "${SFS[@]}"; do LINE="$LINE $sf=${PASS[$sf]}/$REG;"; done
LINE="$LINE $TESTLINE;"
if [ "$TOTAL_FAIL" -eq 0 ]; then LINE="$LINE ALL GREEN"; else
  LINE="$LINE FAILURES=$TOTAL_FAIL"; fi

echo "" >> PLANS.md
echo "$LINE" >> PLANS.md
echo "[gate_all] logged to PLANS.md: $LINE"
exit $([ "$TOTAL_FAIL" -eq 0 ] && echo 0 || echo 1)
