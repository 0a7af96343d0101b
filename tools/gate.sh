#!/bin/bash
# One-command round gate: run EVERY per-round check and write the committed
# artifacts in a single pass, so end-of-round artifacts cannot drift from
# the repo's claims (the class of finding rounds 7-9 kept relitigating).
#
#   1. sbt compile + full sbt test (live-PG spec included via the sidecar;
#      if the sidecar cannot start, the spec cancels rather than fails and
#      the gate records that)
#   1a. one way to do one thing: no thread pool, Future or
#      ExecutionContext in engine code outside graft.Concurrent; no
#      bit-equality witness (*Witness, *ViaColumns, *ViaWindows) in
#      src/main — witnesses live in the tests (graft.Witness); no main
#      under graft/tools but graft.tools.Prof; no SparkEntry.queries( call
#      outside SparkEntry.scala (SparkEntry.run releases reuse frames);
#      no input_file_name or BloomFilter.create in src/main outside
#      graft/sinks/BloomSidecars.scala (bloom sidecars are built by the task
#      that writes each file, never by a second scan); one staged write:
#      no footerProbe( call in src/main but the task writer's
#      (HiveRoutingWriter) and addStats', and no DataFrameWriter save and
#      no spark.read of a stage dir anywhere in SnapshotLake.scala (the
#      writing task reports each data file's entry and each position-delete
#      sidecar it staged)
#   1b. cd perfbench && sbt test -> the repo benchmark still builds against
#      the engine and its own tests pass
#   2. graft.Verify at sf0.01  -> /tmp/gate_verify_out
#   3. tools/check_oracle.py   -> the DuckDB hash-compare (all declared
#      queries must PASS)
#   4. graft.Bench at sf0.1    -> BENCH.json (canary-adjudicated)
#
# Usage: tools/gate.sh [--skip-tests]
# Exit 0 iff every stage passed. Transcript -> target/gate_<ts>.log,
# summary line -> stdout and target/gate_summary.json.
set -uo pipefail
cd /root/repo

SKIP_TESTS=0
[[ "${1:-}" == "--skip-tests" ]] && SKIP_TESTS=1

TS=$(date -u +%Y%m%dT%H%M%SZ)
LOG="target/gate_${TS}.log"
mkdir -p target
: > "$LOG"
echo "[gate] transcript: $LOG"

fail=0
note() { echo "[gate] $*" | tee -a "$LOG"; }

# --- 1. build + tests -------------------------------------------------
note "sbt compile"
if ! sbt -batch compile >> "$LOG" 2>&1; then
  note "COMPILE FAILED"; exit 2
fi

TESTS="skipped"
if [[ $SKIP_TESTS -eq 0 ]]; then
  note "starting PG sidecar (best effort)"
  tools/pg_sidecar.sh >> "$LOG" 2>&1 || note "pg sidecar unavailable (live-PG spec will cancel, not fail)"
  note "sbt test (full suite)"
  if SPARK_GRAFT_PG_URL="${SPARK_GRAFT_PG_URL:-jdbc:postgresql://localhost:5432/graft?user=graft}" \
      sbt -batch test >> "$LOG" 2>&1; then
    TESTS=$(grep -Eo "Tests: succeeded [0-9]+, failed [0-9]+, canceled [0-9]+" "$LOG" | tail -1)
    note "tests green: $TESTS"
  else
    TESTS=$(grep -Eo "Tests: succeeded [0-9]+, failed [0-9]+, canceled [0-9]+" "$LOG" | tail -1)
    note "TESTS FAILED: $TESTS"; fail=1
  fi
fi

# --- 1a. one way to do one thing ---------------------------------------
# Independent driver work runs through graft.Concurrent (cancel on first
# failure, release, first cause); a hand-rolled pool elsewhere fails.
note "one-way check"
STRAY=$(git grep -nE 'java\.util\.concurrent\.(Executors|Callable|ExecutionException)|ExecutionContext|Await\.result|invokeAll' \
  -- src/main ':!src/main/scala/graft/Concurrent.scala')
# One implementation per kernel: the bit-equality witnesses the native
# kernels are checked against belong to the tests, not the engine.
WITNESS=$(git grep -nE '\b(object|def) \w*(Witness|ViaColumns|ViaWindows)\b' -- src/main)
# One profiler: graft.tools.Prof is the only dev main.
MAINS=$(git grep -nE '\bdef main\b' -- src/main/scala/graft/tools \
  ':!src/main/scala/graft/tools/Prof.scala')
# A declared query runs through SparkEntry.run, which releases the frames
# it persisted for reuse; calling SparkEntry.queries(...) directly skips
# that release (so does looking a query up with get/getOrElse/apply).
QUERIES=$(git grep -nE 'SparkEntry\.queries(\(|\.(apply|get|getOrElse)\()' -- src/main \
  ':!src/main/scala/graft/SparkEntry.scala')
# One bloom builder: the lake's writers build each file's sidecar in the
# writing task; nothing else sizes a filter or keys rows by their file.
BLOOM=$(git grep -nE 'input_file_name|BloomFilter\.create' -- src/main \
  ':!src/main/scala/graft/sinks/BloomSidecars.scala')
# One staged write: every lake file is staged by a HiveRoutingWriter that
# reports the file's manifest entry, so the only footer probes left are the
# writer's own and addStats' backfill of existing files. Every
# position-delete sidecar, library merge or SQL DML, is staged by
# SnapshotDeltaWriterFactory's task writer, whose commit message names the
# files it covers: SnapshotLake.scala runs no V1 DataFrameWriter save and
# reads no stage dir back.
PROBE=$(git grep -lE 'footerProbe\(' -- src/main | xargs -r awk '
  FNR == 1 { cls = ""; fn = "" }
  /^ *(private[^ ]* +)?(final +)?(case +)?(class|object|trait) +[A-Za-z0-9_]+/ {
    match($0, /(class|object|trait) +[A-Za-z0-9_]+/)
    cls = substr($0, RSTART, RLENGTH); sub(/^[a-z]+ +/, "", cls) }
  /[ \t]def +[A-Za-z0-9_]+/ {
    match($0, /def +[A-Za-z0-9_]+/)
    fn = substr($0, RSTART, RLENGTH); sub(/^def +/, "", fn) }
  /footerProbe\(/ && !/def +footerProbe\(/ &&
    cls != "HiveRoutingWriter" && fn != "addStats" { print FILENAME ":" FNR ": " $0 }')
STAGEW=$(awk '/\.write\.(option|options|mode|format|partitionBy|bucketBy|sortBy|parquet|json|csv|orc|text|save|saveAsTable|insertInto)\(|\.write *$|DataFrameWriter|\.writeTo\(|\.save\(|saveAsTable|insertInto|spark\.read.*[sS]tage/ {
    print FILENAME ":" FNR ": " $0 }' src/main/scala/graft/sinks/SnapshotLake.scala)
if [[ -z "$STRAY$WITNESS$MAINS$QUERIES$BLOOM$PROBE$STAGEW" ]]; then
  ONEWAY="ok"
  note "one way: graft.Concurrent is the only pool; no witness in src/main; Prof is the only tools main; queries run via SparkEntry.run; blooms are built only in BloomSidecars; lake files and delete sidecars are staged only by the task writers, never read back from a stage dir"
else
  ONEWAY="FAILED:"
  [[ -n "$STRAY" ]] && ONEWAY="$ONEWAY $(echo "$STRAY" | wc -l) line(s) outside graft.Concurrent"
  [[ -n "$WITNESS" ]] && ONEWAY="$ONEWAY $(echo "$WITNESS" | wc -l) witness definition(s) in src/main"
  [[ -n "$MAINS" ]] && ONEWAY="$ONEWAY $(echo "$MAINS" | wc -l) main(s) in graft/tools besides Prof"
  [[ -n "$QUERIES" ]] && ONEWAY="$ONEWAY $(echo "$QUERIES" | wc -l) SparkEntry.queries( call(s) outside SparkEntry.scala"
  [[ -n "$BLOOM" ]] && ONEWAY="$ONEWAY $(echo "$BLOOM" | wc -l) bloom builder line(s) outside BloomSidecars.scala"
  [[ -n "$PROBE" ]] && ONEWAY="$ONEWAY $(echo "$PROBE" | wc -l) footerProbe( call(s) outside the task writer and addStats"
  [[ -n "$STAGEW" ]] && ONEWAY="$ONEWAY $(echo "$STAGEW" | wc -l) DataFrameWriter save or stage read-back line(s) in SnapshotLake.scala"
  printf '%s\n' "$STRAY" "$WITNESS" "$MAINS" "$QUERIES" "$BLOOM" "$PROBE" "$STAGEW" | grep -v '^$' | tee -a "$LOG"
  note "ONE-WAY CHECK $ONEWAY"; fail=1
fi

# --- 1b. repo benchmark build + tests ---------------------------------
note "perfbench: sbt test"
if (cd perfbench && sbt -batch test) >> "$LOG" 2>&1; then
  PERFBENCH=$(grep -Eo "Tests: succeeded [0-9]+, failed [0-9]+" "$LOG" | tail -1)
  note "perfbench green: $PERFBENCH"
else
  PERFBENCH="FAILED"
  note "PERFBENCH FAILED"; fail=1
fi

# --- 2+3. correctness surface ----------------------------------------
note "graft.Verify at sf0.01"
VOUT=/tmp/gate_verify_out
rm -rf "$VOUT"
if ! sbt -batch "runMain graft.Verify /root/testdata/sf0.01 $VOUT" >> "$LOG" 2>&1; then
  note "VERIFY FAILED"; fail=1
fi
note "DuckDB oracle compare"
ORACLE=$(python3 tools/check_oracle.py /root/testdata/sf0.01 "$VOUT" 2>&1 | tee -a "$LOG" | tail -1)
note "oracle: $ORACLE"
echo "$ORACLE" | grep -q ", 0 fail," || { note "ORACLE COMPARE FAILED"; fail=1; }

# --- 3b. docs drift check ----------------------------------------------
# COVERAGE.md's closing claim must state the ACTUAL oracle surface size
# (the footer lapsed at 147 while the surface was 151 — a round-12
# finding; the gate now fails on any recurrence).
N=$(echo "$ORACLE" | grep -oE "^[0-9]+" | head -1)
if grep -q "All $N declared queries" COVERAGE.md; then
  note "docs: COVERAGE.md footer matches the oracle surface ($N)"
else
  note "DOCS DRIFT: COVERAGE.md footer must say 'All $N declared queries'"; fail=1
fi

# --- 4. bench artifact ------------------------------------------------
note "graft.Bench at sf0.1 -> BENCH.json"
if SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_BENCH_OUT=BENCH.json \
    sbt -batch "runMain graft.Bench" >> "$LOG" 2>&1; then
  BENCH=$(python3 -c "import json;d=json.load(open('BENCH.json'));print(f\"total={d['value']:.1f}s n={len(d['queries'])} canary={d['canary_sec']:.3f} normalized={d['normalized_total']:.1f}s failed={len(d['failed'])}\")")
  note "bench: $BENCH"
else
  note "BENCH FAILED"; BENCH="FAILED"; fail=1
fi

# --- 5. BASELINE.md measurement record ---------------------------------
# The per-round record lapsed once (rounds 10-11 had to be backfilled);
# the gate now appends its own bench row so the one-file history cannot
# lapse again.
# Guarded on THIS run's bench having succeeded — a failed bench step must
# not append a row derived from a previous run's stale BENCH.json.
if [[ -f BENCH.json && "$BENCH" != "FAILED" ]]; then
  python3 - "$TS" <<'EOF'
import json, sys
d = json.load(open("BENCH.json"))
rec = (f"\n## Gate record — {sys.argv[1]}\n\n"
       f"`tools/gate.sh` bench at sf0.1: **{d['value']:.1f} s raw / "
       f"{len(d['queries'])} queries**, canary {d['canary_sec']:.3f} s"
       f" (ref {d['canary_ref']}), canary_mem "
       f"{d.get('canary_mem_sec', 0):.3f} s (ref {d.get('canary_mem_ref')}), "
       f"canary_io {d.get('canary_io_sec', -1):.3f} s"
       f" (ref {d.get('canary_io_ref')}), "
       f"normalized {d['normalized_total']:.1f} s, "
       f"failed: {len(d['failed'])}.\n")
open("BASELINE.md", "a").write(rec)
EOF
  note "BASELINE.md gate record appended"
fi

# --- summary ----------------------------------------------------------
python3 - "$TS" "$fail" "$ORACLE" "${TESTS:-unknown}" "${BENCH:-unknown}" \
    "${PERFBENCH:-unknown}" "${ONEWAY:-unknown}" <<'EOF'
import json, sys
ts, fail, oracle, tests, bench, perfbench, oneway = sys.argv[1:8]
json.dump({"ts": ts, "pass": fail == "0", "tests": tests,
           "perfbench": perfbench, "oneway": oneway, "oracle": oracle,
           "bench": bench},
          open("target/gate_summary.json", "w"), indent=1)
EOF
note "summary -> target/gate_summary.json (pass=$((1-fail)))"
exit $fail
