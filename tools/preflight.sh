#!/usr/bin/env bash
# Pre-snapshot gate: run before any end-of-round commit so the commit
# message's stated counts are from a FRESH run, not memory (the round-10
# failure mode was "new spec committed, suite never re-run").
#
#   tools/preflight.sh            # sbt test + Verify/check at sf0.01
#   tools/preflight.sh --fast     # sbt test only
#
# Prints the test count and the oracle pass count; exits non-zero on any
# failure so a snapshot commit behind it cannot ship red.
set -euo pipefail
cd "$(dirname "$0")/.."

# one session factory: every main builds its SparkSession through
# graft.GraftSession, so a copied builder cannot grow back
builders=$(grep -rn "SparkSession.builder()" src/main --include='*.scala' \
  | grep -v "^src/main/scala/graft/GraftSession.scala:" || true)
if [[ -n "$builders" ]]; then
  echo "PREFLIGHT FAIL: SparkSession.builder() outside graft.GraftSession:" >&2
  echo "$builders" >&2
  exit 1
fi

# one parquet loader: every batch parquet read in src/main goes through
# graft.io.Tables, which pins the schema from a footer on the driver
# instead of running Spark's schema-inference job; streaming readStream
# reads are exempt (they carry their own schema)
reads=$(grep -rnE "\.read\.parquet\(|\.read\.schema\(.*\)\.parquet\(" src/main \
  --include='*.scala' | grep -v "^src/main/scala/graft/io/Tables.scala:" || true)
if [[ -n "$reads" ]]; then
  echo "PREFLIGHT FAIL: batch parquet read outside graft.io.Tables:" >&2
  echo "$reads" >&2
  exit 1
fi

# one job labeller: every job description in src/main is set by
# graft.core.JobLabel, so labels keep one format and are always restored
labels=$(grep -rnE "setJobDescription\(|setJobGroup\(" src/main --include='*.scala' \
  | grep -v "^src/main/scala/graft/core/JobLabel.scala:" || true)
if [[ -n "$labels" ]]; then
  echo "PREFLIGHT FAIL: job description set outside graft.core.JobLabel:" >&2
  echo "$labels" >&2
  exit 1
fi

out=$(mktemp -d)
sbt -batch test 2>&1 | tee "$out/test.log" | grep -E "Tests:|All tests" || true
grep -q "All tests passed." "$out/test.log" || {
  echo "PREFLIGHT FAIL: sbt test not green" >&2; exit 1; }
tests=$(grep -oE "succeeded [0-9]+" "$out/test.log" | awk '{print $2}')

if [[ "${1:-}" != "--fast" ]]; then
  SPARK_GRAFT_CPUS=8 sbt -batch \
    "runMain graft.Verify /root/testdata/sf0.01 $out/verify" \
    > "$out/verify.log" 2>&1 || { tail -20 "$out/verify.log" >&2; exit 1; }
  python3 tools/check_local.py /root/testdata/sf0.01 "$out/verify" \
    | tail -1 | tee "$out/check.txt"
  grep -q " 0 failed" "$out/check.txt" || {
    echo "PREFLIGHT FAIL: oracle compare has failures" >&2; exit 1; }
fi

# CORRECTNESS_SF01.json must cover the FULL declared surface — the r16
# lesson: it silently lagged at 264/266 because nothing compared its
# query count to the surface. The declared surface is the oracle map the
# fresh Verify dump just wrote (oracleSql keys); regenerate with
# tools/make_sf01_artifact.sh on drift.
if [[ "${1:-}" != "--fast" ]]; then
  python3 - "$out/verify/oracle_sql.json" <<'PYEOF'
import json, sys
declared = len(json.load(open(sys.argv[1])))
art = json.load(open("CORRECTNESS_SF01.json"))
got = len(art.get("queries", {}))
fails = art.get("failed", -1)
if got != declared or fails != 0:
    print(f"PREFLIGHT FAIL: CORRECTNESS_SF01.json covers {got} queries "
          f"({fails} failed) but the declared surface is {declared} — "
          "run tools/make_sf01_artifact.sh", file=sys.stderr)
    sys.exit(1)
print(f"sf0.1 artifact: {got}/{declared} queries, 0 failed")
PYEOF
fi

# a BENCHNOTES promise of content "appended below" must not dangle: the
# r18 file ended at "flakehunt @bench at sf0.1: see the line appended
# below after the run" with nothing following — either the run never
# happened or the append was forgotten, and nothing caught it
bn=$(ls BENCHNOTES_r*.md 2>/dev/null | sort -V | tail -1)
if [[ -n "$bn" ]] && grep -q "appended below" "$bn"; then
  last=$(grep -n "appended below" "$bn" | tail -1 | cut -d: -f1)
  after=$(tail -n +$((last + 1)) "$bn" | grep -cve '^[[:space:]]*$' || true)
  if [[ "$after" -eq 0 ]]; then
    echo "PREFLIGHT FAIL: $bn promises content 'appended below' but ends" \
      "at the promise — run it and append, or drop the promise" >&2
    exit 1
  fi
fi

# README states the spec count; a stale claim fails the gate (the r14
# nit: README said 534 while the measured count was 548 — "re-counts"
# meant nothing if nobody compared)
readme=$(grep -oE "[0-9]+ specs" README.md | head -1 | awk '{print $1}')
if [[ -n "$readme" && "$readme" != "$tests" ]]; then
  echo "PREFLIGHT FAIL: README.md claims $readme specs, measured $tests" \
    "— update README.md" >&2
  exit 1
fi

echo "PREFLIGHT OK: $tests tests green$( [[ "${1:-}" != "--fast" ]] \
  && echo ", oracle: $(cat "$out/check.txt")" )"
