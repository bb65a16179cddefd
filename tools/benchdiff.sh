#!/usr/bin/env bash
# benchdiff.sh — self-adjudicating bench deltas.
#
# The per-round driver bench runs on a shared machine: r10/r11/r14 all
# carried 2-16x load-pollution spikes on code-UNCHANGED entries that had
# to be refuted by hand with isolated single-query re-runs. This
# script makes that adjudication self-serve: diff two bench artifacts,
# flag suspicious regressions on entries whose code did not change,
# re-run exactly those through `graft.Bench run` on the current checkout, and
# emit the adjudication table for BENCHNOTES.
#
# Usage:
#   tools/benchdiff.sh OLD.json NEW.json [--changed q1,q2,...]
#       [--threshold 1.5] [--abs-floor 0.3] [--sf /root/testdata/sf0.1]
#       [--no-rerun]
#   OLD/NEW accept either artifact shape:
#     - the Bench line itself ({"metric":"total",...,"queries":{...}}),
#       e.g. BENCH_LAST.json — the per-round committed snapshot;
#     - the driver wrapper ({"n":..,"parsed":{...}}) when parsed is
#       non-null (BENCH_r*.json often carry parsed:null — use the
#       committed BENCH_LAST.json of that round instead);
#     - a git ref prefix reads the file from history:
#       tools/benchdiff.sh HEAD~5:BENCH_LAST.json BENCH_LAST.json
#   --changed names entries whose code was touched this round: they are
#   reported but never adjudicated as noise (a real regression there is
#   the author's to explain in BENCHNOTES).
#
# Adjudication order: cpu_s FIRST, wall second. Wall comparison across
# rounds is noise-bound both ways on a machine with persistent
# hypervisor steal (r18: q_tpch1 committed 1.39 s vs 0.79 s isolated on
# unchanged code); cpu_s (process-CPU seconds of the quoted min rep) is
# steal-immune — a descheduled JVM accrues wall but no CPU. When both
# artifacts carry cpu_s (or cw, from which cpu_s = cw x wall is
# reconstructed — same numbers, r18-era artifacts), a wall-flagged entry
# whose CPU held still is classified MACHINE-WINDOW from the artifacts
# alone, no re-run needed. shuf_rec (per-entry shuffle records, a plan
# property) corroborates: a changed count is a PLAN-SHIFT, never noise.
#
# Verdicts (rerun = min of SPARK_GRAFT_REPS isolated reps, default 3):
#   MACHINE-WINDOW   wall moved >thr but cpu_s held within 1.2x — the
#                    measurement window, not the code; artifact-only
#   CPU-REGRESSED    wall within thr but cpu_s grew >thr — real added
#                    work hidden by a fast machine window; reported
#   LOAD-NOISE       rerun <= 1.2 x old  — the artifact number was load
#   REPRODUCIBLE     rerun >  1.2 x old  — survives isolation: a real
#                    regression OR a machine-state shift; needs a look
#   LOAD-SUSPECT     NEW's own telemetry convicts the measurement without
#                    any re-run: the entry's recorded 1-min loadavg
#                    exceeded 1.25x the bench's cpus (foreign processes on
#                    top of a saturated bench) or its reps disagreed >1.5x
#                    (deterministic work timed inconsistently). Upgraded
#                    to LOAD-NOISE/REPRODUCIBLE when the re-run phase
#                    runs; stands alone under --no-rerun.
#   CODE-CHANGED     entry was in --changed (not re-run)
#   NEW              entry absent from OLD (not re-run)
#   MISSING-FROM-NEW entry existed in OLD but vanished from NEW — an
#                    errored run or a dropped registry entry; never silent
# A re-run entry also shows compiles=OLD/RERUN: the Janino compiles over
# the measured reps in the old snapshot ('-' when the snapshot predates the
# field) and in the re-run — a nonzero count is generated code missing
# Spark's codegen cache (ROADMAP item 2), a cost that moves wall and cpu_s.
set -euo pipefail
cd "$(dirname "$0")/.."

OLD="${1:?usage: benchdiff.sh OLD.json NEW.json [--changed ...]}"
NEW="${2:?usage: benchdiff.sh OLD.json NEW.json [--changed ...]}"
shift 2
CHANGED=""; THRESHOLD="1.5"; ABS_FLOOR="0.3"
SF="${SPARK_GRAFT_SF_DIR:-/root/testdata/sf0.1}"; RERUN=1
while [ $# -gt 0 ]; do
  case "$1" in
    --changed) CHANGED="$2"; shift 2;;
    --threshold) THRESHOLD="$2"; shift 2;;
    --abs-floor) ABS_FLOOR="$2"; shift 2;;
    --sf) SF="$2"; shift 2;;
    --no-rerun) RERUN=0; shift;;
    *) echo "unknown arg: $1" >&2; exit 2;;
  esac
done

slurp() { # file path or gitref:path -> JSON on stdout
  case "$1" in
    *:*) git show "$1";;
    *) cat "$1";;
  esac
}

# Phase 1: diff and flag. Emits "FLAG name" lines for entries to re-run
# and the draft table to a temp file.
TMP="$(mktemp -d)"
slurp "$OLD" > "$TMP/old.json"
slurp "$NEW" > "$TMP/new.json"
python3 - "$TMP" "$CHANGED" "$THRESHOLD" "$ABS_FLOOR" <<'PYEOF'
import json, sys
tmp, changed, thr, floor = sys.argv[1], sys.argv[2], float(sys.argv[3]), float(sys.argv[4])
changed = set(x for x in changed.split(",") if x)
def load(p):
    d = json.load(open(p))
    if "queries" in d: return d["queries"]
    if d.get("parsed") and "queries" in d["parsed"]: return d["parsed"]["queries"]
    raise SystemExit(f"{p}: no queries found (driver artifact with parsed:null? "
                     "use that round's committed BENCH_LAST.json)")
old, new = load(f"{tmp}/old.json"), load(f"{tmp}/new.json")
# telemetry (r17+ artifacts): per-entry 1-min loadavg + rep spread let a
# spiked entry convict its own measurement without a re-run
def tele(p):
    d = json.load(open(p))
    if "telemetry" in d: return d.get("telemetry", {}), d.get("cpus")
    if d.get("parsed"): return d["parsed"].get("telemetry", {}), d["parsed"].get("cpus")
    return {}, None
ntele, ncpus = tele(f"{tmp}/new.json")
otele, _ = tele(f"{tmp}/old.json")
def cpu_of(tel, name, wall):
    # cpu_s directly (r19+), else reconstructed from cw (r17/r18
    # artifacts: cw = cpu_s/wall of the SAME min rep, so cw*wall IS the
    # min rep's cpu_s — the axis existed, it just wasn't emitted)
    t = tel.get(name)
    if not t or wall is None or wall <= 0: return None
    c = t.get("cpu_s")
    if c is not None and c >= 0: return c
    cw = t.get("cw")
    if cw is not None and cw >= 0: return cw * wall
    return None
def shuf_of(tel, name):
    t = tel.get(name)
    if not t: return None
    s = t.get("shuf_rec")
    return s if s is not None and s >= 0 else None
def load_suspect(name):
    t = ntele.get(name)
    if not t: return None
    la, sp = t.get("la", -1), t.get("spread", 1.0)
    reasons = []
    if ncpus and la > 1.25 * float(ncpus): reasons.append(f"la={la}")
    if sp > 1.5: reasons.append(f"spread={sp}")
    # cw = process-CPU/wall of the quoted (min) rep. A local-mode
    # noop-sink query keeps >= 1 core busy end-to-end, so cw << 1 means
    # the JVM was descheduled for most of the wall — the CPU-STEAL
    # signature that la (empty runqueue) and spread (sustained slowness)
    # are both blind to: r17's x_rollup ran 16x slow at la=1.3,
    # spread=1.08 (cw would have read ~0.1). Threshold 0.6: the measured
    # healthy floor across all 176 entries is 0.73 (x_host_stats, many
    # tiny stages; full-surface sweep, r18), while a 2x+ steal episode
    # halves any entry's cw (fixed CPU work, doubled wall) — and this
    # rule only sees entries ALREADY >1.5x over their old number, so a
    # false suspect costs one isolated re-run, not a verdict.
    cw = t.get("cw")
    if cw is not None and 0 <= cw < 0.6: reasons.append(f"cw={cw}")
    return ",".join(reasons) or None
rows, flags = [], []
for name, nv in sorted(new.items()):
    ov = old.get(name)
    if ov is None:
        rows.append((name, None, nv, "NEW")); continue
    if ov <= 0 or nv <= 0:
        rows.append((name, ov, nv, "ERR-MARKER")); continue
    ratio = nv / ov
    if name in changed:
        rows.append((name, ov, nv, "CODE-CHANGED")); continue
    oc, nc = cpu_of(otele, name, ov), cpu_of(ntele, name, nv)
    os_, ns_ = shuf_of(otele, name), shuf_of(ntele, name)
    plan = ""
    if os_ is not None and ns_ is not None and os_ != ns_ and \
            max(os_, ns_) > 1.05 * max(min(os_, ns_), 1):
        plan = f" PLAN-SHIFT(shuf_rec {os_}->{ns_})"
    if ratio > thr and (nv - ov) > floor:
        # cpu_s first: a wall spike whose CPU held still is the
        # measurement window, adjudicated from the artifacts alone
        if oc is not None and nc is not None and oc > 0 and nc <= 1.2 * oc:
            rows.append((name, ov, nv,
                         f"MACHINE-WINDOW(cpu {oc:.2f}->{nc:.2f}){plan}"))
            continue
        # CPU moved too (or is unavailable): not an artifact-alone
        # acquittal — fall to the la/spread/cw ladder + isolated re-run,
        # but always show the cpu trajectory alongside
        sus = load_suspect(name)
        cpunote = (f"cpu {oc:.2f}->{nc:.2f}"
                   if oc is not None and nc is not None and oc > 0 else None)
        if sus:
            verdict = f"LOAD-SUSPECT({sus}" + \
                (f"; {cpunote}" if cpunote else "") + f"){plan}"
        else:
            verdict = "FLAGGED" + (f" [{cpunote}]" if cpunote else "") + plan
        rows.append((name, ov, nv, verdict)); flags.append(name)
    elif oc is not None and nc is not None and oc > 0 and \
            nc / oc > thr and (nc - oc) > floor:
        # wall looked fine but the CPU work grew: real added work hidden
        # by a favorable machine window (the inverse failure of the
        # steal era) — surfaced, never re-run (a re-run measures wall)
        rows.append((name, ov, nv,
                     f"CPU-REGRESSED(cpu {oc:.2f}->{nc:.2f}){plan}"))
# an entry that EXISTED in OLD but vanished from NEW is the regression
# class this tool exists to surface (errored run, dropped registry entry)
# — never let it disappear from the table silently
for name in sorted(set(old) - set(new)):
    rows.append((name, old[name], None, "MISSING-FROM-NEW"))
json.dump(rows, open(f"{tmp}/rows.json", "w"))
PYEOF
FLAGS="$(python3 -c "
import json
rows = json.load(open('$TMP/rows.json'))
print(' '.join(n for n,_,_,v in rows
               if v.startswith('FLAGGED') or v.startswith('LOAD-SUSPECT')))")"

# Phase 2: isolated re-runs of the flagged entries.
if [ -n "$FLAGS" ] && [ "$RERUN" = "1" ]; then
  echo "re-running flagged entries through graft.Bench run: $FLAGS" >&2
  SPARK_GRAFT_SF_DIR="$SF" sbt -batch "runMain graft.Bench run $FLAGS" \
    2>/dev/null | grep -o '\[benchsub\] .*' > "$TMP/rerun.txt" || true
fi
touch "$TMP/rerun.txt"

# Phase 3: the adjudication table.
python3 - "$TMP" <<'PYEOF'
import json, re, sys
tmp = sys.argv[1]
rows = json.load(open(f"{tmp}/rows.json"))
rerun, recomp = {}, {}
for line in open(f"{tmp}/rerun.txt"):
    m = re.search(r"\[benchsub\] (\S+) .*min=([0-9.]+)", line)
    if m: rerun[m.group(1)] = float(m.group(2))
    c = re.search(r"\[benchsub\] (\S+) .* compiles=(\d+)", line)
    if c: recomp[c.group(1)] = c.group(2)
# warm Janino compiles over the measured reps: the old snapshot's per-entry
# `compiles` field (absent before it was recorded: '-') and the re-run's
od = json.load(open(f"{tmp}/old.json"))
otel = (od.get("parsed") or od).get("telemetry") or {}
def old_compiles(name):
    c = otel.get(name, {}).get("compiles")
    return "-" if c is None else str(c)
print("| entry | old (s) | new artifact (s) | isolated re-run min (s) | compiles old/re-run | verdict |")
print("|---|---|---|---|---|---|")
n_noise = n_real = n_sus = n_win = 0
for name, ov, nv, verdict in rows:
    rr = rerun.get(name)
    if verdict.startswith("MACHINE-WINDOW"):
        n_win += 1                      # cpu_s acquitted it, artifact-only
    elif verdict.startswith("FLAGGED") or verdict.startswith("LOAD-SUSPECT"):
        # keep only the telemetry REASONS (la=../spread=../cw=..) so an
        # upgraded verdict reads 'LOAD-NOISE [la=41.2]', never the nested
        # 'LOAD-NOISE [LOAD-SUSPECT(la=41.2)]'
        m = re.match(r"LOAD-SUSPECT\((.*?)\)", verdict)
        suspect = m.group(1) if m else None
        plan = " " + p.group(0) if (p := re.search(r"PLAN-SHIFT\([^)]*\)", verdict)) else ""
        if rr is None:
            if suspect: n_sus += 1      # telemetry verdict stands alone
            else: verdict = "FLAGGED (no re-run)" + plan
        elif rr <= 1.2 * ov:
            verdict = "LOAD-NOISE" + (f" [{suspect}]" if suspect else "") + plan
            n_noise += 1
        else:
            verdict = "REPRODUCIBLE" + (f" [despite {suspect}]" if suspect else "") + plan
            n_real += 1
    o = "-" if ov is None else f"{ov:.2f}"
    r = "-" if rr is None else f"{rr:.2f}"
    nvs = "-" if nv is None else f"{nv:.2f}"
    comp = (f"compiles={old_compiles(name)}/{recomp.get(name, '-')}"
            if rr is not None else "-")
    print(f"| {name} | {o} | {nvs} | {r} | {comp} | {verdict} |")
print()
# run-level machine state (r18+ artifacts): a nonzero steal percent
# convicts the whole run's machine, not just individual entries
try:
    nd = json.load(open(f"{tmp}/new.json"))
    nd = nd.get("parsed") or nd
    sp, iw = nd.get("steal_pct"), nd.get("iowait_pct")
    if sp is not None and sp >= 0:
        note = " — MACHINE-SUSPECT (steal >= 1% of run)" if sp >= 1.0 else ""
        print(f"machine over the NEW run: steal={sp}% iowait={iw}% "
              f"load_start={nd.get('load_start')} load_end={nd.get('load_end')}{note}")
        print()
except Exception:
    pass
print(f"adjudicated: {n_win} machine-window (cpu_s stable, artifact-only), "
      f"{n_noise} load-noise, {n_real} reproducible (regression or machine shift), "
      f"{n_sus} load-suspect from artifact telemetry alone; "
      f"rows shown are new/changed/flagged entries only (unflagged "
      f"unchanged entries are within threshold and omitted)")
PYEOF
rm -rf "$TMP"
