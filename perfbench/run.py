#!/usr/bin/env python3
"""The graft benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--isolate <unit>]

Run from the root of a checkout. It builds the checkout's sources with the
benchmark's own sbt project (once; rebuilt when a source changes), makes the
workload's inputs from the seed, runs one measured JVM, checks the outputs
against the DuckDB oracle (tools/check_local.py), prints every metric with
its unit and, as the last line, one JSON object of at most 1 KB. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the per-layer
ones. Per-unit samples, the full per-layer table and the run environment go
to .perfbench/results/<workload>-s<seed>-t<trace>.json. --isolate re-runs
one unit alone in a fresh JVM after the run and reports its
in-sequence/isolated latency ratio. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ["alerts_pipeline", "curation", "alerts_stream"]
# alerts_stream: one snapshot is due every STREAM_PERIOD_MS, below the
# measured capacity of one StreamingAugmenter run per ~5 s at local[4].
STREAM_PERIOD_MS = 8000
# --isolate runs the unit this many times in a fresh JVM; the first is cold.
ISOLATE_REPS = 3
# A run must end within 180 s once built: the measured JVM gets what is left
# of RUN_BUDGET_S after input generation, minus a margin for the oracle gate.
RUN_BUDGET_S = 175
GATE_MARGIN_S = 20
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
# Units of the end-to-end metrics, in print order.
END_TO_END = [("setup_s", "s"), ("first_unit_s", "s"), ("latency_p50_s", "s"),
              ("latency_tail_s", "s"), ("units_per_s", "1/s"), ("cpu_per_unit_s", "s"),
              ("rss_peak_mb", "MB")]
# The per-layer metrics of the last stdout line, with their units: graft's
# own layers first (0 on a workload that does not run the layer), then
# Spark's. The full table goes to stdout and the results file.
PER_LAYER = [("stage.fetch_s", "s"), ("stage.fix_s", "s"), ("stage.augment_s", "s"),
             ("stage.broadcast_s", "s"), ("stage.email_s", "s"),
             ("ext.dedup_s", "s"), ("ext.similarity_s", "s"), ("ext.graph_s", "s"),
             ("streaming.add_batch_s", "s"), ("incremental.work_ratio", "ratio"),
             ("catalyst.planning_s", "s"), ("codegen.compiles", "count"),
             ("codegen.compile_s", "s"), ("driver.self_s", "s"), ("scheduler.jobs", "count"),
             ("task.cpu_s", "s"), ("shuffle.write_bytes", "B"), ("storage.blocks_end", "count")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/**/*"), recursive=True) +
                   glob.glob(os.path.join(HERE, "src/**/*"), recursive=True) +
                   [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project/build.properties")])
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile once per source state. The classes go into a jar, and one
    short training run records the classes a run loads into a class-data
    sharing archive (AppCDS). Every measured JVM maps that archive, so set-up
    does not load and verify the same Spark classes from the jars each run.
    Returns {"classpath", "archive"}."""
    stamp_file = os.path.join(HERE, "target", "perfbench.stamp")
    stamp = source_stamp()
    try:
        with open(stamp_file) as fh:
            saved = json.load(fh)
        if saved["stamp"] == stamp and os.path.exists(saved["archive"]):
            return saved
    except (OSError, ValueError, KeyError):
        pass
    log("building (sbt compile) ...")
    env = dict(os.environ, COURSIER_MODE="offline")
    # keep sbt's temporary files inside the checkout
    tmp = os.path.join(WORK, "sbt-tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Dsbt.boot.lock=false",
            "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"  # also for the JVMs sbt's launcher probes
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=780)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    cp = [ln for ln in p.stdout.splitlines() if "scala-2.13/classes" in ln and not ln.startswith("[")]
    if not cp:
        fail("build produced no classpath")
    log(f"compiled in {time.time() - t0:.1f} s")
    entries = cp[-1].strip().split(os.pathsep)
    jar = os.path.join(HERE, "target", "perfbench-classes.jar")
    make_jar([e for e in entries if os.path.isdir(e)], jar)
    built = {"stamp": stamp, "archive": os.path.join(HERE, "target", "perfbench.jsa"),
             "classpath": os.pathsep.join([jar] + [e for e in entries if not os.path.isdir(e)])}
    t1 = time.time()
    train(built)
    log(f"class-data sharing archive recorded in {time.time() - t1:.1f} s")
    with open(stamp_file, "w") as fh:
        json.dump(built, fh)
    return built


def make_jar(dirs, jar):
    """Pack the compiled class directories into one jar: class-data sharing
    archives classes from jars only."""
    tmp = jar + ".tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for d in dirs:
            for base, subdirs, files in os.walk(d):
                subdirs.sort()
                for f in sorted(files):
                    path = os.path.join(base, f)
                    z.write(path, os.path.relpath(path, d))
    os.replace(tmp, jar)


def train(built):
    """Record the archive: one curation run with a zero-second window (its
    first unit and one round) writes every class it loaded at exit."""
    if os.path.exists(built["archive"]):
        os.remove(built["archive"])
    run_dir = os.path.join(WORK, "train")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    inputs = gen.ensure("curation", 0, os.path.join(WORK, "inputs"))
    jvm(dict(built, archive=None), run_dir,
        {"mode": "run", "workload": "curation", "data": inputs, "seconds": 0, "trace": 0,
         "cores": min(4, os.cpu_count() or 1)},
        timeout=300, flags=[f"-XX:ArchiveClassesAtExit={built['archive']}"])
    if not os.path.exists(built["archive"]):
        fail(f"no class-data sharing archive; see {run_dir}/jvm.log")
    shutil.rmtree(run_dir, ignore_errors=True)


# ---------------------------------------------------------------- JVM

def jvm(built, run_dir, args, timeout, flags=()):
    """Start one measured JVM and wait for it; returns its result JSON."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(run_dir, f"result-{args['mode']}-{len(os.listdir(run_dir))}.json")
    share = [f"-XX:SharedArchiveFile={built['archive']}"] if built["archive"] else []
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        "-Xms2g", "-Xmx2g", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        *share, *flags, "-cp", built["classpath"], "graft.perfbench.Main"]
    args = dict(args, work=os.path.join(run_dir, "work"), out=out)
    launch_ms = int(time.time() * 1000)
    cmd += [x for k, v in args.items() for x in (f"--{k}", str(v))] + ["--launch-ms", str(launch_ms)]
    with open(os.path.join(run_dir, "jvm.log"), "a") as logf:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=logf, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail(f"JVM ({args['mode']}) exceeded {timeout} s", 1)
    try:
        with open(out) as fh:
            result = json.load(fh)
    except (OSError, ValueError):
        result = None
    if p.returncode != 0 or result is None:
        fail(f"JVM ({args['mode']}) failed with code {p.returncode}; see {run_dir}/jvm.log", 1)
    return result


# ---------------------------------------------------------------- oracle gate

def oracle_gate(result, timeout):
    """tools/check_local.py over the run's dumped outputs: {query: ok}."""
    verify = os.path.join(result["work_dir"], "verify")
    names = result.get("dumped", [])
    p = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check_local.py"),
                        result["oracle_dir"], verify] + names,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=timeout)
    status = {n: False for n in names}
    for ln in p.stdout.splitlines():
        m = re.match(r"(PASS|FAIL) (\S+)", ln)
        if m and m.group(2) in status:
            status[m.group(2)] = m.group(1) == "PASS"
    if not all(status.values()):
        sys.stderr.write(p.stdout[-3000:])
    return status


# ---------------------------------------------------------------- metrics

def tail_percentile(n):
    """The highest percentile with at least 10 samples beyond it, or 100
    (the maximum) when there are fewer than 11 samples."""
    return 100.0 * (1 - 10 / n) if n >= 11 else 100.0


def percentile(values, pct):
    """Nearest-rank percentile."""
    s = sorted(values)
    k = max(1, -(-len(s) * pct // 100))
    return s[int(k) - 1]


def end_to_end(result):
    warm = [u[1] for u in result["units"]]
    n = len(warm)
    pct = tail_percentile(n) if n else 100.0
    window = result["window_s"]
    m = {"setup_s": result["setup_s"],
         "first_unit_s": result["first_unit"]["s"],
         "latency_p50_s": statistics.median(warm) if warm else float("nan"),
         "latency_tail_s": percentile(warm, pct) if warm else float("nan"),
         "units_per_s": n / window if window > 0 else float("nan"),
         "cpu_per_unit_s": result["process_cpu_s"] / max(1, n),
         "rss_peak_mb": result["rss_peak_mb"]}
    return m, {"warm_units": n, "tail_percentile": pct}


def fmt(v):
    return f"{v:.6f}".rstrip("0").rstrip(".") if isinstance(v, float) else str(v)


def final_line(correct, attempted, failed, metrics):
    line = json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                       "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}},
                      separators=(",", ":"))
    if len(line) > 1024:  # keep the contract line short: fewer digits, never fewer metrics
        line = json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                           "metrics": {k: {"value": float(f"{v:.6g}"), "unit": u}
                                       for k, (v, u) in metrics.items()}}, separators=(",", ":"))
    return line


def prune(dirname, keep):
    entries = sorted(glob.glob(os.path.join(dirname, "*")), key=os.path.getmtime)
    for e in entries[:-keep]:
        shutil.rmtree(e, ignore_errors=True)


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--isolate", help="unit of a closed-loop workload to re-run alone in a fresh "
                                      "JVM (a query name, or 'cycle')")
    a = ap.parse_args()

    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")) or \
            not os.path.exists(os.path.join(ROOT, "tools", "check_local.py")):
        fail(f"{ROOT} is not a graft checkout (no src/main/scala/graft or tools/check_local.py)")

    built = build()
    t0 = time.time()
    deadline = t0 + RUN_BUDGET_S
    inputs = gen.ensure(a.workload, a.seed, os.path.join(WORK, "inputs"))
    gen_s = time.time() - t0
    os.utime(inputs)
    prune(os.path.join(WORK, "inputs"), keep=4)
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cores = min(4, os.cpu_count() or 1)
    args = {"mode": "run", "workload": a.workload, "data": inputs, "seconds": a.seconds,
            "trace": a.trace, "cores": cores, "period-ms": STREAM_PERIOD_MS}
    t1 = time.time()
    result = jvm(built, run_dir, args, timeout=deadline - GATE_MARGIN_S - time.time())
    result["work_dir"] = os.path.join(run_dir, "work")
    t2 = time.time()
    gate = oracle_gate(result, timeout=max(5.0, deadline - time.time()))
    phases = {"gen_s": gen_s, "jvm_s": t2 - t1, "gate_s": time.time() - t2}
    log("phases: " + ", ".join(f"{k} {v:.1f}" for k, v in phases.items()))

    m, info = end_to_end(result)
    units = result["units"]
    bad_units = [u for u in units if not u[2]]
    # a query whose output fails the oracle fails every unit that produced it;
    # the DAG's outputs are those of its last cycle
    failed_queries = sorted(q for q, ok in gate.items() if not ok)
    if a.workload == "curation":
        bad_units += [u for u in units if u[0] in failed_queries and u[2]]
    elif failed_queries and units:
        bad_units.append(units[-1])
    attempted = 1 + len(units)
    failed = len({id(u) for u in bad_units}) + (0 if result["first_unit"]["ok"] else 1)
    checks = {"oracle": not failed_queries, "units": not bad_units,
              "first_unit": result["first_unit"]["ok"]}
    correct = all(checks.values()) and failed == 0

    layers = result.get("layers", {})
    if "incremental.enriched_rows" in layers:
        layers["incremental.work_ratio"] = layers["incremental.enriched_rows"] / gen.SNAPSHOT_CHANGES
    detail = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "cores": cores, "inputs": os.path.relpath(inputs, ROOT), "phases": phases,
              "end_to_end": m, "samples": info, "fail_ratio": failed / attempted,
              "attempted": attempted, "failed": failed, "checks": checks, "oracle": gate,
              "first_unit": result["first_unit"],
              "units": units, "window_s": result["window_s"], "layers": layers,
              "env": result["env"], "session_s": result["session_s"]}
    for k in ("gen_lag_s", "backlog_end", "period_s"):
        if k in result:
            detail[k] = result[k]
    results_dir = os.path.join(WORK, "results")
    os.makedirs(results_dir, exist_ok=True)
    if a.trace:
        # tracing overhead: this traced run against the latest untraced run
        try:
            with open(os.path.join(results_dir, f"{a.workload}-latest-t0.json")) as fh:
                base = json.load(fh)["end_to_end"]["latency_p50_s"]
            detail["trace_overhead_s"] = m["latency_p50_s"] - base
        except (OSError, ValueError, KeyError):
            detail["trace_overhead_s"] = None
        if "spans_file" in result:
            shutil.copyfile(result["spans_file"],
                            os.path.join(results_dir, f"{a.workload}-s{a.seed}-spans.jsonl"))

    if a.isolate:
        seq = [u[1] for u in units if u[0] == a.isolate]
        iso = jvm(built, run_dir, {"mode": "isolate", "workload": a.workload, "data": inputs,
                                       "cores": cores, "only": a.isolate, "reps": ISOLATE_REPS},
                  timeout=RUN_BUDGET_S)
        iso_warm = iso["latencies_s"][1:] or iso["latencies_s"]
        ratio = statistics.median(seq) / statistics.median(iso_warm) if seq else float("nan")
        detail["isolation"] = {"unit": a.isolate, "in_sequence_s": seq,
                               "isolated_s": iso["latencies_s"], "ratio": ratio, "flag": ratio > 2}
        print(f"isolation {a.isolate}: in-sequence {fmt(statistics.median(seq)) if seq else '-'} s, "
              f"isolated {fmt(statistics.median(iso_warm))} s, ratio {fmt(ratio)}"
              f"{'  FLAG: more than 2x' if ratio > 2 else ''}")

    for name in (f"{a.workload}-s{a.seed}-t{a.trace}.json", f"{a.workload}-latest-t{a.trace}.json"):
        with open(os.path.join(results_dir, name), "w") as fh:
            json.dump(detail, fh, indent=1)
    shutil.rmtree(os.path.join(run_dir, "work"), ignore_errors=True)
    prune(os.path.join(WORK, "runs"), keep=8)

    print(f"workload {a.workload}  seed {a.seed}  window {fmt(result['window_s'])} s  "
          f"warm units {info['warm_units']}  tail = p{fmt(info['tail_percentile'])}  "
          f"oracle {sum(gate.values())}/{len(gate)} passed  correct {correct}")
    if a.trace:
        metrics = {k: (float(layers.get(k, 0.0)), u) for k, u in PER_LAYER}
        for k in sorted(layers):
            print(f"  {k} = {fmt(layers[k])}")
        overhead = detail["trace_overhead_s"]
        print(f"  trace_overhead_s = "
              f"{fmt(overhead) + ' s' if overhead is not None else 'n/a (no untraced run yet)'}")
    else:
        metrics = {k: (float(m[k]), u) for k, u in END_TO_END}
        for k, u in END_TO_END:
            print(f"  {k} = {fmt(m[k])} {u}")
        print(f"  fail_ratio = {fmt(failed / attempted)} ({failed}/{attempted})")
        for k, u in (("gen_lag_s", "s"), ("backlog_end", "count")):
            if k in result:
                print(f"  {k} = {fmt(result[k])} {u}")
    print(f"  details: {os.path.relpath(os.path.join(results_dir, f'{a.workload}-s{a.seed}-t{a.trace}.json'), ROOT)}")
    print(final_line(correct, attempted, failed, metrics))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
