#!/usr/bin/env python3
"""graft's benchmark: one command runs one workload and prints its metrics.

    python3 perfbench/run.py --workload ingest|corpus --seed N \\
        --seconds S --trace 0|1

Run from the root of a graft checkout. The first run builds graft and
the benchmark JVM from source (sbt, offline) into .bench_build/. Each run
generates its inputs from the seed, starts one JVM at local[nproc], runs
the workload with one client thread, checks every output after the JVM
exits, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics; with --trace 1 they
are the per-layer metrics of a traced run, which is paired with an untraced
run of the same seed, made first, for the tracing overhead (see
METRICS.md). Every run's
full record (host context, spans, checks, ground truth) stays under
.bench_build/results/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import checks
import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
RUN_BUDGET_S = 172  # an invocation ends within this, build excluded
HEAP = "1536m"  # fixed, so peak RSS tracks native memory, not heap sizing
WORKLOADS = ("ingest", "corpus")
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

END_TO_END = {"setup_s": "s", "wall_s": "s", "op_p50_ms": "ms", "peak_rss_mb": "MB"}
STATS = {"wall_s": "s", "jobs": "count", "executor_cpu_s": "s", "shuffle_bytes": "bytes",
         "spill_bytes": "bytes", "driver_gap_s": "s"}
SITES = ([f"streaming.BronzePipeline.{m}" for m in ("curatedIngest", "runOnceToTable", "martRunOnceToTable")]
         + ["sources.ManifestTable.readRange"]
         + [f"operators.TextOps.{m}" for m in (
             "signalBundle", "dedupComponentsOn", "keepBestOn", "dupCardOn", "bpeLearn",
             "bpeFertility", "bpeEncodeFrozen", "writeImpactIndex", "impactSearchServe",
             "impactIndexAppend")])
PER_LAYER = dict(
    [(f"{site}.{stat}", unit) for site in SITES for stat, unit in STATS.items()]
    + [(f"streaming.batch.{p}_ms", "ms") for p in ("addBatch", "queryPlanning", "walCommit", "latestOffset")]
    + [("streaming.BronzePipeline.curatedIngest.late_over_early", "ratio"),
       ("streaming.gate.arrived_rows", "count"), ("streaming.gate.landed_rows", "count"),
       ("streaming.gold.rows_lost", "count")]
    + [(f"sources.bytes_written.{s}", "bytes") for s in ("bronze", "meta", "fps", "silver", "gold", "checkpoint")]
    + [("sources.files_written", "count"), ("sources.stored_bytes_per_input_byte", "ratio"),
       ("operators.TextOps.impactSearchServe.input_bytes", "bytes"),
       ("CacheHygiene.live_rdds", "count"), ("CacheHygiene.storage_bytes", "bytes"),
       ("jvm.gc_s", "s"), ("trace.overhead_ratio", "ratio")])


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def run_group(cmd, cwd, log_file, timeout, env=None):
    """Run `cmd` in its own process group, stdout captured and stderr to
    `log_file`; on timeout kill the whole group (sbt and the JVM it
    forks) and wait for it. Returns (exit code or None, stdout)."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE, stderr=log_file,
                            stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=timeout)
        return proc.returncode, stdout
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        return None, ""


def cpu_ticks():
    """The host's aggregate CPU tick counters (/proc/stat); field 7 is steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def sources_stamp():
    """Hash of everything the JVM classpath is compiled from."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def spark_jars():
    """The Spark installation's jars/: $SPARK_HOME, else where spark-submit is."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found: set SPARK_HOME")
    return os.path.join(home, "jars")


def build():
    """Compile graft plus the benchmark's own code once per source state
    and return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"{ROOT} is not a graft checkout (no build.sbt / src/main/scala/graft)")
    stamp_file, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    stamp = sources_stamp()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp and os.path.exists(cp_file):
        return open(cp_file).read()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.repository.config="
                   + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g")
    log("building graft and the benchmark (sbt, offline)")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as lf:
        code, stdout = run_group(["sbt", "--batch", "-Dsbt.server.autostart=false",
                                  f"-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData",
                                  f"-Dgraft.sparkJars={spark_jars()}",
                                  "export Runtime/fullClasspath"], HERE, lf, 850, env)
        lf.write(stdout)
    lines = [l for l in stdout.splitlines() if ".bench_build" in l and ":" in l]
    if code != 0 or not lines:
        fail(f"build failed (exit {code}); see {BUILD}/build.log")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f}s")
    return lines[-1].strip()


def pct(xs, p):
    s = sorted(xs)
    r = p * (len(s) - 1)
    lo = int(r)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (r - lo)


def run_once(cp, workload, seed, seconds, trace, deadline):
    """One JVM run plus its checks, killed at `deadline` (time.time());
    returns the full record."""
    run_id = f"{workload}-seed{seed}-trace{trace}-{int(time.time() * 1000)}"
    out = os.path.join(BUILD, "results", run_id)
    work = os.path.join(BUILD, "work", run_id)
    inputs = os.path.join(work, "inputs")
    os.makedirs(out)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        getattr(gen, f"gen_{workload}")(seed, inputs, os.path.join(out, "truth.json"))
        with open(os.path.join(out, "truth.json")) as f:
            truth = json.load(f)
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
        cmd = ([java, f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp"]
               + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
               + ["-cp", cp, "graft.perfbench.Main", "--workload", workload, "--seed", str(seed),
                  "--seconds", str(seconds), "--trace", str(trace), "--inputs", inputs,
                  "--work", work, "--out", out])
        cpu0 = cpu_ticks()
        timeout = deadline - time.time()
        with open(os.path.join(out, "jvm.log"), "w") as lf:
            code, _ = run_group(cmd, work, lf, timeout)
        cpu1 = cpu_ticks()
        if code is None:
            fail(f"{workload} JVM exceeded {timeout:.0f}s; see {out}/jvm.log")
        if code != 0:
            with open(os.path.join(out, "jvm.log")) as f:
                tail = f.read()[-3000:]
            fail(f"{workload} JVM exited {code}; log tail:\n{tail}")
        with open(os.path.join(out, "jvm_result.json")) as f:
            r = json.load(f)
        r["checks"] = [{"check": n, "ok": ok, "detail": d}
                       for n, ok, d in checks.CHECKS[workload](r["facts"], truth)]
        bad = [c for c in r["checks"] if not c["ok"]]
        for c in bad:
            log(f"check failed: {c['check']}: {c['detail']}")
        r["attempted"] += len(r["checks"])
        r["failed"] += len(bad)
        ops = [s * 1e3 for s in r["op_s"]]
        r["end_to_end"] = {"setup_s": r["setup_s"], "wall_s": r["wall_s"],
                           "op_p50_ms": pct(ops, 0.5), "peak_rss_mb": r["peak_rss_mb"]}
        wm = r["workload_metrics"]
        if workload == "ingest":
            wm["drain_p50_s"] = r["end_to_end"]["op_p50_ms"] / 1e3
            lost = checks.gold_rows_lost(r["facts"], truth)
            wm["gold_rows_lost"] = lost
            r["per_layer"]["streaming.gold.rows_lost"] = lost
        else:
            wm["serve_p50_ms"] = r["end_to_end"]["op_p50_ms"]
            wm["serve_p90_ms"] = pct(ops, 0.9)
            wm["append_p50_ms"] = pct([s * 1e3 for s in r["write_s"]], 0.5)
        wm["failed_frac"] = r["failed"] / r["attempted"]
        r["samples"] = len(ops)
        total = sum(cpu1) - sum(cpu0)
        r["host"]["steal_frac"] = (cpu1[7] - cpu0[7]) / total if total else 0.0
        with open(os.path.join(out, "result.json"), "w") as f:
            json.dump(r, f, indent=1)
        return r
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    cp = build()
    deadline = time.time() + RUN_BUDGET_S
    # a traced run is paired with an untraced run of the same seed and
    # build, made first, for the tracing overhead
    base = run_once(cp, a.workload, a.seed, a.seconds, 0, deadline) if a.trace else None
    r = run_once(cp, a.workload, a.seed, a.seconds, a.trace, deadline)
    attempted, failed = r["attempted"], r["failed"]
    if base:
        attempted += base["attempted"]
        failed += base["failed"]
    h = r["host"]
    log(f"{a.workload} seed={a.seed} nproc={h['nproc']} load1={h['load1_start']:.2f}->"
        f"{h['load1_end']:.2f} steal={h['steal_frac']:.3f} canary={h['canary_s']:.3f}s samples={r['samples']} "
        f"workload={json.dumps(r['workload_metrics'])}")
    if a.trace:
        layer = {k: r["per_layer"].get(k, 0.0) for k in PER_LAYER}
        layer["trace.overhead_ratio"] = r["wall_s"] / base["wall_s"]
        metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in layer.items()}
    else:
        metrics = {k: {"value": r["end_to_end"][k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
