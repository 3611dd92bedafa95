#!/usr/bin/env python3
"""Culvert commit-path benchmark: one run of one workload.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 9 --trace 0

Builds the engine and the benchmark from source (once per source
state; the build is cached under perfbench/.work/build), runs the
workload in one JVM at local[4], checks its outputs, and prints the
metric record as the last line of standard output. `--trace 1` makes a
separate traced run: it prints the per-layer metrics, writes the span
file under perfbench/.work/spans and reports the tracing overhead
against the untraced runs recorded in this checkout.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import metrics  # noqa: E402

WORKLOADS = ("ingest", "curated_ingest")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(1)


def source_key():
    """Hash of every file the build reads."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"),
              os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        inputs += sorted(glob.glob(os.path.join(base, "**", "*"), recursive=True))
    for path in inputs:
        if os.path.isfile(path):
            h.update(os.path.relpath(path, ROOT).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + benchmark with sbt and return the runtime
    classpath; reuse the last build while the sources are unchanged."""
    for needed in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, needed)):
            fail("engine sources not found next to the benchmark (%s)" % needed)
    out = os.path.join(WORK, "build")
    os.makedirs(out, exist_ok=True)
    key = source_key()
    key_file, cp_file = os.path.join(out, "key"), os.path.join(out, "classpath")
    if os.path.exists(key_file) and os.path.exists(cp_file):
        with open(key_file) as f:
            if f.read() == key:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           "-Dsbt.repository.config=%s -Xmx2g" % repos)
    log = os.path.join(out, "sbt.log")
    with open(log, "w") as lf:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=lf,
            stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
        lf.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "[" in lines[-1]:
        fail("build failed, see " + log)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(key_file, "w") as f:
        f.write(key)
    return cp


def steal_ticks():
    """Clock ticks the hypervisor gave to other guests (Linux only)."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return -1


def run_jvm(cp, args, run_dir):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    raw_file = os.path.join(run_dir, "raw.json")
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = tmp
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", run_dir, "--out", raw_file,
            "--digests", os.path.join(HERE, "digests.json")]
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=lf,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                             start_new_session=True)
        try:
            code = p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail("run exceeded %d s, see %s" % (RUN_TIMEOUT_S, log))
    if code != 0 or not os.path.exists(raw_file):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail("run failed with exit code %d, see %s" % (code, log))
    with open(raw_file) as f:
        return json.load(f)


def save(kind, name, obj):
    d = os.path.join(WORK, kind)
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, name + ".json"), "w") as f:
        json.dump(obj, f, indent=1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cp = build()
    run_id = "%s-s%d-t%d-%d" % (args.workload, args.seed, args.trace, time.time_ns())
    runs = os.path.join(WORK, "runs")
    shutil.rmtree(runs, ignore_errors=True)  # tables of earlier runs
    run_dir = os.path.join(runs, run_id)
    os.makedirs(run_dir)
    steal0 = steal_ticks()
    raw = run_jvm(cp, args, run_dir)
    steal = steal_ticks() - steal0 if steal0 >= 0 else -1

    rec = metrics.record(raw, args.trace == 1)
    e2e = metrics.end_to_end(raw)
    pct, _ = metrics.tail([c["ms"] for c in raw["commits"]])
    print("commit_ms_tail is p%d of %d commits" % (pct, len(raw["commits"])))
    print("error_rate %.4g (%d failed of %d attempted)"
          % (metrics.error_rate(raw["attempted"], raw["failed"]), raw["failed"], raw["attempted"]))
    for c in raw["checks"]:
        if not c["ok"]:
            print("check failed: %s: %s" % (c["name"], c["detail"]))
    if args.trace:
        past = []
        for path in glob.glob(os.path.join(WORK, "records", args.workload + "-*-t0-*.json")):
            with open(path) as f:
                past.append(json.load(f))
        over = metrics.overhead(e2e, past)
        for name, o in over.items():
            print("tracing overhead %s: traced %.4g vs untraced median %.4g of %d runs (%+.1f%%)"
                  % (name, o["traced"], o["untraced_median"], o["runs"], 100 * o["share"]))
        if not over:
            print("tracing overhead: no untraced run of %s recorded in this checkout" % args.workload)
        save("spans", run_id, {
            "run_id": run_id, "spans": raw["spans"], "jobs": raw["jobs"],
            "self_ms": metrics.self_time_report(raw), "overhead": over,
            "per_layer": rec["metrics"]})
    else:
        samples = {k: raw[k] for k in ("setup_ms", "commits", "commit_loop_ms",
                                       "heap_after_gc_mb")}
        samples["steal_ticks"] = steal
        save("records", run_id, dict(rec, samples=samples))
    print(metrics.dumps(rec))


if __name__ == "__main__":
    main()
