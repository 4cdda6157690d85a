#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one closed-loop run.

    python3 perfbench/run.py --workload sync_daily --seed 1 --seconds 20 --trace 0

Run from the root of a graft checkout. The first call builds the
harness together with the program sources (sbt, offline); later calls
reuse the build while no source file changed. The JVM side
(graftbench.Main) runs the workload, checks its outputs and writes the
full record under perfbench/.work/results; this script prints the
summary as the last line of standard output:

    {"correct": true, "attempted": 5, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

WORKLOADS = ("sync_daily", "catalog")
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
MAX_CORES = 4

# The module openings Spark needs on JDK 17 outside spark-submit, as
# the program's own build.sbt passes them.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


def source_hash(root, bench):
    files = [os.path.join(d, f) for d in (root, bench)
             for f in ("build.sbt", os.path.join("project", "build.properties"))]
    for base in (os.path.join(bench, "src"), os.path.join(root, "src", "main")):
        files += glob.glob(os.path.join(base, "**", "*"), recursive=True)
    h = hashlib.sha256()
    for f in sorted(p for p in files if os.path.isfile(p)):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, bench, work):
    """Compile the harness and the program; return the runtime classpath.
    A rebuild also clears the records of earlier runs, which measured
    other code."""
    stamp = os.path.join(work, "build.stamp")
    cp_file = os.path.join(work, "classpath.txt")
    digest = source_hash(root, bench)
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as fh:
                    return fh.read().strip()
    log("building harness and program sources (sbt, offline)")
    shutil.rmtree(os.path.join(work, "results"), ignore_errors=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g"]))
    t0 = time.time()
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "perfbench/compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=bench, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    except FileNotFoundError:
        fail("sbt not found on PATH")
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    classpath = lines[-1].strip()
    if "graft-perfbench" not in classpath and "classes" not in classpath:
        sys.stderr.write(p.stdout[-4000:])
        fail("could not read the classpath from sbt")
    with open(cp_file, "w") as fh:
        fh.write(classpath)
    with open(stamp, "w") as fh:
        fh.write(digest)
    log(f"built in {time.time() - t0:.1f} s")
    return classpath


def driver_heap():
    """Heap size as the repo's tier-1 command sizes it: half of
    MemTotal in GiB, clamped to 2..8."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    g = int(int(line.split()[1]) / 2097152)
                    return f"{min(max(g, 2), 8)}g"
    except OSError:
        pass
    return "2g"


def run_jvm(args, classpath, work, tables):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cores = max(1, min(MAX_CORES, os.cpu_count() or 1))
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(cores)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = ["java", *opens, f"-Xmx{driver_heap()}",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={os.path.join(tmp, 'spark-local')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
           f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
           "-cp", classpath, "graftbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--tables", tables]
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True,
                            start_new_session=True)

    def killgroup():
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass

    def stop(signum, frame):
        killgroup()
        proc.wait()
        sys.exit(128 + signum)
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, stop)
    # a watchdog, since a hung JVM prints nothing that would wake us
    timed_out = threading.Event()

    def kill():
        timed_out.set()
        killgroup()
    watchdog = threading.Timer(RUN_TIMEOUT_S, kill)
    watchdog.start()
    result = None
    try:
        for line in proc.stdout:
            if line.startswith("GRAFTBENCH_RESULT "):
                result = json.loads(line[len("GRAFTBENCH_RESULT "):])
            else:
                sys.stderr.write(line)
        proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            killgroup()
            proc.wait()
    if timed_out.is_set():
        fail("run timed out", 1)
    if proc.returncode != 0 or result is None:
        fail(f"benchmark JVM exited with {proc.returncode}", 1)
    return result


def trace_overhead(record_path, workload, work):
    """Traced wall_s against the untraced runs of the same workload in
    this checkout since its last build; written into the traced record."""
    with open(record_path) as fh:
        record = json.load(fh)
    untraced = []
    for f in glob.glob(os.path.join(work, "results", f"{workload}-seed*-trace0.json")):
        with open(f) as fh:
            untraced.append(json.load(fh)["end_to_end"]["wall_s"])
    traced = record["end_to_end"]["wall_s"]
    record["trace_overhead"] = {
        "traced_wall_s": traced,
        "untraced_wall_s_median": statistics.median(untraced) if untraced else None,
        "untraced_runs": len(untraced),
        "overhead": (traced / statistics.median(untraced) - 1) if untraced else None,
    }
    with open(record_path, "w") as fh:
        json.dump(record, fh)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    root = os.getcwd()
    bench = os.path.join(root, "perfbench")
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("no graft program sources under src/main/scala: run from the "
             "root of a graft checkout")
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    work = os.path.join(bench, ".work")
    os.makedirs(work, exist_ok=True)
    classpath = build(root, bench, work)
    result = run_jvm(args, classpath, work, os.path.join(bench, "tables"))
    record = result["record"]
    if args.trace:
        trace_overhead(record, args.workload, work)
    log(f"full record: {os.path.relpath(record, root)}")
    # A per-layer metric is 0 on a workload that does not run its layer;
    # an end-to-end metric must always be measured.
    section = "per_layer" if args.trace else "end_to_end"
    metrics = {}
    for m in spec[section]:
        value = result[section].get(m["name"])
        if value is None and not args.trace:
            fail(f"the run did not measure {m['name']}", 1)
        metrics[m["name"]] = {"value": value or 0.0, "unit": m["unit"]}
    print(json.dumps({"correct": result["correct"],
                      "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
