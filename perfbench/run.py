#!/usr/bin/env python3
"""Benchmark of the daily POS ingest (graft.etl.DailyIngest).

Run from the repository root:

    python3 perfbench/run.py --workload ingest_daily --seed 7 --seconds 30 --trace 0

The first call builds the program and the benchmark with sbt (offline) and
caches the classpath under .bench_build/; later calls reuse it until a
source or build file changes. Each call runs one workload in a fresh JVM,
checks every operation's outputs, and prints one JSON result as the last
line of stdout: end-to-end metrics with --trace 0, per-layer metrics with
--trace 1. It exits 1 when an operation failed its check and 2 when it
could not run at all.
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402

WORKLOADS = ("ingest_backfill", "ingest_daily")
BUILD_TIMEOUT_S = 850
RUN_DEADLINE_S = 170
HEAP = "3g"
SETUP_SAMPLES = 3
# As build.sbt passes them: Spark on JDK 17 outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    """Digest of every file the build reads, so a changed program rebuilds."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project", "src/main", "perfbench/build.sbt", "perfbench/project",
            "perfbench/src"]
    for top in tops:
        path = os.path.join(root, top)
        files = [path] if os.path.isfile(path) else [
            os.path.join(d, f) for d, dirs, fs in os.walk(path)
            for f in fs if "target" not in os.path.relpath(d, root).split(os.sep)]
        for f in sorted(files):
            if f.endswith((".scala", ".sbt", ".properties", ".java")):
                h.update(os.path.relpath(f, root).encode())
                with open(f, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def build(root, cache):
    cp_file = os.path.join(cache, f"classpath-{source_stamp(root)}.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            cp = fh.read().strip()
        # a clean of either build leaves a stale classpath behind: rebuild
        if all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(cache, "build.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=os.path.join(root, "perfbench"), env=env, stdout=out, stderr=subprocess.STDOUT,
            start_new_session=True)
        code = wait(proc, BUILD_TIMEOUT_S)
    with open(log) as fh:
        lines = fh.read().splitlines()
    cp = next((l for l in reversed(lines) if "perfbench" in l and os.pathsep in l
               and not l.startswith("[")), None)
    if code != 0 or cp is None:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        die(f"build failed (exit {code}); log in {log}")
    tmp = cp_file + f".{os.getpid()}"
    with open(tmp, "w") as fh:
        fh.write(cp)
    os.replace(tmp, cp_file)
    return cp


def wait(proc, timeout):
    """Wait for proc; on timeout (or if this process is being stopped) kill
    its whole process group and reap it. Returns None on timeout."""
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def java(cp, run_dir, args, timeout):
    """Run perfbench.Main with `args` in a JVM whose temp files stay in
    run_dir; returns (exit code or None on timeout, last lines of its log)."""
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Duser.timezone=UTC",
              f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
              "-cp", cp, "perfbench.Main"] + args)
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        code = wait(proc, timeout)
    with open(log_path, errors="replace") as fh:
        return code, fh.read().splitlines()[-40:]


def cpu_ticks():
    """(steal, total) CPU ticks of the host so far, or None off Linux."""
    try:
        with open("/proc/stat") as fh:
            ticks = [int(x) for x in fh.readline().split()[1:]]
        return ticks[7], sum(ticks)
    except (OSError, IndexError, ValueError):
        return None


def steal_frac(a, b):
    """Share of CPU time the hypervisor gave to other guests during the run."""
    if a is None or b is None or b[1] == a[1]:
        return None
    return (b[0] - a[0]) / (b[1] - a[1])


def cores():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def metric_json(values):
    return {k: {"value": v, "unit": u} for k, (v, u, _) in values.items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    # stopped from outside: unwind, so child JVMs are killed and files removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        die("run from the repository root: build.sbt or src/main/scala is missing")
    cache = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(cache, exist_ok=True)
    cp = build(root, cache)
    start = time.monotonic()  # the run's own deadline starts after any build

    run_dir = os.path.join(cache, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    report_path = os.path.join(run_dir, "report.json")

    def jvm(mode):
        """One benchmark JVM in `mode`; returns its report."""
        if os.path.exists(report_path):
            os.remove(report_path)
        code, tail = java(cp, run_dir, [
            "--mode", mode, "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--root", os.path.join(run_dir, "data"), "--out", report_path,
            "--cores", str(cores())], max(10.0, RUN_DEADLINE_S - (time.monotonic() - start)))
        if code != 0 or not os.path.exists(report_path):
            sys.stderr.write("\n".join(tail) + "\n")
            die(f"benchmark JVM ({mode}) " + ("timed out" if code is None else f"exited {code}"))
        with open(report_path) as fh:
            return json.load(fh)

    steal0 = cpu_ticks()
    try:
        # set-up is timed in separate cold JVMs too; the run's own is the last sample
        setups = [jvm("setup")["setup_s"] for _ in range(SETUP_SAMPLES - 1)]
        report = jvm("run")
        report["setup_s"] = setups + [report["setup_s"]]
        if a.trace:
            shutil.copy(report_path, os.path.join(cache, f"last-{a.workload}-trace.json"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    steal1 = cpu_ticks()
    attempted, failed = stats.failures(report["ops"])
    metrics = stats.per_layer(report) if a.trace else stats.end_to_end(report)
    extra = {} if a.trace else stats.unbounded(report)
    info = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "config": report["config"],
        "fail_frac": failed / attempted,
        "steal_frac": steal_frac(steal0, steal1),
        "unbounded": metric_json(extra),
        "op_p90_s": "reported" if "op_p90_s" in extra else
        f"not reported: needs >= {10 * stats.MIN_BEYOND} operations, run had {attempted}",
        "samples": {k: n for k, (_, _, n) in {**metrics, **extra}.items()},
        "op_latencies_s": [round(o["latency_s"], 3) for o in report["ops"]],
        "setup_samples_s": report["setup_s"],
        "errors": [o["error"] for o in report["ops"] if not o["ok"]][:5],
    }
    print(json.dumps(info, sort_keys=True))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metric_json(metrics)}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
