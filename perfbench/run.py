#!/usr/bin/env python3
"""Build the library with the benchmark harness and run one workload.

    python3 perfbench/run.py --workload pit_features --seed 1 --seconds 10 --trace 0

The last line of stdout is the result object
({"correct", "attempted", "failed", "metrics"}); progress and the
human-readable metric table go to stderr. `--workload all` runs every
workload in turn and prints one table with `fail_rate`. The exit code is
non-zero on a build failure, a crash, or any failed output check.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
LIB_SRC = os.path.join(REPO, "src", "main", "scala")
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "build.stamp")
WORK = os.path.join(TARGET, "work")
WORKLOADS = ["pit_features", "pit_incremental", "dedup_corpus"]
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [LIB_SRC, os.path.join(BENCH, "src")]
    files = [os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for root in roots:
        for d, _, names in os.walk(root):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read() == stamp:
                return
    log("building library + harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false", "writeClasspath"]
    proc = subprocess.Popen(cmd, cwd=BENCH, env=env, stdout=sys.stderr,
                            stderr=sys.stderr, start_new_session=True)
    code = wait(proc, BUILD_TIMEOUT_S)
    if code != 0 or not os.path.exists(CLASSPATH):
        raise SystemExit(f"build failed (exit {code})")
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def wait(proc, timeout):
    """Wait for a process group; kill all of it on timeout."""
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        log(f"timed out after {timeout} s")
        return 124
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise


def driver_heap():
    """Half of MemTotal in GiB, clamped to [2, 8] (the tier-1 formula)."""
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    g = int(int(line.split()[1]) / 2097152)
                    return f"{min(8, max(2, g))}g"
    except OSError:
        pass
    return "2g"


def run_one(workload, seed, seconds, trace):
    """Run one workload in a fresh JVM; returns (exit code, result)."""
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    result = os.path.join(WORK, "result.json")
    cpus = len(os.sched_getaffinity(0))
    heap = driver_heap()
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    cmd = (["java", f"-Xmx{heap}",
            "-XX:ReservedCodeCacheSize=1g",
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
            "-Dlog4j2.configurationFile=" +
            os.path.join(BENCH, "log4j2.properties")]
           + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", str(trace),
              "--cpus", str(cpus), "--work", WORK,
              "--docs", os.path.join(BENCH, "data", "documents.parquet"),
              "--result", result,
              "--trace-out", os.path.join(TARGET, "traces",
                                          f"{workload}-seed{seed}.jsonl")])
    log(f"{workload}: local[{cpus}], heap {heap}, seed {seed}, "
        f"{seconds} s, trace {trace}")
    try:
        proc = subprocess.Popen(cmd, cwd=REPO, stdout=sys.stderr,
                                stderr=sys.stderr, start_new_session=True)
        code = wait(proc, RUN_TIMEOUT_S)
        res = None
        if os.path.exists(result):
            with open(result) as fh:
                res = json.loads(fh.read())
        return code, res
    finally:
        shutil.rmtree(WORK, ignore_errors=True)


def main():
    # a terminated run.py must take its sbt or JVM process group with it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not os.path.isdir(LIB_SRC):
        raise SystemExit(f"library sources not found at {LIB_SRC}")
    build()

    if a.workload != "all":
        code, res = run_one(a.workload, a.seed, a.seconds, a.trace)
        if res is not None:
            print(json.dumps(res), flush=True)
        sys.exit(code if code != 0 else (0 if res else 1))

    # every workload, one table; the result object keys metrics by
    # "<workload>.<metric>"
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    worst = 0
    for w in WORKLOADS:
        code, res = run_one(w, a.seed, a.seconds, a.trace)
        worst = worst or code
        if res is None:
            merged["correct"] = False
            print(f"{w:<16} crashed (exit {code})", flush=True)
            continue
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        rate = res["failed"] / res["attempted"]
        print(f"{w:<16} {'fail_rate':<36} {rate:>14.4f} ratio", flush=True)
        for name, m in res["metrics"].items():
            print(f"{w:<16} {name:<36} {m['value']:>14.4f} {m['unit']}",
                  flush=True)
            merged["metrics"][f"{w}.{name}"] = m
    print(json.dumps(merged), flush=True)
    sys.exit(worst or (0 if merged["correct"] else 1))


if __name__ == "__main__":
    main()
