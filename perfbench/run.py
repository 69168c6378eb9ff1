"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: validate_bulk, validate_resumable, query_surface (see
perfbench/README.md). Run from anywhere inside a checkout; the first run
builds the program and the harness from source (build.py). The last line
of standard output is {"correct", "attempted", "failed", "metrics"}: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
Everything else (build output, Spark warnings, the input record, the host
readings, failed checks) goes to standard error, and the raw run record is
kept under <build root>/perfbench/runs/. Exits non-zero, printing no
result, when the build, the run or its time limit fails.

--record-digests rewrites perfbench/query_digests.json from this run's
query outputs (query_surface only); use it only on a commit whose outputs
are known to be right.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave nothing beside the sources
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import benchstats  # noqa: E402
import build  # noqa: E402

WORKLOADS = ("validate_bulk", "validate_resumable", "query_surface")
JVM_LIMIT_S = 170
# Spark on JDK 17 outside spark-submit needs these (as in build.sbt)
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar")
    for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-digests", action="store_true")
    a = ap.parse_args()

    try:
        classes, jars = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        log(f"build failed: {e}")
        return 2

    root = build.build_root()
    work = os.path.join(root, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    record_file = os.path.join(work, "record.json")
    # task threads: half the CPUs; the other half stays free for the thread
    # that plans, generates code and schedules, and for JIT and GC, whose
    # share would otherwise make the walls follow the compiler's progress
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    here = os.path.dirname(os.path.abspath(__file__))
    cmd = ([build.java()] + ADD_OPENS +
           # a fixed, pre-touched heap: the resident set then varies with
           # the program's off-heap use, not with G1's heap-sizing choices
           ["-Xms1g", "-Xmx1g", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
            "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(cores), "--work", work, "--out", record_file,
            "--data", os.path.join(here, "data", "sf0.001"),
            "--digests", os.path.join(here, "query_digests.json")] +
           (["--record-digests"] if a.record_digests else []))
    t0 = time.time()
    # fewer glibc malloc arenas: steadier off-heap resident set
    env = dict(os.environ, MALLOC_ARENA_MAX="2")
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                         cwd=work, env=env)
    try:
        rc = p.wait(timeout=JVM_LIMIT_S)
    except BaseException:
        p.kill()
        p.wait()
        log(f"run stopped after {time.time() - t0:.0f} s")
        shutil.rmtree(work, ignore_errors=True)
        return 3
    if rc != 0 or not os.path.exists(record_file):
        log(f"run exited {rc}")
        shutil.rmtree(work, ignore_errors=True)
        return 4

    with open(record_file) as f:
        rec = json.load(f)
    runs = os.path.join(root, "runs")
    os.makedirs(runs, exist_ok=True)
    shutil.copy(record_file, os.path.join(
        runs, f"{a.workload}-seed{a.seed}-trace{a.trace}-{int(t0)}.json"))
    shutil.rmtree(work, ignore_errors=True)

    log(f"input {json.dumps(rec['input'])}")
    log(f"host {json.dumps(rec['host'])}")
    for o in rec["ops"]:
        for f in o["failures"]:
            log(f"failed check: {f}")
    if a.trace:
        for k, why in benchstats.absent(rec).items():
            log(f"absent (reads 0): {k}: {why}")
    res = benchstats.result(rec, a.trace == 1)
    for k, m in res["metrics"].items():
        log(f"{k} = {m['value']:.6g} {m['unit']}")
    print(json.dumps(res), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
