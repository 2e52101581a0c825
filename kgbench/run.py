"""Run one benchmark workload in a fresh JVM and print its result.

    python3 kgbench/run.py --workload markup|linked --seed N --seconds S --trace 0|1

Builds the program from source if needed (kgbench/build.py), starts one
JVM with Spark as local[n] (n = nproc, at most 4; the JVM sees the same
processor count) and a fixed heap sized from MemTotal, runs the workload
(kgbench/src/KgBench.scala), verifies its outputs with kgbench/check.py,
deletes its working directory, and prints one JSON line last:

    {"correct": true, "attempted": 80, "failed": 0, "metrics": {...}}

--trace 0 reports the end-to-end metrics; --trace 1 runs the traced mode
and reports the per-layer metrics.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import duckdb

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import build  # noqa: E402
import check  # noqa: E402
import corpus  # noqa: E402

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
JVM_TIMEOUT_S = 165


def cores():
    return max(1, min(len(os.sched_getaffinity(0)), 4))


def heap_mb():
    """A fifth of MemTotal, between 2 and 4 GiB."""
    total_kb = 8 << 20
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                total_kb = int(line.split()[1])
    return max(2048, min(4096, total_kb // 5 // 1024))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["markup", "linked"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    classes = build.build()
    work = os.path.join(REPO, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    n = cores()
    heap = heap_mb()
    try:
        gen_s = generate(a.workload, a.seed, work, n)
        run(a, work, classes, n, heap, gen_s)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        base = os.path.join(REPO, ".bench_work")
        if os.path.isdir(base) and not os.listdir(base):
            os.rmdir(base)


def generate(workload, seed, work, n):
    """Generate the inputs three times over; keep the last; return the median time."""
    times = []
    for i in range(3):
        out = os.path.join(work, "inputs")
        shutil.rmtree(out, ignore_errors=True)
        t = time.perf_counter()
        con = duckdb.connect()
        con.execute(f"SET threads = {n}")
        con.execute(f"SET temp_directory = '{os.path.join(work, 'tmp')}'")
        corpus.generate(con, workload, seed, out)
        con.close()
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def run(a, work, classes, n, heap, gen_s):
    t0_ms = int(time.time() * 1000)
    cmd = (["java", f"-Xms{heap}m", f"-Xmx{heap}m", f"-XX:ActiveProcessorCount={n}",
            "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
           + ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
              "kgbench.KgBench", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--inputs", os.path.join(work, "inputs"), "--work", work, "--t0-ms", str(t0_ms),
              "--gen-s", repr(gen_s), "--cores", str(n)])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
               SPARK_GRAFT_CPUS=str(n))
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=work)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = "timeout"
    if code != 0:
        sys.stderr.write(open(os.path.join(work, "jvm.log")).read()[-6000:])
        raise SystemExit(f"kgbench: JVM exited with {code}")
    sys.stderr.write(f"[kgbench] JVM done after {time.time() - t0_ms / 1000:.1f} s\n")
    res = json.load(open(os.path.join(work, "result.json")))
    t = time.time()
    failures = check.check(res["check"], a.workload, a.seed, work)
    sys.stderr.write(f"[kgbench] checked in {time.time() - t:.1f} s\n")
    for f in failures:
        sys.stderr.write(f"[kgbench] check failed: {f}\n")
    d = res["detail"]
    sys.stderr.write(f"[kgbench] {a.workload} seed={a.seed} rounds={d['rounds']} "
                     f"build_s=[{d['build_s']}] fold_s=[{d['fold_s']}] "
                     f"round_s=[{d['round_s']}] gen={d['gen_s']:.2f} "
                     f"session={d['session_s']:.2f} seed={d['seed_s']:.2f} "
                     f"warmup={d['warmup_s']:.2f}\n")
    if a.trace:
        sys.stderr.write("[kgbench] end-to-end under tracing: "
                         + json.dumps(res["end_to_end"]) + "\n")
    metrics = res["per_layer"] if a.trace else res["end_to_end"]
    print(json.dumps({"correct": not failures, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
