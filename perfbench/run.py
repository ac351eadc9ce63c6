#!/usr/bin/env python3
"""Run one perfbench workload once and print its result as one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the benchmark
benchmark together with the program's sources (sbt, offline) and caches the
classpath under .bench_build/; later runs reuse it until a source file
changes. Each run generates its inputs from the seed (gen.py), drives the
program in one JVM with local[nproc] (perfbench.Main), checks the outputs
against computations made apart from the program (check.py), and prints
{"correct", "attempted", "failed", "metrics"} as the last stdout line:
the end-to-end metrics with --trace 0, the per-layer ones with --trace 1.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

BUILD_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
DEADLINE_S = 170
GEN_REPEATS = 3
JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_stamp():
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
              os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
              os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for top in inputs:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(top)
            if not any(p in ("target", "project/project") for p in
                       os.path.relpath(d, top).split(os.sep)) for f in files)
        for p in paths:
            if os.path.isfile(p) and "/target/" not in p:
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def build():
    """Classpath of the benchmark plus the program, built when sources changed."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    stamp_file = os.path.join(BUILD_DIR, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = os.environ.get(
        "SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    log = os.path.join(BUILD_DIR, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "-Dsbt.server.autostart=false",
                            "export perfbench/Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=850)
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    if r.returncode != 0 or not lines or ".jar" not in lines[-1]:
        fail(f"build failed (exit {r.returncode}); see {log}:\n" + "\n".join(lines[-20:]))
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def metric_names(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [(m["name"], m["unit"]) for m in spec["per_layer" if trace else "end_to_end"]]


# the per-layer metrics each workload measures
OWN = {
    "lake_mixed": ("lake.", "spark."),
    "stream_ingest": ("stream.", "spark."),
}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the work directory")
    a = ap.parse_args()
    started = time.monotonic()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no program sources next to the benchmark (looked in {ROOT})")
    classpath = build()

    work = os.path.join(WORK_ROOT, f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        # set-up, part 1: input generation, several times, keep the last
        gen_s = []
        for i in range(GEN_REPEATS):
            inputs = os.path.join(work, f"inputs{i}")
            t0 = time.perf_counter()
            gen.generate(a.workload, a.seed, inputs)
            gen_s.append(time.perf_counter() - t0)
            if i < GEN_REPEATS - 1:
                shutil.rmtree(inputs)

        cpus = len(os.sched_getaffinity(0))
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        cmd = (["java"] + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
               ["-Xmx3g", f"-Djava.io.tmpdir={tmp}",
                f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
                "-cp", classpath, "perfbench.Main",
                "--workload", a.workload, "--inputs", inputs, "--work", work,
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--cpus", str(cpus)])
        log = os.path.join(work, "jvm.log")
        budget = DEADLINE_S - (time.monotonic() - started)
        with open(log, "w") as out:
            try:
                r = subprocess.run(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                                   stdin=subprocess.DEVNULL, timeout=max(budget, 10))
            except subprocess.TimeoutExpired:
                fail(f"{a.workload} did not finish within {DEADLINE_S} s")
        if r.returncode != 0:
            with open(log) as f:
                tail = [l.rstrip() for l in f if "Exception" in l or "Error" in l or "at " not in l]
            fail(f"{a.workload} exited {r.returncode}:\n" + "\n".join(tail[-25:]))
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)

        problems = check.CHECKS[a.workload](inputs, work)
        for p in problems:
            print(f"perfbench: check failed: {p}", file=sys.stderr)

        setup = res["setup"]
        res["metrics"]["setup_s"] = (statistics.median(gen_s) + setup["session_s"] +
                                     setup.get("staging_s", 0.0))
        # every run prints every metric of its mode; a per-layer metric of
        # a layer this workload does not run reads 0
        wanted = metric_names(a.trace)
        own = [n for n, _ in wanted if not a.trace or n.startswith(OWN[a.workload])]
        missing = [n for n in own if n not in res["metrics"]]
        if missing:
            fail(f"{a.workload} did not report {', '.join(missing)}")
        info = dict(setup, gen_s=statistics.median(gen_s))
        print("perfbench: info " + json.dumps(info, sort_keys=True), file=sys.stderr)
        print(json.dumps({
            "correct": not problems,
            "attempted": int(res["attempted"]),
            "failed": int(res["failed"]),
            "metrics": {n: {"value": res["metrics"].get(n, 0.0), "unit": u}
                        for n, u in wanted},
        }))
    finally:
        if not a.keep:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
