#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload headline --seed 1 --seconds 20 --trace 0

Builds the engine and the benchmark from source (perfbench/build.py),
runs one workload in one JVM with one closed-loop client thread, checks
every operation's output, and prints two JSON lines: a report with the
workload's named metrics, host and posture, then the result line
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are BENCHMARK.json's end_to_end metrics; with --trace 1 they are
its per_layer metrics, and the run's spans are written under
.bench_build/traces/. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

# headline runs by name but is not in BENCHMARK.json (see README.md)
WORKLOADS = ("headline", "pretrain", "ann_store")
HEAP = "4g"  # fixed, so both sides of a comparison run the same heap
DEADLINE_S = 175.0  # the run must end within 180 s of its start


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def jvm_options(work):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]
    opts = [f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in opens:
        opts += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return opts


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    data = os.path.join(root, "perfbench", "data", "sf0.1")
    expected = os.path.join(root, "perfbench", "expected")
    for p in (spec_path, data, expected, os.path.join(root, "src", "main", "scala")):
        if not os.path.exists(p):
            fail(f"{os.path.relpath(p, root)} is missing; run from the repository root")
    with open(spec_path) as fh:
        spec = json.load(fh)

    classes = os.path.abspath(build.build())
    start = time.monotonic()  # the run's own clock starts after the build

    work = os.path.join(root, ".bench_build", "run", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d))
    result_path = os.path.join(work, "result.json")
    spans = os.path.join(root, ".bench_build", "traces",
                         f"{a.workload}-seed{a.seed}.jsonl")

    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
    cmd = (["java"] + jvm_options(work) + ["-cp", cp, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--data", data, "--expected", expected, "--work", work,
           "--result", result_path, "--spans", spans])
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, DEADLINE_S - (time.monotonic() - start)))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = None
    if rc != 0 or not os.path.exists(result_path):
        with open(log_path, errors="replace") as fh:
            tail = fh.read()[-4000:]
        sys.stderr.write(tail)
        fail("the benchmark JVM timed out" if rc is None
             else f"the benchmark JVM exited {rc} without a result")
    with open(result_path) as fh:
        res = json.load(fh)
    for d in ("tmp", "local", "ann", "pretrain"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    source = res["layers"] if a.trace else res["e2e"]
    metrics = {}
    for m in wanted:
        got = source.get(m["name"])
        if got is None or got["unit"] != m["unit"] or got["value"] is None:
            fail(f"workload {a.workload} did not report {m['name']} in {m['unit']}")
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}

    print(json.dumps({"report": {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "metrics": res["report"], "problems": res["problems"],
        # every layer metric, also those BENCHMARK.json does not list
        "layers": res["layers"] if a.trace else {},
        "details": res["details"], "host": res["host"],
        "heap": HEAP}}))
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
