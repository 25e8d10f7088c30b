#!/usr/bin/env python3
"""Runs one workload of the benchmark and prints its result as the last line.

Usage (from the repository root):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness (perfbench/build.py) into .bench_build/,
generates the inputs, runs the harness in one JVM with local[N] (N is
SPARK_GRAFT_CPUS capped at nproc), and prints
{"correct", "attempted", "failed", "metrics"} as JSON: the end-to-end
metrics of BENCHMARK.json with --trace 0, its per-layer metrics with
--trace 1. Every run works in its own directory under .bench_build/ and
deletes it at exit; a traced run keeps its spans in .bench_build/traces/.
Exits non-zero when an output check fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402
import gendata  # noqa: E402

JVM_TIMEOUT_S = 165
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def child_env(scratch):
    """The caller's environment minus every graft tuning knob, so a stray
    SPARK_GRAFT_* or GRAFT_* variable cannot change a measurement."""
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and not k.startswith("GRAFT_")}
    env["GRAFT_SCRATCH_DIR"] = scratch
    return env


def cores():
    n = os.cpu_count() or 1
    want = os.environ.get("SPARK_GRAFT_CPUS", "")
    return max(1, min(int(want), n)) if want.isdigit() else n


def run_jvm(cmd, env, cwd, log_path):
    """Runs the harness; returns (exit status, output lines)."""
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=cwd,
                                start_new_session=True)
        timer = threading.Timer(JVM_TIMEOUT_S, lambda: os.killpg(proc.pid, signal.SIGKILL))
        timer.start()
        try:
            status = proc.wait()
        except BaseException:
            # interrupted: stop the harness and wait for it before leaving
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
        finally:
            timer.cancel()
    with open(log_path) as f:
        lines = f.read().splitlines()
    return status, lines


def main():
    # a terminated run unwinds like an interrupted one: harness killed, work dir removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        sys.exit(f"unknown workload {args.workload}")
    out_dir = os.path.join(root, ".bench_build")
    try:
        classes = build.build(root, out_dir)
    except Exception as e:  # noqa: BLE001 - any build failure ends the run
        sys.exit(f"build failed: {e}")

    # the registry tables do not depend on the seed: generated once per
    # checkout, before the set-up clock starts
    data = os.path.join(out_dir, "data")
    if args.workload == "registry":
        with open(gendata.__file__, "rb") as f:
            version = hashlib.sha256(f.read()).hexdigest()
        marker = os.path.join(out_dir, "data.stamp")
        if not os.path.exists(marker) or open(marker).read() != version:
            shutil.rmtree(data, ignore_errors=True)
            gendata.generate(data)
            with open(marker, "w") as f:
                f.write(version)

    t0 = time.time()
    work = tempfile.mkdtemp(prefix="run-", dir=out_dir)
    try:
        traces = os.path.join(out_dir, "traces")
        os.makedirs(traces, exist_ok=True)
        os.makedirs(os.path.join(work, "tmp"))
        cp = os.pathsep.join([classes, os.path.join(root, "src/main/resources"),
                              os.path.join(build.spark_jars(root), "*")])
        cmd = (["java", "-XX:-UsePerfData", "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp"]
               + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
               + ["-cp", cp, "perfbench.Main",
                  "--workload", args.workload, "--seed", str(args.seed),
                  "--seconds", str(args.seconds), "--trace", str(args.trace),
                  "--cores", str(cores()), "--data", data, "--work", work,
                  "--expected", os.path.join(HERE, "expected.tsv"),
                  "--queries", os.path.join(HERE, "queries.sql"),
                  "--trace-out", os.path.join(traces, f"{args.workload}-seed{args.seed}.jsonl")])
        status, lines = run_jvm(cmd, child_env(os.path.join(work, "scratch")), work,
                                        os.path.join(work, "harness.log"))
        result = next((json.loads(l[len("RESULT "):]) for l in reversed(lines)
                       if l.startswith("RESULT ")), None)
        if status != 0 or result is None:
            sys.stderr.write("\n".join(lines[-60:]) + "\n")
            sys.exit(f"harness exited with status {status} and no result")
        for line in lines:
            if line.startswith("perfbench "):
                print(line)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    measured = dict(result["metrics"])
    measured["setup_s"] = measured["session_up_epoch_s"] - t0 + measured["prep_s"]
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics, absent = {}, []
    for m in wanted:
        value = measured.get(m["name"])
        if value is None and args.trace:
            # a layer this workload does not exercise
            absent.append(m["name"])
            value = 0.0
        if value is None:
            sys.exit(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    if absent:
        print("perfbench not_exercised " + " ".join(absent))
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
