#!/usr/bin/env python3
"""Benchmark of the traffic monitor and a fixed registry-query mix.

Usage (from the repository root):
  python3 streambench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
  python3 streambench/run.py --selftest

Workloads: traffic_paced, registry_mix (see README.md).
Builds the program and the benchmark from source (build.py), runs one
workload in a fresh JVM inside a run directory of its own, checks the
outputs, removes the run directory, and prints as its last stdout line one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1
its per-layer metrics. Exits 1 when a correctness gate fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

import build

BENCH = build.BENCH
ROOT = build.ROOT
RUNS = os.path.join(build.OUT, "runs")
TRACES = os.path.join(build.OUT, "traces")
LAST = os.path.join(build.OUT, "last")
JVM_TIMEOUT_S = 140
WORKLOADS = ["traffic_paced", "registry_mix"]
# registry_mix tables: the sf0.01 test fixture (the seed only orders the passes)
REGISTRY_DATA = os.path.join(BENCH, "data", "sf0.01")
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def java_cmd(classes, run_dir, main, args):
    # a fixed heap, touched before the workload starts: its pages are then
    # in place before any timing, rather than faulted in during it
    jvm = ["java", "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch", "-Xss8m", f"-Djava.io.tmpdir={run_dir}/tmp",
           f"-Dlog4j2.configurationFile={BENCH}/log4j2.properties"]
    for p in ADD_OPENS:
        jvm += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    return jvm + ["-cp", cp, main] + args


def run_jvm(cmd):
    """Run the JVM in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, stdout=sys.stderr, start_new_session=True)
    try:
        return p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(f"streambench: JVM exceeded {JVM_TIMEOUT_S} s")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def oracle_check(data_dir, oracle_dir, names):
    """The registry's DuckDB oracle comparison, tools/check.py, over the
    warm-up pass's results. Returns (ok, failing lines)."""
    check = os.path.join(ROOT, "tools", "check.py")
    p = subprocess.run([sys.executable, check, data_dir, oracle_dir] + names,
                       capture_output=True, text=True, timeout=30)
    sys.stderr.write(p.stdout + p.stderr)
    bad = [l for l in p.stdout.splitlines() if l.startswith("FAIL")]
    passed = sum(l.startswith("PASS") for l in p.stdout.splitlines())
    return p.returncode == 0 and passed == len(names), bad


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def selftest():
    classes = build.build()
    run_dir = os.path.join(RUNS, f"selftest-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        return run_jvm(java_cmd(classes, run_dir, "streambench.SelfTest", [run_dir]))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def fmt(metrics):
    return ", ".join(f"{k}={v['value']:.6g} {v['unit']}" for k, v in metrics.items()
                     if v["value"] is not None)


def main():
    # a terminated run still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if a.selftest:
        return selftest()
    if not a.workload:
        ap.error("--workload is required")
    bench = spec()

    classes = build.build()
    run_dir = os.path.join(RUNS, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        out = os.path.join(run_dir, "result.json")
        args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--run-dir", run_dir, "--data-dir", REGISTRY_DATA,
                "--trace-dir", TRACES, "--out", out]
        code = run_jvm(java_cmd(classes, run_dir, "streambench.Main", args))
        if code != 0 or not os.path.isfile(out):
            sys.exit(f"streambench: {a.workload} JVM exited with {code}")
        with open(out) as f:
            res = json.load(f)
        if a.workload == "registry_mix":
            oracle_dir = os.path.join(run_dir, "oracle")
            with open(os.path.join(oracle_dir, "oracle_sql.json")) as f:
                names = list(json.load(f))
            ok, bad = oracle_check(REGISTRY_DATA, oracle_dir, names)
            if not ok:
                res["correct"] = False
                res["notes"].append("oracle mismatch: " + "; ".join(bad))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    key = "per_layer" if a.trace else "end_to_end"
    names = [m["name"] for m in bench[key]]
    metrics = {n: res["metrics"][n] for n in names if n in res["metrics"]}
    missing = [n for n in names if n not in metrics or metrics[n]["value"] is None]
    if missing:
        res["correct"] = False
        res["notes"].append(f"metrics not measured: {missing}")

    summary = dict(res["summary"])
    os.makedirs(LAST, exist_ok=True)
    last = os.path.join(LAST, f"{a.workload}.json")
    if not a.trace:
        with open(last, "w") as f:
            json.dump(metrics, f)
    elif os.path.isfile(last):
        with open(last) as f:
            untraced = json.load(f)
        overhead = {k[len("traced."):]: v for k, v in summary.items() if k.startswith("traced.")}
        lines = []
        for k, v in overhead.items():
            if k in untraced and untraced[k]["value"]:
                rel = v["value"] / untraced[k]["value"] - 1.0
                lines.append(f"{k} {v['value']:.6g} vs {untraced[k]['value']:.6g} ({rel:+.1%})")
        print(f"trace overhead against the last untraced {a.workload} run: " + "; ".join(lines))
    for k in [k for k in summary if k.startswith("traced.")]:
        del summary[k]
    error_rate = res["failed"] / max(1, res["attempted"])
    print(f"{a.workload} seed={a.seed}: {fmt(summary)}, error_rate={error_rate:.4g}")
    if res["failures"]:
        print(f"failed operations: {', '.join(res['failures'])}")
    for n in res["notes"]:
        print(f"note: {n}")
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
