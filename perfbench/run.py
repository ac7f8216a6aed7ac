#!/usr/bin/env python3
"""Runs one benchmark workload of the graft engine and prints its result.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --overhead

Run it from the repository root. It builds the engine and the benchmark
(perfbench/build.py), runs the workload in one JVM on Spark local[n]
with n = min(4, nproc), checks every output against its model, and
prints as its last line one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`. The metrics are the `end_to_end`
list of BENCHMARK.json with `--trace 0` and its `per_layer` list with
`--trace 1`. The line before it is a report with the run's context
(nproc, calib_ms, loadavg, data directory, heap) and, when traced, the
per-layer rollup. `--overhead` runs the workload untraced and traced
and prints the traced minus the untraced end-to-end numbers.

Data, Spark scratch and spans go to .bench_work/<workload>/ under the
current directory. The exit code is 0 only when every operation
succeeded and every output matched its model.
"""
import argparse
import json
import os
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402

WORKLOADS = ["ingest_stream", "maintain_cycle"]
JVM_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def run_jvm(classes, workload, seed, seconds, trace):
    """Runs the workload JVM; returns (exit code, result dict or None)."""
    work = os.path.abspath(os.path.join(".bench_work", workload))
    subprocess.run(["rm", "-rf", work], check=True)
    os.makedirs(os.path.join(work, "tmp"))
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", "--workload", workload,
            "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--work", work]
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"run: workload JVM exceeded {JVM_TIMEOUT_S} s", file=sys.stderr)
        return 124, None
    path = os.path.join(work, "result.json")
    if not os.path.isfile(path):
        return code or 2, None
    with open(path) as fh:
        return code, json.load(fh)


def pick(spec, values, required):
    out = {}
    for m in spec:
        v = values.get(m["name"])
        if v is None:
            if required:
                raise SystemExit(f"run: metric {m['name']} was not measured")
            v = 0.0
        out[m["name"]] = {"value": float(v), "unit": m["unit"]}
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--overhead", action="store_true")
    a = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    classes = build.build()

    if a.overhead:
        base = run_jvm(classes, a.workload, a.seed, a.seconds, False)[1]
        traced = run_jvm(classes, a.workload, a.seed, a.seconds, True)[1]
        if not base or not traced:
            raise SystemExit("run: a run failed")
        diff = {k: traced["end_to_end"][k] - v for k, v in base["end_to_end"].items()}
        print(json.dumps({"untraced": base["end_to_end"], "traced": traced["end_to_end"],
                          "traced_minus_untraced": diff}))
        return 0

    code, res = run_jvm(classes, a.workload, a.seed, a.seconds, a.trace == 1)
    if res is None:
        print(f"run: workload JVM exited with code {code} and no result", file=sys.stderr)
        return code or 2
    correct, failed = res["correct"], res["failed"]
    if a.trace == 1:
        metrics = pick(spec["per_layer"], res["per_layer"], required=False)
    else:
        metrics = pick(spec["end_to_end"], res["end_to_end"], required=True)
    report = {"context": res["context"], "workload_metrics": res["per_layer"],
              "failure": res.get("failure")}
    if a.trace == 1:
        report["rollup"] = res["rollup"]
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": bool(correct), "attempted": int(res["attempted"]),
                      "failed": int(failed), "metrics": metrics}))
    return 0 if correct and code == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
