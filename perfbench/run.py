#!/usr/bin/env python3
"""Benchmark command: builds the engine and the benchmark from source, runs
one workload in a fresh JVM, checks the outputs, and prints one JSON
summary as the last line of standard output.

    python3 perfbench/run.py --workload lifecycle_read --seed 1 --seconds 20 --trace 0

With --trace 0 the summary holds the end-to-end metrics, with --trace 1
the per-layer metrics. The full record of the run (every metric, notes,
failed checks, and in traced runs the spans) is written to
<build dir>/perfbench/record_<workload>_trace<0|1>.json; a traced run also
stores there the tracing overhead against the last untraced run of the
same workload.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
import build  # noqa: E402

HERE = build.HERE
ROOT = build.ROOT
TIMEOUT_S = 170
JAVA_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
              "java.net", "java.nio", "java.util", "java.util.concurrent",
              "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
              "sun.security.action", "sun.util.calendar"]


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def summarize(record, bench, trace):
    """The summary line of a run record. Raises ValueError when a listed
    workload's metric names or units differ from BENCHMARK.json or a value
    is not a finite number."""
    kind = "per_layer" if trace else "end_to_end"
    metrics = record[kind]
    listed = [w["name"] for w in bench["workloads"]]
    if record["workload"] in listed:
        want = {m["name"]: m["unit"] for m in bench[kind]}
        if sorted(metrics) != sorted(want):
            raise ValueError("metric names differ from BENCHMARK.json: missing %s, extra %s"
                             % (sorted(set(want) - set(metrics)), sorted(set(metrics) - set(want))))
        units = sorted(k for k, m in metrics.items() if m["unit"] != want[k])
        if units:
            raise ValueError("metric units differ from BENCHMARK.json: %s"
                             % ", ".join("%s %s, declared %s" % (k, metrics[k]["unit"], want[k])
                                         for k in units))
    for name, m in metrics.items():
        if not isinstance(m["value"], (int, float)) or not math.isfinite(m["value"]):
            raise ValueError("metric %s is not a finite number: %r" % (name, m["value"]))
    return {"correct": bool(record["correct"]) and record["failed"] == 0,
            "attempted": int(record["attempted"]), "failed": int(record["failed"]),
            "metrics": {k: {"value": v["value"], "unit": v["unit"]} for k, v in metrics.items()}}


def overhead(traced, untraced):
    """Traced minus untraced value of every end-to-end metric."""
    return {k: {"traced": v["value"], "untraced": untraced["end_to_end"][k]["value"],
                "overhead": v["value"] - untraced["end_to_end"][k]["value"], "unit": v["unit"]}
            for k, v in traced["end_to_end"].items() if k in untraced["end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    bench = declared()
    classes = build.build()
    out = os.path.join(build.build_dir(), "perfbench")
    work = os.path.join(out, "work-%d" % os.getpid())
    record_path = os.path.join(out, "record_%s_trace%d.json" % (a.workload, a.trace))
    if os.path.exists(record_path):
        os.remove(record_path)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", "-Xmx3g", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
           "-Dspark.ui.enabled=false"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", "java.base/%s=ALL-UNNAMED" % p]
    cmd += ["-cp", os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")]),
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--out", record_path]
    proc = None
    try:
        proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr)
        try:
            code = proc.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise RuntimeError("workload did not finish within %d s" % TIMEOUT_S)
    finally:
        # the JVM never outlives this process, whichever way it exits
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(record_path):
        raise RuntimeError("benchmark JVM exited with code %d" % code)
    with open(record_path) as fh:
        record = json.load(fh)
    summary = summarize(record, bench, a.trace)
    if a.trace:
        untraced = os.path.join(out, "record_%s_trace0.json" % a.workload)
        if os.path.exists(untraced):
            with open(untraced) as fh:
                record["tracing_overhead"] = overhead(record, json.load(fh))
            with open(record_path, "w") as fh:
                json.dump(record, fh)
    for f in record["failures"]:
        print("check failed: " + f, file=sys.stderr)
    print("record: " + os.path.relpath(record_path, ROOT))
    print(json.dumps(summary))


def terminated(signum, frame):
    raise SystemExit(128 + signum)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, terminated)
    try:
        main()
    except Exception as e:  # no summary line on any failure
        print("perfbench: %s" % e, file=sys.stderr)
        sys.exit(1)
