#!/usr/bin/env python3
"""graft benchmark runner.

Run from the repository root:

    python3 perfbench/run.py --workload can_tumble_wide --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --all            # every workload, one table
    python3 perfbench/run.py --self-test      # the benchmark's own tests

One run builds graft and the harness if needed (`perfbench/build.py`),
runs the workload in a fresh JVM and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end-to-end metric of BENCHMARK.json (`--trace 0`) or every
per-layer metric (`--trace 1`). The line before it is the host block. The
full result (errors, both metric sets, host, trace file) is kept under
`.bench_build/results/`. Everything a run writes stays under
`.bench_build/`.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

# runnable by name, but outside BENCHMARK.json's set (see README.md)
EXTRA_WORKLOADS = ["can_stream_wide", "can_exact_ffill_wide"]
CORES = min(4, os.cpu_count() or 1)
XMX = "2g"
RUN_TIMEOUT_S = 150

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def env_for(work):
    """Child environment: Spark's and the JVM's scratch space under `work`."""
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.abspath(os.path.join(work, "spark-local"))
    return env


def java(classes, args):
    tmp = os.path.join(build.BUILD_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{XMX}", f"-Djava.io.tmpdir={tmp}",
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
            "perfbench.Main"] + [str(a) for a in args]
    return cmd


def spec():
    with open("BENCHMARK.json") as fh:
        return json.load(fh)


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_once(workload, seed, seconds, trace):
    """One measured run; returns (result line dict, full result dict)."""
    bench = spec()
    names = [w["name"] for w in bench["workloads"]] + EXTRA_WORKLOADS
    if workload not in names:
        raise SystemExit(f"unknown workload {workload}; choose from {names}")
    classes = build.build(".")
    tag = f"{workload}-s{seed}-t{trace}-{os.getpid()}"
    work = os.path.join(build.BUILD_DIR, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result_file = os.path.join(work, "result.json")
    try:
        r = subprocess.run(java(classes, [workload, seed, seconds, trace, work, result_file, CORES]),
                           stdout=sys.stderr, stderr=sys.stderr, timeout=RUN_TIMEOUT_S,
                           env=env_for(work))
        if r.returncode != 0 or not os.path.exists(result_file):
            raise SystemExit(f"workload JVM failed with exit code {r.returncode}")
        with open(result_file) as fh:
            full = json.load(fh)
        full["host"]["git_commit"] = git_commit()
        full["host"]["source_stamp"] = build.stamp(build.sources("."))
        # keep the result and the trace, drop the bulky inputs and outputs
        keep = os.path.join(build.BUILD_DIR, "results")
        os.makedirs(keep, exist_ok=True)
        if full.get("trace_file") and os.path.exists(full["trace_file"]):
            dst = os.path.join(keep, os.path.basename(full["trace_file"]))
            shutil.copyfile(full["trace_file"], dst)
            full["trace_file"] = dst
        with open(os.path.join(keep, tag + ".json"), "w") as fh:
            json.dump(full, fh, indent=1)
    except subprocess.TimeoutExpired as e:
        raise SystemExit(f"timed out: {' '.join(map(str, e.cmd[-8:]))}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if trace:
        # a layer this workload does not run reads 0
        wanted, source = bench["per_layer"], {m["name"]: 0.0 for m in bench["per_layer"]}
        source.update(full["per_layer"])
    else:
        wanted, source = bench["end_to_end"], full["e2e"]
    missing = [m["name"] for m in wanted if m["name"] not in source]
    if missing:
        raise SystemExit(f"result lacks metrics {missing}")
    metrics = {m["name"]: {"value": source[m["name"]], "unit": m["unit"]} for m in wanted}
    for e in full["errors"]:
        print("error:", e, file=sys.stderr)
    line = {"correct": full["failed"] == 0 and full["attempted"] > 0,
            "attempted": full["attempted"], "failed": full["failed"], "metrics": metrics}
    return line, full


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--all", action="store_true", help="run every workload and print a table")
    ap.add_argument("--self-test", action="store_true", help="run the benchmark's own tests")
    a = ap.parse_args()

    if a.self_test:
        classes = build.build(".")
        work = os.path.join(build.BUILD_DIR, "work", f"selftest-{os.getpid()}")
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        try:
            r = subprocess.run(java(classes, ["selftest", work, "fixtures"]), timeout=300,
                               env=env_for(work))
        finally:
            shutil.rmtree(work, ignore_errors=True)
        sys.exit(r.returncode)

    seconds = a.seconds if a.seconds is not None else spec()["run_seconds"]
    if seconds < 1:
        raise SystemExit("--seconds must be at least 1")

    if a.all:
        rows = []
        for w in spec()["workloads"]:
            t0 = time.time()
            line, full = run_once(w["name"], a.seed, seconds, a.trace)
            rows.append((w["name"], line, full, time.time() - t0))
        for name, line, full, wall in rows:
            print(f"{name}  (error_rate {line['failed']}/{line['attempted']}, run {wall:.0f} s)")
            for k, m in line["metrics"].items():
                print(f"  {k:34s} {m['value']:>14.6g} {m['unit']}")
        return

    if not a.workload:
        raise SystemExit("--workload is required (or --all / --self-test)")
    line, full = run_once(a.workload, a.seed, seconds, a.trace)
    print(json.dumps({"host": full["host"], "error_rate": full["failed"] / max(1, full["attempted"])}))
    print(json.dumps(line))


if __name__ == "__main__":
    main()
