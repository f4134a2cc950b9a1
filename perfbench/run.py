#!/usr/bin/env python3
"""Run one benchmark workload, or the smoke check of all of them.

    python3 perfbench/run.py --workload bulkload --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

Run from the repository root. The harness is built from source first
(perfbench/build.py), then one JVM runs the workload on local[<=4] with a
fixed heap. The last line of standard output is the result:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics are
the end-to-end metrics of BENCHMARK.json, with --trace 1 its per-layer
metrics (0 for a layer the workload does not use). The line before it
records the environment of the run. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True  # nothing but results under the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ["bulkload", "append_serve", "curate", "search"]
HEAP = "3g"
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def git_head():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_jvm(workload, seed, seconds, trace, smoke):
    """Runs one workload in a fresh JVM; returns (env, result) as parsed."""
    work_root = os.path.join(ROOT, ".bench_work")
    work = os.path.join(work_root, f"{workload}-{seed}-{trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cpus = str(min(4, os.cpu_count() or 1))
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j.configurationFile={os.path.join(ROOT, 'perfbench', 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
           [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] +
           ["-cp", build.classpath(), "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--smoke", "1" if smoke else "0", "--work", work])
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus, SPARK_MASTER=f"local[{cpus}]")
    try:
        proc = subprocess.run(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                              text=True, timeout=JVM_TIMEOUT_S)
    finally:
        trace_file = os.path.join(work, f"trace-{workload}-{seed}.jsonl")
        if os.path.exists(trace_file):
            shutil.move(trace_file, os.path.join(work_root, os.path.basename(trace_file)))
        shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or len(lines) < 2:
        sys.exit(f"perfbench: {workload} JVM exited {proc.returncode} without a result")
    env_line = json.loads(lines[-2])["env"]
    env_line.update(git_head=git_head(), heap=HEAP, workload=workload, seed=seed,
                    seconds=seconds, trace=trace)
    return env_line, json.loads(lines[-1])


def select(result, names):
    """Keeps exactly the declared metrics; a declared per-layer metric the
    workload has no such layer for reads 0."""
    got = result["metrics"]
    out = {}
    for name, unit in names.items():
        m = got.get(name, {"value": 0.0, "unit": unit})
        if m["unit"] != unit:
            sys.exit(f"perfbench: {name} measured in {m['unit']}, declared {unit}")
        out[name] = m
    return dict(result, metrics=out)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, one traced run per workload, all checks")
    args = ap.parse_args()
    if not args.smoke and not args.workload:
        ap.error("--workload is required (or --smoke)")
    end_to_end, per_layer = declared()
    build.build()

    if args.smoke:
        ok = True
        for w in WORKLOADS:
            env, res = run_jvm(w, args.seed, 2, 1, smoke=True)
            missing = sorted(set(end_to_end) - set(res["metrics"]))
            print(json.dumps({"workload": w, "correct": res["correct"],
                              "attempted": res["attempted"], "failed": res["failed"],
                              "missing_end_to_end": missing}))
            print(json.dumps(select(res, per_layer)["metrics"]))
            ok = ok and res["correct"] and not missing
        sys.exit(0 if ok else 1)

    env, res = run_jvm(args.workload, args.seed, args.seconds, args.trace, smoke=False)
    names = per_layer if args.trace else end_to_end
    missing = sorted(set(end_to_end) - set(res["metrics"]))
    if missing:
        sys.exit(f"perfbench: {args.workload} did not measure {', '.join(missing)}")
    print(json.dumps({"env": env}))
    print(json.dumps(select(res, names)))


if __name__ == "__main__":
    main()
