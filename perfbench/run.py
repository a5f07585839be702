#!/usr/bin/env python3
"""End-to-end benchmark of graft.pipeline.ExtractJob.run.

    python3 perfbench/run.py --workload web-small --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root. Builds the program from source (see
build.py), runs the workload in one JVM at local[k], k = min(4, nproc),
gates every output row against its golden text and prints the metrics,
then, as the last line of stdout, one JSON object:
{"correct", "attempted", "failed", "metrics"}.

--trace 0 prints the end-to-end metrics; --trace 1 the per-layer metrics,
writes <build dir>/perfbench/trace/<workload>-seed<n>.layers.json and
.spans.jsonl, and runs a second JVM at local[1] for the scaling figure.
All Spark data lives in a temporary directory under the build dir that is
deleted before exit.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["web-small", "whales"]
TIME_LIMIT_S = 170          # a run ends within 180 s
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm_opts(tmp):
    # -XX:-UsePerfData: HotSpot would otherwise write /tmp/hsperfdata_<user>
    return [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]


def jvm(cp, main, args, threads, work, log, timeout):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [build.java(), *jvm_opts(tmp), f"-Xms{HEAP}", f"-Xmx{HEAP}",
           "-XX:+UseParallelGC", f"-XX:ParallelGCThreads={threads}",
           "-XX:ReservedCodeCacheSize=256m", "-cp", cp, main, *args]
    with open(log, "ab") as fh:
        return subprocess.run(cmd, stdout=fh, stderr=fh, timeout=timeout).returncode


def tail(path, n=40):
    try:
        with open(path, errors="replace") as fh:
            return "".join(fh.readlines()[-n:])
    except OSError:
        return ""


def run_workload(a, cp, root, threads, deadline):
    logs = os.path.join(root, "logs")
    trace_dir = os.path.join(root, "trace")
    os.makedirs(logs, exist_ok=True)
    stem = f"{a.workload}-seed{a.seed}"
    log = os.path.join(logs, f"{stem}-trace{a.trace}.log")
    open(log, "w").close()
    work = os.path.join(root, f"run-{os.getpid()}")
    try:
        def one(k, seconds, trace, setup_reps):
            shutil.rmtree(work, ignore_errors=True)
            result = os.path.join(work, "result.json")
            os.makedirs(work)
            args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(seconds),
                    "--trace", str(trace), "--threads", str(k), "--work", work,
                    "--result", result, "--trace-dir", trace_dir, "--setup-reps", str(setup_reps)]
            rc = jvm(cp, "perfbench.Main", args, k, work, log, max(1, deadline - time.time()))
            if rc != 0 or not os.path.exists(result):
                raise RuntimeError(f"benchmark JVM exited with {rc}; log {log}:\n{tail(log)}")
            with open(result) as fh:
                return json.load(fh)

        out = one(threads, a.seconds, a.trace, 3)
        if a.trace:
            # scaling: the same workload at local[1] in its own JVM, one
            # pair after the cold run
            one_thread = one(1, 0, 0, 1)
            m = out["metrics"]
            m["pipeline.scaling_eff_1to4"] = {
                "value": m["pipeline.docs_per_s_untraced"]["value"]
                / (threads * one_thread["metrics"]["docs_per_s"]["value"]),
                "unit": "ratio"}
            os.makedirs(trace_dir, exist_ok=True)
            with open(os.path.join(trace_dir, f"{stem}.layers.json"), "w") as fh:
                json.dump({"workload": a.workload, "seed": a.seed, "threads": threads,
                           "metrics": m}, fh, indent=1, sort_keys=True)
        return out
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int)
    p.add_argument("--seconds", type=float)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--selftest", action="store_true",
                   help="check whale goldens and the kernel decomposition, then exit")
    a = p.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        p.error("--workload, --seed and --seconds are required")
    try:
        cp = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    root = os.path.join(build.build_root(), "perfbench")
    threads = max(1, min(4, len(os.sched_getaffinity(0))))
    if a.selftest:
        work = os.path.join(root, f"selftest-{os.getpid()}")
        os.makedirs(work, exist_ok=True)
        try:
            return subprocess.run([build.java(), *jvm_opts(work), "-Xmx2g",
                                   "-cp", cp, "perfbench.SelfTest"], timeout=600).returncode
        finally:
            shutil.rmtree(work, ignore_errors=True)

    try:
        out = run_workload(a, cp, root, threads, time.time() + TIME_LIMIT_S)
    except (RuntimeError, subprocess.TimeoutExpired) as e:
        print(f"[perfbench] {a.workload} failed: {e}", file=sys.stderr)
        return 1
    for name, m in sorted(out["metrics"].items()):
        print(f"{a.workload:10s} {name:34s} {m['value']:>16.6g} {m['unit']}")
    print(f"{a.workload:10s} {'failed/attempted':34s} {out['failed']:>10d}/{out['attempted']} docs"
          f"  correct={out['correct']}")
    print(json.dumps(out))
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
