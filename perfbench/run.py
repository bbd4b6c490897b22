#!/usr/bin/env python3
"""Benchmark of pq2json conversion and of the query surface.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the program from source (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py), runs the workload in its
own JVM (perfbench/src), checks the program's outputs apart from the program
(perfbench/checks.py), and prints as its last line one JSON object:
`correct`, `attempted`, `failed` and `metrics`. With `--trace 0` the metrics
are the end-to-end ones; with `--trace 1` the per-layer ones of a traced
run. Workloads and metrics are described in perfbench/README.md.
"""
import argparse
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
sys.dont_write_bytecode = True

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ["convert_flat", "convert_small_files", "query_mix"]
END_TO_END = {"setup_s": "s", "rows_per_s": "rows/s", "pass_s": "s",
              "file_p50_ms": "ms", "file_p90_ms": "ms", "heap_live_mb": "MB"}
PER_LAYER_UNITS = {
    "sources.footer_ms": "ms", "sources.footer_calls": "count",
    "read.infer_ms": "ms", "read.infer_jobs": "count",
    "functions.render_ns_per_row": "ns", "functions.render_cpu_ns_per_row": "ns",
    "functions.alloc_bytes_per_row": "B",
    "Pq2Json.sink_s": "s", "Pq2Json.jobs": "count", "Pq2Json.out_bytes_per_row": "B",
    "spark.tasks": "count", "spark.task_cpu_s": "s", "spark.task_run_s": "s",
    "spark.core_busy": "ratio", "spark.shuffle_write_mb": "MB",
    "operators.construct_s": "s", "operators.plan_s": "s", "operators.execute_s": "s",
    "operators.construct_jobs": "count", "operators.execute_jobs": "count",
    "jvm.jit_ms": "ms", "jvm.gc_ms": "ms", "jvm.alloc_mb": "MB",
    "trace.overhead_s": "s",
}
HEAP = "3g"
JVM_TIMEOUT_S = 160
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def task_threads():
    return max(1, min(4, len(os.sched_getaffinity(0))))


def write_manifest(workload, info, data):
    rows = []
    if workload == "convert_flat":
        rows.append(["flat", info["path"], info["rows"]])
    elif workload == "convert_small_files":
        for i, t in enumerate(info["templates"]):
            cols = json.dumps(t["columns"]) if t["columns"] else ""
            rows.append(["small", f"tpl-{i:02d}", t["path"], t["rows"], t["mode"], cols])
    else:
        rows.append(["tables", info["path"]])
        rows.extend(["table", name, n] for name, n in info["rows"].items())
    with open(os.path.join(data, "manifest.tsv"), "w") as f:
        for r in rows:
            f.write("\t".join(str(x) for x in r) + "\n")


def run_jvm(classpath, workload, data, out, seconds, trace, log_path):
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-Xss8m",
            f"-Djava.io.tmpdir={os.path.join(data, 'tmp')}",
            "-Dspark.driver.host=127.0.0.1", "-Dspark.driver.bindAddress=127.0.0.1"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main", "--workload", workload, "--data", data,
              "--out", out, "--seconds", str(seconds), "--trace", str(trace),
              "--cpus", str(task_threads())])
    os.makedirs(os.path.join(data, "tmp"), exist_ok=True)
    with open(log_path, "w") as log:
        try:
            r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                               cwd=os.path.dirname(log_path),
                               timeout=JVM_TIMEOUT_S)
            return r.returncode
        except subprocess.TimeoutExpired:
            return "timeout"


def quantile(xs, q):
    """Linear interpolation between closest ranks."""
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def end_to_end(res):
    measured = [p for p in res["passes"] if p["kind"] == "measure"]
    rows = res["rows_per_pass"]
    op_medians = [statistics.median(p["ops_ms"][op] for p in measured)
                  for op in measured[0]["ops_ms"]]
    values = {
        "setup_s": statistics.median(res["setup_s"]),
        "rows_per_s": statistics.median(rows / p["wall_s"] for p in measured),
        "pass_s": statistics.median(p["wall_s"] for p in measured),
        "file_p50_ms": quantile(op_medians, 0.5),
        "file_p90_ms": quantile(op_medians, 0.9),
        "heap_live_mb": res["heap_live_mb"],
    }
    return {k: {"value": values[k], "unit": END_TO_END[k]} for k in END_TO_END}


def check_outputs(workload, seed, info, res, art):
    """Returns (problems that make the run incorrect, failed op count,
    known failures)."""
    if workload == "convert_flat":
        return checks.check_flat(os.path.join(art, "lineitem"), info["path"], seed), 0, []
    if workload == "convert_small_files":
        problems, known, failed = [], [], 0
        for i, t in enumerate(info["templates"]):
            name = f"tpl-{i:02d}"
            if t["kind"] == "u64":
                p, faulty = checks.check_u64(os.path.join(art, name), t)
                if faulty and not p:
                    failed += res["op_runs"][name]
                    known.append(f"{name}: {faulty} of {t['rows']} lines")
            else:
                p = checks.check_small(os.path.join(art, name), t)
            problems.extend(f"{name}: {x}" for x in p)
        return problems, failed, known
    with open(os.path.join(art, "oracle.json")) as f:
        oracle = json.load(f)
    return checks.check_queries(art, info["path"], oracle), 0, []


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run directory")
    a = ap.parse_args(argv)
    start = time.monotonic()

    try:
        classpath = build.build()
    except (RuntimeError, OSError) as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 1
    run_dir = os.path.join(build.BUILD_DIR, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data, out = os.path.join(run_dir, "data"), os.path.join(run_dir, "out")
    os.makedirs(data)
    os.makedirs(out)
    try:
        t0 = time.monotonic()
        info = gen.generate(a.workload, a.seed, data)
        gen_s = time.monotonic() - t0
        write_manifest(a.workload, info, data)
        log_path = os.path.join(run_dir, "jvm.log")
        t0 = time.monotonic()
        rc = run_jvm(classpath, a.workload, data, out, a.seconds, a.trace, log_path)
        jvm_s = time.monotonic() - t0
        if rc != 0:
            with open(log_path, errors="replace") as f:
                sys.stderr.write(f.read()[-6000:])
            print(f"benchmark JVM ended with {rc}", file=sys.stderr)
            return 1
        with open(os.path.join(out, "result.json")) as f:
            res = json.load(f)
        t0 = time.monotonic()
        problems, failed, known = check_outputs(a.workload, a.seed, info, res,
                                                os.path.join(out, "artifacts"))
        check_s = time.monotonic() - t0
        problems += [f"output changed between passes: {m}" for m in res["digest_mismatch"]]
        problems += [f"traced conversion differs from Pq2Json.run: {m}"
                     for m in res["trace_mismatch"]]
        for p in problems:
            print(f"CHECK FAILED {p}", file=sys.stderr)
        for p in known[:3]:
            print(f"KNOWN FAULT (nested u64 renders as a string) {p}", file=sys.stderr)
        if a.trace:
            metrics = {k: {"value": v, "unit": PER_LAYER_UNITS[k]}
                       for k, v in res["per_layer"].items()}
        else:
            metrics = end_to_end(res)
        ctx = dict(res["context"], generate_s=round(gen_s, 3), jvm_s=round(jvm_s, 3),
                   check_s=round(check_s, 3), run_s=round(time.monotonic() - start, 3), cpus=res["cpus"],
                   passes=sum(p["kind"] in ("measure", "traced") for p in res["passes"]))
        print("context " + json.dumps(ctx))
        print(json.dumps({"correct": not problems, "attempted": sum(res["op_runs"].values()),
                          "failed": failed, "metrics": metrics}))
        return 0
    finally:
        if not a.keep:
            shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
