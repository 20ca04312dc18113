#!/usr/bin/env python3
"""Run one perfbench workload against the engine in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the harness and
the engine from source with sbt; later runs reuse the build until a
source file changes. Inputs are generated from the seed, the engine
runs in one JVM on local[nproc], and every operation's output is
checked untimed.

stdout ends with one JSON line: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end metrics of
BENCHMARK.json; with --trace 1 they are its per-layer metrics, and the
spans of the traced passes are written to perfbench/out/. The line
before it names the workload's own metrics, the seed and the
host-contention sentinel.
"""

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

CLASSPATH_FILE = os.path.join(HERE, "target", "perfbench-classpath.txt")
BUILD_TIMEOUT_S = 700  # the first run, build included, must end within 900 s
RUN_TIMEOUT_S = 170
HEAP = "3g"
# C1 only. With C2, a stream round kept getting faster for three passes
# while C2 compiled (process CPU per round 14.7 s -> 7.2 s), longer than a
# run can afford to warm up. C1 is steady from the first pass, at the
# same wall time per round: these operations are driver- and
# coordination-bound, not hot loops. C1 alone reserves a 48 MB code
# cache; Spark's generated code filled it within one elt_daily run, and
# the flushing that followed doubled the CPU time of later days.
JIT = ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=256m"]

# Spark on JDK 17 outside spark-submit needs these (the engine's build
# passes the same list to its forked runs and tests).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "total_s": "s",
    "rows_per_s": "rows/s",
    "stored_bytes_per_input_byte": "ratio",
}

PIPELINE_TASKS = ["raw_company", "raw_industry", "processed_company", "processed_industry",
                  "dim_company"]
STREAMING = ["triggers", "trigger_s", "add_batch_s", "query_planning_s", "wal_commit_s",
             "state_commit_s", "state_rows"]
SPARK = ["jobs", "stages", "tasks", "shuffle_bytes", "input_bytes", "task_cpu_s", "task_run_s",
         "gc_s"]
PLANS = ["queries", "analysis_s", "optimization_s", "planning_s"]
TABLES = ["versions", "data_files", "data_bytes", "manifest_bytes", "bytes_written_per_op"]

PER_LAYER = (
    [("pipeline.%s_s" % t, "s") for t in PIPELINE_TASKS]
    + [("tables.%s" % t, "bytes" if "bytes" in t else "count") for t in TABLES]
    + [("streaming.%s" % s, "s" if s.endswith("_s") else "count") for s in STREAMING]
    + [("streaming.outside_trigger_s", "s")]
    + [("plans.%s" % p, "s" if p.endswith("_s") else "count") for p in PLANS]
    + [("spark.%s" % s, "s" if s.endswith("_s") else ("bytes" if "bytes" in s else "count"))
       for s in SPARK]
    + [("spark.driver_only_s", "s"), ("trace.op_self_s", "s"), ("trace.overhead_s", "s"),
       ("trace.overhead_ratio", "ratio")]
)


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def sources_mtime():
    newest = 0.0
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        for d, _, files in os.walk(base):
            for f in files:
                if f.endswith((".scala", ".java", ".sbt", ".properties")):
                    newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        newest = max(newest, os.path.getmtime(f))
    return newest


def classpath():
    """Build the harness and engine if any source is newer than the last build."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("engine sources not found next to perfbench/; run from a checkout root")
    if os.path.isfile(CLASSPATH_FILE) and os.path.getmtime(CLASSPATH_FILE) >= sources_mtime():
        with open(CLASSPATH_FILE) as f:
            return f.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    try:
        proc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    os.makedirs(os.path.dirname(CLASSPATH_FILE), exist_ok=True)
    with open(CLASSPATH_FILE, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def run_jvm(cp, work, args):
    # keep every scratch file of the engine and of Spark inside the work dir
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx" + HEAP] + JIT + ["-Djava.io.tmpdir=" + tmp,
           "-Dspark.local.dir=" + tmp, "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    # the JVM's own output is diagnostics only: keep stdout for the result
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, stdout=sys.stderr,
                            stderr=sys.stderr)
    try:
        return proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail("workload run timed out")


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def ok_ops(passes, traced=None):
    return [o for p in passes if traced is None or p["traced"] == traced
            for o in p["ops"] if o["error"] is None]


def end_to_end(res, passes):
    ops = ok_ops(passes)
    times = [o["s"] for o in ops]
    complete = [sum(o["s"] for o in p["ops"]) for p in passes
                if all(o["error"] is None for o in p["ops"])]
    return {
        "setup_s": median(res["setup_s"]),
        "op_p50_s": median(times),
        "total_s": median(complete),
        "rows_per_s": sum(o["rows"] for o in ops) / sum(times) if times else float("nan"),
        "stored_bytes_per_input_byte": res["stored_bytes_per_input_byte"],
    }


def workload_metrics(workload, res, passes, attempted, failed):
    """The workload's own metrics, named as its design doc names them."""
    ops = ok_ops(passes)
    e2e = end_to_end(res, passes)
    out = {"failed_ratio": failed / attempted, "setup_s": e2e["setup_s"],
           "op_p50_s": e2e["op_p50_s"], "op_cpu_s": median([o["cpu_s"] for o in ops]),
           "peak_rss_mb": res["peak_rss_mb"], "samples": len(ops)}
    if workload == "elt_daily":
        out.update({"total_s": e2e["total_s"],
                    "stored_bytes_per_input_byte": e2e["stored_bytes_per_input_byte"]})
    else:
        out["rows_per_s"] = e2e["rows_per_s"]
    return out


def per_layer(res, passes, spans):
    """Per-operation medians of the traced passes' spans and counters."""
    roots = [s for s in spans if s["parent"] < 0]
    children = {}
    for s in spans:
        if s["parent"] >= 0:
            children.setdefault(s["parent"], []).append(s)

    def dur(s):
        return (s["end_ns"] - s["start_ns"]) / 1e9

    def delta(s, k):
        return s["counters_end"].get(k, 0.0) - s["counters_start"].get(k, 0.0)

    def med(xs):
        return median(xs) if xs else 0.0

    m = {}
    for t in PIPELINE_TASKS:
        m["pipeline.%s_s" % t] = med([dur(s) for s in spans if s["name"] == "pipeline." + t])
    for t in TABLES:
        m["tables." + t] = res["tables"].get("tables." + t, 0.0)
    streamed = [r for r in roots if delta(r, "streaming.triggers") > 0]
    for k in STREAMING:
        m["streaming." + k] = med([delta(r, "streaming." + k) for r in streamed])
    m["streaming.outside_trigger_s"] = med(
        [dur(r) - delta(r, "streaming.trigger_s") for r in streamed])
    for k in PLANS:
        m["plans." + k] = med([delta(r, "plans." + k) for r in roots])
    for k in SPARK:
        m["spark." + k] = med([delta(r, "spark." + k) for r in roots])
    m["spark.driver_only_s"] = med([dur(r) - r["attrs"]["job_busy_s"] for r in roots])
    m["trace.op_self_s"] = med([dur(r) - sum(dur(c) for c in children.get(r["id"], []))
                                for r in roots])
    untraced = median([o["s"] for o in ok_ops(passes, traced=False)])
    traced = median([o["s"] for o in ok_ops(passes, traced=True)])
    m["trace.overhead_s"] = traced - untraced
    m["trace.overhead_ratio"] = (traced - untraced) / untraced
    return m


def self_times(spans):
    """Self time per span name: its duration minus its children's."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    acc = {}
    for s in spans:
        d = (s["end_ns"] - s["start_ns"]) / 1e9
        inner = sum((c["end_ns"] - c["start_ns"]) / 1e9 for c in kids.get(s["id"], []))
        acc.setdefault(s["name"], []).append(d - inner)
    return {k: {"median_s": median(v), "sum_s": sum(v), "spans": len(v)} for k, v in acc.items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    cp = classpath()
    work = os.path.join(HERE, "work", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    try:
        gen.generate(a.workload, a.seed, inputs)
        result_file = os.path.join(work, "result.json")
        spans_file = os.path.join(work, "spans.json")
        args = ["--workload", a.workload, "--inputs", inputs, "--work", os.path.join(work, "run"),
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", result_file]
        if a.trace:
            args += ["--spans", spans_file]
        code = run_jvm(cp, work, args)
        if code != 0 or not os.path.isfile(result_file):
            fail("workload run failed with exit code %d" % code)
        with open(result_file) as f:
            res = json.load(f)
        spans = []
        if a.trace:
            with open(spans_file) as f:
                spans = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    passes = res["passes"]
    all_ops = [o for p in passes for o in p["ops"]]
    attempted = len(all_ops)
    failed = sum(1 for o in all_ops if o["error"] is not None)
    for o in all_ops:
        if o["error"] is not None:
            print("perfbench: %s failed: %s" % (o["kind"], o["error"]), file=sys.stderr)

    if a.trace:
        values = per_layer(res, passes, spans)
        units = dict(PER_LAYER)
        os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
        with open(os.path.join(HERE, "out", "trace-%s-%d.json" % (a.workload, a.seed)), "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "sentinel": res["sentinel"],
                       "self_times": self_times(spans), "per_layer": values, "spans": spans}, f)
    else:
        values = end_to_end(res, passes)
        units = END_TO_END
    finite = all(math.isfinite(v) for v in values.values())

    cal = res["sentinel"]["calibrate_s"]
    sentinel = dict(res["sentinel"])
    sentinel["contaminated"] = bool(min(cal) > 0 and max(cal[1:]) / min(cal) > 2.0)
    print(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                      "measured_s": res["measured_s"], "passes": len(passes),
                      "workload_metrics": workload_metrics(a.workload, res, passes,
                                                           attempted, failed),
                      "sentinel": sentinel}))
    print(json.dumps({
        "correct": failed == 0 and attempted > 0 and finite,
        "attempted": attempted,
        "failed": failed,
        # a metric no operation produced is null, never a non-JSON NaN
        "metrics": {k: {"value": values[k] if math.isfinite(values[k]) else None,
                        "unit": units[k]} for k in units},
    }))


if __name__ == "__main__":
    main()
