#!/usr/bin/env python3
"""Fixed-work benchmark of the engine's public entry points.

Usage (from the repository root):
    python3 perfbench/run.py --workload <etl_covid|lanes_light|lanes_loop>
                             --seed N --seconds S --trace <0|1>

The engine and the benchmark are built from source with sbt
(perfbench/build.sbt) into $CARGO_TARGET_DIR (default .bench_build) on the
first run, and again whenever their sources have changed since the last
build (build inputs hashed by content). Each run then generates its inputs
from the seed, starts one JVM (one local[min(nproc, 4)] Spark session, one
client, ops back to back), checks every output outside the timed region,
and prints two lines: a full report with every metric, and as the last
line the result object {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 they
are the per-layer ones.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

T0 = time.time()  # process start: set-up time is measured from here

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

# Input rows of the etl_covid CSV (~27 bytes a row).
COVID_ROWS = 500_000
LANE_FIXTURE_SEED = 42
# Spark cores: nproc, at most 4. The run-time budget is sized for 4 cores;
# more shuffle partitions make the loop lanes slower, not faster.
CORES = min(os.cpu_count() or 1, 4)
OP_TIMEOUT_S = 60
RUN_LIMIT_S = 170
HEAP = "2g"

WORKLOADS = ("etl_covid", "lanes_light", "lanes_loop")

END_TO_END_UNITS = {
    "setup_s": "s", "wall_s": "s", "op_p50_s": "s", "op_tail_s": "s",
    "fail_ratio": "ratio", "heap_peak_mb": "MB",
    "rows_per_s": "1/s", "covid_job_s": "s", "elt_job_s": "s",
    "stream_job_s": "s",
}

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


# What the sbt build compiles: the engine's sources and resources, the
# benchmark's own sources, and its build definition (build.sbt and the
# files directly in project/, not the ones sbt generates below it).
SOURCE_DIRS = (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"))
BUILD_DEF_DIRS = (HERE, os.path.join(HERE, "project"))


def sources_hash():
    """Hash of the paths and contents of every build input file."""
    files = [os.path.join(d, n) for top in SOURCE_DIRS
             for d, _, names in os.walk(top) for n in names]
    files += [os.path.join(d, n) for d in BUILD_DEF_DIRS for n in os.listdir(d)
              if n.endswith((".sbt", ".properties"))]
    h = hashlib.sha256()
    for path in sorted(files):
        h.update(os.path.relpath(path, ROOT).encode() + b"\0")
        with open(path, "rb") as f:
            h.update(f.read())
        h.update(b"\0")
    return h.hexdigest()


def ensure_build():
    """Compile engine + benchmark unless the last build was made from the
    same sources; return (classpath, whether it built)."""
    state_file = os.path.join(build_dir(), "perfbench.build.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("engine sources (src/main/scala) not found: "
                         "run from the root of a repository checkout")
    digest = sources_hash()
    if os.path.exists(state_file):
        with open(state_file) as f:
            state = json.load(f)
        if state["sources"] == digest:
            return state["classpath"], False
    os.makedirs(build_dir(), exist_ok=True)
    env = dict(os.environ, PERFBENCH_BUILD_DIR=os.path.join(build_dir(), "sbt"))
    log("building engine and benchmark with sbt")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "-Dsbt.server.autostart=false", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    lines = [ln for ln in proc.stdout.splitlines() if ln.endswith(".jar") or
             "classes" in ln and os.pathsep in ln]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("build failed")
    with open(state_file, "w") as f:
        json.dump({"sources": digest, "classpath": lines[-1].strip()}, f)
    return lines[-1].strip(), True


def java_cmd(classpath, main_class, kv):
    """The benchmark JVM: Spark 4 on JDK 17 outside spark-submit needs these
    module opens."""
    # fixed-size heap: the JVM does not resize it during a run
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC"] +
            [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
            ["-cp", classpath, main_class] +
            [f"{k}={v}" for k, v in kv.items()])


def tail_percentile(n):
    """Highest whole percentile with at least 10 of n samples beyond it, or
    None when that is not above the median."""
    if n <= 0:
        return None
    p = math.floor(100.0 * (1.0 - 10.0 / n))
    return p if p > 50 else None


def nearest_rank(sorted_vals, p):
    return sorted_vals[max(0, math.ceil(p / 100.0 * len(sorted_vals)) - 1)]


def end_to_end(res, failed_ops, rows):
    ops = res["ops"]
    secs = sorted(o["seconds"] for o in ops)
    m = {
        "setup_s": res["setup_s"],
        "wall_s": statistics.median(res["untraced_pass_s"]),
        "op_p50_s": statistics.median(secs),
        "fail_ratio": len(failed_ops) / len(ops),
        "heap_peak_mb": res["heap_peak_mb"],
    }
    extra = {}
    p = tail_percentile(len(secs))
    if p is not None:
        m["op_tail_s"] = nearest_rank(secs, p)
        extra["op_tail_s"] = {"percentile": f"p{p}", "samples": len(secs)}
    if res["workload"] == "etl_covid":
        for job in ("covid", "elt", "stream"):
            m[f"{job}_job_s"] = statistics.median(
                o["seconds"] for o in ops if o["name"] == job)
        m["rows_per_s"] = rows * len(ops) / sum(secs)
    return m, extra


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    classpath, built = ensure_build()
    t0 = time.time() if built else T0  # the build itself is not set-up
    work = os.path.join(build_dir(), "runs",
                        f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return run(args, classpath, work, t0)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, classpath, work, t0):
    kv = {"workload": args.workload, "seed": args.seed,
          "seconds": args.seconds, "trace": args.trace, "work": work,
          "cores": CORES, "timeout_s": OP_TIMEOUT_S,
          "t0_ms": int(t0 * 1000)}
    expected = None
    if args.workload == "etl_covid":
        csv = os.path.join(work, "input", "covid_daily.csv")
        os.makedirs(os.path.dirname(csv))
        expected = gen.covid_csv(csv, os.path.join(work, "input", "stream"),
                                 COVID_ROWS, args.seed)
        kv.update(csv=csv, stream_dir=os.path.join(work, "input", "stream"),
                  expect_clean=expected["clean"],
                  expect_elt_final=expected["elt_final"])
    else:
        data = os.path.join(work, "fixtures")
        gen.lane_fixtures(data, LANE_FIXTURE_SEED)
        kv["data"] = data

    t_jvm = time.time()
    cmd = java_cmd(classpath, "perfbench.Main", kv)
    budget = RUN_LIMIT_S - (time.time() - T0)
    # the JVM exits when its stdin closes, so it never outlives this
    # process; on a signal, stop it and wait for it here
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log_file:
        proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.PIPE,
                                stdout=log_file, stderr=subprocess.STDOUT)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        proc.wait(timeout=budget)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log(f"the run exceeded {RUN_LIMIT_S} s")
        return 1
    finally:
        proc.stdin.close()
    with open(log_path) as f:
        out = f.read()
    res_file = os.path.join(work, "result.json")
    if proc.returncode != 0 or not os.path.exists(res_file):
        sys.stderr.write(out[-4000:])
        log(f"benchmark JVM exited with {proc.returncode}")
        return 1
    with open(res_file) as f:
        res = json.load(f)

    # ---- output checks (outside the timed region) -----------------------
    t_check = time.time()
    failures = {}  # op name -> cause, from the warm-up/check pass
    for o in res["warmup"]:
        if o["error"]:
            failures[o["name"]] = o["error"]
    if args.workload != "etl_covid":
        mismatches = oracle.compare_all(kv["data"], os.path.join(work, "out"),
                                        os.path.join(work, "oracle.json"))
        for name, cause in mismatches.items():
            failures.setdefault(name, cause)
    # a lane's output is checked once, in the warm-up pass: a failure there
    # fails every op of that lane; ETL ops are checked one by one
    lanes = args.workload != "etl_covid"
    failed_ops = [o for o in res["ops"]
                  if o["error"] or (lanes and o["name"] in failures)]
    causes = dict(failures)
    for o in failed_ops:
        causes.setdefault(o["name"], o["error"])

    report = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, "cores": res["cores"],
              "passes": len(res["untraced_pass_s"]) + len(res["traced_pass_s"]),
              "ops": len(res["ops"]), "failed": causes,
              "run_s": {"inputs": round(t_jvm - t0, 2),
                        "jvm": round(t_check - t_jvm, 2),
                        "checks": round(time.time() - t_check, 2)}}
    if expected:
        report["expected"] = expected
    m, extra = end_to_end(res, failed_ops, expected["rows"] if expected else 0)
    report["op_s"] = {  # median seconds per op name, for diagnosis
        n: round(statistics.median(o["seconds"] for o in res["ops"] if o["name"] == n), 4)
        for n in sorted({o["name"] for o in res["ops"]})}
    report["end_to_end"] = {
        k: dict({"value": v, "unit": END_TO_END_UNITS[k]}, **extra.get(k, {}))
        for k, v in m.items()}
    if args.trace:
        traces = os.path.join(build_dir(), "traces")
        os.makedirs(traces, exist_ok=True)
        spans = os.path.join(traces, f"{args.workload}-seed{args.seed}.spans.jsonl")
        shutil.copyfile(os.path.join(work, "spans.jsonl"), spans)
        report["spans"] = os.path.relpath(spans, ROOT)
        report["per_layer"] = res["layers"]
        report["self_ms"] = res["self_ms"]
        metrics = {k: {"value": v, "unit": LAYER_UNITS[k]}
                   for k, v in res["layers"].items()}
    else:
        metrics = {k: {"value": m[k], "unit": END_TO_END_UNITS[k]}
                   for k in GATED}
    print(json.dumps(report))
    print(json.dumps({"correct": not failed_ops and not failures,
                      "attempted": len(res["ops"]), "failed": len(failed_ops),
                      "metrics": metrics}))
    return 0


def _bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


_SPEC = _bench_spec() if os.path.exists(os.path.join(ROOT, "BENCHMARK.json")) else None
# the gated metrics are the ones BENCHMARK.json lists
GATED = [m["name"] for m in _SPEC["end_to_end"]] if _SPEC else []
LAYER_UNITS = {m["name"]: m["unit"] for m in _SPEC["per_layer"]} if _SPEC else {}

if __name__ == "__main__":
    sys.exit(main())
