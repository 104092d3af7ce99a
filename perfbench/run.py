#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first call builds the engine and the
harness (perfbench/harness, sbt) and caches the classpath under
.perfbench/build; later calls start the harness JVM directly. The last
stdout line is the result: {"correct", "attempted", "failed", "metrics"},
with the end-to-end metrics of BENCHMARK.json for --trace 0 and its
per-layer metrics for --trace 1. The line before it records the run's
environment and sample counts. A traced run also writes its spans to
.perfbench/out/spans-<workload>-<seed>.jsonl.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".perfbench")
# ingest_backlog is not in BENCHMARK.json (the benchmark set's run-time
# budget leaves no room for a third workload); it runs by hand the same way
WORKLOADS = ("ingest_live", "queries_mix", "ingest_backlog")
RUN_TIMEOUT_S = 170
XMX = "3g"
# metric whose traced/untraced ratio is the tracing overhead
PRIMARY = "op_latency_ms"

# per-layer metric prefixes a workload's code path never reaches; a traced
# run reports them as 0 and lists them under "not_exercised"
NOT_EXERCISED = {
    "ingest_live": ("query.", "setup.artifacts", "setup.cold_pass",
                    "setup.warmup_pass"),
    "ingest_backlog": ("query.", "setup.artifacts", "setup.cold_pass",
                       "setup.warmup_pass", "sinks.read", "gen.lag",
                       "baseline."),
    "queries_mix": ("gen.", "mqtt.", "stream.", "ingest.", "sinks.",
                    "setup.layout", "setup.first_batch", "baseline."),
}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_fingerprint():
    h = hashlib.sha256()
    for top in ("src/main", "perfbench/harness/src", "build.sbt",
                "perfbench/harness/build.sbt"):
        p = os.path.join(ROOT, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            st = os.stat(f)
            h.update(f"{f}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def classpath():
    build = os.path.join(STATE, "build")
    cp_file = os.path.join(build, "classpath.txt")
    fp = sources_fingerprint()
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            stored_fp, cp = f.read().split("\n", 1)
        if stored_fp == fp:
            return cp.strip()
    os.makedirs(build, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log_path = os.path.join(build, "sbt.log")
    with open(log_path, "w") as log:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "-Dsbt.server.forcestart=false", "compile",
             "export Runtime/fullClasspath"],
            cwd=os.path.join(HERE, "harness"), env=env, stdout=log,
            stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, timeout=850)
    with open(log_path) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if l.startswith("/") and "classes" in l]
    if r.returncode != 0 or not cps:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        die("build failed")
    with open(cp_file, "w") as f:
        f.write(fp + "\n" + cps[-1])
    return cps[-1]


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_harness(cp, args, work, out):
    cmd = (["java", f"-Xmx{XMX}", "-XX:+UseG1GC",
            "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-Dspark.shuffle.sort.bypassMergeThreshold=0"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--out", out,
              "--data", os.path.join(HERE, "data", "sf0.01")])
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    env["SPARK_GRAFT_INDEX_DIR"] = os.path.join(work, "artifacts")
    env.pop("SPARK_GRAFT_CPUS", None)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    t = time.time()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, env=env, text=True,
                            start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die(f"{args.workload} did not finish within {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    print(f"perfbench: harness ran {time.time() - t:.1f} s", file=sys.stderr)
    lines = [l for l in stdout.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or len(lines) < 2:
        die(f"harness exited with {proc.returncode}")
    return json.loads(lines[-2]), json.loads(lines[-1])


def overhead_pct(workload, metrics, traced):
    """Traced run's primary metric against the median of this checkout's
    untraced runs of the same workload, in percent (positive = slower)."""
    hist = os.path.join(STATE, "history", f"{workload}.json")
    value = metrics[PRIMARY]["value"]
    past = json.load(open(hist)) if os.path.isfile(hist) else []
    if not traced:
        os.makedirs(os.path.dirname(hist), exist_ok=True)
        with open(hist, "w") as f:
            json.dump((past + [value])[-20:], f)
        return None
    if not past:
        return 0.0
    return (value / statistics.median(past) - 1.0) * 100.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    for need in (spec_path, os.path.join(ROOT, "build.sbt"),
                 os.path.join(ROOT, "src", "main", "scala", "graft")):
        if not os.path.exists(need):
            die(f"not a checkout of the engine: {need} is missing")
    spec = json.load(open(spec_path))
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    cp = classpath()
    work = os.path.join(STATE, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    out = os.path.join(STATE, "out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        info, result = run_harness(cp, args, work, out)
    finally:
        t = time.time()
        shutil.rmtree(work, ignore_errors=True)
        print(f"perfbench: work dir removed in {time.time() - t:.1f} s",
              file=sys.stderr)

    got = result["metrics"]
    if result["attempted"] > 0:
        got["failed_ratio"] = {"value": result["failed"] / result["attempted"],
                               "unit": "ratio"}
    ov = overhead_pct(args.workload, got, args.trace == 1)
    if ov is not None:
        got["trace.overhead_pct"] = {"value": ov, "unit": "%"}
    idle = [m["name"] for m in wanted if m["name"] not in got
            and m["name"].startswith(NOT_EXERCISED[args.workload])]
    for name in idle:
        got[name] = {"value": 0.0, "unit": next(
            m["unit"] for m in wanted if m["name"] == name)}
    info["not_exercised"] = idle
    missing = [m["name"] for m in wanted if m["name"] not in got]
    if missing:
        die(f"{args.workload} did not report {missing}")
    info.update({"git_commit": git_commit(), "xmx": XMX,
                 "all_metrics": {k: v["value"] for k, v in got.items()}})
    print(json.dumps(info))
    print(json.dumps({
        "correct": bool(result["correct"]),
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": {m["name"]: got[m["name"]] for m in wanted},
    }))


if __name__ == "__main__":
    main()
