#!/usr/bin/env python3
"""Wire-level benchmark of the Snowflake façade (see perfbench/README.md).

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
benchmark harness from source into .bench_build/ (sbt, offline). Each run
generates its seeded lake (cached by seed), starts one JVM that serves the
statement stream through graft.protocol.SnowflakeServer on loopback,
checks every result against a DuckDB oracle, and prints one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones, with --trace 1 the per-layer ones. The full raw
artifact of the run is written under .bench_build/runs/.
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
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import oracle  # noqa: E402
import workloads  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM_MARKER = os.path.join(ROOT, "src", "main", "scala", "graft", "protocol",
                              "SnowflakeServer.scala")
# A run is killed at RUN_LIMIT_S; the JVM starts no statement after
# RUN_LIMIT_S - CHECK_RESERVE_S, which leaves time for the end-state
# checks, the oracle and the metrics.
RUN_LIMIT_S = 170
CHECK_RESERVE_S = 30
# cached seeded lakes and run records kept in .bench_build (oldest go first)
KEEP_LAKES = 6
KEEP_RUNS = 40
# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_fingerprint():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{p}:{st.st_size}:{st.st_mtime_ns}".encode())
    return h.hexdigest()


def build():
    """Compile the program and the harness (once per source state); return
    the runtime classpath."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    fp_file = os.path.join(BUILD, "classpath.fingerprint")
    fp = source_fingerprint()
    if os.path.exists(cp_file) and os.path.exists(fp_file):
        with open(fp_file) as f:
            if f.read() == fp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log("building program and harness with sbt (first run only)")
    t0 = time.time()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    # sbt starts its own JVM: run it in a session of its own, so that the
    # whole group is stopped if this process is cut short
    proc = subprocess.Popen(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    try:
        stdout, _ = proc.communicate(timeout=800)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    cp = [ln.strip() for ln in stdout.splitlines()
          if ".bench_build" in ln and "classes" in ln and ":" in ln
          and not ln.startswith("[")]
    if proc.returncode != 0 or not cp:
        sys.stderr.write(stdout[-4000:])
        raise SystemExit("perfbench: build failed")
    log(f"built in {time.time() - t0:.0f} s")
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(fp_file, "w") as f:
        f.write(fp)
    return cp[-1]


def prune(parent, keep):
    """Remove all but the `keep` most recently modified entries of `parent`."""
    entries = sorted((os.path.join(parent, e) for e in os.listdir(parent)),
                     key=os.path.getmtime, reverse=True)
    for old in entries[keep:]:
        shutil.rmtree(old, ignore_errors=True)


def machine_probe():
    """Seconds a fixed single-thread loop takes (median of 3). On a shared
    machine this varies by tens of percent from minute to minute; recorded
    before and after the JVM, it tells machine drift from program change."""
    times = []
    for _ in range(3):
        t = time.perf_counter()
        s = 0
        for i in range(1_000_000):
            s += i * i
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def heap():
    """An eighth of the machine's memory, 1-8 GB (the workloads keep ~100 MB
    live); the whole heap is touched at JVM start, inside setup_s."""
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    with open("/proc/meminfo") as f:
        kb = int(next(ln for ln in f if ln.startswith("MemTotal:")).split()[1])
    return f"{max(1024, min(8192, kb // 8 // 1024))}m"


def run_jvm(cp, plan_path, lake, out_path, seconds, trace, run_dir, deadline):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # A fixed, pre-touched heap: GC sizing and resident memory then do not
    # vary between runs (peak_rss_mb counts the heap still live after a
    # full GC in place of the pre-touched heap).
    cmd = ["java", f"-Xms{heap()}", f"-Xmx{heap()}", "-XX:+AlwaysPreTouch",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.WireBench",
            "--plan", plan_path, "--lake", lake, "--out", out_path,
            "--seconds", str(seconds), "--trace", str(trace),
            "--cpus", str(os.cpu_count() or 1),
            "--deadline-ms", str(int((deadline - CHECK_RESERVE_S) * 1000))]
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=logf, stderr=logf,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            proc.wait(timeout=max(5, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise SystemExit("perfbench: benchmark JVM exceeded its time limit")
        finally:
            # also when this process is interrupted or terminated
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if not os.path.exists(out_path):
        raise SystemExit(f"perfbench: JVM wrote no result (rc {proc.returncode}); "
                         f"see {run_dir}/jvm.log")
    with open(out_path) as f:
        return json.load(f)


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=None,
                    help="lake scale factor (default: the workload's own)")
    args = ap.parse_args(argv)
    if not os.path.exists(PROGRAM_MARKER):
        raise SystemExit("perfbench: program sources (src/main/scala) not found; "
                         "run from the root of a full checkout")

    cp = build()
    deadline = time.time() + RUN_LIMIT_S
    scale = args.scale if args.scale is not None else workloads.SCALES[args.workload]
    data = os.path.join(BUILD, "data")
    lake = os.path.join(data, f"{args.workload}-{scale}-{args.seed}")
    input_hash = workloads.write_lake(lake, scale, args.seed)
    os.utime(lake)
    prune(data, KEEP_LAKES)
    plan = workloads.plan(args.workload, args.seed, scale)

    runs = os.path.join(BUILD, "runs")
    os.makedirs(runs, exist_ok=True)
    prune(runs, KEEP_RUNS)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=runs)
    try:
        plan_path = os.path.join(run_dir, "plan.json")
        with open(plan_path, "w") as f:
            json.dump(plan, f)
        probe = {"before_s": machine_probe()}
        raw = run_jvm(cp, plan_path, lake, os.path.join(run_dir, "result.json"),
                      args.seconds, args.trace, run_dir, deadline)
        probe["after_s"] = machine_probe()
        checked = oracle.check(plan, raw, lake)
        result = metrics.derive(plan, raw, checked, args.trace)
        artifact = {
            "workload": args.workload, "seed": args.seed, "scale": scale,
            "seconds": args.seconds, "trace": args.trace,
            "input_hash": input_hash, "stream_hash": workloads.stream_digest(plan),
            "lake_rows": workloads.lake_size(scale),
            "env": dict(raw.get("env", {}), machine_probe=probe),
            "setup": raw.get("setup", {}),
            "fatal": raw.get("fatal"), "oracle": checked["summary"],
            "mismatches": checked["mismatches"][:50],
            "detail": result["detail"], "metrics": result["metrics"],
        }
    finally:
        shutil.rmtree(os.path.join(run_dir, "tmp"), ignore_errors=True)
    with open(os.path.join(run_dir, "artifact.json"), "w") as f:
        json.dump(artifact, f, indent=1)
    for m in checked["mismatches"][:10]:
        log(f"oracle mismatch: {json.dumps(m)[:400]}")
    print(json.dumps({"correct": result["correct"], "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": result["metrics"]}))
    return 0


if __name__ == "__main__":
    # SIGTERM unwinds like an exit, so that the JVM is stopped on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())
