#!/usr/bin/env python3
"""Run one benchmark workload and print its result line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and the
harness from source with sbt (in `perfbench/`) and caches the classpath
under `.bench_build/perfbench/`; later runs reuse it until a source file
changes. The harness JVM writes a report; this script adds an environment
stamp, keeps the report under `.bench_build/perfbench/runs/`, and prints as
its last stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end-to-end metric of BENCHMARK.json (--trace 0) or every
per-layer metric (--trace 1). It exits 1 when a correctness check fails and
2 when the run itself cannot complete (no result line then).
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("driver_suite", "crud_churn")
RUN_LIMIT_S = 175        # a run must end within 180 s
FIRST_RUN_LIMIT_S = 880  # ... and within 900 s when it also builds

# Spark on JDK 17 outside spark-submit needs these opened (the program's
# build.sbt passes the same list to its own forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_fingerprint():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "src", "main"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def classpath(deadline):
    """The harness classpath, building first when the sources changed."""
    for needed in ("src/main/scala", "build.sbt"):
        if not os.path.exists(os.path.join(ROOT, needed)):
            fail(f"no program sources: {needed} is missing under {ROOT}")
    stamp_file = os.path.join(OUT, "classpath.json")
    fp = source_fingerprint()
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            cached = json.load(f)
        if cached.get("fingerprint") == fp:
            return cached["classpath"], False
    os.makedirs(OUT, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log_path = os.path.join(OUT, "build.log")
    with open(log_path, "w") as log:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=log, text=True,
            timeout=max(60, deadline - time.time() - 120))
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        with open(log_path, "a") as log:
            log.write(proc.stdout)
        fail(f"build failed (exit {proc.returncode}); see {log_path}")
    cp = lines[-1].strip()
    with open(stamp_file, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp}, f)
    return cp, True


def env_stamp():
    """Steal and busy jiffies, load average, processors and free memory."""
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    mem = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            mem[k] = int(v.split()[0])
    return {"steal_jiffies": cpu[7] if len(cpu) > 7 else 0, "total_jiffies": sum(cpu),
            "load_avg_1m": os.getloadavg()[0], "processors": len(os.sched_getaffinity(0)),
            "mem_available_kb": mem.get("MemAvailable", -1), "unix_time": time.time()}


def run_jvm(cp, main_args, work, log_path, deadline):
    cmd = (["java", "-Xms3g", "-Xmx3g", "-Duser.timezone=UTC", f"-Djava.io.tmpdir={work}/tmp"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--bench", BENCH, "--work", work] + main_args)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail(f"run exceeded its time limit; log {log_path}")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    with open(log_path, errors="replace") as f:
        log_text = f.read()
    if code != 0:
        sys.stderr.write(log_text[-4000:])
        fail(f"harness exited {code}; log {log_path}")
    return log_text


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-golden", action="store_true",
                    help="re-record fixture/golden.tsv from this tree instead of running")
    args = ap.parse_args()
    # a terminated run still stops the JVM it started (see run_jvm)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not args.record_golden and None in (args.workload, args.seed, args.seconds):
        ap.error("--workload, --seed and --seconds are required")

    start = time.time()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cp, built = classpath(start + FIRST_RUN_LIMIT_S)
    deadline = start + (FIRST_RUN_LIMIT_S if built else RUN_LIMIT_S)

    tag = f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
    work = os.path.join(OUT, "work", tag)
    runs = os.path.join(OUT, "runs")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(runs, exist_ok=True)
    report_path = os.path.join(runs, f"{args.workload}-seed{args.seed}-trace{args.trace}-{tag}.json")

    if args.record_golden:
        golden = os.path.join(BENCH, "fixture", "golden.tsv")
        try:
            run_jvm(cp, ["--record-golden", golden], work, report_path + ".log", deadline)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        print(f"recorded {os.path.relpath(golden, ROOT)}")
        return

    before = env_stamp()
    try:
        log_text = run_jvm(cp, ["--workload", args.workload, "--seed", str(args.seed),
                                "--seconds", str(args.seconds), "--trace", str(args.trace),
                                "--out", report_path], work, report_path + ".log", deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not os.path.exists(report_path):
        fail(f"harness wrote no report; log {report_path}.log")
    after = env_stamp()

    with open(report_path) as f:
        report = json.load(f)
    busy = after["total_jiffies"] - before["total_jiffies"]
    steal = 100.0 * (after["steal_jiffies"] - before["steal_jiffies"]) / busy if busy > 0 else 0.0
    env = {"start": before, "end": after, "steal_pct": steal,
           "noisy": steal > 5.0 or max(before["load_avg_1m"], after["load_avg_1m"])
           > before["processors"]}
    report.update(workload=args.workload, seed=args.seed, seconds=args.seconds,
                  trace=args.trace, env=env)

    group = "per_layer" if args.trace else "end_to_end"
    values = dict(report[group])
    if args.trace:
        values["run.error_log_lines"] = len(re.findall(r"\bERROR\b", log_text))
    metrics = {}
    for m in spec[group]:
        v = values.get(m["name"])
        if not isinstance(v, (int, float)) or v != v:
            fail(f"metric {m['name']} was not measured; report {report_path}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    report["metrics"] = metrics
    with open(report_path, "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)

    ops = report["samples"]["ops"]
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace}: "
          f"{ops['n']} timed ops ({ops['beyond_p90']} beyond p90), "
          f"{report['samples']['passes']} passes, {report['samples']['setups']} set-ups; "
          f"steal {steal:.1f}%, load {before['load_avg_1m']:.2f}->{after['load_avg_1m']:.2f}"
          f"{' NOISY' if env['noisy'] else ''}; report {os.path.relpath(report_path, ROOT)}")
    for msg in report["failures"]:
        print(f"perfbench FAILED: {msg}")
    print(json.dumps({"correct": report["correct"], "attempted": report["attempted"],
                      "failed": report["failed"], "metrics": metrics}))
    sys.exit(0 if report["correct"] else 1)


if __name__ == "__main__":
    main()
