#!/usr/bin/env python3
"""Benchmark runner for the census streaming engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload census_live --seed 1 --seconds 20 --trace 0

It builds the program and the benchmark harness from source (an sbt
build under perfbench/, outputs in .bench_build/), runs one workload in
a fresh JVM, and prints the result as the last line of standard output:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json;
with --trace 1 they are the per-layer ones, and the raw trace is kept at
.bench_build/traces/<workload>-<seed>.jsonl.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("census_backlog", "census_live", "dashboard_history")
# the JVM's own limit, so a run ends well inside 180 s once built
JVM_DEADLINE_S = 165

# Spark 4 on JDK 17 outside spark-submit needs these (as in the program's build).
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


def sources_stamp():
    """Hash of every build input, so an unchanged checkout is built once."""
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            st = os.stat(p)
            h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compiles with sbt unless the stamp matches; returns the classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = sources_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    sbt_repos = os.path.expanduser("~/.sbt/repositories")
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
        *([f"-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={sbt_repos}"]
          if os.path.exists(sbt_repos) else []),
    ])
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log,
                           text=True, timeout=800)
        log.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if os.path.join(".bench_build", "target") in l
             and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        fail(f"build failed, see {log_path}")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def run_jvm(cp, args):
    """Runs perfbench.Main; returns the parsed result file."""
    tag = f"{args.workload}-{args.seed}-{os.getpid()}"
    work = os.path.join(BUILD, "work", tag)
    tmp = os.path.join(BUILD, "tmp", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(work, "result.json")
    cmd = ["java", *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           # fixed heap and young generation, and no metadata-triggered full GCs, so
           # peak RSS and pauses repeat from run to run
           "-Xms2g", "-Xmx2g", "-Xmn768m", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy",
           "-XX:MetaspaceSize=256m",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC", f"-Dspark.local.dir={tmp}",
           "-cp", cp, "perfbench.Main", args.workload, str(args.seed), str(args.seconds),
           str(args.trace), work, out]
    if args.small or args.fault != "none":
        cmd += ["small" if args.small else "full", args.fault]
    log_path = os.path.join(BUILD, "logs", f"{tag}.log")
    os.makedirs(os.path.dirname(log_path), exist_ok=True)
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                                    start_new_session=True)
            try:
                code = proc.wait(timeout=JVM_DEADLINE_S)
            except subprocess.TimeoutExpired:
                fail(f"{args.workload} did not finish in time, see {log_path}")
            finally:
                if proc.poll() is None:
                    os.killpg(proc.pid, signal.SIGKILL)
                    proc.wait()
        with open(log_path) as log:
            for line in log:
                if line.startswith("[perfbench]"):
                    print(line.rstrip())
        if code != 0 or not os.path.exists(out):
            fail(f"{args.workload} exited with {code}, see {log_path}")
        with open(out) as f:
            result = json.load(f)
        if args.trace:
            trace = os.path.join(work, "trace.jsonl")
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            shutil.copy(trace, os.path.join(BUILD, "traces", f"{args.workload}-{args.seed}.jsonl"))
        return result
    finally:
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--small", action="store_true",
                   help="minimum-size inputs (for the self-test)")
    p.add_argument("--fault", choices=("none", "drop-row"), default="none",
                   help="negative control: a sink that drops one raw row per batch")
    args = p.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")) or not os.path.exists(spec_path):
        fail("run from the root of a checkout of the program (src/main/scala and BENCHMARK.json)")
    with open(spec_path) as f:
        spec = json.load(f)
    declared = spec["per_layer"] if args.trace else spec["end_to_end"]

    cp = build()
    result = run_jvm(cp, args)
    got = result["metrics"]
    missing = [m["name"] for m in declared if m["name"] not in got]
    if missing:
        fail(f"metrics not produced: {missing}")
    metrics = {m["name"]: {"value": got[m["name"]]["value"], "unit": m["unit"]} for m in declared}
    for name, m in got.items():
        if name not in metrics:
            print(f"{name} = {m['value']} {m['unit']}")
    for name, m in metrics.items():
        print(f"{name} = {m['value']} {m['unit']}")
    attempted, failed = int(result["attempted"]), int(result["failed"])
    print(f"failed_ratio = {failed / max(1, attempted)}")
    print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    # when terminated, still stop (and wait for) the JVM this run started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    main()
