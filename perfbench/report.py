#!/usr/bin/env python3
"""Traced-run report: per-layer self time and tracing overhead.

Run from the root of a checkout (it calls perfbench/run.py):

    python3 perfbench/report.py --seed 1 --seconds 12 > perfbench/REPORT.md

For each workload it makes one untraced and one traced run with the same
seed, then prints, as Markdown:
- self time per layer along the blocking path of a micro-batch (census
  workloads) or of a dashboard call (dashboard_history);
- the tracing overhead, traced minus untraced end-to-end figures;
- one example micro-batch of census_live, with every Spark job it ran
  attributed to the span (sink write or pipeline body) that submitted it.
"""
import argparse
import collections
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
TRACES = os.path.join(os.getcwd(), ".bench_build", "traces")


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True).stdout
    result = json.loads(out.strip().splitlines()[-1])
    return {k: v["value"] for k, v in result["metrics"].items()}


def census_path(m):
    """Self time of each layer on a micro-batch's blocking path."""
    writes = {k.split(".", 2)[2]: v for k, v in m.items() if k.startswith("sink.write_ms.")}
    phases = ("latest_offset", "planning", "wal_commit", "commit_offsets")
    rows = [("stream: trigger (whole batch)", m["stream.trigger_ms"]),
            ("stream: engine phases (latestOffset, planning, walCommit, commitOffsets)",
             sum(m[f"stream.{p}_ms"] for p in phases)),
            ("stream: addBatch", m["stream.add_batch_ms"]),
            ("ops (pipeline.self_ms = addBatch - sink writes)", m["pipeline.self_ms"])]
    rows += [(f"sink: write {t}", v) for t, v in sorted(writes.items(), key=lambda x: -x[1])]
    rows += [("spark: driver gap (batch wall outside any stage)", m["spark.driver_gap_ms"]),
             ("spark: task run time summed over tasks", m["spark.task_run_ms"])]
    return rows


def read_path(m):
    rows = [("sink: read (listing, footers)", m["sink.read_ms"])]
    rows += [(f"read: {k[5:-3]}", v) for k, v in m.items() if k.startswith("read.")]
    rows += [("spark: driver gap per call", m["spark.driver_gap_ms"]),
             ("spark: task run time per call", m["spark.task_run_ms"])]
    return rows


def example_batch(path):
    """A middle batch of a traced census_live run (not its first), with its
    jobs and the span each was submitted in."""
    recs = [json.loads(l) for l in open(path)]
    spans = {r["id"]: r for r in recs if r["kind"] == "span"}
    jobs = [r for r in recs if r["kind"] == "job" and r["batch"]]
    by_batch = collections.defaultdict(list)
    for j in jobs:
        by_batch[j["batch"]].append(j)
    if not by_batch:
        return None
    batches = sorted(by_batch, key=lambda b: min(j["start_ms"] for j in by_batch[b]))[1:] or list(by_batch)
    key = batches[len(batches) // 2]
    lines = []
    for j in sorted(by_batch[key], key=lambda j: j["id"]):
        span = spans.get(j["span"], {}).get("name", "(no span)")
        lines.append(f"| {j['id']} | {span} | {len(j['stages'])} |")
    return key, lines


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=12)
    p.add_argument("--workloads", nargs="*",
                   default=["census_backlog", "census_live", "dashboard_history"])
    args = p.parse_args()
    print(f"# Traced-run report (seed {args.seed}, {args.seconds:g} s per run)\n")
    for w in args.workloads:
        plain = run(w, args.seed, args.seconds, 0)
        traced = run(w, args.seed, args.seconds, 1)
        print(f"## {w}\n")
        print("| layer | self time (ms, median per unit) |\n|---|---|")
        path = read_path(traced) if traced["stream.batches"] == 0 else census_path(traced)
        for name, v in path:
            print(f"| {name} | {v:.1f} |")
        print(f"\nJobs per unit: {traced['spark.jobs_per_batch']:.0f}; "
              f"stages: {traced['spark.stages_per_batch']:.0f}; "
              f"tasks: {traced['spark.tasks_per_batch']:.0f}; "
              f"core busy ratio: {traced['spark.core_busy_ratio']:.2f}.\n")
        print("| tracing overhead | untraced | traced | traced - untraced |\n|---|---|---|---|")
        for k in ("throughput_per_s", "latency_p50_ms"):
            print(f"| {k} | {plain[k]:.2f} | {traced['traced.' + k]:.2f} | "
                  f"{traced['traced.' + k] - plain[k]:+.2f} |")
        print("\nOne pair of runs: a difference smaller than the run-to-run spread of "
              "the untraced metric is not resolved as overhead.\n")
        if w == "census_live":
            ex = example_batch(os.path.join(TRACES, f"{w}-{args.seed}.jsonl"))
            if ex:
                key, lines = ex
                print(f"### Example: census_live batch `{key}`, {len(lines)} jobs\n")
                print("| job | submitted inside span | stages |\n|---|---|---|")
                print("\n".join(lines))
                print()


if __name__ == "__main__":
    main()
