#!/usr/bin/env python3
"""Alternating before/after pairs of the census benchmark.

    python3 dev/bench_pairs.py --base HEAD~1 --workload census_live --seeds 21-30

Exports `--base` (any git ref) with `git archive` into a temporary
directory and runs `perfbench/run.py` there and in this checkout, one
pair per seed. Pairs alternate which side runs first, so a slow drift of
the machine does not favour one side. `perfbench/` itself is only run,
never edited.

For every end-to-end metric of BENCHMARK.json (every per-layer one
with `--trace 1`) it prints each side's median and quartiles and how
many pairs the change won. With `--claim
METRIC` it also says whether a gain on that metric holds by the
pairs rule: the change wins at least 9 of 10 pairs (the same share of
any other count), and the medians differ by more than the base's
interquartile range.

Options: `--seconds` (default 12) and `--trace` (default 0) go to
run.py; `--workdir` is where the export goes (default: the system temp
directory; it is removed at the end); `--json FILE` writes every run's
result.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds_of(spec):
    """'21-30' or '3,5,8' (or a mix) -> a list of ints."""
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def export(ref, workdir):
    """`ref`'s tree, extracted into a fresh directory under `workdir`."""
    dest = tempfile.mkdtemp(prefix="bench_base_", dir=workdir)
    archive = subprocess.run(["git", "-C", ROOT, "archive", ref],
                             check=True, capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)
    return dest


def run(checkout, workload, seed, seconds, trace):
    """One run of perfbench in `checkout`: its last stdout line, parsed."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    r = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stderr[-4000:])
        raise SystemExit(f"run failed in {checkout} (seed {seed}, exit {r.returncode})")
    return json.loads(lines[-1])


def value(result, name):
    """One metric of a run's result line: `{"value": v, "unit": u}`."""
    return result["metrics"][name]["value"]


def quartiles(xs):
    """(q1, median, q3), inclusive method; a single value repeats."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--base", required=True, help="git ref of the before side")
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", required=True, help="e.g. 21-30 or 3,5,8")
    p.add_argument("--seconds", type=float, default=12)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--claim", help="metric whose gain to test")
    p.add_argument("--workdir", default=None)
    p.add_argument("--json", help="write every run's result here")
    a = p.parse_args()

    # run.py reports the end-to-end metrics untraced, the per-layer ones traced
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        metrics = json.load(f)["per_layer" if a.trace else "end_to_end"]
    seeds = seeds_of(a.seeds)
    base_dir = export(a.base, a.workdir)
    sides = {"base": base_dir, "change": ROOT}
    results = {"base": [], "change": []}
    try:
        for i, seed in enumerate(seeds):
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            for side in order:
                results[side].append(run(sides[side], a.workload, seed, a.seconds, a.trace))
            b, c = results["base"][-1], results["change"][-1]
            print(f"seed {seed} ({order[0]} first): " + ", ".join(
                f"{m['name']} {value(b, m['name']):,.1f} -> {value(c, m['name']):,.1f}"
                for m in metrics), flush=True)
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)

    record = {"base": a.base, "workload": a.workload, "seeds": seeds, "runs": results}
    if a.json:
        with open(a.json, "w") as f:
            json.dump(record, f, indent=1)
    summarize(record, metrics, a.claim)


def summarize(record, metrics, claim=None):
    """Prints the per-metric quartiles, the win counts and, for `claim`,
    the verdict of the pairs rule. `record` is what `--json` writes.
    """
    results, n = record["runs"], len(record["seeds"])
    print(f"\n{record['workload']}, {n} pairs, base {record['base']} vs this checkout")
    print(f"failed ops: base {sum(r['failed'] for r in results['base'])}, "
          f"change {sum(r['failed'] for r in results['change'])}; "
          f"all correct: base {all(r['correct'] for r in results['base'])}, "
          f"change {all(r['correct'] for r in results['change'])}")
    print(f"{'metric':<38} {'base q1/med/q3':>28} {'change q1/med/q3':>28} {'delta':>8} {'wins':>6}")
    verdict = None
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        bs = [value(r, name) for r in results["base"]]
        cs = [value(r, name) for r in results["change"]]
        wins = sum((c < b) if lower else (c > b) for b, c in zip(bs, cs))
        bq, cq = quartiles(bs), quartiles(cs)
        delta = (cq[1] - bq[1]) / bq[1] * 100 if bq[1] else float("nan")
        fmt = lambda q: "/".join(f"{v:,.1f}" for v in q)
        print(f"{name:<38} {fmt(bq):>28} {fmt(cq):>28} {delta:>+7.1f}% {wins:>3}/{n}")
        if name == claim:
            moved = (bq[1] - cq[1]) if lower else (cq[1] - bq[1])
            verdict = wins * 10 >= 9 * n and moved > bq[2] - bq[0]
            print(f"claim on {name}: wins {wins}/{n}, median gain {moved:,.1f} vs base IQR "
                  f"{bq[2] - bq[0]:,.1f}: {'holds' if verdict else 'does not hold'}")
    if claim and verdict is None:
        raise SystemExit(f"--claim {claim} is not a metric of this run")

if __name__ == "__main__":
    main()
