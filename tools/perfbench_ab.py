#!/usr/bin/env python3
"""Paired A/B of the benchmark between two checkouts of this repository.

    git clone -q . ../parent && git -C ../parent checkout -q HEAD~1
    python3 tools/perfbench_ab.py --parent ../parent --change . \\
        --workload sheets --pairs 10 --seed 1 --out ab_sheets.json

Runs `python3 perfbench/run.py --workload W --seed S --seconds T --trace 0`
in each checkout, with T the `run_seconds` of BENCHMARK.json, alternating
which side goes first (pair i runs the parent first when i is even), with
seed S+i for pair i. Each checkout builds into its own
`.bench_build/`. For every end-to-end metric of BENCHMARK.json it prints each
side's median and quartiles, the parent's IQR, and in how many pairs the
change was better (ties count for neither side). A gain holds when the
change wins at least nine pairs in ten and the medians differ by more than
the parent's IQR. It also prints the median `kind.<op>.p50_ms` per side, so
a move can be traced to the op family that made it, and the failed ops.
`--out` keeps every run's metrics as JSON.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys

KIND_P50 = re.compile(r"^\s+kind\.(\S+)\.p50_ms\s+(\S+)$")


def quartiles(xs):
    """(q1, median, q3), linearly interpolated between order statistics."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def run(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    lines = p.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        sys.exit(f"perfbench_ab: {checkout} seed {seed} gave no result:\n{p.stdout[-3000:]}")
    res["kinds"] = {m.group(1): float(m.group(2))
                    for m in map(KIND_P50.match, lines) if m}
    return res


def report(workload, spec, pairs):
    print(f"\n== {workload}: {len(pairs)} pairs ==")
    print(f"{'metric':<14} {'parent median [q1, q3]':>30} {'change median [q1, q3]':>30}"
          f" {'parent IQR':>11} {'change wins':>12}")
    for m in spec["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        a = [p["parent"]["metrics"][name]["value"] for p in pairs]
        b = [p["change"]["metrics"][name]["value"] for p in pairs]
        qa, qb = quartiles(a), quartiles(b)
        wins = sum(1 for x, y in zip(a, b) if (y < x if lower else y > x))
        losses = sum(1 for x, y in zip(a, b) if (y > x if lower else y < x))
        cell = "{:.4g} [{:.4g}, {:.4g}]"
        print(f"{name:<14} {cell.format(qa[1], qa[0], qa[2]):>30}"
              f" {cell.format(qb[1], qb[0], qb[2]):>30} {qa[2] - qa[0]:>11.4g}"
              f" {f'{wins}/{len(pairs)} ({losses} lost)':>12}")
    kinds = sorted(set().union(*(p[s]["kinds"] for p in pairs for s in ("parent", "change"))))
    if kinds:
        print("median kind.<op>.p50_ms (parent -> change):")
        for k in kinds:
            a = [p["parent"]["kinds"][k] for p in pairs if k in p["parent"]["kinds"]]
            b = [p["change"]["kinds"][k] for p in pairs if k in p["change"]["kinds"]]
            if a and b:
                print(f"  {k:<14} {statistics.median(a):>10.1f} -> {statistics.median(b):>10.1f}")
    failed = {s: sum(p[s]["failed"] for p in pairs) for s in ("parent", "change")}
    attempted = {s: sum(p[s]["attempted"] for p in pairs) for s in ("parent", "change")}
    print(f"failed ops: parent {failed['parent']}/{attempted['parent']},"
          f" change {failed['change']}/{attempted['change']}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", action="append", choices=["sheets", "engine"], required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1, help="seed of the first pair")
    ap.add_argument("--out", help="write every run's result here as JSON")
    a = ap.parse_args()

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(here, "BENCHMARK.json")) as f:
        spec = json.load(f)
    results = {}
    for w in a.workload:
        pairs = []
        for i in range(a.pairs):
            seed = a.seed + i
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            pair = {"seed": seed, "first": order[0]}
            for side in order:
                pair[side] = run(getattr(a, side), w, seed, spec["run_seconds"])
            m = lambda s: pair[s]["metrics"]["ops_per_s"]["value"]
            print(f"{w} pair {i + 1}/{a.pairs} seed {seed}: ops_per_s parent {m('parent'):.3f}"
                  f" change {m('change'):.3f}", flush=True)
            pairs.append(pair)
            if a.out:
                results[w] = pairs
                with open(a.out, "w") as f:
                    json.dump(results, f, indent=1)
        report(w, spec, pairs)


if __name__ == "__main__":
    main()
