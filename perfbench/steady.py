#!/usr/bin/env python3
"""Steadiness and A/B pair tool for the perfbench benchmark.

Steadiness: run one workload N times, each with another seed, and print per
metric the median, the quartiles and the spread (q3 - q1) / median against
the metric's bound in BENCHMARK.json:

    python3 perfbench/steady.py runs --workload curate_corpus --runs 10

Pairs: run the same workload in two checkouts (parent and change), in
alternating order, and print each pair, each side's median and quartiles,
and the share of pairs the change wins. A gain holds only when the change
wins at least nine tenths of the pairs (ties count for neither side) and
the medians differ by more than the parent's own quartile distance:

    python3 perfbench/steady.py pairs --workload pu_weight --parent ../a --change ../b --pairs 10

Both commands run from the root of a checkout; `--trace 1` reads the
per-layer metrics instead of the end-to-end ones.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def run_once(checkout, workload, seed, seconds, trace):
    """One benchmark run in `checkout`; returns its result object."""
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=1000)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines:
        raise SystemExit(f"run failed in {checkout} (seed {seed}, exit {p.returncode})")
    return json.loads(lines[-1])


def quartiles(values):
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def metric_specs(trace):
    s = spec()
    return s["per_layer"] if trace else s["end_to_end"]


def cmd_runs(a):
    s = spec()
    seconds = a.seconds or s["run_seconds"]
    results = []
    for i in range(a.runs):
        r = run_once(ROOT, a.workload, a.seed_base + i, seconds, a.trace)
        results.append(r)
        print(f"run {i + 1}/{a.runs} seed {a.seed_base + i}: correct={r['correct']} "
              f"failed={r['failed']}/{r['attempted']}", file=sys.stderr)
    if a.out:
        with open(a.out, "w") as fh:
            json.dump(results, fh, indent=1)
    print(f"{a.workload}: {a.runs} runs of {seconds} s, trace={a.trace}")
    print(f"{'metric':34} {'median':>14} {'q1':>14} {'q3':>14} {'spread':>8} {'bound':>6}  verdict")
    worst = 0.0
    for m in metric_specs(a.trace):
        vals = [r["metrics"][m["name"]]["value"] for r in results]
        q1, med, q3 = quartiles(vals)
        spread = (q3 - q1) / med if med else float("inf")
        bound = m.get("bound")
        verdict = ""
        if bound is not None:
            verdict = "steady" if spread <= bound / 3 else ("ok" if spread <= bound else "TOO WIDE")
            if m["name"] != "setup_s":
                worst = max(worst, spread / bound)
        print(f"{m['name']:34} {med:14.4f} {q1:14.4f} {q3:14.4f} {spread:8.4f} "
              f"{'' if bound is None else bound:>6}  {verdict}")
    print(f"all correct: {all(r['correct'] for r in results)}; "
          f"widest spread / bound (setup_s aside): {worst:.3f}")


def cmd_pairs(a):
    s = spec()
    seconds = a.seconds or s["run_seconds"]
    sides = {"parent": [], "change": []}
    for i in range(a.pairs):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            checkout = a.parent if side == "parent" else a.change
            sides[side].append(run_once(checkout, a.workload, a.seed_base + i, seconds, a.trace))
        print(f"pair {i + 1}/{a.pairs} ran {' then '.join(order)}", file=sys.stderr)
    print(f"{a.workload}: {a.pairs} pairs of {seconds} s, trace={a.trace}")
    for m in metric_specs(a.trace):
        name, lower = m["name"], m["better"] == "lower"
        p = [r["metrics"][name]["value"] for r in sides["parent"]]
        c = [r["metrics"][name]["value"] for r in sides["change"]]
        wins = sum(1 for x, y in zip(p, c) if (y < x if lower else y > x))
        ties = sum(1 for x, y in zip(p, c) if x == y)
        pq1, pmed, pq3 = quartiles(p)
        cq1, cmed, cq3 = quartiles(c)
        gain = wins >= 0.9 * a.pairs and abs(cmed - pmed) > (pq3 - pq1)
        print(f"{name}: parent median {pmed:.4f} [{pq1:.4f}, {pq3:.4f}]  "
              f"change median {cmed:.4f} [{cq1:.4f}, {cq3:.4f}]  "
              f"change wins {wins}/{a.pairs} (ties {ties})  gain: {'yes' if gain else 'no'}")
        for i, (x, y) in enumerate(zip(p, c)):
            print(f"    pair {i + 1}: parent {x:.4f} change {y:.4f}")


def main():
    ap = argparse.ArgumentParser(description="perfbench steadiness and pair tool")
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("runs", help="run one workload N times and report spreads")
    r.add_argument("--runs", type=int, default=10)
    r.add_argument("--out", help="write every result object to this JSON file")
    p = sub.add_parser("pairs", help="alternating parent/change pairs and the win share")
    p.add_argument("--parent", required=True, help="checkout of the parent commit")
    p.add_argument("--change", required=True, help="checkout of the change")
    p.add_argument("--pairs", type=int, default=10)
    for x in (r, p):
        x.add_argument("--workload", required=True)
        x.add_argument("--seconds", type=int, default=0, help="default: run_seconds")
        x.add_argument("--trace", type=int, default=0, choices=(0, 1))
        x.add_argument("--seed-base", type=int, default=1)
    a = ap.parse_args()
    cmd_runs(a) if a.cmd == "runs" else cmd_pairs(a)


if __name__ == "__main__":
    main()
