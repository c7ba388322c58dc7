#!/usr/bin/env python3
"""Compare two bench_out.json files (full-precision per-query doubles).

Usage: bench_diff.py BEFORE.json AFTER.json [threshold_sec]
Prints total/geomean, the cold-sweep and steady-sweep totals, per-query
movers beyond 1.5x (at >0.3s materiality), plus family subtotals. The two
sweep totals show which sweep a change moved: compile and other one-off cost
lands in the cold sweep, per-pass cost in both.
"""
import json
import math
import sys


def fam(name: str) -> str:
    for p in ("dedup_", "sim_topk_", "sim_", "text_", "pipeline_", "pu_",
              "q_", "src_", "mm_", "prob_"):
        if name.startswith(p):
            return p.rstrip("_")
    return name


def main() -> None:
    a = json.load(open(sys.argv[1]))
    b = json.load(open(sys.argv[2]))
    mat = float(sys.argv[3]) if len(sys.argv) > 3 else 0.3
    qa, qb = a["queries"], b["queries"]
    common = sorted(set(qa) & set(qb))
    ta = sum(max(qa[q], 0) for q in common)
    tb = sum(max(qb[q], 0) for q in common)
    ratios = [max(qb[q], 0.05) / max(qa[q], 0.05) for q in common]
    geo = math.exp(sum(math.log(r) for r in ratios) / len(ratios))
    print(f"total {ta:.1f}s -> {tb:.1f}s ({tb / ta:.3f}x of before); "
          f"geomean after/before {geo:.3f}")
    ca, cb = a.get("cold_total_sec"), b.get("cold_total_sec")
    if ca is not None and cb is not None:
        print(f"cold sweep {ca:.1f}s -> {cb:.1f}s ({cb / ca:.3f}x)")
    sa, sb = a.get("sweeps", {}).get("steady"), b.get("sweeps", {}).get("steady")
    if sa and sb:
        ssa = sum(max(sa[q], 0) for q in common)
        ssb = sum(max(sb[q], 0) for q in common)
        print(f"steady sweep {ssa:.1f}s -> {ssb:.1f}s ({ssb / ssa:.3f}x)")
    fams = {}
    for q in common:
        f = fam(q)
        fa, fb = fams.get(f, (0.0, 0.0))
        fams[f] = (fa + max(qa[q], 0), fb + max(qb[q], 0))
    print("family      before    after   ratio")
    for f, (fa, fb) in sorted(fams.items(), key=lambda kv: -kv[1][0]):
        print(f"{f:10s} {fa:8.1f} {fb:8.1f} {fb / max(fa, 0.01):7.2f}")
    movers = [(q, qa[q], qb[q]) for q in common
              if max(qa[q], qb[q]) > mat
              and (qb[q] > 1.5 * qa[q] or qa[q] > 1.5 * qb[q])]
    movers.sort(key=lambda t: -(abs(t[2] - t[1])))
    print(f"\nmovers >1.5x (materiality {mat}s): {len(movers)}")
    for q, va, vb in movers[:40]:
        print(f"  {q:40s} {va:7.2f} -> {vb:7.2f}  ({vb / max(va, 0.01):.2f}x)")


if __name__ == "__main__":
    main()
