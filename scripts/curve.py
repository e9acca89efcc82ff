#!/usr/bin/env python3
"""Scaling-curve report over per-leg graft.Bench artifacts.

Usage: python3 scripts/curve.py <leg1.json> <leg2.json> [leg3.json ...]

Legs are ordered small→large scale. Prints per-key step ratios between
consecutive legs (largest final-step ratio first) plus bucket totals,
and flags keys whose final decade step exceeds the --flag threshold
(default 3.0) — the super-linear-at-scale detector the r6 round
established (fixed-size LSH candidate spaces, corpus-growing query
sets, driver-side fits).
"""
import json
import sys


def noisy(leg):
    """The leg's flagged-noisy key count; a leg written before keys
    were flagged instead of re-timed carries n_retimed."""
    if "n_noisy" in leg or "n_retimed" not in leg:
        return leg.get("n_noisy")
    return f"{leg['n_retimed']} re-timed"


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    flag = 3.0
    for a in sys.argv[1:]:
        if a.startswith("--flag="):
            flag = float(a.split("=", 1)[1])
    if len(args) < 2:
        sys.exit(__doc__)
    legs = [json.load(open(p)) for p in args]
    names = [p.split("/")[-1] for p in args]
    print("legs:", " -> ".join(
        f"{n} (sf={d.get('sf')}, n={d.get('n_queries')}, "
        f"failed={d.get('n_failed')}, hlf={d.get('host_load_factor')}, "
        f"n_noisy={noisy(d)})"
        for n, d in zip(names, legs)))
    for b in ("value", "core_total", "tpcds_total", "curate_total",
              "llm_total", "extra_total"):
        vals = [d.get(b) for d in legs]
        steps = [round(b2 / b1, 2) if b1 and b2 else None
                 for b1, b2 in zip(vals, vals[1:])]
        print(f"{b:14s} " + " -> ".join(str(v) for v in vals) +
              "   steps " + str(steps))
    # Workload-revision guard: a key that keeps its name but changes
    # workload (clamped query set, fixed probe batch, ...) is stamped in
    # the artifact's workload_rev map; legs that disagree — including a
    # pre-stamp leg missing the field for a later-rev'd key — are two
    # different workloads and their step ratio is meaningless.
    rev_keys = set().union(*(d.get("workload_rev", {}) for d in legs))
    for k in sorted(rev_keys):
        # rev defaults to 1 for legs that timed the key before stamping
        # existed; legs that didn't run the key at all don't vote
        series = [d.get("workload_rev", {}).get(k, 1)
                  for d in legs if k in d.get("queries", {})]
        if len(set(series)) > 1:
            print(f"WARNING: {k} straddles a workload-semantics change "
                  f"(revs {series}) — step ratios mix two workloads",
                  file=sys.stderr)
    qs = [d.get("queries", {}) for d in legs]
    common = set(qs[0])
    for q in qs[1:]:
        common &= set(q)
    rows = []
    for k in common:
        series = [q[k] for q in qs]
        if any(v is None or v <= 0 for v in series):
            continue
        steps = [round(b / a, 2) for a, b in zip(series, series[1:])]
        rows.append((steps[-1], k, series, steps))
    rows.sort(reverse=True)
    flagged = [r for r in rows if r[0] > flag]
    print(f"\n== {len(flagged)} keys with final step > {flag}x "
          f"(of {len(rows)} timed at every leg) ==")
    for ratio, k, series, steps in flagged:
        print(f"{k:34s} " + " -> ".join(f"{v:7.2f}" for v in series) +
              f"   steps {steps}")
    print("\n== slowest 15 at the largest leg ==")
    for ratio, k, series, steps in sorted(rows, key=lambda r: -r[2][-1])[:15]:
        print(f"{k:34s} " + " -> ".join(f"{v:7.2f}" for v in series) +
              f"   steps {steps}")


if __name__ == "__main__":
    main()
