#!/usr/bin/env python3
"""Alternating parent/change pairs of benchmark runs, and the rule that
says whether the change won.

    python3 scripts/perf_pairs.py [--out pairs.json] \\
        <parent-checkout> <change-checkout> <workload> <seed> [<seed> ...]

For each seed it runs `python3 perfbench/run.py --workload <workload>
--seed <seed> --seconds <run_seconds> --trace 0` once in each checkout,
one after the other, and swaps which side goes first on every seed (the
parent first on the first seed), so drift of the host over the session
falls on both sides alike. It then prints, for every end-to-end metric
the change's BENCHMARK.json declares: the pairs the change won (a
strictly better value in the metric's declared direction), each side's
median and quartiles, whether the gap between the medians exceeds
the distance between the parent's quartiles, and the mean change minus
parent difference over the parent-first and the change-first pairs
apart (an order effect shows as the two disagreeing). A gain is
claimed only when the change wins at least 9 of 10 pairs and the
median gap exceeds the parent's IQR. The runs must not overlap any other benchmark JVM;
run.py refuses to start beside one. A failed run ends the script.
"""
import argparse
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "perfbench"))
from stats import quartiles  # noqa: E402  (the benchmark's own quartile rule)


def run(checkout, workload, seed, seconds):
    """One untraced run: the metric values of its last stdout line."""
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=checkout, stdout=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit(f"{checkout}: seed {seed} exited {p.returncode}")
    res = json.loads(lines[-1])
    if res["failed"]:
        sys.exit(f"{checkout}: seed {seed} failed {res['failed']} checks")
    return {n: m["value"] for n, m in res["metrics"].items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("workload")
    ap.add_argument("seeds", nargs="+", type=int)
    ap.add_argument("--out", help="write every run's metrics here as JSON")
    args = ap.parse_args()
    with open(os.path.join(args.change, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}

    pairs = []
    for i, seed in enumerate(args.seeds):
        order = [("parent", args.parent), ("change", args.change)]
        if i % 2:
            order.reverse()
        pair = {"seed": seed, "first": order[0][0]}
        for side, checkout in order:
            pair[side] = run(checkout, args.workload, seed, bench["run_seconds"])
        pairs.append(pair)
        print(f"seed {seed} ({pair['first']} first): " + ", ".join(
            f"{n} {pair['parent'][n]:.4g} -> {pair['change'][n]:.4g}"
            for n in better if n in pair["parent"]), flush=True)
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(pairs, fh, indent=1)

    print(f"\n{args.workload}, {len(pairs)} pairs")
    for name, direction in better.items():
        ps = [p for p in pairs if name in p["parent"] and name in p["change"]]
        if not ps:
            continue
        par = [p["parent"][name] for p in ps]
        chg = [p["change"][name] for p in ps]
        sign = -1 if direction == "lower" else 1
        won = sum(sign * (c - a) > 0 for a, c in zip(par, chg))
        pq, cq = quartiles(par), quartiles(chg)
        gap = sign * (cq[1] - pq[1])
        iqr = pq[2] - pq[0]
        print(f"  {name} ({direction} is better): change won {won} of {len(ps)} pairs")
        print(f"    parent median {pq[1]:.4g} (q1 {pq[0]:.4g}, q3 {pq[2]:.4g}, IQR {iqr:.4g})")
        print(f"    change median {cq[1]:.4g} (q1 {cq[0]:.4g}, q3 {cq[2]:.4g})")
        print(f"    median gain {gap:+.4g}: {'exceeds' if gap > iqr else 'does not exceed'} "
              f"the parent's IQR; {'gain holds' if won >= 0.9 * len(ps) and gap > iqr else 'no gain claimed'}")
        # run order within a pair can carry its own effect, which
        # alternation cancels only on average: show each order apart
        for first in ("parent", "change"):
            ds = [p["change"][name] - p["parent"][name] for p in ps if p["first"] == first]
            if ds:
                print(f"    {first} first: mean change - parent {sum(ds) / len(ds):+.4g} "
                      f"over {len(ds)} pairs")


if __name__ == "__main__":
    main()
