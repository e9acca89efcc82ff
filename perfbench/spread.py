#!/usr/bin/env python3
"""Median, quartiles and spread of the benchmark's runs.

    python3 perfbench/spread.py [--last N] [runs.ndjson]

Reads the run summaries perfbench/run.py appends to perfbench/out/runs.ndjson
and prints, per workload and source fingerprint, each end-to-end metric's
median, quartiles and the distance between the quartiles as a share of the
median, over the untraced runs that passed their checks (the last N of them
with --last); and the slope of each metric against the share of CPU time
the hypervisor stole during the run, as a share of the median. For the
CPU-time metrics it should be near 0 if run.py's correction holds.
"""
import argparse
import collections
import json
import os

import stats

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("runs", nargs="?", default=os.path.join(HERE, "out", "runs.ndjson"))
    ap.add_argument("--last", type=int, default=0)
    args = ap.parse_args()
    groups = collections.defaultdict(list)
    with open(args.runs) as fh:
        for line in fh:
            r = json.loads(line)
            if not r["trace"] and not r["failed"] and r["end_to_end"]:
                groups[(r["workload"], r["source_sha256"][:12])].append(r)
    for (workload, fp), runs in sorted(groups.items()):
        runs = runs[-args.last:] if args.last else runs
        seeds = ",".join(str(r["seed"]) for r in runs)
        contended = sum(r["probe_out_of_band"] for r in runs)
        print(f"{workload} sources {fp}: {len(runs)} runs (seeds {seeds}; "
              f"{contended} flagged as run on a contended host)")
        for name in runs[0]["end_to_end"]:
            xs = [r["end_to_end"][name] for r in runs]
            q1, q2, q3 = stats.quartiles(xs)
            # summaries written before the stolen share was recorded have none
            steals = [r.get("steal_share") for r in runs]
            fit = stats.slope(steals, xs) if None not in steals else None
            against = f"  vs steal {fit[0] / q2:+.2f} +- {fit[1] / q2:.2f}" if fit else ""
            print(f"  {name:12s} median {q2:10.4g}  q1 {q1:10.4g}  q3 {q3:10.4g}"
                  f"  iqr/median {stats.iqr_share(xs):6.3f}{against}")


if __name__ == "__main__":
    main()
