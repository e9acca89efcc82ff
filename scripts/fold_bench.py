#!/usr/bin/env python3
"""Fold the full per-query bench artifact (target/bench.json, written
by graft.Bench) into a driver-recorded BENCH_r{N}.json whose stdout
tail was truncated (the "parsed": null finding): the file artifact is
authoritative — it carries every probe, the complete per-query map and
the noisy-key map — while the driver's copy keeps whatever
its stdout window caught.

Usage: python3 scripts/fold_bench.py [--force] <BENCH_rN.json> [target/bench.json]

Writes the merged JSON back to <BENCH_rN.json> (keys from the bench
artifact win; driver-side metadata like timestamps is preserved).
Refuses to fold when the two artifacts disagree on sf or on query
count (beyond the expected stdout truncation, which only ever LOSES
driver-side queries) — a stale target/bench.json from an earlier run
must not silently overwrite a driver record. Pass --force to override.
"""
import json
import sys


def main() -> None:
    argv = [a for a in sys.argv[1:] if a != "--force"]
    force = "--force" in sys.argv[1:]
    if not argv:
        sys.exit(__doc__)
    driver_path = argv[0]
    bench_path = argv[1] if len(argv) > 1 else "target/bench.json"
    with open(bench_path) as f:
        bench = json.load(f)
    try:
        with open(driver_path) as f:
            driver = json.load(f)
    except (FileNotFoundError, json.JSONDecodeError):
        driver = {}
    if not isinstance(driver, dict):
        driver = {"driver_raw": driver}
    # Same-run sanity: the driver record (when parseable) must agree on sf,
    # and the driver's query map — truncated stdout only ever drops queries —
    # must be a subset count-wise of the file artifact's.
    parsed = driver.get("parsed") if isinstance(driver.get("parsed"), dict) else driver
    mismatches = []

    def norm_sf(v):
        # Bench historically emitted sf as a float (0.1) or as the fixture
        # dir path ("/root/testdata/sf0.1"); compare the numeric scale.
        if isinstance(v, str):
            import re
            m = re.search(r"sf([0-9.]+)/?$", v)
            if m:
                try:
                    return float(m.group(1))
                except ValueError:
                    return v
        return float(v) if isinstance(v, (int, float)) else v

    dsf, bsf = norm_sf(parsed.get("sf")), norm_sf(bench.get("sf"))
    if dsf is not None and bsf is not None and dsf != bsf:
        mismatches.append(f"sf mismatch: driver={dsf} bench={bsf}")
    # run-identity nonce (both sides emit it since r8): the strongest
    # same-run signal — a stale bench file with equal sf and query
    # count previously folded silently
    drid, brid = parsed.get("run_id"), bench.get("run_id")
    if drid is not None and brid is not None and drid != brid:
        mismatches.append(f"run_id mismatch: driver={drid} bench={brid}")
    dq = parsed.get("queries")
    if isinstance(dq, dict) and len(dq) > len(bench.get("queries", {})):
        mismatches.append(
            f"driver has MORE queries ({len(dq)}) than bench artifact "
            f"({len(bench.get('queries', {}))}) — bench file looks stale")
    if mismatches and not force:
        sys.exit("refusing to fold (--force to override):\n  " +
                 "\n  ".join(mismatches))
    for m in mismatches:
        print(f"WARNING (--force): {m}", file=sys.stderr)
    # the bench artifact is authoritative for every metric it carries;
    # a stale/truncated "parsed" blob is replaced wholesale
    merged = {k: v for k, v in driver.items() if k != "parsed"}
    merged.update(bench)
    with open(driver_path, "w") as f:
        json.dump(merged, f, indent=1)
    nq = len(bench.get("queries", {}))
    print(f"folded {bench_path} ({nq} queries) into {driver_path}")


if __name__ == "__main__":
    main()
