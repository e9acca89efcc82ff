#!/usr/bin/env python3
"""Where the test suite's time goes, from the JUnit XML reports of the
last `sbt test` / `sbt testOnly` run.

Run from the repo root (it reads target/test-reports/TEST-*.xml):

    python3 scripts/spec_times.py

Prints the seconds of every suite (slowest first), the per-test seconds
of the five slowest suites, and the total. Suite time is the report's
own `time` attribute, so it excludes JVM start and compilation: the
total is spec time, not the run's wall time.
"""
import glob
import sys
import xml.etree.ElementTree as ET

SLOWEST = 5


def main():
    paths = sorted(glob.glob("target/test-reports/TEST-*.xml"))
    if not paths:
        sys.exit("no target/test-reports/TEST-*.xml here: run the tests first")
    suites = []
    for p in paths:
        root = ET.parse(p).getroot()
        cases = [(float(c.get("time", 0)), c.get("name"))
                 for c in root.iter("testcase")]
        suites.append((float(root.get("time", 0)), root.get("name"), cases))
    suites.sort(key=lambda s: -s[0])
    n_tests = sum(len(s[2]) for s in suites)
    print(f"suite seconds ({len(suites)} suites, {n_tests} tests)")
    for secs, name, cases in suites:
        print(f"{secs:9.2f}  {name} ({len(cases)} tests)")
    for secs, name, cases in suites[:SLOWEST]:
        print(f"\n{name}: {secs:.2f} s")
        for t, case in sorted(cases, key=lambda c: -c[0]):
            print(f"{t:9.2f}  {case}")
    print(f"\ntotal {sum(s[0] for s in suites):.2f} s")


if __name__ == "__main__":
    main()
