#!/usr/bin/env python3
"""Print the total and the slowest suites of a test run.

Reads the JUnit XML reports sbt writes (default `target/test-reports`):

    python3 scripts/tier1_times.py [report_dir] [--top N]

The total is the sum of the suites' own times, so it leaves out sbt start-up
and compilation.
"""
import argparse
import glob
import os
import xml.etree.ElementTree as ET


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("report_dir", nargs="?", default="target/test-reports")
    ap.add_argument("--top", type=int, default=10)
    args = ap.parse_args()

    suites = []
    for path in glob.glob(os.path.join(args.report_dir, "*.xml")):
        root = ET.parse(path).getroot()
        for s in [root] if root.tag == "testsuite" else root.iter("testsuite"):
            bad = int(s.get("failures", 0)) + int(s.get("errors", 0))
            suites.append((float(s.get("time", 0)), s.get("name"),
                           int(s.get("tests", 0)), bad))
    if not suites:
        raise SystemExit(f"no suite reports under {args.report_dir}")

    suites.sort(reverse=True)
    total = sum(t for t, *_ in suites)
    tests = sum(n for _, _, n, _ in suites)
    failed = sum(b for *_, b in suites)
    print(f"total {total:.1f} s over {len(suites)} suites, "
          f"{tests} tests, {failed} failed or errored")
    for t, name, n, bad in suites[:args.top]:
        print(f"{t:8.1f} s  {name}  ({n} tests{f', {bad} failed' if bad else ''})")


if __name__ == "__main__":
    main()
