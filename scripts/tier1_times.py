#!/usr/bin/env python3
"""Print the total and the slowest suites of a test run.

Reads the JUnit XML reports sbt writes (default `target/test-reports`):

    python3 scripts/tier1_times.py [report_dir] [--top N]
    python3 scripts/tier1_times.py [report_dir] --against OTHER_REPORT_DIR

The total is the sum of the suites' own times, so it leaves out sbt start-up
and compilation. With `--against`, each suite's time is printed beside its
time in the other run and the delta (this run minus the other).
"""
import argparse
import glob
import os
import xml.etree.ElementTree as ET


def read_suites(report_dir):
    """{suite name: (seconds, tests, failed or errored)} of one run."""
    suites = {}
    for path in glob.glob(os.path.join(report_dir, "*.xml")):
        root = ET.parse(path).getroot()
        for s in [root] if root.tag == "testsuite" else root.iter("testsuite"):
            bad = int(s.get("failures", 0)) + int(s.get("errors", 0))
            suites[s.get("name")] = (float(s.get("time", 0)),
                                     int(s.get("tests", 0)), bad)
    if not suites:
        raise SystemExit(f"no suite reports under {report_dir}")
    return suites


def summary(suites):
    total = sum(t for t, _, _ in suites.values())
    tests = sum(n for _, n, _ in suites.values())
    failed = sum(b for _, _, b in suites.values())
    return (f"total {total:.1f} s over {len(suites)} suites, "
            f"{tests} tests, {failed} failed or errored")


def print_against(this, other):
    names = sorted(this.keys() | other.keys(),
                   key=lambda n: -max(this.get(n, (0,))[0], other.get(n, (0,))[0]))
    print(f"{'this':>9} {'other':>9} {'delta':>9}  suite")
    for n in names:
        a, b = this.get(n), other.get(n)
        fa = f"{a[0]:8.1f}s" if a else f"{'-':>9}"
        fb = f"{b[0]:8.1f}s" if b else f"{'-':>9}"
        fd = f"{a[0] - b[0]:+8.1f}s" if a and b else f"{'':>9}"
        bad = f", {a[2]} failed" if a and a[2] else ""
        tests = f"  ({a[1]} tests{bad})" if a else ""
        print(f"{fa} {fb} {fd}  {n}{tests}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("report_dir", nargs="?", default="target/test-reports")
    ap.add_argument("--top", type=int, default=10)
    ap.add_argument("--against", metavar="OTHER_REPORT_DIR",
                    help="print each suite's time beside this other run's")
    args = ap.parse_args()

    this = read_suites(args.report_dir)
    print(summary(this))
    if args.against:
        other = read_suites(args.against)
        print(f"other: {summary(other)}")
        print_against(this, other)
        return
    ranked = sorted(this.items(), key=lambda kv: -kv[1][0])
    for name, (t, n, bad) in ranked[:args.top]:
        print(f"{t:8.1f} s  {name}  ({n} tests{f', {bad} failed' if bad else ''})")


if __name__ == "__main__":
    main()
