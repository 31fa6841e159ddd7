#!/usr/bin/env python3
"""Per-suite test durations from sbt's JUnit XML reports.

Usage: python3 tools/suite_times.py [report_dir]

Reads every TEST-*.xml under report_dir (default target/test-reports),
prints one line per suite, slowest first, with its share of the total,
its test count and failures, then the total against the 2670 s timeout
of the tier-1 test run.
"""
import glob
import os
import sys
import xml.etree.ElementTree as ET

BUDGET_S = 2670.0


def suites(report_dir):
    out = []
    for path in sorted(glob.glob(os.path.join(report_dir, "TEST-*.xml"))):
        root = ET.parse(path).getroot()
        for s in ([root] if root.tag == "testsuite" else root.iter("testsuite")):
            out.append((s.get("name"), float(s.get("time", 0)), int(s.get("tests", 0)),
                        int(s.get("failures", 0)) + int(s.get("errors", 0))))
    return out


def main():
    report_dir = sys.argv[1] if len(sys.argv) > 1 else "target/test-reports"
    rows = suites(report_dir)
    if not rows:
        sys.exit(f"suite_times: no TEST-*.xml under {report_dir}")
    rows.sort(key=lambda r: -r[1])
    total = sum(r[1] for r in rows)
    width = max(len(r[0]) for r in rows)
    for name, secs, tests, bad in rows:
        flag = f"  {bad} failed" if bad else ""
        print(f"{name:<{width}}  {secs:8.1f} s  {100 * secs / total:5.1f} %  {tests:3d} tests{flag}")
    n_tests = sum(r[2] for r in rows)
    n_bad = sum(r[3] for r in rows)
    print(f"{'total':<{width}}  {total:8.1f} s  {len(rows)} suites, {n_tests} tests, "
          f"{n_bad} failed; {100 * total / BUDGET_S:.1f} % of the {BUDGET_S:.0f} s budget")


if __name__ == "__main__":
    main()
