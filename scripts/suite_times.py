#!/usr/bin/env python3
"""Tier-1 suite time report from sbt's JUnit XML reports.

Usage: python3 scripts/suite_times.py [reportsDir] [--top N]

Sums the `time` attribute of every <testsuite> in
<reportsDir>/TEST-*.xml (default: target/test-reports, which
`sbt test`/`testOnly` rewrites per suite) and prints the total suite
seconds, the test count (with failures, errors and skips), the suite
count, and the N slowest suites (default 10). Suite time is the
summed per-suite wall time sbt records, not the wall time of the
whole run: suites that run in parallel count once each.
"""
import glob
import os
import sys
import xml.etree.ElementTree as ET


def suites(reports_dir):
    rows = []
    for path in sorted(glob.glob(os.path.join(reports_dir, "TEST-*.xml"))):
        root = ET.parse(path).getroot()
        for s in ([root] if root.tag == "testsuite" else root.iter("testsuite")):
            rows.append({
                "name": s.get("name", os.path.basename(path)),
                "time": float(s.get("time", "0") or 0),
                "tests": int(s.get("tests", "0") or 0),
                "failures": int(s.get("failures", "0") or 0),
                "errors": int(s.get("errors", "0") or 0),
                "skipped": int(s.get("skipped", "0") or 0),
            })
    return rows


def main(argv):
    top = 10
    args = []
    i = 0
    while i < len(argv):
        if argv[i] == "--top":
            top = int(argv[i + 1])
            i += 2
        else:
            args.append(argv[i])
            i += 1
    reports_dir = args[0] if args else "target/test-reports"
    rows = suites(reports_dir)
    if not rows:
        print(f"no TEST-*.xml reports under {reports_dir}", file=sys.stderr)
        return 1
    total = sum(r["time"] for r in rows)
    tests = sum(r["tests"] for r in rows)
    bad = sum(r["failures"] + r["errors"] for r in rows)
    skipped = sum(r["skipped"] for r in rows)
    print(f"suite time: {total:,.1f} s over {tests} tests in {len(rows)} "
          f"suites ({bad} failed or errored, {skipped} skipped)")
    print(f"slowest {min(top, len(rows))} suites:")
    for r in sorted(rows, key=lambda r: -r["time"])[:top]:
        print(f"  {r['time']:9.1f} s  {r['tests']:4d} tests  {r['name']}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
