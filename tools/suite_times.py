#!/usr/bin/env python3
"""Per-suite test times from sbt's JUnit XML reports, slowest first.

Usage: python3 tools/suite_times.py [REPORT_DIR]

REPORT_DIR defaults to target/test-reports. Prints one line per suite
(seconds, tests, failures + errors, suite name) and the total. Exits 1
when the directory holds no TEST-*.xml report.
"""
import glob
import os
import sys
import xml.etree.ElementTree as ET


def suites(report_dir):
    rows = []
    for path in sorted(glob.glob(os.path.join(report_dir, "TEST-*.xml"))):
        root = ET.parse(path).getroot()
        # a report is one <testsuite>, or a <testsuites> wrapping several
        for s in ([root] if root.tag == "testsuite" else root.iter("testsuite")):
            rows.append((float(s.get("time", 0) or 0), int(s.get("tests", 0)),
                         int(s.get("failures", 0)) + int(s.get("errors", 0)),
                         s.get("name", os.path.basename(path))))
    return rows


def main(argv):
    report_dir = argv[1] if len(argv) > 1 else os.path.join("target", "test-reports")
    rows = suites(report_dir)
    if not rows:
        print(f"no TEST-*.xml reports under {report_dir}", file=sys.stderr)
        return 1
    rows.sort(key=lambda r: -r[0])
    print(f"{'seconds':>9} {'tests':>5} {'failed':>6}  suite")
    for secs, tests, failed, name in rows:
        print(f"{secs:9.1f} {tests:5d} {failed:6d}  {name}")
    print(f"{sum(r[0] for r in rows):9.1f} {sum(r[1] for r in rows):5d} "
          f"{sum(r[2] for r in rows):6d}  total ({len(rows)} suites)")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
