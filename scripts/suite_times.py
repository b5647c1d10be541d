#!/usr/bin/env python3
"""Print test suites by wall time from sbt's JUnit XML reports.

Usage:
  python3 scripts/suite_times.py [REPORT_DIR] [--top N]

REPORT_DIR defaults to target/test-reports (written by `sbt test` /
`sbt "testOnly *"`). One line per suite, slowest first: seconds, share of
the suite sum, test count, failures+errors, suite name. The last line is
the sum against the 2670 s timeout the tier-1 test command runs under.
The sum covers test time only; sbt startup and compilation come on top.
"""
import glob
import os
import sys
import xml.etree.ElementTree as ET

LIMIT_S = 2670.0


def suites(report_dir):
    for path in sorted(glob.glob(os.path.join(report_dir, "*.xml"))):
        root = ET.parse(path).getroot()
        for s in ([root] if root.tag == "testsuite" else root.iter("testsuite")):
            yield (float(s.get("time", 0.0)), int(s.get("tests", 0)),
                   int(s.get("failures", 0)) + int(s.get("errors", 0)),
                   s.get("name", os.path.basename(path)))


def main(argv):
    top = None
    if "--top" in argv:
        i = argv.index("--top")
        top = int(argv[i + 1])
        argv = argv[:i] + argv[i + 2:]
    if len(argv) > 1:
        print(__doc__)
        return 2
    report_dir = argv[0] if argv else "target/test-reports"
    rows = sorted(suites(report_dir), reverse=True)
    if not rows:
        print(f"no JUnit XML reports under {report_dir}")
        return 1
    total = sum(r[0] for r in rows)
    for secs, tests, bad, name in rows[:top]:
        print(f"{secs:9.1f} s  {100 * secs / total:5.1f} %  {tests:4d} tests  {bad:3d} bad  {name}")
    print(f"{len(rows)} suites, {sum(r[1] for r in rows)} tests: "
          f"{total:.1f} s of the {LIMIT_S:.0f} s limit ({100 * total / LIMIT_S:.1f} %)")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
