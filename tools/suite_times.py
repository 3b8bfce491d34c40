#!/usr/bin/env python3
"""Per-suite wall time of the last sbt test run, slowest first.

Reads sbt's JUnit reports (target/test-reports/TEST-*.xml under the
current directory), prints one line per suite with its `time=`
attribute in seconds, its test count and its share of the total, then
the total.

Usage: python3 tools/suite_times.py   (from the sbt project root)
"""
import glob
import sys
import xml.etree.ElementTree as ET

REPORTS = "target/test-reports/TEST-*.xml"


def main():
    suites = []
    for path in glob.glob(REPORTS):
        root = ET.parse(path).getroot()
        suites.append((float(root.get("time", 0)), int(root.get("tests", 0)),
                       root.get("name")))
    if not suites:
        sys.exit(f"no reports match {REPORTS}; run sbt test first")
    suites.sort(reverse=True)
    total = sum(s[0] for s in suites)
    for secs, tests, name in suites:
        print(f"{secs:9.1f} s {tests:4d} tests {100 * secs / total:5.1f}%  {name}")
    print(f"{total:9.1f} s {sum(s[1] for s in suites):4d} tests "
          f"({total / 60:.1f} min) in {len(suites)} suites")


if __name__ == "__main__":
    main()
