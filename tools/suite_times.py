#!/usr/bin/env python3
"""Wall time per test suite, from sbt's JUnit reports
(target/test-reports/TEST-*.xml, written by `sbt test` / `testOnly`).

Prints the total, then the slowest suites with their spec counts. A
report stays until `sbt clean`, so a suite that was not re-run (or no
longer exists) still counts.

    python3 tools/suite_times.py
"""
import glob
import os
import xml.etree.ElementTree as ET

TOP = 15  # slowest suites listed
REPORTS = os.path.join(os.path.dirname(__file__), "..", "target", "test-reports", "TEST-*.xml")


def main():
    suites = []
    for path in glob.glob(REPORTS):
        s = ET.parse(path).getroot()
        suites.append((float(s.get("time", 0)), int(s.get("tests", 0)), s.get("name")))
    if not suites:
        raise SystemExit(f"no reports match {os.path.normpath(REPORTS)}; run the suite first")
    total = sum(t for t, _, _ in suites)
    specs = sum(n for _, n, _ in suites)
    print(f"total: {total:,.1f} s over {len(suites)} suites, {specs} specs")
    print(f"slowest {TOP}:")
    for t, n, name in sorted(suites, reverse=True)[:TOP]:
        print(f"  {t:8.1f} s  {n:4d} specs  {name}")


if __name__ == "__main__":
    main()
