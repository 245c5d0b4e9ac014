#!/usr/bin/env python3
"""Per-spec wall time of the last sbt test run, slowest first.

Usage: python3 tools/spec_times.py [report_dir]   (default: target/test-reports)

Reads the JUnit XML reports sbt writes for every suite it runs
(`TEST-<spec>.xml`; the `testsuite` element carries `name`, `tests`,
`failures`, `errors` and the suite's wall `time` in seconds) and prints a
markdown table: spec, tests, failed, seconds, share of the total, and the
running share. The forked test JVM runs suites one after another, so the
total is the suite's wall time less sbt's own start-up and compile.

sbt overwrites a suite's report each run but never deletes one, so a
spec that was removed keeps its old report: clear the directory before a
run whose table you want to keep. The report timestamps are printed so a
stale one is visible.
"""
import glob
import os
import sys
import xml.etree.ElementTree as ET


def load(report_dir):
    rows = []
    for path in glob.glob(os.path.join(report_dir, "TEST-*.xml")):
        suite = ET.parse(path).getroot()
        rows.append((suite.get("name"), int(suite.get("tests", 0)),
                     int(suite.get("failures", 0)) + int(suite.get("errors", 0)),
                     float(suite.get("time", 0.0)),
                     suite.get("timestamp", "")))
    return sorted(rows, key=lambda r: (-r[3], r[0]))


def main():
    report_dir = sys.argv[1] if len(sys.argv) > 1 else "target/test-reports"
    rows = load(report_dir)
    if not rows:
        sys.exit(f"no TEST-*.xml reports under {report_dir}")
    total = sum(r[3] for r in rows)
    stamps = sorted(r[4] for r in rows if r[4])
    if stamps:
        print(f"reports {stamps[0]} .. {stamps[-1]}\n")
    print("| spec | tests | failed | s | share | cumulative |")
    print("|---|---:|---:|---:|---:|---:|")
    running = 0.0
    for name, tests, failed, secs, _ in rows:
        running += secs
        print(f"| {name.removeprefix('graft.')} | {tests} | {failed} | "
              f"{secs:.1f} | {100 * secs / total:.1f} % | "
              f"{100 * running / total:.1f} % |")
    print(f"| **total ({len(rows)} specs)** | {sum(r[1] for r in rows)} | "
          f"{sum(r[2] for r in rows)} | {total:.1f} | 100 % | |")


if __name__ == "__main__":
    main()
