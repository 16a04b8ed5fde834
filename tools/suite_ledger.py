#!/usr/bin/env python3
"""Per-suite wall-time ledger of the last test run.

Usage: python3 tools/suite_ledger.py [reportsDir] [--timeout SECONDS]

Reads the JUnit XML reports sbt leaves in target/test-reports
(TEST-<suite>.xml, one per suite) and prints each suite's wall time,
largest first, with its test count, failures and share of the total, then
the total against the Tier-1 per-command timeout (2670 s by default).
Suites run one after another in the one forked test JVM, so the sum is
the run's suite time; sbt start-up and compilation are not in it.
"""
import argparse
import glob
import os
import sys
import xml.etree.ElementTree as ET

TIER1_TIMEOUT_S = 2670.0


def suites(reports):
    rows = []
    for path in sorted(glob.glob(os.path.join(reports, "TEST-*.xml"))):
        root = ET.parse(path).getroot()
        for s in ([root] if root.tag == "testsuite" else root.iter("testsuite")):
            bad = int(s.get("failures", 0)) + int(s.get("errors", 0))
            rows.append((float(s.get("time", 0)), s.get("name"),
                         int(s.get("tests", 0)), bad))
    return sorted(rows, key=lambda r: (-r[0], r[1]))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("reports", nargs="?", default=os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "target", "test-reports"))
    ap.add_argument("--timeout", type=float, default=TIER1_TIMEOUT_S)
    a = ap.parse_args()

    rows = suites(a.reports)
    if not rows:
        sys.exit(f"suite_ledger: no TEST-*.xml under {a.reports}")
    total = sum(r[0] for r in rows)
    width = max(len(r[1]) for r in rows)
    print(f"{'suite':<{width}}  {'wall_s':>8}  {'share':>6}  {'tests':>5}  failed")
    for t, name, tests, bad in rows:
        print(f"{name:<{width}}  {t:8.1f}  {t / total:6.1%}  {tests:5d}  {bad}")
    print(f"{'total':<{width}}  {total:8.1f}  {len(rows)} suites, "
          f"{sum(r[2] for r in rows)} tests, {sum(r[3] for r in rows)} failed; "
          f"{total / a.timeout:.1%} of the {a.timeout:.0f} s timeout")


if __name__ == "__main__":
    main()
