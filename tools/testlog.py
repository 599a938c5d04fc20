#!/usr/bin/env python3
"""Check an sbt test log for failures that sbt's closing summary can miss.

sbt's summary counts what the forked test JVM reported before it ended,
so a suite that dies of OutOfMemoryError can leave a summary with no
failure in it. This reads the whole log instead: it prints each suite's
passed/failed/canceled/ignored counts, then every problem line, and
exits 1 when there is a problem:

* a line with ``*** FAILED ***``, ``*** ABORTED ***``, ``OutOfMemoryError``
  or ``done method is called twice``;
* no test at all in the log;
* a ``Tests: succeeded …`` summary whose counts differ from the tests
  the log lists.

Usage: python3 tools/testlog.py <sbt log>
"""
import re
import sys
from collections import OrderedDict

PROBLEMS = ("*** FAILED ***", "*** ABORTED ***", "OutOfMemoryError",
            "done method is called twice")
SUITE = re.compile(r"^\[info\] ([A-Za-z_][\w.$]*):$")
TEST = re.compile(r"^\[info\] - ")
KINDS = ("passed", "failed", "canceled", "ignored", "pending")
SUMMARY = re.compile(r"Tests: succeeded (\d+), failed (\d+), canceled (\d+), "
                     r"ignored (\d+), pending (\d+)")


def outcome(line: str) -> str:
    if "*** FAILED ***" in line:
        return "failed"
    if "!!! CANCELED !!!" in line:
        return "canceled"
    if "!!! IGNORED !!!" in line:
        return "ignored"
    if "(pending)" in line:
        return "pending"
    return "passed"


def check(lines):
    """Return (per-suite counts, problem lines, summary counts or None)."""
    suites = OrderedDict()
    problems, summary = [], None
    suite = "(no suite)"
    for n, line in enumerate(lines, 1):
        line = line.rstrip("\n")
        m = SUITE.match(line)
        if m:
            suite = m.group(1)
            suites.setdefault(suite, dict.fromkeys(KINDS, 0))
        elif TEST.match(line):
            suites.setdefault(suite, dict.fromkeys(KINDS, 0))[outcome(line)] += 1
        m = SUMMARY.search(line)
        if m:
            summary = tuple(int(g) for g in m.groups())
        if any(p in line for p in PROBLEMS):
            problems.append(f"{n}: {line.strip()}")
    return suites, problems, summary


def main() -> int:
    if len(sys.argv) != 2:
        print(__doc__.strip().splitlines()[-1], file=sys.stderr)
        return 2
    with open(sys.argv[1], encoding="utf-8", errors="replace") as f:
        suites, problems, summary = check(f)
    total = {k: sum(c[k] for c in suites.values()) for k in KINDS}
    for name, c in suites.items():
        print(f"{name}: {c['passed']} passed, {c['failed']} failed, "
              f"{c['canceled']} canceled, {c['ignored']} ignored")
    print(f"total: {len(suites)} suites, {total['passed']} passed, {total['failed']} failed, "
          f"{total['canceled']} canceled, {total['ignored']} ignored")
    if sum(total.values()) == 0:
        problems.append("no test in the log")
    if summary is not None:
        listed = tuple(total[k] for k in KINDS)
        if summary != listed:
            problems.append(f"sbt summary {summary} (succeeded, failed, canceled, ignored, "
                            f"pending) differs from the listed tests {listed}")
    for p in problems:
        print(f"PROBLEM {p}")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
