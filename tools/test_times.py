#!/usr/bin/env python3
"""Summarise sbt's JUnit test reports (target/test-reports/TEST-*.xml).

One directory: summed test time, test count, the N slowest suites and
the N slowest tests. Two directories (before, after): also the per-test
time delta, largest moves first, and the tests present on one side only.
A test whose name is unique on both sides but whose suite changed is
paired as "moved: A -> B" and counts in the delta. Within one directory,
a test name reported by several suites (a stale report of a deleted
suite) is counted once, from the newest report, with a warning.

  python3 tools/test_times.py target/test-reports
  python3 tools/test_times.py before/ after/ -n 10
  python3 tools/test_times.py before/ after/ --match 'lint|Cartesian'

--match keeps only tests whose "suite::name" matches the regex, so the
totals and the delta cover just that subset.
"""
import argparse
import glob
import os
import re
import sys
import xml.etree.ElementTree as ET


def load(directory, match=None):
    """{"suite::test": (seconds, status)} from every report in directory.

    sbt never removes the report of a deleted suite, so a test that moved
    suites can sit in two reports of one directory. A test name found
    under several suites is counted only from the newest report (its
    `timestamp`), and the suites are printed as a warning."""
    files = sorted(glob.glob(os.path.join(directory, "TEST-*.xml")))
    if not files:
        sys.exit(f"no TEST-*.xml reports in {directory}")
    seen = {}  # test name -> [(report timestamp, key, (seconds, status))]
    for path in files:
        root = ET.parse(path).getroot()
        stamp = root.get("timestamp") or ""
        for case in root.iter("testcase"):
            key = f"{case.get('classname')}::{case.get('name')}"
            if match and not re.search(match, key):
                continue
            status = "ok"
            for tag in ("failure", "error", "skipped"):
                if case.find(tag) is not None:
                    status = tag
            seen.setdefault(case.get("name"), []).append(
                (stamp, key, (float(case.get("time") or 0.0), status)))
    tests, stale = {}, {}
    for entries in seen.values():
        newest = max(entries)
        tests[newest[1]] = newest[2]
        if len(entries) > 1:
            suites = tuple(sorted({(e[0], e[1].split("::", 1)[0])
                                   for e in entries}))
            stale[suites] = stale.get(suites, 0) + 1
    for suites, n in sorted(stale.items()):
        listed = ", ".join(f"{suite} ({stamp})" for stamp, suite in suites)
        print(f"warning: {directory}: {n} test name(s) reported by {listed}; "
              f"counting only the newest, {suites[-1][1]}", file=sys.stderr)
    return tests


def summary(label, tests, n):
    total = sum(t for t, _ in tests.values())
    bad = sum(1 for _, s in tests.values() if s != "ok")
    print(f"{label}: {len(tests)} tests, {total:.1f} s summed, "
          f"{bad} not ok")
    suites = {}
    for key, (t, _) in tests.items():
        suite = key.split("::", 1)[0]
        suites[suite] = suites.get(suite, 0.0) + t
    print("  slowest suites:")
    for suite, t in sorted(suites.items(), key=lambda kv: -kv[1])[:n]:
        print(f"    {t:8.1f} s  {suite}")
    print("  slowest tests:")
    for key, (t, s) in sorted(tests.items(), key=lambda kv: -kv[1][0])[:n]:
        flag = "" if s == "ok" else f"  [{s}]"
        print(f"    {t:8.1f} s  {key}{flag}")


def moved(before, after):
    """{before key: after key} for the tests whose name is unique on
    both sides and whose suite changed."""
    def by_name(tests):
        names = {}
        for key in tests:
            names.setdefault(key.split("::", 1)[1], []).append(key)
        return names
    nb, na = by_name(before), by_name(after)
    return {kb[0]: na[name][0] for name, kb in nb.items()
            if len(kb) == 1 and len(na.get(name, ())) == 1
            and kb[0] != na[name][0]}


def delta(before, after, n):
    moves = moved(before, after)
    pairs = sorted([(k, k) for k in set(before) & set(after)]
                   + list(moves.items()),
                   key=lambda p: -abs(after[p[1]][0] - before[p[0]][0]))
    tb = sum(before[b][0] for b, _ in pairs)
    ta = sum(after[a][0] for _, a in pairs)
    ratio = f" ({ta / tb:.2f}x)" if tb else ""
    print(f"delta over {len(pairs)} paired tests ({len(moves)} moved): "
          f"{tb:.1f} s -> {ta:.1f} s{ratio}")
    for kb, ka in pairs[:n]:
        b, a = before[kb][0], after[ka][0]
        print(f"    {b:8.1f} -> {a:8.1f} s  ({a - b:+8.1f})  {ka}")
    for kb, ka in sorted(moves.items()):
        suite_b, name = kb.split("::", 1)
        print(f"  moved: {suite_b} -> {ka.split('::', 1)[0]}  {name}")
    for label, only in (("only before", set(before) - set(after) - set(moves)),
                        ("only after",
                         set(after) - set(before) - set(moves.values()))):
        for k in sorted(only):
            print(f"  {label}: {k}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("dirs", nargs="+", metavar="DIR",
                    help="one reports directory, or two: before after")
    ap.add_argument("-n", type=int, default=10,
                    help="rows per ranking (default 10)")
    ap.add_argument("--match", help="regex over 'suite::test'")
    args = ap.parse_args()
    if len(args.dirs) > 2:
        ap.error("give one or two report directories")
    runs = [load(d, args.match) for d in args.dirs]
    for d, tests in zip(args.dirs, runs):
        summary(d, tests, args.n)
    if len(runs) == 2:
        delta(runs[0], runs[1], args.n)


if __name__ == "__main__":
    main()
