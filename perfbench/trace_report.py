#!/usr/bin/env python3
"""Summarise one traced benchmark record, or diff two.

    python3 perfbench/trace_report.py .bench_out/catalog-seed1-trace1.json
    python3 perfbench/trace_report.py OLD.json NEW.json

Records are what `run.py --trace 1` writes under .bench_out/. For each
record it prints, per layer and per catalog query, the span count, total
time and self time (a span's duration minus the part of it its child
spans cover), then the per-layer metrics. Given two records it prints
both side by side with the NEW/OLD ratio, so "which layer of a query got
slower between two commits" is answered from the files alone. Records
whose host or configuration facts differ are flagged: compare like with
like only.
"""
import json
import sys
from collections import defaultdict

LIKE_WITH_LIKE = ("workload", "nproc", "xmx", "jdk", "spark", "spark_confs",
                  "seconds", "params")


def self_times(spans):
    """{span id: self microseconds}."""
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_us"], s["end_us"]
        iv = sorted((max(lo, c["start_us"]), min(hi, c["end_us"]))
                    for c in children.get(s["id"], []))
        covered, cur_lo, cur_hi = 0, None, None
        for a, b in iv:
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (hi - lo) - covered
    return out


def summarise(record):
    """{row label: (count, total ms, self ms)} per layer and per query."""
    spans = record.get("spans", [])
    own = self_times(spans)
    rows = defaultdict(lambda: [0, 0.0, 0.0])
    for s in spans:
        dur = (s["end_us"] - s["start_us"]) / 1000.0
        labels = [f"layer {s['name'].split('.')[0]}", f"span {s['name']}"]
        if s["name"].startswith("queries."):
            labels.append(f"query {s['key'].split('/')[0]} {s['name'].split('.')[1]}")
        for label in labels:
            r = rows[label]
            r[0] += 1
            r[1] += dur
            r[2] += own[s["id"]] / 1000.0
    return dict(rows)


def facts_differ(a, b):
    fa, fb = a.get("facts", {}), b.get("facts", {})
    return [k for k in LIKE_WITH_LIKE if fa.get(k) != fb.get(k)]


def fmt(v):
    return "-" if v is None else f"{v:.3f}" if isinstance(v, float) else str(v)


def print_one(record):
    f = record.get("facts", {})
    print(f"# {f.get('workload')} seed={f.get('seed')} commit={f.get('git_commit')} "
          f"nproc={f.get('nproc')} xmx={f.get('xmx')} digest={f.get('input_digest')} "
          f"steal={fmt(f.get('steal_frac'))}")
    print(f"{'row':48} {'count':>7} {'total_ms':>12} {'self_ms':>12}")
    for label, (n, tot, own) in sorted(summarise(record).items()):
        print(f"{label:48} {n:>7} {tot:>12.1f} {own:>12.1f}")
    print()
    for k, v in sorted(record.get("layers", {}).items()):
        print(f"{k:48} {fmt(v):>14}")


def print_diff(old, new):
    bad = facts_differ(old, new)
    if bad:
        print(f"WARNING: facts differ ({', '.join(bad)}): not like with like")
    a, b = summarise(old), summarise(new)
    print(f"{'row':48} {'old_self_ms':>12} {'new_self_ms':>12} {'new/old':>8}")
    for label in sorted(set(a) | set(b)):
        x, y = a.get(label, [0, 0, 0])[2], b.get(label, [0, 0, 0])[2]
        ratio = f"{y / x:.2f}" if x else "-"
        print(f"{label:48} {x:>12.1f} {y:>12.1f} {ratio:>8}")
    print()
    la, lb = old.get("layers", {}), new.get("layers", {})
    print(f"{'metric':48} {'old':>14} {'new':>14} {'new/old':>8}")
    for k in sorted(set(la) | set(lb)):
        x, y = la.get(k), lb.get(k)
        ratio = f"{y / x:.2f}" if x and y is not None else "-"
        print(f"{k:48} {fmt(x):>14} {fmt(y):>14} {ratio:>8}")


def main(argv):
    if len(argv) not in (2, 3):
        print(__doc__, file=sys.stderr)
        return 2
    records = []
    for path in argv[1:]:
        with open(path) as fh:
            records.append(json.load(fh))
    for path, r in zip(argv[1:], records):
        if "spans" not in r:
            print(f"{path}: not a traced record (run with --trace 1)", file=sys.stderr)
            return 2
    if len(records) == 1:
        print_one(records[0])
    else:
        print_diff(*records)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
