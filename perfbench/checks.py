"""Correctness checks and metric arithmetic over the files a run leaves.

Each check returns the number of operations it found wrong, so the
caller can count them into `failed`; none of them needs Spark.
"""
import json
import math
import os
from collections import Counter

import duckdb

from gen import is_poison

MAX_REDELIVER = 3  # perfbench.Drain.MaxRedeliver
CONTENT_TYPES = ["application/json", "application/json", "application/xml",
                 "text/csv", "text/plain"]  # base type by event_id % 5


def pct(xs, q):
    """Nearest-rank percentile (the JVM side's Stats.pct)."""
    s = sorted(xs)
    if not s:
        return float("nan")
    return s[min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))]


def exactly_once(expected_ids, landed_ids):
    """Ids missing, duplicated or never published. Returns
    (wrong, detail)."""
    expected = set(expected_ids)
    counts = Counter(landed_ids)
    missing = len(expected - counts.keys())
    dup = sum(c - 1 for c in counts.values() if c > 1)
    unknown = sum(c for i, c in counts.items() if i not in expected)
    return missing + dup + unknown, {"missing": missing, "duplicated": dup,
                                     "unexpected": unknown}


def ingest_check(landed, first_id, published, batch_end_us, measure_from_us):
    """`landed`: (event_id, due_us, batch_id) rows. Every published id
    must land exactly once, in a batch whose end was stamped. Returns
    (wrong, detail, latencies_ms, batch_ids) with latencies of the
    messages due from `measure_from_us` on."""
    wrong, detail = exactly_once(range(first_id, first_id + published),
                                 [r[0] for r in landed])
    lat, batches, unstamped = [], [], 0
    for eid, due, b in landed:
        end = batch_end_us.get(str(b))
        if end is None:
            unstamped += 1
        elif due >= measure_from_us:
            lat.append((end - due) / 1000.0)
            batches.append(b)
    detail["unstamped"] = unstamped
    return wrong + unstamped, detail, lat, batches


def read_landing(path):
    if not os.path.isdir(path):
        return []
    return duckdb.sql(
        f"SELECT event_id, due_us, batch_id FROM read_parquet("
        f"'{path}/*/*.parquet', hive_partitioning = true)").fetchall()


def drain_expected(events, seed):
    """What the seed predicts for one round: the DLQ'd ids with their
    final redelivery count, and the number of redeliveries served."""
    dlq, retried = {}, 0
    for eid in events:
        if is_poison(eid, seed):
            rc0 = eid % 8
            dlq[eid] = max(MAX_REDELIVER, rc0 + 1)
            retried += max(0, MAX_REDELIVER - 1 - rc0)
    return dlq, retried


def drain_check(events, relay, landed, dlq, seed):
    """`events`: {event_id: (event_type, value)} as generated;
    `relay` and `dlq`: (event_id, redelivery_count) of the messages on the
    relay and DLQ topics; `landed`: (event_id, event_type, value,
    base_type, redelivery_count, batch) rows of the landing. Relayed ∪
    DLQ must equal the published ids, each exactly once, the DLQ exactly
    the poison ids at their final count, the landing exactly the relayed
    ids, and every landed parse equal to the generator's row. Returns
    (wrong, detail)."""
    want_dlq, _ = drain_expected(events, seed)
    seen = Counter([r[0] for r in relay] + [d[0] for d in dlq])
    missing = len(events.keys() - seen.keys())
    dup = sum(c - 1 for c in seen.values() if c > 1)
    unknown = sum(c for i, c in seen.items() if i not in events)
    got_dlq = {d[0]: d[1] for d in dlq}
    dlq_wrong = len(want_dlq.keys() ^ got_dlq.keys()) + sum(
        1 for i, rc in got_dlq.items() if i in want_dlq and want_dlq[i] != rc)
    diff = Counter(r[0] for r in relay)
    diff.subtract(Counter(r[0] for r in landed))
    landing_wrong = sum(abs(c) for c in diff.values())
    parse_wrong = 0
    for eid, etype, value, base, rc, *_ in landed:
        if eid not in events:
            continue
        want_type, want_value = events[eid]
        ok = base == CONTENT_TYPES[eid % 5] and rc == eid % 8
        if base == "text/plain":
            ok = ok and etype is None and value is None
        else:
            ok = ok and etype == want_type and value == want_value
        parse_wrong += not ok
    detail = {"missing": missing, "duplicated": dup, "unexpected": unknown,
              "dlq_wrong": dlq_wrong, "landing_wrong": landing_wrong,
              "parse_wrong": parse_wrong}
    return missing + dup + unknown + dlq_wrong + landing_wrong + parse_wrong, detail


def read_drain_round(path):
    """(relay, landed, dlq) of one round, as drain_check takes them."""
    with open(f"{path}/topics.json") as f:
        topics = json.load(f)
    landed = []
    if os.path.isdir(f"{path}/landing"):
        landed = duckdb.sql(
            f"SELECT event_id, event_type, value, base_type, redelivery_count, batch "
            f"FROM read_parquet('{path}/landing/*/*.parquet', "
            f"hive_partitioning = false)").fetchall()
    return [tuple(r) for r in topics["relay"]], landed, [tuple(d) for d in topics["dlq"]]


def read_events(path):
    return {r[0]: (r[1], r[2]) for r in duckdb.sql(
        f"SELECT event_id, event_type, value FROM '{path}'").fetchall()}


def _canon(df, ordered=True):
    df = df.reindex(sorted(df.columns), axis=1)
    if not ordered:
        df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df.reset_index(drop=True)


def frames_equal(got, want):
    """Exact compare in emitted row order, columns sorted by name (as
    tools/check_oracle.py --ordered does). Returns None or a one-line
    difference."""
    got, want = _canon(got), _canon(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    for c in got.columns:
        g, w = got[c], want[c]
        neq = ~(g.eq(w) | (g.isna() & w.isna()))
        if neq.any():
            i = neq.idxmax()
            return f"col {c} row {i}: spark={g[i]!r} oracle={w[i]!r}"
    return None


def catalog_check(sf_dir, results_dir, oracle, queries):
    """Compare each query's checked-pass result to its DuckDB oracle over
    the same parquet inputs; a query without an oracle must return rows.
    Returns (wrong, {query: problem})."""
    con = duckdb.connect()
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet"):
            con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{sf_dir}/{f}'")
    problems = {}
    for q in queries:
        path = f"{results_dir}/{q}"
        if not os.path.isdir(path):
            problems[q] = "no result"
            continue
        try:
            got = con.sql(f"SELECT * FROM '{path}/*.parquet'").df()
            if q in oracle:
                diff = frames_equal(got, con.sql(oracle[q]).df())
                if diff:
                    problems[q] = diff
            elif len(got) == 0:
                problems[q] = "no rows"
        except Exception as e:  # a failed read or oracle is a failed check
            problems[q] = str(e).splitlines()[0]
    return len(problems), problems
