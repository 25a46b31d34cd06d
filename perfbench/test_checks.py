"""Tests of the benchmark's own checks: each planted fault must fail.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import tempfile
import unittest

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import checks
import gen


class ExactlyOnce(unittest.TestCase):
    def test_clean(self):
        self.assertEqual(checks.exactly_once(range(5), [0, 1, 2, 3, 4])[0], 0)

    def test_dropped_row(self):
        wrong, detail = checks.exactly_once(range(5), [0, 1, 3, 4])
        self.assertEqual((wrong, detail["missing"]), (1, 1))

    def test_duplicated_row(self):
        wrong, detail = checks.exactly_once(range(5), [0, 1, 2, 2, 3, 4])
        self.assertEqual((wrong, detail["duplicated"]), (1, 1))

    def test_ingest_unstamped_batch_fails(self):
        landed = [(0, 10, 0), (1, 20, 1)]
        wrong, detail, lat, _ = checks.ingest_check(landed, 0, 2, {"0": 1000}, 0)
        self.assertEqual(detail["unstamped"], 1)
        self.assertEqual(wrong, 1)
        self.assertEqual(lat, [0.99])


class Ingest(unittest.TestCase):
    def test_run_with_nothing_landed_still_reports(self):
        import run
        with tempfile.TemporaryDirectory() as d:
            raw = {"landing": os.path.join(d, "none"), "published": 3,
                   "batch_end_us": {}, "measure_from_us": 0}
            wrong, _, m = run.ingest_metrics({"raw": raw}, {"history_msgs": 0})
        self.assertEqual(wrong, 3)
        self.assertEqual(m["throughput_per_s"], 0.0)
        self.assertIsNone(run.finite(m["latency_p50_ms"]))


class Drain(unittest.TestCase):
    SEED = 7

    def setUp(self):
        self.events = {i: ("click", float(i)) for i in range(400)}
        dlq, _ = checks.drain_expected(self.events, self.SEED)
        self.assertTrue(dlq, "the seed must poison some ids")
        self.dlq = [(i, rc) for i, rc in dlq.items()]
        self.relay, self.landed = [], []
        for i, (etype, value) in self.events.items():
            if i in dlq:
                continue
            base = checks.CONTENT_TYPES[i % 5]
            plain = base == "text/plain"
            self.relay.append((i, i % 8))
            self.landed.append((i, None if plain else etype,
                                None if plain else value, base, i % 8, "b"))

    def check(self, relay=None, landed=None, dlq=None):
        return checks.drain_check(
            self.events, self.relay if relay is None else relay,
            self.landed if landed is None else landed,
            self.dlq if dlq is None else dlq, self.SEED)

    def test_clean(self):
        self.assertEqual(self.check()[0], 0)

    def test_dropped_row(self):
        wrong, d = self.check(relay=self.relay[1:], landed=self.landed[1:])
        self.assertEqual((wrong, d["missing"]), (1, 1))

    def test_duplicated_row(self):
        wrong, d = self.check(relay=self.relay + self.relay[:1],
                              landed=self.landed + self.landed[:1])
        self.assertEqual((wrong, d["duplicated"]), (1, 1))

    def test_row_relayed_but_not_landed(self):
        wrong, d = self.check(landed=self.landed[1:])
        self.assertEqual((wrong, d["landing_wrong"]), (1, 1))

    def test_wrong_parse(self):
        i, etype, value, base, rc, b = next(r for r in self.landed if r[1] is not None)
        bad = [r for r in self.landed if r[0] != i] + [(i, etype, value + 1, base, rc, b)]
        wrong, d = self.check(landed=bad)
        self.assertEqual((wrong, d["parse_wrong"]), (1, 1))

    def test_dlq_at_wrong_count(self):
        (i, rc), rest = self.dlq[0], self.dlq[1:]
        wrong, d = self.check(dlq=rest + [(i, rc + 1)])
        self.assertEqual((wrong, d["dlq_wrong"]), (1, 1))

    def test_poison_share_is_about_five_percent(self):
        share = sum(gen.is_poison(i, 42) for i in range(100000)) / 100000
        self.assertAlmostEqual(share, 0.05, delta=0.01)


class Catalog(unittest.TestCase):
    def test_wrong_result_fails_and_right_result_passes(self):
        with tempfile.TemporaryDirectory() as d:
            sf = os.path.join(d, "sf")
            os.makedirs(sf)
            for name, t in gen.catalog_tables(3, 0.0005).items():
                pq.write_table(t, f"{sf}/{name}.parquet")
            n = pq.read_table(f"{sf}/lineitem.parquet").num_rows
            oracle = {"q": "SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem"}
            for value, expect in ((n, 0), (n + 1, 1)):
                res = os.path.join(d, f"res{value}", "q")
                os.makedirs(res)
                pq.write_table(pa.table({"n": pa.array([value], pa.int64())}),
                               f"{res}/part-0.parquet")
                wrong, problems = checks.catalog_check(
                    sf, os.path.dirname(res), oracle, ["q"])
                self.assertEqual(wrong, expect, problems)

    def test_frames_equal_sees_row_order(self):
        a = pd.DataFrame({"x": [1, 2]})
        self.assertIsNone(checks.frames_equal(a, a.copy()))
        self.assertIsNotNone(checks.frames_equal(a, a.iloc[::-1]))


class Generator(unittest.TestCase):
    def test_seed_fixes_the_input_digest(self):
        d = lambda s: gen._digest(gen.drain_inputs(s, 2000))
        self.assertEqual(d(1), d(1))
        self.assertNotEqual(d(1), d(2))

    def test_events_stay_in_january_2024(self):
        ts = gen.events(gen._rng(5, 0), 5000, 100)["ts"].to_pylist()
        self.assertTrue(all(t.year == 2024 and t.month == 1 for t in ts))
        self.assertEqual(ts, sorted(ts))


if __name__ == "__main__":
    unittest.main()
