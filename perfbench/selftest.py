"""The benchmark's own tests; no Spark session needed.

    python3 -m unittest perfbench.selftest      (from the repository root)

Covers: byte-identical inputs per seed, the self-time arithmetic on a
synthetic span tree, the tail-percentile rule, rejection of deliberately
corrupted results by every checker, and BENCHMARK.json agreeing with
the metrics the code reports.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import checks, gen, harness, report  # noqa: E402
from perfbench.trace import Span, covered, layer_table, self_times  # noqa: E402

REPO = harness.REPO


def _generate(seed: int, root: str) -> None:
    world = gen.make_world(seed)
    gen.ingest_batches(world, os.path.join(root, "ingest"), 2, gen.HOUR_S)
    gen.lake_batches(world, os.path.join(root, "lake"), 2, 0.5)
    gen.write_intel(world, os.path.join(root, "intel"))
    gen.write_corpus(seed, os.path.join(root, "corpus"), 60)


class GeneratorTest(unittest.TestCase):
    def test_same_seed_gives_identical_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            _generate(7, a)
            _generate(7, b)
            _generate(8, c)
            self.assertEqual(gen.tree_digest(a), gen.tree_digest(b))
            self.assertNotEqual(gen.tree_digest(a), gen.tree_digest(c))

    def test_tallies_account_for_every_event(self):
        with tempfile.TemporaryDirectory() as d:
            batches = gen.ingest_batches(gen.make_world(3), d, 1, gen.HOUR_S)
            for b in batches:
                self.assertEqual(sum(b.hours.values()) + b.malformed, b.events)
                self.assertEqual(len(b.truths), sum(b.hours.values()))
            vpc = next(b for b in batches if b.pack == "aws_vpcflow")
            self.assertEqual(vpc.header_lines, 2)


class SelfTimeTest(unittest.TestCase):
    def test_union_of_children_is_subtracted_once(self):
        spans = [
            Span(1, "op.batch", 0.0, 10.0),
            Span(2, "sources.read", 1.0, 3.0, parent=1),
            Span(3, "transform.exec", 2.0, 5.0, parent=1),  # overlaps span 2
            Span(4, "lake.append", 8.0, 12.0, parent=1),  # runs past its parent
            Span(5, "lake.read", 3.5, 4.5, parent=3),  # grandchild
        ]
        st = self_times(spans)
        self.assertAlmostEqual(st[1], 10.0 - (4.0 + 2.0))
        self.assertAlmostEqual(st[2], 2.0)
        self.assertAlmostEqual(st[3], 3.0 - 1.0)
        self.assertAlmostEqual(st[5], 1.0)
        table = layer_table(spans)
        self.assertEqual(table["op.batch"]["calls"], 1)
        self.assertAlmostEqual(table["transform.exec"]["self_s"], 2.0)

    def test_covered_clips_and_merges(self):
        self.assertAlmostEqual(covered([(0, 2), (1, 3), (5, 6)], 0.5, 5.5), 3.0)
        self.assertEqual(covered([], 0, 1), 0)


class TailTest(unittest.TestCase):
    def test_percentile_keeps_ten_samples_beyond(self):
        xs = [float(i) for i in range(1, 101)]
        self.assertEqual(harness.tail(xs), (90.0, 90.0, 100))
        self.assertEqual(harness.tail(xs[:40])[1], 75.0)
        self.assertEqual(harness.tail(xs[:19]), (19.0, 100.0, 19))


class RunUnitsTest(unittest.TestCase):
    def test_every_client_shares_one_unit_count(self):
        for clients in (1, 2):
            done = []
            bench = harness.Bench(workload="w", seed=0, units=5, work="",
                                  cores=1, t_process=0.0)
            harness.run_units(bench, lambda cid: done.append(cid) or True, clients, 5)
            self.assertEqual(len(done), 5)

    def test_geomean_summarizes_completed_timed_operations(self):
        ops = [harness.Op("q", "a", 1.0, 1), harness.Op("q", "b", 4.0, 1),
               harness.Op("q", "c", 9.0, 0, ok=False, raised=True),
               harness.Op("c", "d", 7.0, 0, timed=False)]
        s = harness.summarize(ops, 10.0, count_ops=True)
        self.assertAlmostEqual(s["geomean_s"], 2.0)
        self.assertEqual((s["items"], s["attempted"], s["failed"]), (2, 4, 1))


class CorruptedResultTest(unittest.TestCase):
    def test_rows_with_a_changed_cell_are_rejected(self):
        good = [["n", "ip"], [(3, "1.2.3.4"), (1, "5.6.7.8")]]
        self.assertIsNone(checks.compare_rows(good, [["ip", "n"], [("5.6.7.8", 1), ("1.2.3.4", 3)]]))
        self.assertIsNotNone(checks.compare_rows(good, [["n", "ip"], [(3, "1.2.3.4"), (2, "5.6.7.8")]]))
        self.assertIsNotNone(checks.compare_rows(good, [["n", "ip"], [(3, "1.2.3.4")]]))

    def test_alert_replay_and_rejection(self):
        base = gen.BASE_EPOCH
        truths = [
            gen.Truth("okta_system", base + m * 60, f"e{m}", ip="9.9.9.9", failed_login=True)
            for m in (0, 2, 5, 9, 12, 16)  # 5 within 15 min, the 6th opens a new alert
        ]
        det = type("D", (), {"name": "login_brute_force_by_ip", "threshold": 5,
                             "deduplication_window_minutes": 15, "tables": ("okta_system",)})
        exp = checks.replay_alerts(truths, "okta_system", gen.hour_key(base), [det])
        self.assertEqual(exp, [
            ("login_brute_force_by_ip", "9.9.9.9", base * 1000, 5, True),
            ("login_brute_force_by_ip", "9.9.9.9", (base + 16 * 60) * 1000, 1, False),
        ])
        t0 = dt.datetime.fromtimestamp(base, dt.timezone.utc).replace(tzinfo=None)
        rows = [
            {"rule_name": "login_brute_force_by_ip", "dedupe": "9.9.9.9", "first_matched_at": t0,
             "match_count": 5, "activated": True, "intel": None},
            {"rule_name": "login_brute_force_by_ip", "dedupe": "9.9.9.9",
             "first_matched_at": t0 + dt.timedelta(minutes=16), "match_count": 1,
             "activated": False, "intel": None},
        ]
        self.assertIsNone(checks.compare_alerts(rows, exp, set()))
        rows[0]["match_count"] = 4
        self.assertIsNotNone(checks.compare_alerts(rows, exp, set()))
        rows[0]["match_count"] = 5
        self.assertIsNotNone(checks.compare_alerts(rows, exp, {"9.9.9.9"}))

    def test_batch_and_lake_tallies_reject_lost_rows(self):
        import pyarrow as pa
        import pyarrow.parquet as pq

        with tempfile.TemporaryDirectory() as d:
            b = gen.make_batch(gen.make_world(6), "okta", 0, gen.BASE_EPOCH, gen.HOUR_S, d)
            self.assertGreater(b.malformed, 0)
            m = b.malformed
            self.assertIsNone(checks.batch_conservation(b, b.events, b.events - m, m))
            self.assertIsNotNone(checks.batch_conservation(b, b.events, b.events - m - 1, m))
            # malformed records landed instead of sidelined
            self.assertIsNotNone(checks.batch_conservation(b, b.events, b.events, 0))
            lake = os.path.join(d, "lake")

            def write(ids_by_hour):
                for hour, ids in ids_by_hour.items():
                    part = os.path.join(lake, f"ts_hour={hour}")
                    os.makedirs(part, exist_ok=True)
                    pq.write_table(pa.table({"event": [{"id": i} for i in ids]}),
                                   os.path.join(part, "part-0.parquet"))

            ids = {}
            for t in b.truths:
                ids.setdefault(gen.hour_key(t.ts), []).append(t.event_id)
            ids[checks.NULL_PARTITION] = ["x"] * b.malformed
            write(ids)
            res = checks.lake_tallies(lake, "event.id", [b])
            self.assertEqual(res["problems"], [])
            self.assertEqual(res["without_hour"], b.malformed)
            hour = gen.hour_key(b.truths[0].ts)
            ids[hour] = ids[hour][:-1] + ["not-generated"]
            write(ids)
            self.assertNotEqual(checks.lake_tallies(lake, "event.id", [b])["problems"], [])


class BenchmarkFileTest(unittest.TestCase):
    def test_benchmark_json_matches_reported_metrics(self):
        from perfbench import run

        with open(os.path.join(REPO, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]], list(run.END_TO_END))
        self.assertEqual([m["name"] for m in spec["per_layer"]], report.PER_LAYER)
        for m in spec["per_layer"]:
            self.assertEqual(m["unit"], report.unit_of(m["name"]), m["name"])
            self.assertEqual(m["better"], report.better_of(m["name"]), m["name"])
        for w in spec["workloads"]:
            self.assertIn(w["name"], run.ISSUE_NAMES)


if __name__ == "__main__":
    unittest.main()
