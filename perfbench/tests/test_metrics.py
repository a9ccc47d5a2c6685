"""Unit tests of the benchmark's trace arithmetic, output checks and
payload generator. Run: python3 -m unittest discover -s perfbench/tests"""
import json
import os
import sys
import unittest
import zlib

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402
import payload  # noqa: E402


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps_and_skips_gaps(self):
        self.assertEqual(metrics.union_ms([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(metrics.union_ms([(20, 30), (0, 10), (10, 12)]), 22)
        self.assertEqual(metrics.union_ms([]), 0)
        self.assertEqual(metrics.union_ms([(3, 3), (5, 4)]), 0)

    def test_union_of_nested_intervals_is_the_outer_one(self):
        self.assertEqual(metrics.union_ms([(0, 100), (10, 20), (30, 40)]), 100)

    def test_clip_keeps_only_the_inside(self):
        self.assertEqual(metrics.clip([(-5, 5), (8, 20), (30, 40)], 0, 10),
                         [(0, 5), (8, 10)])

    def test_self_time_is_span_minus_union_of_children(self):
        # two overlapping children cover 40..90 of a 0..100 span
        self.assertEqual(metrics.self_ms((0, 100), [(40, 70), (60, 90)]), 50)
        # children sticking out of the span only count inside it
        self.assertEqual(metrics.self_ms((0, 100), [(-10, 10), (95, 120)]), 85)
        self.assertEqual(metrics.self_ms((0, 100), []), 100)


class Tail(unittest.TestCase):
    def test_tail_leaves_ten_samples_beyond(self):
        xs = list(range(1, 41))  # 40 samples
        v, pct = metrics.tail(xs)
        self.assertEqual(sum(1 for x in xs if x > v), 10)
        self.assertEqual(pct, 75.0)

    def test_twenty_samples_give_the_median_rank(self):
        v, pct = metrics.tail(list(range(20)))
        self.assertEqual(v, 9)
        self.assertEqual(pct, 50.0)

    def test_small_samples_report_the_slowest(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (3.0, 100.0))


def job(i, start, end, tasks=1, task_ms=10):
    return {"id": i, "start": start, "end": end, "ok": True, "tasks": tasks,
            "task_ms": task_ms, "input_bytes": 1, "output_bytes": 2,
            "shuffle_write_bytes": 3}


class SparkWork(unittest.TestCase):
    def test_jobs_are_attributed_to_the_span_they_start_in(self):
        jobs = [job(0, 100, 150), job(1, 160, 300), job(2, 400, 450)]
        w = metrics.spark_work(jobs, 100.4, 200.0, cores=4)
        # job 0 reads 100 (whole ms) though submitted at 100.4+
        self.assertEqual(w["jobs"], 2)
        self.assertEqual(w["tasks"], 2)
        # job 1 runs past the span end; only the inside counts as busy
        self.assertAlmostEqual(w["job_busy_ms"], 49.6 + 40.0)
        self.assertAlmostEqual(w["driver_gap_ms"], 99.6 - 89.6)
        self.assertAlmostEqual(w["core_util"], 20 / (99.6 * 4))


def ingest_record(readback, append_ok=True):
    spans, ticks = [], []
    sid = 0
    for t, phase in [(1, "setup"), (2, "timed"), (3, "timed")]:
        base = t * 1000.0
        for name, label, s, e in [("tick", "", 0, 900), ("fetch", "", 0, 10),
                                  ("parse_plan", "", 10, 50),
                                  ("write_batch", "", 50, 890),
                                  ("append", "a.t", 400, 600),
                                  ("append", "b.t", 600, 890)]:
            sid += 1
            ok = append_ok or label != "b.t" or t != 3
            spans.append({"id": sid, "parent": 0, "name": name, "label": label,
                          "tick": t, "start": base + s, "end": base + e, "ok": ok})
        ticks.append({"tick": t, "phase": phase, "traced": False, "fetch_ok": True,
                      "rows": 5, "ok_targets": 2 if append_ok or t != 3 else 1,
                      "payload_bytes": 100, "gc_ms": 1, "files": 2, "bytes": 50})
    return {"session_s": 1.0, "setup_cycles_s": [3.0, 1.0, 2.0], "loop_s": 2.0,
            "rss_peak_kb": 10240, "heap_kb": 1024, "loop_start": 0.0, "loop_end": 10.0,
            # samples before and after the loop are left out of the median
            "rss_samples": [[-5.0, 9216], [1.0, 2048], [2.0, 4096], [3.0, 3072],
                            [11.0, 9216]],
            "cores": 4, "targets": ["a.t", "b.t"],
            "ticks": ticks, "spans": spans, "jobs": [], "readback": readback}


AGG = {"rows": 5, "icao24_crc32_sum": 7, "vertical_rate_count": 4,
       "time_position_sum": 9}
SERVED = [(60, 0), (120, 1), (180, 0)]


class IngestCheck(unittest.TestCase):
    def good(self):
        return {t: [[60, 5, 7, 4, 9], [120, 5, 7, 4, 9], [180, 5, 7, 4, 9]]
                for t in ["a.t", "b.t"]}

    def test_matching_readback_is_correct(self):
        m, attempted, failed, bad = metrics.ingest(
            ingest_record(self.good()), SERVED, [AGG, AGG], trace=False)
        self.assertEqual((attempted, failed, bad), (3 + 6, 0, 0))
        self.assertEqual(m["setup_s"], 3.0)
        self.assertEqual(m["op_p50_s"], 0.9)
        self.assertEqual(m["rows_per_s"], 2 * 5 * 2 / 2.0)
        self.assertEqual(m["rss_nonheap_mb"], 2.0)
        self.assertEqual(m["jvm.rss_nonheap_peak_mb"], 9.0)

    def test_wrong_or_missing_or_extra_rows_are_failures(self):
        rb = self.good()
        rb["a.t"][1] = [120, 5, 8, 4, 9]   # wrong icao24 hash sum
        rb["b.t"] = rb["b.t"][:2]          # tick 3 missing
        rb["b.t"].append([999, 1, 1, 1, 1])  # a snapshot never served
        m, attempted, failed, bad = metrics.ingest(
            ingest_record(rb), SERVED, [AGG, AGG], trace=False)
        self.assertEqual(bad, 3)
        self.assertEqual(failed, 3)
        self.assertAlmostEqual(m["fail_ratio"], 3 / 9)

    def test_failed_append_counts_once_and_is_not_expected_back(self):
        rb = self.good()
        rb["b.t"] = rb["b.t"][:2]
        m, attempted, failed, bad = metrics.ingest(
            ingest_record(rb, append_ok=False), SERVED, [AGG, AGG], trace=True)
        self.assertEqual((failed, bad), (1, 0))
        self.assertEqual(m["sink.appends_failed"], 1)

    def test_layer_split_adds_up_to_the_tick(self):
        rec = ingest_record(self.good())
        for t in rec["ticks"]:
            t["traced"] = t["tick"] == 2
        m, *_ = metrics.ingest(rec, SERVED, [AGG, AGG], trace=True)
        self.assertEqual(m["sink.append_ms"], 490)
        self.assertEqual(m["sink.append_sum_ms"], 490)
        self.assertEqual(m["sink.append_concurrency"], 1.0)
        self.assertEqual(m["sink.materialize_ms"], 840 - 490)
        total = (m["sources.fetch_ms"] + m["sources.parse_plan_ms"]
                 + m["sink.materialize_ms"] + m["sink.append_ms"] + m["driver.glue_ms"])
        self.assertAlmostEqual(total, 900)


def store_record(rows):
    q = {"query": "q1_x", "ok": True, "columns": ["b", "a"], "rows": rows}
    passes = [{"pass": i, "phase": ph, "traced": tr, "seconds": s, "gc_ms": 1,
               "queries": [q]}
              for i, ph, tr, s in [(1, "setup", False, 9.0), (2, "timed", True, 5.0),
                                   (3, "timed", False, 4.0)]]
    spans = [{"id": 1, "parent": -1, "name": "pass", "label": "", "tick": 2,
              "start": 0.0, "end": 5000.0, "ok": True},
             {"id": 2, "parent": 1, "name": "query", "label": "q1_x", "tick": 2,
              "start": 0.0, "end": 5000.0, "ok": True}]
    return {"session_s": 1.0, "loop_s": 9.0, "rss_peak_kb": 1024, "heap_kb": 512, "cores": 4,
            "loop_start": 0.0, "loop_end": 9000.0, "rss_samples": [[1.0, 768]],
            "passes": passes, "spans": spans,
            "jobs": [job(0, 100, 1100, tasks=3), job(1, 2000, 2500)]}


class StoreCheck(unittest.TestCase):
    ORACLE = {"q1_x": (["a", "b"], [[1, "x"], [2.5000000001, "y"]])}

    def test_fingerprint_ignores_row_and_column_order(self):
        m, attempted, failed, bad = metrics.store(
            store_record([["y", 2.5], ["x", 1.0]]), self.ORACLE, 100, trace=True)
        self.assertEqual((attempted, failed, bad), (3, 0, 0))
        self.assertEqual(m["setup_s"], 10.0)
        self.assertEqual(m["op_p50_s"], 4.0)
        self.assertEqual(m["sink.q1.jobs"], 2)
        self.assertEqual(m["sink.q1.tasks"], 4)
        self.assertEqual(m["sink.q1.job_busy_ms"], 1500)
        self.assertAlmostEqual(m["trace.overhead"], 0.25)

    def test_a_wrong_value_is_a_failure(self):
        m, attempted, failed, bad = metrics.store(
            store_record([["y", 2.5], ["x", 2.0]]), self.ORACLE, 100, trace=False)
        self.assertEqual((failed, bad), (3, 3))


class Payload(unittest.TestCase):
    def test_same_seed_same_bytes(self):
        self.assertEqual(payload.make_states(5, 50), payload.make_states(5, 50))
        self.assertNotEqual(payload.make_states(5, 50)[0], payload.make_states(6, 50)[0])

    def test_aggregates_match_the_body(self):
        states, agg = payload.make_states(3, 2000)
        body = json.loads(payload.envelope(1700000060, states))
        self.assertEqual(body["time"], 1700000060)
        rows = body["states"]
        self.assertEqual(agg["rows"], len(rows))
        self.assertTrue(all(len(r) == 17 for r in rows))
        self.assertEqual(len({r[0] for r in rows}), len(rows))
        self.assertEqual(agg["icao24_crc32_sum"],
                         sum(zlib.crc32(r[0].encode()) for r in rows))
        self.assertEqual(agg["vertical_rate_count"],
                         sum(1 for r in rows if r[11] is not None))
        self.assertEqual(agg["time_position_sum"],
                         sum(r[3] for r in rows if r[3] is not None))
        # realistic shape: padded callsigns, some nulls, no sensors
        self.assertTrue(all(len(r[1]) == 8 for r in rows if r[1] is not None))
        self.assertTrue(0 < sum(r[11] is None for r in rows) < len(rows) // 4)
        self.assertTrue(all(r[12] is None for r in rows))


if __name__ == "__main__":
    unittest.main()
