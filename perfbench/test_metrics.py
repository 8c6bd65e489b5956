"""Self-checks for the benchmark's metric rules.

Run: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import metrics as M


class PercentileRule(unittest.TestCase):
    def test_interpolates_between_order_statistics(self):
        self.assertEqual(M.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(M.percentile([5], 95), 5)
        self.assertEqual(M.percentile(list(range(101)), 90), 90)

    def test_tail_needs_ten_samples_above(self):
        # 100 samples: 10 lie above p90 (90.1 .. 99 of 0..99), so it is reportable;
        # p95 has only 5 above
        xs = list(range(100))
        self.assertEqual(M.above(xs, 90), 10)
        self.assertTrue(M.reportable(xs, 90))
        self.assertFalse(M.reportable(xs, 95))
        self.assertEqual(M.highest_reportable(xs), 90)

    def test_small_runs_report_no_tail(self):
        self.assertIsNone(M.highest_reportable(list(range(22))))
        self.assertFalse(M.reportable([], 50))

    def test_ties_do_not_count_as_above(self):
        xs = [1.0] * 50 + [2.0] * 9
        self.assertEqual(M.above(xs, 50), 9)
        self.assertFalse(M.reportable(xs, 50))

    def test_two_hundred_fifty_sends_support_p95(self):
        self.assertEqual(M.highest_reportable(list(range(250))), 95)


class SendAttribution(unittest.TestCase):
    # (end_offset, commit_ms) per micro-batch
    trades = [(0, 100.0), (3, 250.0), (7, 400.0)]
    candles = [(2, 180.0), (7, 420.0)]

    def test_first_covering_batch_commits_a_send(self):
        self.assertEqual(M.covering_commit(self.trades, 0), 100.0)
        self.assertEqual(M.covering_commit(self.trades, 1), 250.0)
        self.assertEqual(M.covering_commit(self.trades, 3), 250.0)
        self.assertEqual(M.covering_commit(self.trades, 4), 400.0)

    def test_uncovered_send_is_not_committed(self):
        self.assertIsNone(M.covering_commit(self.trades, 8))

    def test_out_of_order_progress_events(self):
        shuffled = [(7, 400.0), (0, 100.0), (3, 250.0)]
        self.assertEqual(M.covering_commit(shuffled, 2), 250.0)

    def test_freshness_waits_for_every_sink(self):
        sends = [(50.0, 1), (90.0, 3), (300.0, 8)]
        self.assertEqual(M.freshness(sends, [self.trades, self.candles]),
                         [250.0 - 50.0, 420.0 - 90.0, None])

    def test_backlog_counts_rows_not_yet_in_every_sink(self):
        sends = [(10.0, 1, 5), (20.0, 3, 5), (30.0, 5, 5)]
        # at 200 ms trades has offset 0, candles nothing: all 15 rows pending
        self.assertEqual(M.backlog(sends, [self.trades, self.candles], 200.0), 15)
        # at 260 ms trades covers 3, candles 2: offsets 3 and 5 still pending
        self.assertEqual(M.backlog(sends, [self.trades, self.candles], 260.0), 10)
        self.assertEqual(M.backlog(sends, [self.trades, self.candles], 500.0), 0)

    def test_backlog_growth_marks_run_invalid(self):
        # a steady sawtooth after a quiet start is valid
        steady = [0, 100, 200] + [500, 1500, 2500, 400, 1400, 2400] * 2
        self.assertFalse(M.backlog_grew(steady, 1000))
        # a sawtooth whose peaks keep rising is not
        growing = [0, 100, 200, 1000, 2000, 1500, 3000, 2500, 4500, 4000, 6000, 5500]
        self.assertTrue(M.backlog_grew(growing, 1000))


class Reconciliation(unittest.TestCase):
    @staticmethod
    def span(i, parent, name, a, b, op="op1"):
        return {"op": op, "id": i, "parent": parent, "name": name, "start": a, "end": b}

    def layer(self, s):
        return s["name"].split(":")[0]

    def test_self_times_sum_to_wall(self):
        spans = M.attach([
            self.span(1, 0, "harness", 0, 100),
            self.span(2, 1, "queries", 0, 40),
            self.span(3, 1, "exec", 41, 99),
            self.span(4, -1, "plan", 10, 20),     # inside queries
            self.span(5, -1, "job", 50, 80),      # inside exec
            self.span(6, -1, "job", 60, 90),      # concurrent with 5
        ])
        self.assertEqual(spans[3]["parent"], 2)
        self.assertEqual(spans[4]["parent"], 3)
        (r,) = M.reconcile(spans, self.layer)
        self.assertEqual(r["wall"], 100)
        self.assertAlmostEqual(r["layers"]["queries"], 30)
        self.assertAlmostEqual(r["layers"]["plan"], 10)
        self.assertAlmostEqual(r["layers"]["job"], 40)   # union of 50..90
        self.assertAlmostEqual(r["layers"]["exec"], 18)
        self.assertAlmostEqual(r["unaccounted"], 2)
        self.assertAlmostEqual(sum(r["layers"].values()) + r["unaccounted"], r["wall"])
        self.assertTrue(r["ok"])

    def test_large_gap_is_outside_tolerance(self):
        spans = [self.span(1, 0, "harness", 0, 1000), self.span(2, 1, "queries", 0, 500)]
        (r,) = M.reconcile(spans, self.layer)
        self.assertAlmostEqual(r["unaccounted"], 500)
        self.assertFalse(r["ok"])

    def test_spark_span_outside_harness_spans_goes_to_root(self):
        spans = M.attach([self.span(1, 0, "harness", 0, 100),
                          self.span(2, -1, "job", 95, 101)])
        self.assertEqual(spans[1]["parent"], 1)


if __name__ == "__main__":
    unittest.main()
