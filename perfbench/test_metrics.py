"""Unit tests of the benchmark's own logic: python3 -m unittest discover perfbench"""

import datetime
import decimal
import unittest

import metrics


def answer(op, status, body, sql="SELECT 1", row_limit=1000, id=0):
    return {"id": id, "op": op, "duck_sql": sql, "row_limit": row_limit,
            "status": status, "count": 1, "body": body}


def oracle_of(cols, rows):
    return lambda sql: (cols, rows)


class PickPercentile(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(metrics.pick_percentile(200), 95)
        self.assertEqual(metrics.pick_percentile(1000), 95)
        self.assertEqual(metrics.pick_percentile(100), 90)
        self.assertEqual(metrics.pick_percentile(72), 86)
        self.assertEqual(metrics.pick_percentile(199), 94)

    def test_ten_samples_really_lie_beyond_the_pick(self):
        for n in range(20, 400):
            q = metrics.pick_percentile(n)
            self.assertGreaterEqual(n * (100 - q) / 100.0, 10)
            if q < 95:
                self.assertLess(n * (100 - (q + 1)) / 100.0, 10)

    def test_too_few_samples_for_any_tail(self):
        self.assertEqual(metrics.pick_percentile(19), 0)


class Judge(unittest.TestCase):
    cols = ["k", "v"]

    def test_exact_multiset_in_any_row_order(self):
        body = {"columns": ["v", "k"], "rows": [[2.5, 2], [1.0, 1]], "truncated": False}
        self.assertEqual(metrics.judge_answer(answer("q", 200, body),
                                              oracle_of(self.cols, [(1, 1.0), (2, 2.5)])), "ok")

    def test_wrong_value_is_wrong(self):
        body = {"columns": ["k", "v"], "rows": [[1, 1.0], [2, 2.6]], "truncated": False}
        verdict = metrics.judge_answer(answer("q", 200, body), oracle_of(self.cols, [(1, 1.0), (2, 2.5)]))
        self.assertTrue(verdict.startswith("rows differ"), verdict)

    def test_truncated_answer_must_hold_row_limit_rows_from_the_oracle(self):
        oracle = oracle_of(["k"], [(i,) for i in range(5)])
        ok = {"columns": ["k"], "rows": [[4], [0]], "truncated": True}
        self.assertEqual(metrics.judge_answer(answer("q", 200, ok, row_limit=2), oracle), "ok")
        foreign = {"columns": ["k"], "rows": [[4], [9]], "truncated": True}
        self.assertNotEqual(metrics.judge_answer(answer("q", 200, foreign, row_limit=2), oracle), "ok")
        short = {"columns": ["k"], "rows": [[4]], "truncated": True}
        self.assertNotEqual(metrics.judge_answer(answer("q", 200, short, row_limit=2), oracle), "ok")

    def test_known_defect_only_when_it_fails_the_known_way(self):
        empty = {"detail": "Invalid SQL: "}
        self.assertEqual(metrics.judge_answer(answer("q36_casts", 400, empty), None), "known")
        other = {"detail": "Invalid SQL: something else"}
        self.assertEqual(metrics.judge_answer(answer("q36_casts", 400, other), None),
                         "status 400: Invalid SQL: something else")
        self.assertEqual(metrics.judge_answer(answer("q01_pricing_summary", 400, empty), None),
                         "status 400: Invalid SQL: ")

    def test_engines_values_canonicalise_alike(self):
        self.assertEqual(metrics.canon_val(decimal.Decimal("12.50")), metrics.canon_val(12.5))
        self.assertEqual(metrics.canon_val(decimal.Decimal("100.00")), metrics.canon_val(100))
        self.assertEqual(metrics.canon_val("2024-01-01T00:00:07.5Z"),
                         metrics.canon_val(datetime.datetime(2024, 1, 1, 0, 0, 7, 500000)))
        self.assertEqual(metrics.canon_val("1998-10-03T00:00"),
                         metrics.canon_val(datetime.datetime(1998, 10, 3)))
        self.assertEqual(metrics.canon_val([1, None]), metrics.canon_val((1, None)))
        self.assertNotEqual(metrics.canon_val(0.1), metrics.canon_val(0.1000001))


class ErrorRate(unittest.TestCase):
    def run_of(self, samples):
        return {"samples": [dict({"window": 0, "kind": "read", "variant": -1, "ok": True,
                                  "note": ""}, **s) for s in samples]}

    def test_wrong_answers_and_stale_reads_count(self):
        raw = self.run_of([
            {"op": "a", "variant": 0},                                 # right answer
            {"op": "a", "variant": 1},                                 # wrong answer
            {"op": "count", "ok": False, "note": "stale count: expected 500, got 0"},
            {"op": "count"},                                           # fresh read
            {"op": "q36_casts", "variant": 2},                         # known defect
        ])
        outs = metrics.outcomes(raw, {0: "ok", 1: "rows differ: got 1, expected 2", 2: "known"})
        self.assertEqual(outs, ["ok", "failed", "failed", "ok", "known"])
        self.assertAlmostEqual(metrics.error_rate(outs), 3 / 5)

    def test_no_failures(self):
        outs = metrics.outcomes(self.run_of([{"op": "a"}, {"op": "b"}]), {})
        self.assertEqual(metrics.error_rate(outs), 0.0)


class Windows(unittest.TestCase):
    def test_figures_come_from_the_reported_window_and_errors_from_all(self):
        def read(window, ms, ok=True):
            return {"window": window, "op": "a", "kind": "read", "ms": ms, "ok": ok,
                    "variant": -1, "note": ""}
        raw = {"samples": [read(0, 500.0) for _ in range(20)] + [read(0, 500.0, ok=False)]
               + [read(1, 100.0) for _ in range(20)],
               "chosen": 1, "window_s": 2.0, "heap_live_mb": 50.0, "setup_s": 3.0}
        outs = metrics.outcomes(raw, {})
        figures, extra = metrics.end_to_end(raw, outs)
        self.assertEqual(figures["latency_p50_ms"][0], 100.0)
        self.assertEqual(figures["throughput_rps"][0], 10.0)
        self.assertEqual(extra["samples"][0], 20)
        self.assertAlmostEqual(extra["error_rate"][0], 1 / 41)


class StatementP50(unittest.TestCase):
    def test_each_statement_weighs_the_same(self):
        samples = ([{"op": "fast", "ms": m} for m in (10, 11, 12)]
                   + [{"op": "slow", "ms": m} for m in (100, 101, 102, 103, 104, 105, 106)])
        self.assertEqual(metrics.statement_p50(samples), (11 + 103) / 2)


if __name__ == "__main__":
    unittest.main()
