"""Unit tests of the benchmark's own rules: python3 -m unittest discover perfbench"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import analysis as A  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        xs = list(range(1, 101))
        self.assertAlmostEqual(A.percentile(xs, 50), 50.5)
        self.assertAlmostEqual(A.percentile(xs, 95), 95.05)
        self.assertEqual(A.percentile(xs, 100), 100)
        self.assertEqual(A.percentile(xs, 0), 1)
        self.assertEqual(A.percentile([7], 99), 7)
        self.assertAlmostEqual(A.percentile([3, 1, 2, 4], 50), 2.5)

    def test_needs_ten_samples_beyond(self):
        # 201 samples: p95 sits at rank 190 with exactly 10 beyond, p99 has 2
        q, v = A.tail_percentile(list(range(201)))
        self.assertEqual((q, v), (95.0, 190))
        # 200 samples: p95 has 10 beyond (ranks 190..199)
        self.assertEqual(A.tail_percentile(list(range(200)))[0], 95.0)
        # 180 samples: p95 falls at rank 170.05 with 9 beyond, so p90 is the highest
        self.assertEqual(A.tail_percentile(list(range(180)))[0], 90.0)
        # 41 samples: p75 has exactly 10 beyond
        self.assertEqual(A.tail_percentile(list(range(41)))[0], 75.0)
        self.assertEqual(A.tail_percentile(list(range(40)))[0], 75.0)
        self.assertEqual(A.tail_percentile(list(range(38)))[0], 75.0)
        self.assertEqual(A.tail_percentile(list(range(37)))[0], 50.0)
        # 1001 samples: p99 has exactly 10 beyond
        self.assertEqual(A.tail_percentile(list(range(1001)))[0], 99.0)

    def test_too_few_samples_falls_back_to_max(self):
        q, v = A.tail_percentile([5, 1, 9, 3])
        self.assertIsNone(q)
        self.assertEqual(v, 9)

    def test_every_ladder_step_has_ten_beyond(self):
        for n in range(1, 400):
            q, _ = A.tail_percentile(list(range(n)))
            if q is not None:
                xs = list(range(n))
                v = A.percentile(xs, q)
                self.assertGreaterEqual(sum(1 for x in xs if x > v), 10, (n, q))


def tree(*spans):
    return {k: dict(start=s, end=e, parent=p) for k, s, e, p in spans}


class SelfTime(unittest.TestCase):
    def test_serial_children_subtract_their_union(self):
        t = tree(("root", 0, 100, None), ("a", 10, 30, "root"), ("b", 25, 50, "root"),
                 ("a1", 12, 18, "a"))
        st = A.self_times(t, "root")
        # a and b overlap on [25, 30]: that instant is split between them
        self.assertAlmostEqual(st["root"], 100 - 40)  # union of a, b is [10, 50]
        self.assertAlmostEqual(st["a1"], 6)
        self.assertAlmostEqual(st["a"], 15 - 6 + 2.5)
        self.assertAlmostEqual(st["b"], 20 + 2.5)
        self.assertAlmostEqual(sum(st.values()), 100)

    def test_parallel_children_share_the_wall_clock(self):
        t = tree(("root", 0, 10, None), ("t1", 0, 10, "root"), ("t2", 0, 10, "root"),
                 ("t3", 0, 5, "root"), ("r", 0, 4, "t1"))
        st = A.self_times(t, "root")
        self.assertAlmostEqual(st["root"], 0)
        # [0,5): three tasks share; [5,10): two tasks share
        self.assertAlmostEqual(st["t3"], 5 / 3)
        self.assertAlmostEqual(st["t2"], 5 / 3 + 5 / 2)
        # r covers t1's share on [0, 4)
        self.assertAlmostEqual(st["r"], 4 / 3)
        self.assertAlmostEqual(st["t1"], 1 / 3 + 5 / 2)
        self.assertAlmostEqual(sum(st.values()), 10)

    def test_children_are_clipped_to_the_parent(self):
        t = tree(("root", 0, 10, None), ("a", -5, 4, "root"), ("b", 8, 20, "root"))
        st = A.self_times(t, "root")
        self.assertAlmostEqual(st["a"], 4)
        self.assertAlmostEqual(st["b"], 2)
        self.assertAlmostEqual(st["root"], 4)

    def test_layers_sum_to_the_wall_time(self):
        rows = [
            ["batch:0", "batch", "streaming", 0, 100, "workload", 0],
            ["phase:0:latestOffset", "latestOffset", "sources", 0, 10, "batch:0", 0],
            ["phase:0:addBatch", "addBatch", "operators", 10, 90, "batch:0", 0],
            ["", "survivor_write", "operators", 20, 60, "", -1],
            ["job:1", "job", "tasks", 30, 50, "", 0],
            ["stage:1.0", "stage", "tasks", 31, 49, "job:1", -1],
            ["task:1", "task", "tasks", 32, 48, "stage:1.0", -1],
            ["", "client.boundedSeqNos", "sources", 2, 5, "", -1],
        ]
        # a job tagged with batch 1 is not placed in batch 0 even inside it
        rows.append(["job:2", "job", "tasks", 80, 85, "", 1])
        per, spans = A.layer_self_times(rows, -10, 110)
        self.assertEqual(spans["job:2"]["parent"], "workload")
        self.assertEqual(spans["job:1"]["parent"], "anon:1")  # inside the write
        self.assertEqual(spans["anon:1"]["parent"], "phase:0:addBatch")
        self.assertEqual(spans["anon:2"]["parent"], "phase:0:latestOffset")
        self.assertAlmostEqual(sum(per.values()), 120)
        self.assertAlmostEqual(per["uncovered"], 20)
        # job:2 shares [80, 85] with the batch it was wrongly inside
        self.assertAlmostEqual(per["tasks"], 20 + 2.5)
        self.assertAlmostEqual(per["sources"], 10)
        self.assertAlmostEqual(per["operators"], 60 - 2.5)
        self.assertAlmostEqual(per["streaming"], 10)


class Checks(unittest.TestCase):
    def test_exactly_once(self):
        self.assertEqual(A.check_exactly_once(5, [0, 1, 2, 3, 4]), (0, 0, 0))
        self.assertEqual(A.check_exactly_once(5, [4, 3, 2, 1, 0]), (0, 0, 0))

    def test_exactly_once_catches_one_missing(self):
        self.assertEqual(A.check_exactly_once(5, [0, 1, 3, 4]), (1, 0, 0))

    def test_exactly_once_catches_one_duplicate(self):
        self.assertEqual(A.check_exactly_once(5, [0, 1, 2, 2, 3, 4]), (0, 1, 0))
        self.assertEqual(A.check_exactly_once(5, [0, 1, 2, 3, 4, 9]), (0, 0, 1))

    WIN = 5000
    EXPECTED = [[0, 3], [5000, 4], [10000, 2]]

    def test_windows_exact(self):
        bad, probs = A.check_windows(self.EXPECTED, [[0, 3], [5000, 4]], 10000, self.WIN)
        self.assertEqual((bad, probs), (0, []))

    def test_windows_catch_one_missing_event(self):
        bad, probs = A.check_windows(self.EXPECTED, [[0, 3], [5000, 3]], 10000, self.WIN)
        self.assertEqual(bad, 1)
        self.assertEqual(len(probs), 1)

    def test_windows_catch_one_duplicated_event(self):
        bad, _ = A.check_windows(self.EXPECTED, [[0, 4], [5000, 4]], 10000, self.WIN)
        self.assertEqual(bad, 1)

    def test_windows_catch_a_window_emitted_twice_or_never(self):
        bad, _ = A.check_windows(self.EXPECTED, [[0, 3], [0, 3], [5000, 4]], 10000, self.WIN)
        self.assertEqual(bad, 3)
        bad, _ = A.check_windows(self.EXPECTED, [[0, 3]], 10000, self.WIN)
        self.assertEqual(bad, 4)

    def test_windows_catch_an_open_window(self):
        bad, _ = A.check_windows(self.EXPECTED, [[0, 3], [5000, 4], [10000, 2]], 10000,
                                 self.WIN)
        self.assertEqual(bad, 2)

    def test_survivors(self):
        self.assertEqual(A.check_survivors([3, 1, 2], [1, 2, 3]), (0, 0, 0))

    def test_survivors_catch_one_missing(self):
        self.assertEqual(A.check_survivors([1, 3], [1, 2, 3]), (1, 0, 0))

    def test_survivors_catch_one_duplicate(self):
        self.assertEqual(A.check_survivors([1, 2, 2, 3], [1, 2, 3]), (0, 1, 0))
        self.assertEqual(A.check_survivors([1, 2, 3, 4], [1, 2, 3]), (0, 0, 1))

    def test_planted_ignores_paraphrases(self):
        # 7 is a paraphrase: surviving or not, the planted check is silent
        self.assertEqual(A.check_planted([1, 2, 7], novel=[1, 2], low_quality=[5]), (0, 0))
        self.assertEqual(A.check_planted([1, 2], novel=[1, 2], low_quality=[5]), (0, 0))

    def test_planted_catches_a_dropped_novel_or_kept_low_quality_document(self):
        self.assertEqual(A.check_planted([1], novel=[1, 2], low_quality=[5]), (1, 0))
        self.assertEqual(A.check_planted([1, 2, 5], novel=[1, 2], low_quality=[5]), (0, 1))


class Metrics(unittest.TestCase):
    def test_timings_come_from_the_least_stolen_phase(self):
        a, b, c = {"steal_share": 0.21}, {"steal_share": 0.02}, {"steal_share": 0.02}
        self.assertIs(A.least_stolen([a, b, c]), b)
        self.assertIs(A.least_stolen([a]), a)
        d, e = {"steal_share": None}, {"steal_share": None}
        self.assertIs(A.least_stolen([d, e]), d)

    def test_outside_jobs(self):
        phase = {"job_intervals": [[0, 10, 20], [0, 15, 30], [1, 105, 110]],
                 "batches": [{"batch": 0, "start_ms": 0, "durations": {"triggerExecution": 50}},
                             {"batch": 1, "start_ms": 100, "durations": {"triggerExecution": 20}}]}
        self.assertAlmostEqual(A.outside_jobs_ms(phase), (50 - 20) + (20 - 5))

    def test_batch_percentiles_leave_out_the_first_data_batch(self):
        def b(n, rows, ms):
            return {"batch": n, "rows": rows, "durations": {"triggerExecution": ms}}
        phase = {"batches": [b(0, 0, 5), b(1, 10, 900), b(2, 10, 100), b(3, 10, 120)]}
        self.assertEqual([x["batch"] for x in A.steady_batches(phase)], [2, 3])
        self.assertEqual(A.first_batch_ms(phase), 900)
        self.assertEqual(A.steady_batches({"batches": [b(0, 0, 5)]}), [])
        self.assertEqual(A.first_batch_ms({"batches": []}), 0.0)


if __name__ == "__main__":
    unittest.main()
