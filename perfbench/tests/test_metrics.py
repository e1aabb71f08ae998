"""Unit tests for the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import metrics as M  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_highest_level_with_ten_samples_beyond(self):
        xs = [float(i) for i in range(1, 101)]
        self.assertEqual(M.tail_percentile(xs), (90, 90.0, 100, 10))
        self.assertEqual(M.tail_percentile(xs * 10)[0], 99)     # 1000 samples
        self.assertEqual(M.tail_percentile(xs[:43])[:2], (75, 33.0))
        self.assertEqual(M.tail_percentile(xs[:20])[0], 50)

    def test_falls_back_to_median_and_reports_counts(self):
        level, value, n, beyond = M.tail_percentile([3.0, 1.0, 2.0])
        self.assertEqual((level, value, n), (50, 2.0, 3))
        self.assertLess(beyond, 10)


class SelfTime(unittest.TestCase):
    def test_overlapping_children_count_once(self):
        spans = [{"id": 1, "parent": None, "t0": 0.0, "t1": 10.0},
                 {"id": 2, "parent": 1, "t0": 1.0, "t1": 4.0},
                 {"id": 3, "parent": 1, "t0": 3.0, "t1": 6.0},   # overlaps span 2
                 {"id": 4, "parent": 1, "t0": 8.0, "t1": 9.0},
                 {"id": 5, "parent": 3, "t0": 3.5, "t1": 4.5}]
        st = M.self_times(spans)
        self.assertAlmostEqual(st[1], 10.0 - 6.0)
        self.assertAlmostEqual(st[3], 3.0 - 1.0)
        self.assertAlmostEqual(st[5], 1.0)

    def test_children_are_clipped_to_the_parent(self):
        spans = [{"id": 1, "parent": None, "t0": 0.0, "t1": 2.0},
                 {"id": 2, "parent": 1, "t0": 1.0, "t1": 5.0}]
        self.assertAlmostEqual(M.self_times(spans)[1], 1.0)


class NightAttribution(unittest.TestCase):
    def test_step_names(self):
        self.assertEqual(M.step_of("ingest_lm_n003"), "lm")
        self.assertEqual(M.step_of("ingest_compact_bloom_n003"), "compact")
        self.assertIsNone(M.step_of("ingest_drift_n003"))      # not a timed step
        self.assertIsNone(M.step_of("retract_band_takedown"))
        self.assertIsNone(M.step_of(""))
        self.assertIsNone(M.step_of(None))

    def test_jobs_by_description(self):
        jobs = [{"id": 0, "t0": 10, "desc": "ingest_exact_n001", "stages": [0]},
                {"id": 1, "t0": 20, "desc": "ingest_lm_n001", "stages": [1, 2]},
                {"id": 2, "t0": 30, "desc": "ingest_lm_n001", "stages": [2, 3]},
                {"id": 3, "t0": 40, "desc": "", "stages": [4]},
                {"id": 4, "t0": 500, "desc": "", "stages": [5]}]
        stage = dict(tasks=1, failed=0, cpu_ns=0, gc_ms=0, shuffle_write=0, spill=0,
                     output=0, submit_ms=0, first_launch_ms=0)
        stages = [dict(stage, id=i, run_ms=1000 * (i + 1)) for i in range(6)]
        per, unattributed = M.attribute_steps(jobs, stages, windows=[(0, 100)])
        self.assertEqual(per["exact"], {"jobs": 1, "task_s": 1.0})
        # stage 2 is listed by jobs 1 and 2 and charged once, to job 1
        self.assertEqual(per["lm"], {"jobs": 2, "task_s": 2.0 + 3.0 + 4.0})
        self.assertEqual(unattributed, 1)                        # job 4 is outside


class OutputChecks(unittest.TestCase):
    def test_wrong_expected_fingerprint_fails(self):
        execs = [{"name": "q01", "ok": True}, {"name": "q01", "ok": True},
                 {"name": "q02", "ok": True}]
        good = M.report_failures(execs, {"q01": "a", "q02": "b"}, {"q01": "a", "q02": "b"})
        self.assertEqual(M.fail_share(len(execs), len(good)), 0.0)
        bad = M.report_failures(execs, {"q01": "a", "q02": "b"}, {"q01": "x", "q02": "b"})
        self.assertEqual(len(bad), 2)
        self.assertGreater(M.fail_share(len(execs), len(bad)), 0.0)

    def test_thrown_or_unchecked_reports_fail(self):
        execs = [{"name": "q01", "ok": False}, {"name": "q03", "ok": True}]
        self.assertEqual(len(M.report_failures(execs, {"q01": "a"}, {"q01": "a"})), 2)

    def test_fingerprint_ignores_engine_types_and_column_order(self):
        import pandas as pd
        a = pd.DataFrame({"k": [1, 2], "v": [0.0, 1.5], "s": ["x", None]})
        b = pd.DataFrame({"s": ["x", None], "v": [-0.0, 1.5], "k": [1.0, 2.0]})
        self.assertEqual(M.frame_fingerprint(a), M.frame_fingerprint(b))
        c = b.iloc[::-1]
        self.assertNotEqual(M.frame_fingerprint(a), M.frame_fingerprint(c))


class Intervals(unittest.TestCase):
    def test_union_length(self):
        self.assertEqual(M.union_length([]), 0.0)
        self.assertEqual(M.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(M.clipped([(0, 5), (6, 7)], 1, 3), [(1, 3)])


if __name__ == "__main__":
    unittest.main()
