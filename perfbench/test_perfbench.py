"""Self-tests of the benchmark's own arithmetic and input generation.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import filecmp
import os
import tempfile
import unittest

import pyarrow.parquet as pq

import gen
import stats

# temporary files stay inside the checkout, like the benchmark's own runs
TMP_ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       ".bench_build")


def tmpdir():
    os.makedirs(TMP_ROOT, exist_ok=True)
    return tempfile.TemporaryDirectory(dir=TMP_ROOT)


class PercentileTest(unittest.TestCase):
    def test_nearest_rank_with_sample_count(self):
        xs = list(range(100, 0, -1))          # 1..100, unsorted
        self.assertEqual(stats.percentile(xs, 0.9), (90, 100, True))
        self.assertEqual(stats.percentile(xs, 0.99), (99, 100, False))

    def test_median_averages_the_middle_pair(self):
        self.assertEqual(stats.percentile(range(100, 0, -1), 0.5), (50.5, 100, True))
        self.assertEqual(stats.percentile([5, 1, 3], 0.5), (3, 3, False))

    def test_p90_needs_100_samples_and_p50_needs_20(self):
        self.assertFalse(stats.percentile(range(99), 0.9)[2])
        self.assertTrue(stats.percentile(range(100), 0.9)[2])
        self.assertFalse(stats.percentile(range(19), 0.5)[2])
        self.assertTrue(stats.percentile(range(20), 0.5)[2])

    def test_small_samples_still_report_their_count(self):
        self.assertEqual(stats.percentile([3.0], 0.9), (3.0, 1, False))
        self.assertEqual(stats.percentile([1.0, 2.0, 3.0], 0.5), (2.0, 3, False))
        with self.assertRaises(ValueError):
            stats.percentile([], 0.5)


class IntervalUnionTest(unittest.TestCase):
    def test_union(self):
        self.assertEqual(stats.union_length([]), 0.0)
        self.assertEqual(stats.union_length([(0, 10), (20, 25)]), 15)
        self.assertEqual(stats.union_length([(0, 10), (5, 15)]), 15)      # overlap
        self.assertEqual(stats.union_length([(0, 10), (2, 3)]), 10)       # nested
        self.assertEqual(stats.union_length([(5, 15), (0, 10), (10, 12)]), 15)
        self.assertEqual(stats.union_length([(3, 3), (4, 2)]), 0)         # empty

    def test_driver_gap_is_wall_minus_stage_union(self):
        call = {"wall_s": 1.0, "stages": [
            {"submitted_ms": 100, "completed_ms": 400},
            {"submitted_ms": 300, "completed_ms": 500},   # concurrent with the first
            {"submitted_ms": 700, "completed_ms": 800}]}
        self.assertAlmostEqual(stats.driver_gap_ms(call), 1000 - 400 - 100)


class FailureCountTest(unittest.TestCase):
    calls = [{"op": "a", "ok": True}, {"op": "a", "ok": True},
             {"op": "b", "ok": False}, {"op": "c", "ok": True}]

    def test_all_good(self):
        checks = [{"op": "a", "ok": True}, {"op": "c", "ok": True}]
        self.assertEqual(stats.count_failures(self.calls[:2] + self.calls[3:], checks),
                         (3, 0, []))

    def test_exceptions_and_wrong_results_fail_their_calls(self):
        checks = [{"op": "a", "ok": False}, {"op": "c", "ok": True}]
        # both calls of a returned the wrong result, b threw
        self.assertEqual(stats.count_failures(self.calls, checks), (4, 3, ["a", "b"]))

    def test_a_failed_check_without_calls_still_counts(self):
        checks = [{"op": "z", "kind": "state", "ok": False}]
        self.assertEqual(stats.count_failures(self.calls, checks, warmup_failures=1),
                         (6, 3, ["b", "z"]))

    def test_ratio(self):
        attempted, failed, _ = stats.count_failures(self.calls, [{"op": "a", "ok": False}])
        self.assertAlmostEqual(failed / attempted, 3 / 4)


def _files(root):
    return sorted(os.path.relpath(os.path.join(d, f), root)
                  for d, _, fs in os.walk(root) for f in fs if f.endswith(".parquet"))


class SeedDeterminismTest(unittest.TestCase):
    spec = {"batches": 4, "events": 2000, "customers": 400, "updates_per_batch": 10}

    def generate(self, seed, tmp, name):
        out = os.path.join(tmp, name)
        return gen.generate("incremental_ingest", seed, out, self.spec), out

    def test_same_seed_gives_identical_bytes(self):
        with tmpdir() as tmp:
            _, a = self.generate(7, tmp, "a")
            _, b = self.generate(7, tmp, "b")
            files = _files(a)
            self.assertEqual(files, _files(b))
            self.assertTrue(files)
            match, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
            self.assertEqual((mismatch, errors), ([], []))

    def test_other_seed_changes_row_order_and_delta_membership(self):
        with tmpdir() as tmp:
            pa_, a = self.generate(7, tmp, "a")
            pb_, b = self.generate(8, tmp, "b")

            def ids(path, col):
                return pq.read_table(path).column(col).to_pylist()
            base = os.path.join("data", "documents.parquet", "part-00000.parquet")
            self.assertNotEqual(ids(os.path.join(a, base), "doc_id"),
                                ids(os.path.join(b, base), "doc_id"))
            delta_a = ids(pa_["batches"][1]["documents"]["path"], "doc_id")
            delta_b = ids(pb_["batches"][1]["documents"]["path"], "doc_id")
            self.assertNotEqual(set(delta_a), set(delta_b))

    def test_content_does_not_depend_on_seed(self):
        spec = {"ops": ["q1_pricing_summary"], "prepared": [], "tables": ["customer"],
                "passes": 1}
        with tmpdir() as tmp:
            def rows(seed):
                out = os.path.join(tmp, f"s{seed}")
                gen.generate("relational_interactive", seed, out, spec)
                t = pq.read_table(os.path.join(out, "data", "customer.parquet"))
                return sorted(zip(*(t.column(c).to_pylist() for c in t.column_names)))
            self.assertEqual(rows(1), rows(2))

if __name__ == "__main__":
    unittest.main()
