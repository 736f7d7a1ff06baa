"""Tests of the benchmark's own logic (no Spark needed).

Run from the repository root:  python3 perfbench/test_perfbench.py
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402


def staged(seed, n_files=3, rows=5000, id_space=2500):
    with tempfile.TemporaryDirectory() as d:
        answers = gen.stage_files(seed, id_space, n_files, rows,
                                  lambda i: os.path.join(d, f"f{i}.json"))
        blobs = []
        for i in range(n_files):
            with open(os.path.join(d, f"f{i}.json"), "rb") as f:
                blobs.append(f.read())
    return blobs, [a.rows() for a in answers]


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_files_and_answer(self):
        self.assertEqual(staged(7), staged(7))

    def test_other_seed_other_files(self):
        a, _ = staged(7)
        b, _ = staged(8)
        self.assertTrue(all(x != y for x, y in zip(a, b)))

    def test_answer_counts_every_category_and_only_typed_ids(self):
        blobs, answers = staged(7, n_files=1, rows=20000)
        rows = answers[0]
        self.assertEqual(set(rows), set(gen.CATEGORIES))
        lines = blobs[0].decode().splitlines()
        self.assertEqual(len(lines), 20000)
        # malformed and id-nulling payloads are counted in no category
        self.assertLess(sum(c for c, _ in rows.values()), len(lines))
        self.assertTrue(all(d <= c for c, d in rows.values()))

    def test_mix_follows_the_reference_shares(self):
        _, answers = staged(3, n_files=1, rows=50000)
        rows = answers[0]
        total = sum(c for c, _ in rows.values())
        self.assertAlmostEqual(rows["Short stay"][0] / total, 0.891, delta=0.01)
        self.assertAlmostEqual(rows["Standard stay"][0] / total, 0.099, delta=0.01)


class FreshnessTest(unittest.TestCase):
    def test_file_counts_against_first_covering_batch_from_due_time(self):
        files = [(0, 2000), (200, 2000), (400, 2000), (600, 2000), (800, 2000)]
        # batch rows and the time each batch's changelog was written
        batches = [(2000, 500), (4000, 1300), (2000, 1500)]
        self.assertEqual(stats.freshness(files, batches), [500, 1100, 900, 900, None])

    def test_batch_ending_inside_a_file_defers_it(self):
        files = [(0, 2000), (200, 2000)]
        batches = [(3000, 700), (1000, 1000)]
        self.assertEqual(stats.freshness(files, batches), [700, 800])


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        v = list(range(1, 101))
        self.assertEqual(stats.percentile(v, 0.5), 50)
        self.assertEqual(stats.percentile(v, 0.95), 95)
        self.assertEqual(stats.median([3, 1, 2]), 2)

    def test_tail_has_ten_samples_beyond(self):
        for n in range(1, 400):
            values = [float(i) for i in range(n)]
            t = stats.tail(values)
            if n < 2 * stats.TAIL_SAMPLES + 1:
                self.assertIsNone(t, n)
                continue
            q, value = t
            self.assertGreater(q, 0.5)
            self.assertEqual(sum(1 for x in values if x > value), stats.TAIL_SAMPLES, n)
            self.assertGreaterEqual(stats.beyond(n, q), stats.TAIL_SAMPLES)


class FingerprintTest(unittest.TestCase):
    def test_order_independent_and_type_strict(self):
        import pyarrow as pa
        a = pa.table({"k": [1, 2, 3], "v": [0.5, None, 2.0]})
        b = pa.table({"v": [2.0, 0.5, None], "k": [3, 1, 2]})
        self.assertEqual(check.fingerprint(a), check.fingerprint(b))
        c = pa.table({"k": [1.0, 2.0, 3.0], "v": [0.5, None, 2.0]})
        self.assertNotEqual(check.fingerprint(a)[0], check.fingerprint(c)[0])


if __name__ == "__main__":
    unittest.main()
