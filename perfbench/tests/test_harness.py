"""Self-tests of the benchmark harness: the tail-percentile rule, the job
interval union, seeded input generation and stream id uniqueness.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import metrics  # noqa: E402


class TailPercentile(unittest.TestCase):
    def test_p90_needs_ten_samples_beyond_it(self):
        self.assertEqual(metrics.tail_percentile(100), 90)
        self.assertEqual(metrics.tail_percentile(1000), 90)
        self.assertEqual(metrics.tail_percentile(99), 89)

    def test_highest_percentile_with_ten_beyond(self):
        for n in range(20, 100):
            p = metrics.tail_percentile(n)
            self.assertGreaterEqual(metrics.beyond(n, p / 100), 10, n)
            if p < 90:
                self.assertLess(metrics.beyond(n, (p + 1) / 100), 10, n)

    def test_too_few_samples_fall_back_to_median(self):
        self.assertEqual(metrics.tail_percentile(19), 50)
        self.assertEqual(metrics.tail_percentile(1), 50)


class MixWeights(unittest.TestCase):
    def test_equal_weights_give_the_nearest_rank_quantile(self):
        def at(xs, q):
            return metrics.weighted_quantile([(x, 1) for x in xs], q)
        xs = [5, 1, 4, 2, 3, 9, 7]
        self.assertEqual([at(xs, q) for q in (0.5, 0.75, 0.9)], [4, 7, 9])
        hundred = list(range(100, 0, -1))
        self.assertEqual([at(hundred, q) for q in (0.5, 0.9)], [50, 90])
        self.assertEqual(at([7], 0.9), 7)

    def test_every_kind_counts_as_in_one_cycle(self):
        # three fast calls and one slow one completed, but the cycle holds one
        # of each: the median must not be the fast kind just because more of
        # its calls finished before the deadline
        samples = [{"kind": "a", "seconds": 1.0}] * 3 + [{"kind": "b", "seconds": 3.0}]
        w = metrics.mix_weights(samples, {"a": 1, "b": 1})
        self.assertEqual(w, [1 / 3] * 3 + [1.0])
        self.assertEqual(metrics.weighted_quantile(
            [(s["seconds"], x) for s, x in zip(samples, w)], 0.75), 3.0)


class IntervalUnion(unittest.TestCase):
    def test_disjoint_and_overlapping(self):
        self.assertEqual(metrics.interval_union([(0, 1), (2, 4)]), 3)
        self.assertEqual(metrics.interval_union([(0, 3), (1, 2), (2, 5)]), 5)
        self.assertEqual(metrics.interval_union([(5, 6), (0, 1), (0.5, 2)]), 3)

    def test_clipped_to_the_call(self):
        self.assertEqual(metrics.interval_union([(-5, 1), (9, 20)], 0, 10), 2)
        self.assertEqual(metrics.interval_union([(11, 12)], 0, 10), 0)

    def test_outside_jobs_time(self):
        # a 10 s call whose jobs cover 0-3 s and 2-6 s spends 4 s outside jobs
        covered = metrics.interval_union([(0, 3), (2, 6)], 0, 10)
        self.assertEqual(10 - covered, 4)

    def test_empty(self):
        self.assertEqual(metrics.interval_union([]), 0)


class SeededInputs(unittest.TestCase):
    def test_same_seed_same_calls_and_batches(self):
        self.assertEqual(gen.table_ops_calls(7), gen.table_ops_calls(7))
        t = gen.make_tables(7)
        self.assertEqual(gen.index_batches(7, t, n_rounds=5),
                         gen.index_batches(7, gen.make_tables(7), n_rounds=5))
        for name, table in t.items():
            self.assertTrue(table.equals(gen.make_tables(7)[name]), name)

    def test_other_seed_other_calls_and_batches(self):
        self.assertNotEqual(gen.table_ops_calls(7), gen.table_ops_calls(8))
        self.assertNotEqual(gen.index_batches(7, gen.make_tables(7), n_rounds=5),
                            gen.index_batches(8, gen.make_tables(8), n_rounds=5))
        self.assertFalse(gen.make_tables(7)["documents"].equals(
            gen.make_tables(8)["documents"]))

    def test_write_share(self):
        calls = gen.table_ops_calls(3)
        writes = sum(c["kind"] in gen.WRITE_KINDS for c in calls) / len(calls)
        self.assertAlmostEqual(writes, 5 / 19, delta=1e-9)


class StreamIds(unittest.TestCase):
    def test_ids_unique_and_disjoint_from_the_corpus(self):
        for seed in (1, 2, 3):
            t = gen.make_tables(seed)
            b = gen.index_batches(seed, t)
            ids = [row["id"] for rd in b["rounds"] for kind in ("text", "vec")
                   for row in rd[kind]]
            ids += [row["id"] for row in b["probe_text"] + b["probe_vec"]]
            self.assertEqual(len(ids), len(set(ids)))
            corpus = set(t["documents"]["doc_id"].to_pylist()) | set(
                t["embeddings"]["vec_id"].to_pylist())
            self.assertFalse(corpus & set(ids))

    def test_copies_point_at_corpus_rows(self):
        t = gen.make_tables(4)
        docs = dict(zip(t["documents"]["doc_id"].to_pylist(),
                        t["documents"]["text"].to_pylist()))
        for rd in gen.index_batches(4, t, n_rounds=3)["rounds"]:
            for row in rd["text"]:
                if row["copy_of"] is not None:
                    self.assertEqual(row["text"], docs[row["copy_of"]])

    def test_rotation_is_injective(self):
        words = gen.WORDS
        for k in range(1, 26):
            rotated = {gen.rotate_text(w, k) for w in words}
            self.assertEqual(len(rotated), len(words))


if __name__ == "__main__":
    unittest.main()
