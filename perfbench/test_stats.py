"""Unit tests of the benchmark helpers: python3 -m unittest discover perfbench"""

import collections
import unittest

import stats


class TailTest(unittest.TestCase):
    def test_hundred_samples_give_p90_with_ten_beyond(self):
        q, v, n = stats.tail(range(100))
        self.assertEqual(n, 100)
        self.assertEqual(v, 89)
        self.assertAlmostEqual(q, 89.9, places=1)
        self.assertEqual(sum(1 for x in range(100) if x > v), 10)

    def test_more_samples_give_a_higher_percentile(self):
        self.assertGreater(stats.tail(range(1000))[0],
                           stats.tail(range(100))[0])
        self.assertEqual(stats.tail(range(1000))[1], 989)

    def test_unsorted_input_and_ten_beyond(self):
        xs = [5, 1, 9, 3, 7, 2, 8, 4, 6, 0, 10, 11]
        q, v, n = stats.tail(xs)
        self.assertEqual((v, n), (1, 12))
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_too_few_samples(self):
        self.assertIsNone(stats.tail(range(10)))
        self.assertIsNone(stats.tail([]))


class RequestsTest(unittest.TestCase):
    def test_same_seed_same_sequence(self):
        self.assertEqual(stats.requests(7, range(1500), 5),
                         stats.requests(7, range(1500), 5))

    def test_different_seed_different_sequence(self):
        self.assertNotEqual(stats.requests(7, range(1500), 5)[1],
                            stats.requests(8, range(1500), 5)[1])

    def test_every_round_has_the_exact_mix(self):
        _, seq = stats.requests(3, range(1500), 10)
        self.assertEqual(len(seq), 10 * stats.ROUND_SIZE)
        for r in range(10):
            got = collections.Counter(
                c for c, _ in seq[r * stats.ROUND_SIZE:
                                  (r + 1) * stats.ROUND_SIZE])
            self.assertEqual(got, collections.Counter(
                {"blend": 10, "strategies": 2, "recs_similarity": 5,
                 "recs_cooc": 1, "recs_pagerank": 1, "recs_popular": 1}))

    def test_warmup_customer_is_never_drawn(self):
        warmup, seq = stats.requests(4, range(1500), 50)
        self.assertEqual([c for c, _ in warmup],
                         list(stats.CLASSES) + ["blend"] * stats.WARM_BLENDS)
        spare = {p.split("/")[2] for c, p in warmup if c == "blend"}
        self.assertEqual(len(spare), 1 + stats.WARM_BLENDS)
        drawn = {p.split("/")[2] for c, p in seq if p.startswith("/customers")}
        drawn |= {p.split("customer_id=")[1].split("&")[0]
                  for c, p in seq if "customer_id=" in p}
        self.assertFalse(spare & drawn)

    def test_limits_are_uniform_in_one_to_ten(self):
        _, seq = stats.requests(5, range(1500), 100)
        ks = collections.Counter(int(p.rsplit("=", 1)[1]) for _, p in seq)
        self.assertEqual(set(ks), set(range(1, 11)))
        self.assertLess(max(ks.values()) / min(ks.values()), 1.5)

    def test_customers_follow_zipf_over_the_permutation(self):
        _, seq = stats.requests(6, range(1500), 200)
        ids = collections.Counter(p.split("/")[2] for c, p in seq
                                  if c == "blend")
        top = ids.most_common()
        # Zipf(1) over 1,500 ids: rank 1 draws ~12.6 %, rank 2 half that
        n = sum(ids.values())
        self.assertAlmostEqual(top[0][1] / n, 1 / sum(
            1 / r for r in range(1, 1501)), delta=0.02)
        self.assertGreater(top[0][1], 1.5 * top[1][1])


class SlopeTest(unittest.TestCase):
    def test_exact_line(self):
        self.assertAlmostEqual(stats.slope([1.0, 3.0, 5.0, 7.0]), 2.0)

    def test_least_squares_of_noisy_points(self):
        # y = 10 + 0.5 x with residuals that cancel in the normal equations
        ys = [10.0 + 0.5 * x + e for x, e in enumerate([1, -1, -1, 1])]
        self.assertAlmostEqual(stats.slope(ys), 0.5)

    def test_flat_and_short(self):
        self.assertEqual(stats.slope([4.0, 4.0, 4.0]), 0.0)
        self.assertEqual(stats.slope([4.0]), 0.0)


if __name__ == "__main__":
    unittest.main()
