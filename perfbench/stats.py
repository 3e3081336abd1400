"""Helpers of the benchmark: the tail percentile, the seeded serve request
generator and the batch-slope fit. Standard library only."""

import bisect
import random
import statistics

# One round of the serve mix: 20 requests, 50 % blend, 10 % strategies,
# 25 % /recs similarity and 5 % each for the other three /recs classes.
# Runs measure whole rounds, so every run sends the same mix; the order
# within a round is fixed, so every seed puts each class at the same
# point of the JVM's warm-up curve and the seed only picks customers and
# result sizes.
ROUND_ORDER = (
    "blend", "recs_similarity", "blend", "strategies", "blend",
    "recs_similarity", "blend", "recs_cooc", "blend", "recs_similarity",
    "blend", "recs_pagerank", "blend", "recs_similarity", "blend",
    "strategies", "blend", "recs_similarity", "blend", "recs_popular")
ROUND_SIZE = len(ROUND_ORDER)
CLASSES = tuple(dict.fromkeys(ROUND_ORDER))
# Blend requests for further unused customers after the one-per-class
# warm-up, so timing starts past the steepest part of the JIT warm-up.
WARM_BLENDS = 3


def path(cls, customer, k):
    """The HTTP path of one request of class `cls`."""
    return {
        "blend": f"/customers/{customer}/recommendations?top_n={k}",
        "strategies": f"/customers/{customer}/strategies?top_n={k}",
        "recs_similarity":
            f"/recs?strategy=similarity&customer_id={customer}&limit={k}",
        "recs_cooc": f"/recs?strategy=co_occurrence&limit={k}",
        "recs_pagerank": f"/recs?strategy=pagerank&limit={k}",
        "recs_popular": f"/recs?strategy=similarity&limit={k}",
    }[cls]


def requests(seed, customers, rounds, s=1.0):
    """The serve workload's request sequence for `seed`.

    Customers are drawn Zipf(s) over a seeded permutation of `customers`;
    `top_n` / `limit` is uniform in 1..10. Returns (warmup, sequence):
    `warmup` holds one (class, path) per class for a customer the
    sequence never draws, then WARM_BLENDS blends for other such
    customers; `sequence` holds `rounds` rounds of (class, path) pairs.
    The same arguments give the same result.
    """
    rng = random.Random(seed)
    perm = list(customers)
    rng.shuffle(perm)
    cum, total = [], 0.0
    for rank in range(1, len(perm) + 1):
        total += rank ** -s
        cum.append(total)

    def draw():
        return perm[min(bisect.bisect_left(cum, rng.random() * total),
                        len(perm) - 1)]

    seq, drawn = [], set()
    for _ in range(rounds):
        for c in ROUND_ORDER:
            cust = draw()
            drawn.add(cust)
            seq.append((c, path(c, cust, rng.randint(1, 10))))
    spare = [c for c in reversed(perm) if c not in drawn][:1 + WARM_BLENDS]
    warmup = [(c, path(c, spare[0], 10)) for c in CLASSES] + \
        [("blend", path("blend", c, 10)) for c in spare[1:]]
    return warmup, seq


def tail(xs, beyond=10):
    """The highest percentile with at least `beyond` samples above it.

    Returns (percentile, value, n): the sample at sorted index
    n - 1 - beyond, its percentile rank 100 * index / (n - 1) (so 100
    samples give p90), and the sample count. With `beyond` or fewer
    samples there is no such percentile and the result is None.
    """
    s = sorted(xs)
    n = len(s)
    if n <= beyond:
        return None
    i = n - 1 - beyond
    return (100.0 * i / (n - 1) if n > 1 else 0.0), s[i], n


def slope(ys):
    """Least-squares slope of ys against their index 0, 1, 2, ..."""
    if len(ys) < 2:
        return 0.0
    return statistics.linear_regression(range(len(ys)), ys).slope
