"""The bucketed candidate join (operators/buckets.py) against a Python
brute force: random (id, key) rows, split at random into an index and a
batch, under a random hot-key cap."""

from __future__ import annotations

import random
from collections import Counter, defaultdict

from topn_clashroyal_etl_sql_snapshot_spark.operators import buckets


def _self_join_truth(rows, cap):
    """(id1, id2, key) multiset of the capped self-join: every id pair
    sharing a key whose population is within the cap, once per key."""
    pop = Counter(k for _, k in rows)
    ids_by_key = defaultdict(list)
    for i, k in rows:
        if cap is None or pop[k] <= cap:
            ids_by_key[k].append(i)
    return Counter(
        (a, b, k) for k, ids in ids_by_key.items() for a in ids for b in ids if a < b
    )


def test_self_join_and_probe_match_brute_force(spark):
    """The self-join equals the brute force over the cold keys, and the
    probe's pairs are the batch-involving subset of the self-join over
    batch ∪ index, cap for cap."""
    for seed in (2, 3, 4):  # their random caps are 1, 3 and None
        rng = random.Random(seed)
        ids = list(range(rng.randrange(20, 40)))
        rows = sorted(
            {(i, rng.randrange(12)) for i in ids for _ in range(rng.randrange(1, 5))}
        )
        batch_ids = {i for i in ids if rng.random() < 0.4}
        cap = rng.choice([None, 1, 2, 3, 5, 8])

        def frame(part):
            return spark.createDataFrame(
                [(i, k, i % 7) for i, k in part], "id long, key long, w long"
            )

        everything = frame(rows)
        batch = frame([r for r in rows if r[0] in batch_ids])
        index = frame([r for r in rows if r[0] not in batch_ids])

        self_join = buckets.bucket_pairs(everything, ["key"], cap).collect()
        full = Counter((r["id1"], r["id2"], r["key"]) for r in self_join)
        assert full == _self_join_truth(rows, cap), (seed, cap)
        assert all(r["w1"] == r["id1"] % 7 and r["w2"] == r["id2"] % 7 for r in self_join)

        probe = buckets.bucket_pairs(batch, ["key"], cap, index=index)
        got = Counter()
        for r in probe.collect():
            assert r["id1"] in batch_ids, (seed, cap, r)
            assert r["id2"] not in batch_ids or r["id1"] < r["id2"], (seed, r)
            a, b = sorted((r["id1"], r["id2"]))
            got[(a, b, r["key"])] += 1
        want = Counter(
            {t: n for t, n in full.items() if t[0] in batch_ids or t[1] in batch_ids}
        )
        assert got == want, (seed, cap)
