"""Candidate generation: all-pairs semantics for small buckets, star-R
bound for hot buckets, cross-band dedup, drop ledger.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hsearch_spark.config import DedupConfig
from hsearch_spark.operators.candidates import (
    candidate_pairs,
    dropped_pairs_metrics,
    simhash_candidates,
)


def _bands(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, band_id int, band_hash long"
    )


def test_small_bucket_all_pairs(spark):
    # one bucket of 4 docs → C(4,2) = 6 pairs
    rows = [(d, 0, 111) for d in [10, 20, 30, 40]]
    got = candidate_pairs(_bands(spark, rows), DedupConfig()).collect()
    pairs = {(r["a"], r["b"]) for r in got}
    assert pairs == {
        (10, 20), (10, 30), (10, 40), (20, 30), (20, 40), (30, 40)
    }


def test_singleton_buckets_emit_nothing(spark):
    rows = [(1, 0, 1), (2, 0, 2), (3, 1, 3)]
    assert candidate_pairs(_bands(spark, rows), DedupConfig()).count() == 0


def test_cross_band_pair_dedup(spark):
    # same pair appears in two bands → one candidate row (test-once
    # invariant, ref motif_both_points.cpp:222-243)
    rows = [(1, 0, 5), (2, 0, 5), (1, 1, 9), (2, 1, 9)]
    got = candidate_pairs(_bands(spark, rows), DedupConfig()).collect()
    assert [(r["a"], r["b"]) for r in got] == [(1, 2)]


def test_hot_bucket_star_policy_bounds_pairs(spark):
    cfg = DedupConfig(max_bucket_all_pairs=8, star_representatives=2)
    n = 20
    rows = [(d, 0, 777) for d in range(n)]
    got = candidate_pairs(_bands(spark, rows), cfg).collect()
    pairs = {(r["a"], r["b"]) for r in got}
    # star-2: doc 0 and doc 1 pair with everyone after them
    expected = {(0, j) for j in range(1, n)} | {(1, j) for j in range(2, n)}
    assert pairs == expected
    # connectivity: every doc appears
    seen = {x for p in pairs for x in p}
    assert seen == set(range(n))


def test_dropped_pairs_ledger(spark):
    cfg = DedupConfig(max_bucket_all_pairs=8, star_representatives=2)
    n = 20
    rows = [(d, 0, 777) for d in range(n)]
    led = dropped_pairs_metrics(_bands(spark, rows), "band_hash", 8, 2).collect()
    assert len(led) == 1
    total = n * (n - 1) // 2
    star = 2 * n - 3  # r*n - r(r+1)/2 with r=2 → 2n - 3 = 37
    assert led[0]["dropped_pairs"] == total - star


def test_dropped_pairs_ledger_more_reps_than_members(spark):
    # R past a hot bucket's size: every member is a rep, the star
    # pairing emits all C(n,2) pairs, and the ledger records none
    cfg = DedupConfig(max_bucket_all_pairs=8, star_representatives=20)
    rows = [(d, 0, 777) for d in range(10)]
    pairs = candidate_pairs(_bands(spark, rows), cfg).count()
    led = dropped_pairs_metrics(_bands(spark, rows), "band_hash", 8, 20).collect()
    assert pairs == 45
    assert [r["dropped_pairs"] for r in led] == [0]


def test_pathological_bucket_bounded_and_connected(spark):
    # one 10^5-member bucket: the aggregation must stay bounded (the
    # rank-limit keeps only keep_limit ids per bucket; star edges come
    # from the reps×members join, never an array) while preserving FULL
    # connectivity — every member gets an edge to a representative.
    cfg = DedupConfig()
    n = 100_000
    r = cfg.star_representatives
    bands = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit(0).alias("band_id"),
        F.lit(424242).alias("band_hash"),
    )
    pairs = candidate_pairs(bands, cfg)
    # exact star-R count: r*n - r*(r+1)/2
    assert pairs.count() == r * n - r * (r + 1) // 2
    # connectivity: every doc 1..n-1 appears as b with a rep 0..r-1 as a
    touched = pairs.select(F.col("b").alias("d")).union(
        pairs.select(F.col("a").alias("d"))
    ).distinct().count()
    assert touched == n
    assert pairs.agg(F.max("a")).collect()[0][0] == r - 1


def test_simhash_candidates_hamming_gate(spark):
    # fp2 differs from fp1 in 2 bits (within hamming max 3, chunk 0 equal
    # ... bits 20 and 40 → chunks 1 and 2 differ, chunks 0,3 equal)
    fp1 = 0x0123456789ABCDEF
    fp2 = fp1 ^ (1 << 20) ^ (1 << 40)
    fp3 = fp1 ^ ((1 << 16) - 1)  # 16 bits differ → rejected
    sigs = spark.createDataFrame(
        [(1, fp1), (2, fp2), (3, fp3)], "doc_id long, simhash long"
    )
    got = simhash_candidates(sigs, DedupConfig()).collect()
    assert {(r["a"], r["b"]) for r in got} == {(1, 2)}


def test_broadcast_guard_fallback_same_pairs(spark):
    # one hot bucket; max_broadcast_reps=0 forces the plain-join fallback
    rows = [(d, 0, 7) for d in range(100)]
    cfg = DedupConfig(max_bucket_all_pairs=8, star_representatives=3)
    cfg_nobc = DedupConfig(
        max_bucket_all_pairs=8, star_representatives=3, max_broadcast_reps=0
    )
    bc = candidate_pairs(_bands(spark, rows), cfg)
    plain = candidate_pairs(_bands(spark, rows), cfg_nobc)
    assert "BroadcastHashJoin" in bc._jdf.queryExecution().executedPlan().toString()
    assert {(r["a"], r["b"]) for r in bc.collect()} == {
        (r["a"], r["b"]) for r in plain.collect()
    }


def test_broadcast_guard_proven_bound_same_pairs(spark):
    """input_rows lets the guard PROVE broadcast safety (reps rows <=
    R * input_rows / (cap+1)) without a runtime count; pairs must be
    identical to the exact-count path either way."""
    rows = [(d, 0, 7) for d in range(100)]
    cfg = DedupConfig(max_bucket_all_pairs=8, star_representatives=3)
    bound = candidate_pairs(_bands(spark, rows), cfg, input_rows=len(rows))
    counted = candidate_pairs(_bands(spark, rows), cfg)
    assert (
        "BroadcastHashJoin"
        in bound._jdf.queryExecution().executedPlan().toString()
    )
    assert {(r["a"], r["b"]) for r in bound.collect()} == {
        (r["a"], r["b"]) for r in counted.collect()
    }
    # a bound that CANNOT clear the limit falls back to the exact count
    # (here 1 hot bucket * R = 3 reps <= limit → still broadcast)
    tight = DedupConfig(
        max_bucket_all_pairs=8, star_representatives=3, max_broadcast_reps=5
    )
    still_bc = candidate_pairs(_bands(spark, rows), tight, input_rows=len(rows))
    assert (
        "BroadcastHashJoin"
        in still_bc._jdf.queryExecution().executedPlan().toString()
    )


def test_bucket_pairs_grouped_matches_bruteforce_oracle(spark):
    """Randomized bucket sizes (1..3×cap) vs a plain-python policy
    oracle: all-pairs for 2 <= n <= cap, star over the R smallest ids
    for n > cap, cross-bucket dedup."""
    import random

    from hsearch_spark.operators.candidates import bucket_pairs_grouped

    rng = random.Random(13)
    cfg = DedupConfig(max_bucket_all_pairs=6, star_representatives=3)
    rows, oracle = [], set()
    for bucket in range(40):
        n = rng.randint(1, 18)
        members = sorted(rng.sample(range(10_000), n))
        rows += [(m, bucket) for m in members]
        if n <= 1:
            continue
        if n <= cfg.max_bucket_all_pairs:
            oracle |= {
                (members[i], members[j])
                for i in range(n)
                for j in range(i + 1, n)
            }
        else:
            reps = members[: cfg.star_representatives]
            oracle |= {(a, b) for a in reps for b in members if a < b}
    df = spark.createDataFrame(rows, "doc_id long, key long").repartition(7)
    got = {
        (r["a"], r["b"])
        for r in bucket_pairs_grouped(df, "key", cfg).collect()
    }
    assert got == oracle
