"""IVF approximate nearest-neighbor: recall vs brute force, exactness
at full probe, determinism."""

from __future__ import annotations

import numpy as np

from hsearch_spark.operators.ann import ivf_topk
from hsearch_spark.operators.dedup import cosine_topk_bruteforce


def _blobs(spark, n=400, d=16, n_clusters=8, seed=3):
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((n_clusters, d)) * 3
    rows = []
    for i in range(n):
        c = i % n_clusters
        v = centers[c] + rng.standard_normal(d) * 0.3
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _topk_sets(df, k):
    out = {}
    for r in df.collect():
        out.setdefault(r["a"], set()).add(r["b"])
    return out


def test_ivf_full_probe_is_exact(spark):
    e = _blobs(spark, n=120)
    exact = _topk_sets(cosine_topk_bruteforce(e, k=5), 5)
    ivf = _topk_sets(ivf_topk(e, k=5, n_lists=10, n_probe=10), 5)
    assert ivf == exact


def test_ivf_recall_reasonable(spark):
    # quarter-probe recall floor with TRAINED centroids (was 0.8 with the
    # raw seeded sample — training must lift it, pinned here)
    e = _blobs(spark, n=400)
    exact = _topk_sets(cosine_topk_bruteforce(e, k=5), 5)
    ivf = _topk_sets(ivf_topk(e, k=5, n_lists=16, n_probe=4), 5)
    hits = sum(len(ivf.get(a, set()) & nb) for a, nb in exact.items())
    total = sum(len(nb) for nb in exact.values())
    assert hits / total >= 0.9, f"recall@5 {hits / total:.3f}"


def test_ivf_training_improves_recall(spark):
    e = _blobs(spark, n=400)
    exact = _topk_sets(cosine_topk_bruteforce(e, k=5), 5)

    def recall(df):
        ivf = _topk_sets(df, 5)
        hits = sum(len(ivf.get(a, set()) & nb) for a, nb in exact.items())
        return hits / sum(len(nb) for nb in exact.values())

    untrained = recall(
        ivf_topk(e, k=5, n_lists=16, n_probe=2, train_iters=0, split_oversize=None)
    )
    trained = recall(ivf_topk(e, k=5, n_lists=16, n_probe=2))
    assert trained >= untrained - 1e-9, (trained, untrained)


def test_kmeans_combine_tiers_identical(spark):
    """The per-list combine has two physical tiers (driver-summed
    partials vs distributed groupBy+applyInPandas); both must return
    bit-identical (list_id, n, sum) rows — int64 fixed-point sums are
    associative, so tier choice can never change a centroid."""
    import numpy as np
    from pyspark.sql import functions as F

    from hsearch_spark.operators import ann
    from hsearch_spark.operators.ann import _centroids, _kmeans_pass

    e = _blobs(spark, n=300)
    norm = F.sqrt(F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x * x))
    unit = e.select(
        F.col("vec_id").alias("id"),
        F.transform("embedding", lambda x: x / norm).alias("v"),
    ).repartition(9)
    cents = _centroids(e, 8, 42, "vec_id", "embedding")

    def rows_key(rows):
        return sorted((int(r["list_id"]), int(r["n"]), bytes(r["s"])) for r in rows)

    driver_rows = rows_key(_kmeans_pass(unit, cents))
    # force the distributed tier by shrinking the driver-combine bound
    import unittest.mock as mock

    with mock.patch.object(ann, "_DRIVER_COMBINE_MAX_ROWS", 0):
        dist_rows = rows_key(_kmeans_pass(unit, cents))
    assert driver_rows == dist_rows


def test_ivf_oversized_list_split(spark):
    # 90% of vectors in one tight clump → the clump's list exceeds the
    # size cap and must be split so no list dominates
    rng = np.random.default_rng(9)
    clump = rng.standard_normal(16) * 3
    rows = [
        (i, [float(x) for x in clump + rng.standard_normal(16) * 0.05])
        for i in range(360)
    ] + [
        (1000 + i, [float(x) for x in rng.standard_normal(16) * 3])
        for i in range(40)
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    from hsearch_spark.operators.ann import _centroids, train_centroids
    from pyspark.sql import functions as F

    norm = F.sqrt(F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x * x))
    unit = e.select(
        F.col("vec_id").alias("id"),
        F.transform("embedding", lambda x: x / norm).alias("v"),
    )
    init = _centroids(e, 8, 42, "vec_id", "embedding")
    cents = train_centroids(
        unit, 8, 42, 400, init, train_iters=2, split_oversize=2.0
    )
    assert cents.shape[0] > 8, "oversized clump list was never split"


def test_ivf_deterministic(spark):
    e = _blobs(spark, n=200)
    r1 = sorted(map(tuple, ivf_topk(e, k=3, n_lists=8, n_probe=2).collect()))
    r2 = sorted(
        map(tuple, ivf_topk(e.repartition(7), k=3, n_lists=8, n_probe=2).collect())
    )
    assert r1 == r2


def test_ivf_zero_vector_and_empty(spark):
    # zero vector must not poison the probe GEMM (NULL from x/0.0)
    e = _blobs(spark, n=60)
    zero = spark.createDataFrame(
        [(999, [0.0] * 16)], "vec_id long, embedding array<double>"
    )
    out = ivf_topk(e.union(zero), k=3, n_lists=8, n_probe=8)
    assert out.where("a = 999").count() == 3
    # empty input returns an empty typed frame, not a crash
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert ivf_topk(empty, k=3, n_lists=4, n_probe=2).count() == 0


def test_ivf_index_build_once_probe_many(spark, tmp_path):
    """Persisted-index contract: build ONCE, then (a) self-search through
    the index matches ivf_topk's per-call-trained result, (b) a second
    search at a different n_probe reuses the same index (no retrain —
    centroids object identity), and (c) save → load → search is
    byte-identical to the in-memory index."""
    from hsearch_spark.operators.ann import build_ivf_index, load_ivf_index

    e = _blobs(spark, n=200)
    idx = build_ivf_index(e, n_lists=8, seed=42)
    cents_before = idx.centroids

    got = sorted(
        map(tuple, idx.search(e, k=3, n_probe=2, prune_partitions=False).collect())
    )
    want = sorted(map(tuple, ivf_topk(e, k=3, n_lists=8, n_probe=2).collect()))
    assert got == want

    wide = sorted(map(tuple, idx.search(e, k=3, n_probe=4).collect()))
    assert idx.centroids is cents_before  # no retrain on search
    assert len(wide) == len(got)

    path = str(tmp_path / "ivf_index")
    idx.save(path)
    loaded = load_ivf_index(spark, path)
    assert np.array_equal(loaded.centroids, idx.centroids)
    got2 = sorted(map(tuple, loaded.search(e, k=3, n_probe=2).collect()))
    assert got2 == got


def test_ivf_index_search_prunes_partitions(spark, tmp_path):
    """A small query batch must read only its probed lists' files from
    the persisted inverted file (partition pruning on list_id)."""
    from hsearch_spark.operators.ann import build_ivf_index, load_ivf_index

    e = _blobs(spark, n=200)
    path = str(tmp_path / "ivf_index")
    build_ivf_index(e, n_lists=8, seed=42).save(path)
    loaded = load_ivf_index(spark, path)

    queries = e.limit(3)
    res = loaded.search(queries, k=3, n_probe=2)
    # the physical scan of the inverted file must carry a list_id
    # partition filter (directory-level pruning; inputFiles() reports
    # the pre-pruning relation so inspect the plan instead)
    jqe = res._jdf.queryExecution()
    plan = spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        jqe, "formatted"
    )
    scans = [b for b in plan.split("\n\n") if "PartitionFilters" in b]
    pf_lines = [
        ln
        for b in scans
        for ln in b.splitlines()
        if "PartitionFilters" in ln and "list_id" in ln
    ]
    assert pf_lines, plan
    # and the pruned search still answers: 3 queries x k rows
    assert res.groupBy("a").count().count() == 3


def test_ivf_full_probe_skewed_quantizer_still_splits(spark):
    """At full probe the k-means iterations are skipped but the
    oversized-list SPLIT must still run: a skewed raw-sample quantizer
    would otherwise put ~all vectors in one list and make the full-probe
    cogroup's sims matrix ~n x n. Splitting grows the centroid count, so
    the result frame must still be exact vs brute force."""
    rng = np.random.default_rng(9)
    clump = rng.standard_normal(16) * 3
    rows = [
        (i, [float(x) for x in clump + rng.standard_normal(16) * 0.05])
        for i in range(180)
    ] + [
        (1000 + i, [float(x) for x in rng.standard_normal(16) * 3])
        for i in range(20)
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = _topk_sets(cosine_topk_bruteforce(e, k=5), 5)
    ivf = _topk_sets(ivf_topk(e, k=5, n_lists=8, n_probe=8), 5)
    assert ivf == exact


def test_ivf_index_incremental_add_exact_at_full_probe(spark):
    """idx.add() assigns new vectors to the FIXED centroids without
    retraining; at full probe the grown index must return exactly the
    brute-force top-k over the UNION corpus (exactness is independent
    of centroid quality), and the original index object stays usable."""
    from hsearch_spark.operators.ann import build_ivf_index

    base = _blobs(spark, n=150, seed=3)
    extra = _blobs(spark, n=60, seed=8)
    extra = extra.selectExpr("vec_id + 5000 as vec_id", "embedding")
    idx = build_ivf_index(base, n_lists=8, seed=42)
    grown = idx.add(extra)

    union = base.union(extra)
    exact = _topk_sets(cosine_topk_bruteforce(union, k=4), 4)
    got = _topk_sets(
        grown.search(union, k=4, n_probe=grown.n_lists,
                     prune_partitions=False),
        4,
    )
    assert got == exact
    # original index unaffected: still answers over the base corpus only
    base_ids = {r["vec_id"] for r in base.select("vec_id").collect()}
    res = idx.search(base, k=3, n_probe=idx.n_lists, prune_partitions=False)
    assert {r["b"] for r in res.collect()} <= base_ids


def test_ivf_list_metrics_flag_flips_on_skewed_add(spark):
    """The index maintenance surface (round-5): a freshly TRAINED index
    is balanced (no over_cap list — training splits oversized lists),
    and an .add() batch that piles onto one region flips the over_cap
    flag / needs_rebuild — the drift signal IvfIndex.add's docstring
    defers rebuild cadence to."""
    import pyspark.sql.functions as F

    from hsearch_spark.operators.ann import (
        build_ivf_index,
        list_size_metrics,
        needs_rebuild,
    )

    base = _blobs(spark, n=200, seed=3)
    idx = build_ivf_index(base, n_lists=8, seed=42)
    m = {r["list_id"]: r for r in list_size_metrics(idx).collect()}
    assert sum(r["n"] for r in m.values()) == 200
    assert not any(r["over_cap"] for r in m.values())
    assert not needs_rebuild(idx)

    # skewed ingest: many near-identical vectors landing in ONE list
    rng = np.random.default_rng(11)
    hot = rng.standard_normal(16)
    rows = [
        (10_000 + i, [float(x) for x in hot + rng.standard_normal(16) * 0.01])
        for i in range(900)
    ]
    extra = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    grown = idx.add(extra)
    m2 = list_size_metrics(grown)
    hot_rows = m2.where(F.col("over_cap")).collect()
    assert hot_rows, "a 900-vector pile-up on one list must flag over_cap"
    assert max(r["load_factor"] for r in hot_rows) > 4.0
    assert needs_rebuild(grown)
    # the original index's metrics are unchanged by the grown copy
    assert not needs_rebuild(idx)


def test_ivf_repair_oversized_in_place(spark):
    """repair_oversized splits ONLY the drifted lists and re-settles
    ONLY their members: occupancy flag clears, untouched rows keep
    their exact (b, list_id) assignment, no row is lost, full-probe
    search stays exact over the union corpus, and the repair is
    deterministic."""
    import pyspark.sql.functions as F

    from hsearch_spark.operators.ann import (
        build_ivf_index,
        needs_rebuild,
        repair_oversized,
    )

    base = _blobs(spark, n=200, seed=3)
    idx = build_ivf_index(base, n_lists=8, seed=42)
    rng = np.random.default_rng(11)
    hot = rng.standard_normal(16)
    rows = [
        (10_000 + i, [float(x) for x in hot + rng.standard_normal(16) * 0.01])
        for i in range(900)
    ]
    extra = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    grown = idx.add(extra)
    assert needs_rebuild(grown)

    over = {
        int(r["list_id"])
        for r in grown.inv.groupBy("list_id").count().collect()
        if r["count"] > 4.0 * 1100 / grown.n_lists
    }
    untouched_before = {
        (r["b"], r["list_id"])
        for r in grown.inv.where(~F.col("list_id").isin(list(over))).collect()
    }

    fixed = repair_oversized(grown)
    # drift flag clears; the index grew by >= 1 child list
    assert not needs_rebuild(fixed)
    assert fixed.n_lists > grown.n_lists
    # no row lost or duplicated
    assert fixed.inv.count() == 1100
    assert fixed.inv.select("b").distinct().count() == 1100
    # untouched lists' assignments are bit-identical after the repair
    assigned = [(r["b"], r["list_id"]) for r in fixed.inv.collect()]
    assert untouched_before <= set(assigned)
    # full-probe exactness is preserved on the repaired index
    union = base.union(extra)
    exact = _topk_sets(cosine_topk_bruteforce(union, k=4), 4)
    got = _topk_sets(
        fixed.search(union, k=4, n_probe=fixed.n_lists, prune_partitions=False),
        4,
    )
    assert got == exact
    # deterministic: a second repair of the same index matches exactly
    fixed2 = repair_oversized(grown)
    assert np.array_equal(fixed.centroids, fixed2.centroids)
    # read before the second repair, whose persists evict fixed.inv's
    # cache (a re-read would recompute every repair round)
    a1 = sorted(assigned)
    a2 = sorted((r["b"], r["list_id"]) for r in fixed2.inv.collect())
    assert a1 == a2
    # the pre-repair index object is unaffected
    assert needs_rebuild(grown)
