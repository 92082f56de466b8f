"""Connected components over the verified-edge table.

Reference parity: union-find over candidate ids
(pcluster/src/pcluster/union_find.cpp:16-43). The reference's
single-node disjoint-set (with its union-by-non-root bug,
union_find.cpp:31-33 — see SURVEY.md §2.12) becomes a vectorized
min-label union-find.

The edge count alone picks the plan:
- at most `driver_max_edges` edges (default 4M, ~64 MB of int64 pairs):
  one Arrow collect and the union-find on the driver, with or without a
  store. It writes no stage: a store-backed caller's edge table is
  itself a durable stage, so a crash during CC reruns this sub-second
  step from that parquet.
- above it: the alternating large-star / small-star loop (Kiveris et
  al., "Connected Components in MapReduce and Beyond", SoCC'14) —
  shuffle-key = node id, O(log n) rounds — after a per-bucket
  union-find pre-contraction. Each round truncates lineage, which
  otherwise doubles every iteration: by localCheckpoint without a store,
  by a parquet "cc/iter_NNN" stage with one, so a crashed run resumes
  from the last completed iteration and a lost executor recomputes from
  durable parquet.

Deterministic canonical labels: cluster_id = min(doc_id) of the
component — independent of partitioning, row order, cluster size and
plan (north-rule determinism).
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _fresh(df: DataFrame) -> DataFrame:
    """Re-project u,v with new attribute ids. Self-unions of the same
    (checkpointed) plan share attribute ids across branches, which trips
    a NoSuchElementException in Spark 4.1's Union constraint rewriting;
    aliasing each branch separately avoids it."""
    return df.select(F.col("u").alias("u"), F.col("v").alias("v"))


def _uf_min_labels(u, v):
    """Vectorized min-label union-find: edge arrays -> (nodes, root),
    root[i] = min(doc_id) of node i's component. Iterated min-label
    propagation + pointer jumping — order-independent, so the result is
    deterministic under any edge ordering/partitioning. Shared by the
    per-bucket pre-contraction (_contract_local) and the driver tier of
    connected_components."""
    import numpy as np

    nodes, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
    ui, vi = inv[: len(u)], inv[len(u):]
    lab = np.arange(len(nodes), dtype=np.int64)
    while True:
        before = lab.copy()
        m = np.minimum(lab[ui], lab[vi])
        np.minimum.at(lab, ui, m)
        np.minimum.at(lab, vi, m)
        lab = np.minimum(lab, lab[lab])  # pointer jump
        lab = np.minimum(lab, lab[lab])
        if np.array_equal(lab, before):
            break
    return nodes, nodes[lab]


def _contract_local(
    edges: DataFrame, n_buckets: int | None = None, salt: int = 16
) -> DataFrame:
    """ONE-pass per-bucket union-find pre-contraction.

    Replaces each hash bucket's edge set with its union-find spanning
    forest (node -> local-component-min). Connectivity is preserved
    exactly (a forest spans every local component; node ids are
    untouched), so feeding the contracted table to the star loop yields
    the same final labels — but the star loop now starts from an
    almost-converged graph: the candidate channels emit STAR pairs
    (a = bucket/group min ↔ member, candidates.bucket_pairs_grouped and
    exact_duplicate_pairs), so bucketing by the star center `u`
    co-locates nearly every edge of a component, and one numpy
    min-label pass collapses it to a single star. Measured effect:
    2-4 star iterations (each ~6 exchanges + a job barrier) become
    1 confirming iteration — the CC loop was the pipeline's largest
    non-scaling serial fraction at N→4N (BENCH.md round-4 stage
    decomposition).

    Skew safety: the group key is (xxhash64(u) % B, xxhash64(v) % salt)
    — the salt splits a giant star's edges across `salt` groups, and
    because every one of those groups still contains the center u (it
    is on every edge), each contracts to exactly the same (member → u)
    rows as the unsalted group; only non-star chains lose a little
    contraction (the star loop finishes those). Per-group rows are
    bounded by deg(u)/salt: at a 10^9-member exact-dup family and
    salt=16 that is ~60M 16-byte rows per task — raise `salt` (or set
    pre_contract=False; the star loop is pure-aggregation skew-safe)
    for corpora with larger identical-content families.

    The kernel is vectorized min-label propagation + pointer jumping
    (no per-edge Python loop), order-independent and therefore
    deterministic under any partitioning.
    """
    import numpy as np
    import pandas as pd

    if n_buckets is None:
        n_buckets = max(
            edges.sparkSession.sparkContext.defaultParallelism * 2, 64
        )

    def uf(pdf: pd.DataFrame) -> pd.DataFrame:
        nodes, root = _uf_min_labels(
            pdf["u"].to_numpy(dtype=np.int64),
            pdf["v"].to_numpy(dtype=np.int64),
        )
        keep = root != nodes
        return pd.DataFrame({"u": nodes[keep], "v": root[keep]})

    keyed = edges.select(
        "u",
        "v",
        F.pmod(F.xxhash64("u"), F.lit(n_buckets)).alias("_cb"),
        F.pmod(F.xxhash64("v"), F.lit(salt)).alias("_cs"),
    )
    return (
        keyed.groupBy("_cb", "_cs")
        .applyInPandas(lambda pdf: uf(pdf[["u", "v"]]), "u long, v long")
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every larger neighbor of u to min(Γ⁺(u))."""
    nbrs = _fresh(edges).union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = nbrs.groupBy("u").agg(F.min("v").alias("mn"))
    mins = mins.select("u", F.least("u", "mn").alias("m"))
    return (
        nbrs.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Point each edge large→small; connect all small neighbors to the min."""
    d = edges.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).where(F.col("u") != F.col("v"))
    mins = d.groupBy("u").agg(F.min("v").alias("m"))
    return (
        _fresh(
            d.join(mins, "u").select(
                F.col("v").alias("u"), F.col("m").alias("v")
            )
        )
        .union(mins.select("u", F.col("m").alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


_DRIVER_CC_MAX_EDGES = 4_000_000  # ~64 MB of (u, v) int64 pairs


_ARROW_BULK = {
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "131072",
}


@contextmanager
def _arrow_bulk(spark):
    """Force Arrow transfer with large batches for the driver tier's
    collect and upload, and restore the session's values after. Without
    Arrow, toPandas/createDataFrame fall back to Row objects, which cost
    driver-seconds of CPython per 10^6 edges. Sessions set
    maxRecordsPerBatch small to bound pandas-UDF batches, which would
    slice this bulk transfer into hundreds of tiny batches."""
    saved = {k: spark.conf.get(k) for k in _ARROW_BULK}
    for k, val in _ARROW_BULK.items():
        spark.conf.set(k, val)
    try:
        yield
    finally:
        for k, val in saved.items():
            spark.conf.set(k, val)


def connected_components(
    edges: DataFrame,
    max_iter: int = 25,
    store=None,
    pre_contract: bool = True,
    driver_max_edges: int = _DRIVER_CC_MAX_EDGES,
) -> DataFrame:
    """edges(a, b) -> assignments(doc_id, cluster_id), cluster_id = component min.

    Only nodes that appear in edges are returned; the pipeline left-joins
    back to the full doc set (singletons keep their own id).

    driver_max_edges: the one size rule. At most this many edges
    (self-loops excluded): one count, one Arrow collect and
    _uf_min_labels on the driver. Min-label union-find is idempotent
    over duplicate edges, so this tier needs no distinct() and runs no
    shuffle. Its labels equal the star loop's by construction (both
    converge to the component min), pinned by
    tests/test_components.py::test_cc_driver_tier_equals_star_loop.
    Above it, the star loop runs. Set 0 to force the loop.

    pre_contract: run one per-bucket union-find pass (_contract_local)
    before the star loop — same final labels (connectivity-preserving
    spanning forest), far fewer star rounds on the star-shaped edge
    tables the channels emit. Disable for adversarially skewed inputs
    where even salted contraction groups would be too large.

    `store` (a sources.io.StageStore) makes every loop iteration durable
    and resume-aware: iteration i persists as stage "cc/iter_{i:03d}"; a
    re-run after a mid-CC crash reads completed iterations back and
    continues from the first missing one (the loop is deterministic, so
    the replayed termination check decides identically). The driver
    tier writes no stage (see the module docstring).

    The loop stops when two consecutive iterations have equal row count
    and content hash, and raises RuntimeError if `max_iter` rounds do
    not get there. Driver actions per iteration: without a store, one
    job — the lazy localCheckpoint is materialized by the count+hash
    aggregate. With a store, the parquet write is the only job; the row
    count comes from the stage's _LINEAGE.json sidecar, and the content
    hash is computed only when two consecutive counts agree.
    """

    def _hash(df: DataFrame) -> int:
        row = df.agg(
            F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h")
        ).collect()[0]
        return int(row["h"])

    def _persist(df: DataFrame, name: str) -> tuple[DataFrame, int, int | None]:
        """Materialize one iteration; returns (frame, n_rows, hash|None).
        hash is None when deferred (store path — computed on demand)."""
        if store is not None:
            out = store.materialize(name, lambda: df)
            return out, int(store.metrics[name]["rows"]), None
        out = df.localCheckpoint(eager=False)
        row = out.agg(
            F.count("*").alias("n"),
            F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
        ).collect()[0]
        return out, int(row["n"]), int(row["h"])

    base = edges.select(F.col("a").alias("u"), F.col("b").alias("v")).where(
        F.col("u") != F.col("v")
    )
    spark = edges.sparkSession

    if driver_max_edges > 0 and base.count() <= driver_max_edges:
        # output is sorted by doc_id (np.unique) — deterministic
        # regardless of collect order
        import numpy as np
        import pandas as pd

        with _arrow_bulk(spark):
            pdf = base.toPandas()
            nodes, root = _uf_min_labels(
                pdf["u"].to_numpy(dtype=np.int64),
                pdf["v"].to_numpy(dtype=np.int64),
            )
            return spark.createDataFrame(
                pd.DataFrame({"doc_id": nodes, "cluster_id": root}),
                "doc_id long, cluster_id long",
            )

    if pre_contract:
        # the channels emit star pairs, so one union-find pass per hash
        # bucket collapses most components and the loop below usually
        # just confirms convergence (see _contract_local)
        base = _contract_local(base)
    e, n, h = _persist(base.distinct(), "cc/iter_000")
    if n == 0:
        return spark.createDataFrame([], "doc_id long, cluster_id long")

    prev_e, prev_n, prev_h = e, n, h
    for i in range(max_iter):
        e, n, h = _persist(_small_star(_large_star(prev_e)), f"cc/iter_{i + 1:03d}")
        if n == prev_n:
            # counts agree — confirm with content hashes (computed lazily
            # on the store path; both frames are materialized and small)
            h = _hash(e) if h is None else h
            prev_h = _hash(prev_e) if prev_h is None else prev_h
            if h == prev_h:
                break
        prev_e, prev_n, prev_h = e, n, h
    else:
        raise RuntimeError(
            f"connected_components: the star loop did not converge in "
            f"{max_iter} rounds; raise max_iter"
        )
    # converged: every edge is (member, component_min)
    members = e.select(F.col("u").alias("doc_id"), F.col("v").alias("cluster_id"))
    roots = e.select(F.col("v").alias("doc_id"), F.col("v").alias("cluster_id"))
    return members.union(roots).distinct()


def assign_clusters(
    docs: DataFrame, assignments: DataFrame
) -> DataFrame:
    """Full assignment table: docs(doc_id, ...) ⟕ CC output; singletons map
    to themselves (ref: every unseen point becomes its own center,
    hclust2.cpp:107-118 state 0→1)."""
    return (
        docs.select("doc_id")
        .join(assignments, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
        )
    )
