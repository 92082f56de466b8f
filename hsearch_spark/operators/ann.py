"""IVF (inverted-file) approximate nearest-neighbor search over embeddings.

The brute-force block-matmul (operators.dedup.cosine_topk_blocked) and
the hyperplane-LSH near-dup (embedding_near_dup_pairs) cover the exact
and LSH ends; this adds the inverted-list family — the standard "coarse
quantizer + probe" scale path (descended from the reference's bucketed
KLSH probe search, hclust/src/hclust/kmer_search.cpp:100-120: hash the
query, search only its buckets).

Plan shape:
- centroids: seeded deterministic sample (smallest xxhash64(id, seed))
  refined by a few distributed spherical k-means iterations
  (train_iters, default 4): assign = one numpy GEMM per Arrow batch,
  update = fixed-point partial sums combined by list. Over-full lists
  (centroid skew — the boilerplate-image failure mode) are SPLIT
  (centroid ± seeded perturbation) and re-settled, so no manual
  re-centroiding lever is needed. Centroids are tiny (≤ a few × n_lists
  × d) and broadcast in UDF closures.
- assign: every vector → nearest centroid list (one numpy GEMM per
  Arrow batch). This is the inverted file, partitioned by list_id.
- probe: every query → its n_probe nearest lists (same GEMM), exploded.
- search: probes ⋈ inverted lists on list_id — the ONLY shuffle, an
  equi-join on a n_lists-ary key — then exact cosine (JVM-side
  zip_with/aggregate) and a per-query top-k window.

recall@k rises with n_probe; n_probe == n_lists degenerates to exact
brute force (tested). At 10^9+ vectors, n_lists scales as ~sqrt(n) and
the join touches n_probe/n_lists of the table per query instead of all
of it.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _centroids(
    embeddings: DataFrame, n_lists: int, seed: int, id_col: str, vec_col: str
) -> np.ndarray:
    """(n_lists, d) unit-normalized centroid matrix — deterministic
    seeded sample (smallest xxhash64(id, seed)); bounded driver
    materialization of n_lists rows only. k-means INIT only — see
    train_centroids for the refinement pass."""
    rows = (
        embeddings.select(id_col, vec_col)
        .withColumn("_h", F.xxhash64(F.col(id_col), F.lit(seed)))
        .orderBy("_h", id_col)
        .limit(n_lists)
        .collect()
    )
    mat = np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    return mat / norms


# fixed-point scale for the k-means update accumulator: unit-norm
# components are |x| <= 1, so scaled |x| <= 2^40 and an int64 sum stays
# exact and overflow-free up to ~4M members per list per partial chain —
# and integer addition is associative/commutative, so the combined sum is
# BIT-IDENTICAL regardless of partitioning, batch boundaries, or shuffle
# arrival order (float accumulation would round differently per run and
# break the cross-parallelism determinism the repo guarantees).
_FIX = float(1 << 40)

# combine-tier bounds for _kmeans_pass: each task emits <= n_lists partial
# rows, so the full partial set is n_partitions x n_lists rows; when that
# set is driver-small they are collected and summed on the driver (one
# job, no shuffle), above it the combine stays distributed. The bound is
# BYTE-aware, not just row-aware: each partial row carries a d×8-byte
# int64 sum blob, so a row cap alone would let e.g. 1M rows × d=768
# pull ~6 GB to the driver. Tier choice is bit-invisible (associative
# int64 sums) — pinned by
# tests/test_ann.py::test_kmeans_combine_tiers_identical.
_DRIVER_COMBINE_MAX_ROWS = 1_000_000
_DRIVER_COMBINE_MAX_BYTES = 256 << 20  # 256 MiB of partial-sum payload
_PARTIAL_ROW_OVERHEAD = 64  # Row/pickle framing per partial row, approx


def _kmeans_pass(unit: DataFrame, cents: np.ndarray, assign=None) -> list:
    """One spherical k-means assign+update pass. Returns
    [(list_id, n_members, sum_bytes)] rows — n_lists rows max; all
    heavy work (GEMM assign, fixed-point partial sums) is distributed.

    `assign(m, pdf) -> int array` overrides the global argmax — used by
    repair_oversized to CONSTRAIN each member to its own parent's child
    pair (a global argmax over all children lets a dense region's
    members re-concentrate into one child across parents, undoing the
    split).

    The per-list combine is TIERED: each task emits at most n_lists
    partial rows, so the full partial set is n_partitions × n_lists
    rows of (int, long, d×8 bytes). When that is driver-small (the
    overwhelmingly common case — even 10k partitions × 64 lists is
    640k tiny rows) the partials are collected and summed on the
    driver, saving one shuffle + stage PER PASS; above the bound the
    combine stays distributed (groupBy + applyInPandas). Both paths
    are bit-identical: the sums are int64 fixed-point, and integer
    addition is associative/commutative, so the total is independent
    of combine order or tier."""
    d = cents.shape[1]

    def partials(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.stack(pdf["v"].to_numpy())
            if assign is not None:
                lists = assign(m, pdf)
            else:
                lists = np.argmax(m @ cents.T, axis=1)  # ties → lowest index
            fixed = np.round(m * _FIX).astype(np.int64)
            uniq = np.unique(lists)
            yield pd.DataFrame(
                {
                    "list_id": uniq.astype(np.int32),
                    "n": [int((lists == li).sum()) for li in uniq],
                    "s": [fixed[lists == li].sum(axis=0).tobytes() for li in uniq],
                }
            )

    def combine(key, pdf):
        s = np.zeros(d, dtype=np.int64)
        for blob in pdf["s"]:
            s += np.frombuffer(blob, dtype=np.int64)
        return pd.DataFrame(
            {"list_id": [key[0]], "n": [int(pdf["n"].sum())], "s": [s.tobytes()]}
        )

    part_df = unit.mapInPandas(partials, "list_id int, n long, s binary")
    n_parts = unit.rdd.getNumPartitions()
    max_rows = n_parts * cents.shape[0]
    if (
        max_rows <= _DRIVER_COMBINE_MAX_ROWS
        and max_rows * (d * 8 + _PARTIAL_ROW_OVERHEAD)
        <= _DRIVER_COMBINE_MAX_BYTES
    ):
        acc: dict[int, tuple[int, np.ndarray]] = {}
        for r in part_df.collect():
            li = int(r["list_id"])
            n0, s0 = acc.get(li, (0, np.zeros(d, dtype=np.int64)))
            acc[li] = (n0 + int(r["n"]), s0 + np.frombuffer(r["s"], dtype=np.int64))
        return [
            {"list_id": li, "n": n0, "s": s0.tobytes()}
            for li, (n0, s0) in sorted(acc.items())
        ]
    return (
        part_df.groupBy("list_id")
        .applyInPandas(combine, "list_id int, n long, s binary")
        .collect()
    )


def train_centroids(
    unit: DataFrame,
    n_lists: int,
    seed: int,
    n_total: int,
    init: np.ndarray,
    train_iters: int = 4,
    split_oversize: float | None = 4.0,
    max_split_rounds: int = 3,
) -> np.ndarray:
    """Spherical k-means over unit(id, v) + oversized-list splitting.

    The reference's probe search assumes meaningful precomputed centers
    (hclust/src/hclust/kmer_search.cpp:215-227 reads a centers file);
    a seeded uniform sample is a poor stand-in — it both costs recall at
    low n_probe and creates centroid skew (one sampled point in a dense
    region swallows the region). Training:

    - assign: argmax cosine against broadcast centroids — one GEMM per
      Arrow batch (the probe kernel with n_probe=1).
    - update: per-batch partial sums in FIXED-POINT int64 (see _FIX) →
      per-list distributed combine → n_lists rows collected; new
      centroid = mean, re-normalized (spherical k-means). Empty lists
      keep their previous centroid.
    - split: after training, any list holding more than
      split_oversize × (n_total / n_lists) members is split — centroid
      ± a seeded perturbation — and the pair re-settled with 2 more
      k-means iterations; repeated up to max_split_rounds. This bounds
      the per-list cogroup in the search join STRUCTURALLY instead of
      documenting a manual "re-centroid by hand" lever.
    """
    cents = init
    for _ in range(max(0, train_iters)):
        rows = _kmeans_pass(unit, cents)
        cents = _update(cents, rows)
    if split_oversize is None:
        return cents
    for _ in range(max_split_rounds):
        rows = _kmeans_pass(unit, cents)
        sizes = {int(r["list_id"]): int(r["n"]) for r in rows}
        cap = max(1.0, split_oversize * n_total / cents.shape[0])
        over = sorted(li for li, n in sizes.items() if n > cap)
        if not over:
            break
        extra = []
        for li in over:
            rng = np.random.default_rng(np.random.PCG64(seed * 1_000_003 + li))
            delta = rng.standard_normal(cents.shape[1]) * 1e-2
            plus, minus = cents[li] + delta, cents[li] - delta
            cents[li] = plus / max(np.linalg.norm(plus), 1e-12)
            extra.append(minus / max(np.linalg.norm(minus), 1e-12))
        cents = np.vstack([cents, np.stack(extra)])
        for _ in range(2):  # settle the split pairs
            rows = _kmeans_pass(unit, cents)
            cents = _update(cents, rows)
    return cents


def _update(cents: np.ndarray, rows: list) -> np.ndarray:
    out = cents.copy()
    for r in rows:
        n = int(r["n"])
        if n == 0:
            continue
        s = np.frombuffer(r["s"], dtype=np.int64).astype(np.float64) / _FIX
        c = s / n
        norm = np.linalg.norm(c)
        if norm > 1e-12:
            out[int(r["list_id"])] = c / norm
    return out


def ivf_topk(
    embeddings: DataFrame,
    k: int,
    n_lists: int = 64,
    n_probe: int = 8,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_iters: int = 4,
    split_oversize: float | None = 4.0,
) -> DataFrame:
    """Approximate cosine top-k of every vector against the table.

    Returns (a, b, cos_sim, rnk) like cosine_topk_blocked; rnk ranks the
    candidates actually probed, so recall@k < 1 when n_probe < n_lists.
    Centroids are k-means-trained (train_iters passes) with oversized
    lists split (see train_centroids) — train_iters=0, split_oversize=
    None recovers the raw seeded-sample quantizer. Requesting
    n_probe == n_lists means EXHAUSTIVE search: every candidate is
    scored exactly no matter which list holds it, so training is
    SKIPPED in that mode (it would spend k-means jobs changing nothing
    about the result set; exactness at full probe is the oracle
    contract, independent of centroid quality). Full-probe mode is the
    small/oracle regime by definition — the bounded-memory exact scale
    path is cosine_topk_blocked; the probe regime (n_probe < n_lists)
    keeps the trained + split (hence size-bounded) inverted lists.
    """
    if n_probe > n_lists:
        raise ValueError("n_probe must be <= n_lists")
    full_probe = n_probe == n_lists
    if embeddings.isEmpty():
        return embeddings.sparkSession.createDataFrame(
            [], "a long, b long, cos_sim double, rnk int"
        )

    unit = _unit_vectors(embeddings, id_col, vec_col)
    # unit vectors are consumed by every training pass AND the probe
    # stage — persist once (bounded_persist evicts prior-call caches)
    from hsearch_spark.utils import bounded_persist

    unit = bounded_persist(unit, "ann.ivf_topk.unit")
    n_total = unit.count()  # materializes the persist; bounded-cost

    cents = _centroids(embeddings, n_lists, seed, id_col, vec_col)
    if not full_probe:
        cents = train_centroids(
            unit,
            n_lists,
            seed,
            n_total,
            cents,
            train_iters=train_iters,
            split_oversize=split_oversize,
        )
    elif split_oversize is not None:
        # training moves list boundaries, which only matters when some
        # lists are NOT probed — at full probe every candidate is scored
        # exactly regardless of which list holds it, so the k-means
        # ITERATIONS are skipped. The oversized-list SPLIT passes are
        # kept (train_iters=0): without them a skewed raw-sample
        # quantizer can put nearly all vectors in one list, and at full
        # probe every query probes that list — the cogroup sims matrix
        # degrades toward n×n. The split keeps per-group memory bounded
        # structurally in BOTH probe modes; the exact result set is
        # identical by construction either way.
        cents = train_centroids(
            unit,
            n_lists,
            seed,
            n_total,
            cents,
            train_iters=0,
            split_oversize=split_oversize,
        )
    actual_probe = cents.shape[0] if full_probe else n_probe

    # both the inverted file and the probe side consume `probed` — the
    # self-search special case shares ONE assignment GEMM pass for both
    probed = bounded_persist(
        unit.withColumn("lists", _probe_udf(cents, actual_probe)("v")),
        "ann.ivf_topk",
    )
    # inverted file: a vector belongs to its single nearest list
    inv = probed.select(
        F.col("id").alias("b"),
        F.col("v").alias("vb"),
        F.element_at("lists", 1).alias("list_id"),
    )
    queries = probed.select(
        F.col("id").alias("a"),
        F.col("v").alias("va"),
        F.explode("lists").alias("list_id"),
    )
    return _search_cogroup(queries, inv, k)


def _unit_vectors(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, v) with v unit-normalized double arrays; zero vectors pass
    through unscaled (x/0.0 is NULL under non-ANSI division, and a NULL
    array element crashes the probe GEMM)."""
    raw_norm = F.sqrt(
        F.aggregate(
            F.transform(vec_col, lambda x: x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x * x,
        )
    )
    norm = F.when(raw_norm == 0.0, F.lit(1.0)).otherwise(raw_norm)
    return df.select(
        F.col(id_col).alias("id"),
        F.transform(vec_col, lambda x: x.cast("double") / norm).alias("v"),
    )


def _probe_udf(cents: np.ndarray, n_probe: int):
    """pandas UDF mapping a unit vector to its n_probe nearest centroid
    list ids (one GEMM per Arrow batch; deterministic index tie-break)."""

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probe(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy())  # already unit vectors
        sims = m @ cents.T  # (batch, n_lists)
        order = np.lexsort(
            (np.broadcast_to(np.arange(cents.shape[0]), sims.shape), -sims),
            axis=1,
        )[:, :n_probe]
        return pd.Series(list(order.astype(np.int32)))

    return probe


def _search_cogroup(queries: DataFrame, inv: DataFrame, k: int) -> DataFrame:
    """(a, va, list_id) probes × (b, vb, list_id) inverted file →
    (a, b, cos_sim, rnk), rnk <= k.

    Per-list GEMM via cogroup: (queries probing list L) × (members of
    list L) meet in ONE pandas group each — candidate pairs are never
    materialized as rows, the scoring is a numpy matmul, and only each
    query's per-list top-k leaves the task (same total-order (-cos, id)
    selection as the final merge, so nothing in the global top-k is
    lost). List population is bounded STRUCTURALLY by the oversized-list
    splitting in train_centroids (split_oversize × average), so the
    per-group memory here is capped by construction."""

    def per_list_topk(key, q_pdf, m_pdf):
        if len(q_pdf) == 0 or len(m_pdf) == 0:
            return pd.DataFrame({"a": [], "b": [], "cos_sim": []})
        q_ids = q_pdf["a"].to_numpy(dtype=np.int64)
        q_order = np.argsort(q_ids)  # canonical row order: BLAS micro-
        q_ids = q_ids[q_order]       # kernels round differently per row
        qm = np.stack(q_pdf["va"].to_numpy())[q_order]  # lane → sort both sides
        m_ids = m_pdf["b"].to_numpy(dtype=np.int64)
        order = np.argsort(m_ids)
        m_ids = m_ids[order]
        mm = np.stack(m_pdf["vb"].to_numpy())[order]
        sims = qm @ mm.T
        # self-exclusion, vectorized: pin sims[i, pos(q_id)] = -inf
        pos = np.searchsorted(m_ids, q_ids)
        hit = (pos < len(m_ids)) & (m_ids[np.minimum(pos, len(m_ids) - 1)] == q_ids)
        sims[np.flatnonzero(hit), pos[hit]] = -np.inf
        # top-k per row: stable argsort on -sims breaks ties by column
        # position, and columns are m_id-ascending → exactly the
        # (-cos, id) total order, no per-row Python loop
        kk = min(k, sims.shape[1])
        top = np.argsort(-sims, axis=1, kind="stable")[:, :kk]
        rows = np.repeat(np.arange(len(q_ids)), kk)
        cols = top.ravel()
        keep = np.isfinite(sims[rows, cols])
        rows, cols = rows[keep], cols[keep]
        return pd.DataFrame(
            {"a": q_ids[rows], "b": m_ids[cols], "cos_sim": sims[rows, cols]}
        )

    scored = (
        queries.groupBy("list_id")
        .cogroup(inv.groupBy("list_id"))
        .applyInPandas(per_list_topk, "a long, b long, cos_sim double")
    )
    # a member belongs to exactly one list, so (a, b) appears at most
    # once across all probed lists — no pair dedup needed
    w = Window.partitionBy("a").orderBy(F.desc("cos_sim"), F.asc("b"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("a", "b", "cos_sim", "rnk")
    )


# ---------------------------------------------------------------------------
# Persisted IVF index: build once, probe many times.
#
# ivf_topk trains + assigns on every call — correct, but a production
# similarity-search service builds the inverted file ONCE per corpus
# snapshot and answers many query batches against it (the reference's
# split is the same: hclust writes a centers file offline,
# kmer_search.cpp:215-227 reads it and only ever probes). The index here
# is (a) the trained centroid matrix and (b) the list-assigned unit
# vectors; both persist as plain parquet so any Hadoop-compatible FS
# (S3/HDFS/local) works, and the inverted file is PARTITIONED BY list_id
# so a small query batch's probe reads only the probed lists' files
# (partition pruning — the scan cost scales with n_probe/n_lists, not
# corpus size).
# ---------------------------------------------------------------------------


class IvfIndex:
    """A built IVF index: trained centroids + list-assigned unit vectors.

    `inv` columns: (b long, vb array<double> unit-norm, list_id int).
    Build with build_ivf_index, persist with .save(path), reload with
    load_ivf_index — searches on the reloaded index are byte-identical.
    """

    def __init__(self, centroids: np.ndarray, inv: DataFrame, meta: dict):
        self.centroids = centroids
        self.inv = inv
        self.meta = meta

    @property
    def n_lists(self) -> int:
        return self.centroids.shape[0]

    def save(self, path: str) -> None:
        spark = self.inv.sparkSession
        cent_rows = [
            (int(i), [float(x) for x in c]) for i, c in enumerate(self.centroids)
        ]
        meta_cols = sorted(self.meta)
        spark.createDataFrame(
            [tuple([*r, *[self.meta[m] for m in meta_cols]]) for r in cent_rows],
            ", ".join(
                ["list_id int", "centroid array<double>"]
                + [f"{m} long" for m in meta_cols]
            ),
        ).repartition(1).write.mode("overwrite").parquet(path + "/centroids")
        # list_id partitioning => probe-time partition pruning
        self.inv.write.mode("overwrite").partitionBy("list_id").parquet(
            path + "/inv"
        )

    def add(
        self,
        new_embeddings: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> "IvfIndex":
        """Incremental index growth: assign the new vectors to the FIXED
        trained centroids (one GEMM pass over only the new rows — no
        retraining, no touch of the existing inverted file) and return
        an index over the union. This is the streaming-ingest companion:
        a crawl's new embeddings append to the corpus index the same way
        new pages append to the dedup state. Centroids drift from
        optimal as the distribution shifts — full-probe searches stay
        exact regardless (probe-mode recall is the thing that degrades;
        rebuild on whatever cadence recall monitoring demands). On a
        persisted index the same append is `new_inv.write.mode("append")
        .partitionBy("list_id")` / an Iceberg append — nothing existing
        rewrites."""
        unit = _unit_vectors(new_embeddings, id_col, vec_col)
        new_inv = unit.select(
            F.col("id").alias("b"),
            F.col("v").alias("vb"),
            F.element_at(_probe_udf(self.centroids, 1)("v"), 1).alias(
                "list_id"
            ),
        )
        return IvfIndex(
            self.centroids, self.inv.unionByName(new_inv), dict(self.meta)
        )

    def search(
        self,
        queries: DataFrame,
        k: int,
        n_probe: int,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        prune_partitions: bool = True,
    ) -> DataFrame:
        """Top-k cosine neighbors of each query against the indexed
        corpus: (a=query id, b=corpus id, cos_sim, rnk). A corpus vector
        with the same id as a query is excluded (self-match semantics,
        matching ivf_topk). NO training runs here — the index is fixed;
        n_probe can differ per call (recall/latency knob at query time).

        prune_partitions: collect the ≤ n_lists distinct probed list ids
        (bounded driver list) and filter the inverted file on them — on
        a parquet/Iceberg-backed index this becomes partition pruning,
        so a small query batch scans n_probe-ish lists instead of the
        whole corpus. Skip it for self-search-sized query sets that
        probe everything anyway.
        """
        n_probe = min(n_probe, self.n_lists)
        unit_q = _unit_vectors(queries, id_col, vec_col)
        probed = unit_q.withColumn(
            "lists", _probe_udf(self.centroids, n_probe)("v")
        )
        q = probed.select(
            F.col("id").alias("a"),
            F.col("v").alias("va"),
            F.explode("lists").alias("list_id"),
        )
        inv = self.inv
        if prune_partitions:
            from hsearch_spark.utils import bounded_persist

            q = bounded_persist(q, "ann.IvfIndex.search.q")
            touched = sorted(
                r[0] for r in q.select("list_id").distinct().collect()
            )
            if len(touched) < self.n_lists:
                inv = inv.where(F.col("list_id").isin(touched))
        return _search_cogroup(q, inv, k)


def build_ivf_index(
    embeddings: DataFrame,
    n_lists: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_iters: int = 4,
    split_oversize: float | None = 4.0,
) -> IvfIndex:
    """Train centroids + assign every vector to its nearest list, once.

    The returned index's inv DataFrame is persisted (bounded_persist),
    so repeated .search() calls reuse the assignment instead of
    re-running the GEMM pass — and .save(path) makes the reuse durable
    across sessions."""
    from hsearch_spark.utils import bounded_persist

    unit = bounded_persist(
        _unit_vectors(embeddings, id_col, vec_col), "ann.build_ivf_index.unit"
    )
    n_total = unit.count()
    cents = _centroids(embeddings, n_lists, seed, id_col, vec_col)
    cents = train_centroids(
        unit,
        n_lists,
        seed,
        n_total,
        cents,
        train_iters=train_iters,
        split_oversize=split_oversize,
    )
    inv = bounded_persist(
        unit.select(
            F.col("id").alias("b"),
            F.col("v").alias("vb"),
            F.element_at(_probe_udf(cents, 1)("v"), 1).alias("list_id"),
        ),
        "ann.build_ivf_index.inv",
    )
    meta = {"seed": seed, "n_total": n_total, "train_iters": train_iters}
    return IvfIndex(cents, inv, meta)


def load_ivf_index(spark, path: str) -> IvfIndex:
    cent_df = spark.read.parquet(path + "/centroids")
    rows = cent_df.orderBy("list_id").collect()
    cents = np.stack(
        [np.asarray(r["centroid"], dtype=np.float64) for r in rows]
    )
    meta = {
        c: int(rows[0][c]) for c in cent_df.columns
        if c not in ("list_id", "centroid")
    }
    inv = spark.read.parquet(path + "/inv").select("b", "vb", "list_id")
    return IvfIndex(cents, inv, meta)


def list_size_metrics(
    index: IvfIndex, split_oversize: float = 4.0
) -> DataFrame:
    """Per-list occupancy of the inverted file: (list_id, n, load_factor,
    over_cap). load_factor = n / (total / n_lists) — 1.0 is perfectly
    balanced; over_cap flags lists past `split_oversize` × the mean, the
    SAME oversize notion build_ivf_index's training splits on. This is
    the rebuild-cadence signal IvfIndex.add defers to: .add assigns new
    vectors to FIXED centroids, so distribution drift shows up here as
    growing load factors long before probe-mode recall visibly sags
    (the reference monitors the same health as measured recall per bin,
    motif_both_points.cpp:154-162 — occupancy is the leading indicator,
    recall the lagging one). Lists with zero members have no inv rows
    and are absent — harmless for over_cap, and visible as
    n_lists - #rows if empty-list fraction is wanted. One aggregation
    over (list_id) — at corpus scale it reads only parquet footers'
    worth of work relative to a search."""
    sizes = index.inv.groupBy("list_id").agg(F.count("*").alias("n"))
    total = sizes.agg(F.sum("n").alias("_total"))
    return sizes.crossJoin(F.broadcast(total)).select(
        "list_id",
        "n",
        (F.col("n") * index.n_lists / F.col("_total")).alias("load_factor"),
        (
            F.col("n") * index.n_lists
            > F.lit(split_oversize) * F.col("_total")
        ).alias("over_cap"),
    )


def needs_rebuild(index: IvfIndex, split_oversize: float = 4.0) -> bool:
    """True when any inverted list exceeds split_oversize × the mean —
    the programmatic trigger for re-running build_ivf_index on a drifted
    index (an .add-heavy ingest cadence calls this after appends; the
    check is one small aggregation, the rebuild is the expensive step it
    gates). For a repair that touches ONLY the drifted lists instead of
    re-GEMMing the whole corpus, see repair_oversized."""
    m = list_size_metrics(index, split_oversize)
    return bool(m.where(F.col("over_cap")).limit(1).count() > 0)


def repair_oversized(
    index: IvfIndex,
    split_oversize: float = 4.0,
    settle_iters: int = 2,
    max_rounds: int = 8,
) -> IvfIndex:
    """In-place repair of a drifted index: split every over_cap list's
    centroid into a ± seeded pair (the SAME split train_centroids
    applies at build time, ann.py:186-203) and re-settle ONLY the
    drifted lists' members among the new children. The middle ground
    between .add (never touches existing rows, drifts) and a full
    build_ivf_index (re-GEMMs the whole corpus):

    - work is bounded by the drifted lists' membership — the member
      scan filters on list_id, which on a persisted index is PARTITION
      PRUNING (only the hot lists' parquet files are read); every
      non-drifted row's (vb, list_id) is untouched and, in the
      copy-on-write framing of a parquet/Iceberg-backed index, never
      rewritten.
    - members of a split list re-assign to their nearest among the
      2 × #over child centroids (restricted GEMM — the same
      _kmeans_pass/_update machinery as training, so fixed-point int64
      sums keep the result bit-identical across parallelism), settled
      for settle_iters iterations, up to max_rounds split rounds if a
      child is still over cap.
    - full-probe searches are exact regardless of assignment quality
      (tested); probe-mode recall is what the repair restores —
      occupancy is its leading indicator (list_size_metrics).

    Deterministic: the split perturbation is seeded from the index's
    build seed + list id (same scheme as training), and all sums are
    fixed-point. Returns a NEW IvfIndex; `index` stays usable.
    Reference: the reference re-centroids by re-running its offline
    centers pipeline wholesale (kmer_search.cpp:215-227 just reads the
    file); bounded in-place repair is the Spark-native upgrade."""
    from hsearch_spark.utils import bounded_persist

    seed = int(index.meta.get("seed", 42))
    cents = index.centroids.copy()
    inv = index.inv
    # each round unions the kept rows with the reassigned ones, which
    # sums their partition counts: coalesce back so rounds do not double
    # the task count (rows and fixed-point sums are order-free)
    n_parts = inv.rdd.getNumPartitions()
    prev_max_over = None
    for _ in range(max(1, max_rounds)):
        sizes = inv.groupBy("list_id").agg(F.count("*").alias("n")).collect()
        total = sum(int(r["n"]) for r in sizes)
        if total == 0:
            break
        cap = max(1.0, split_oversize * total / cents.shape[0])
        over = sorted(int(r["list_id"]) for r in sizes if int(r["n"]) > cap)
        if not over:
            break
        # no-progress guard: a clump of (near-)identical vectors cannot
        # be separated by any Voronoi split — every member ties to one
        # child and rounds would add empty lists forever while the cap
        # (oversize × mean) keeps shrinking. If the largest over-cap
        # list did not shrink since last round, stop: byte-identical
        # content is the exact-dedup channel's job, and probe searches
        # of the clump's list stay correct, just unbounded-by-cap (the
        # same residual train_centroids accepts at build time).
        max_over = max(int(r["n"]) for r in sizes if int(r["list_id"]) in set(over))
        if prev_max_over is not None and max_over >= prev_max_over:
            break
        prev_max_over = max_over
        n_over = len(over)
        # children: slot i reuses list id over[i] (plus side), slot
        # n_over + i gets the next fresh id (minus side)
        restricted = []
        fresh_ids = []
        for i, li in enumerate(over):
            rng = np.random.default_rng(np.random.PCG64(seed * 1_000_003 + li))
            delta = rng.standard_normal(cents.shape[1]) * 1e-2
            plus, minus = cents[li] + delta, cents[li] - delta
            restricted.append(plus / max(np.linalg.norm(plus), 1e-12))
            fresh_ids.append(cents.shape[0] + i)
        for i, li in enumerate(over):
            rng = np.random.default_rng(np.random.PCG64(seed * 1_000_003 + li))
            delta = rng.standard_normal(cents.shape[1]) * 1e-2
            minus = cents[li] - delta
            restricted.append(minus / max(np.linalg.norm(minus), 1e-12))
        rmat = np.stack(restricted)
        # partition-pruned on a persisted index: only the hot lists read.
        # `parent` rides along so every member settles WITHIN its own
        # parent's child pair — a global nearest-child assignment would
        # let a dense region's members re-concentrate into one child
        # across parents, undoing the split.
        pair_pos = {li: i for i, li in enumerate(over)}
        members = bounded_persist(
            inv.where(F.col("list_id").isin(over)).select(
                F.col("b").alias("id"),
                F.col("vb").alias("v"),
                F.col("list_id").alias("parent"),
            ),
            "ann.repair_oversized.members",
        )

        def pair_side(m: np.ndarray, pdf: pd.DataFrame, rm: np.ndarray):
            pos = np.asarray(
                [pair_pos[int(x)] for x in pdf["parent"].to_numpy()],
                dtype=np.int64,
            )
            plus = np.einsum("ij,ij->i", m, rm[pos])
            minus = np.einsum("ij,ij->i", m, rm[pos + n_over])
            # strict > : ties go to the plus side (lower index), same
            # tie-break as the global argmax
            return pos + (minus > plus).astype(np.int64) * n_over

        for _ in range(max(0, settle_iters)):
            rm_i = rmat
            rows = _kmeans_pass(
                members, rmat, assign=lambda m, pdf: pair_side(m, pdf, rm_i)
            )
            rmat = _update(rmat, rows)
        # final constrained assignment → global list ids
        id_map = np.asarray(over + fresh_ids, dtype=np.int32)
        rmat_c = rmat

        def reassign(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    yield pd.DataFrame(
                        {
                            "b": pd.Series([], dtype="int64"),
                            "vb": pd.Series([], dtype="object"),
                            "list_id": pd.Series([], dtype="int32"),
                        }
                    )
                    continue
                m = np.stack(pdf["v"].to_numpy())
                ridx = pair_side(m, pdf, rmat_c)
                yield pd.DataFrame(
                    {
                        "b": pdf["id"].to_numpy(),
                        "vb": pdf["v"],
                        "list_id": id_map[ridx],
                    }
                )

        reassigned = members.mapInPandas(
            reassign, "b long, vb array<double>, list_id int"
        )
        cents = np.vstack([cents, rmat[n_over:]])
        for i, li in enumerate(over):
            cents[li] = rmat[i]
        inv = bounded_persist(
            inv.where(~F.col("list_id").isin(over))
            .unionByName(reassigned)
            .coalesce(n_parts),
            "ann.repair_oversized.inv",
        )
    return IvfIndex(cents, inv, dict(index.meta))
