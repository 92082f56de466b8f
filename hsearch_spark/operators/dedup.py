"""Exact + embedding-space dedup operators (training-pipeline suite).

- exact dedup: hash-groupBy on the canonical text fingerprint — the
  degenerate-but-dominant case at web scale (ref analog: lexicographic
  record sort for exact grouping, IGC/sort_peptides.cpp:14-33, replaced
  by a hash aggregate: no global sort needed).
- embedding cosine near-dup + ANN top-k: brute-force as the oracle-able
  baseline; LSH-bucketed (random hyperplane = SimHash-over-floats) as
  the scale path — the direct descendant of the reference's KLSH
  (pcluster/src/pcluster/lsh.cpp:17-49), which IS random-hyperplane
  hashing of dense vectors.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hsearch_spark.functions.text import fingerprint_col


def exact_duplicate_pairs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(a, b) pairs of byte-identical docs — pairs each dup with the group
    min (star pattern): O(n) pairs per group, same CC connectivity."""
    keyed = docs.select(
        "doc_id", fingerprint_col(F.col(text_col)).alias("fp")
    )
    mins = keyed.groupBy("fp").agg(
        F.min("doc_id").alias("a"), F.count("*").alias("n")
    ).where(F.col("n") > 1)
    return (
        keyed.join(mins, "fp")
        .where(F.col("doc_id") != F.col("a"))
        .select("a", F.col("doc_id").alias("b"))
    )


# ----------------------- embedding similarity ------------------------------


def _dot(u: str, v: str) -> F.Column:
    return F.aggregate(
        F.zip_with(u, v, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _unit_normalized(
    df: DataFrame, id_col: str, vec_col: str, out_id: str, out_vec: str
) -> DataFrame:
    """(id, vec/|vec|) — norms computed ONCE per row, not per pair.

    (Computing norms inside the pair join costs 2 extra O(d) interpreted
    HOF evaluations per pair — 3× the per-pair work for nothing.)
    """
    norm = F.sqrt(
        F.aggregate(F.col(vec_col), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    return df.select(
        F.col(id_col).alias(out_id),
        F.transform(vec_col, lambda x: x / norm).alias(out_vec),
    )


def cosine_topk_bruteforce(
    embeddings: DataFrame, k: int, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Exact cosine top-k neighbors per vector — the small-scale oracle
    (ref analog: brute-force all-pairs verifier,
    motif_both_points_noLSH.cpp:36-56). Cross join + window top-k; only
    run at oracle scales. For anything bigger use cosine_topk_blocked
    (broadcast matrix) or embedding_near_dup_pairs (LSH). The right side
    is broadcast: a cartesian product of two p-partition inputs runs p²
    tasks, each re-reading both inputs.
    """
    lhs = _unit_normalized(embeddings, id_col, vec_col, "a", "va")
    rhs = _unit_normalized(embeddings, id_col, vec_col, "b", "vb")
    scored = (
        lhs.crossJoin(F.broadcast(rhs))
        .where(F.col("a") != F.col("b"))
        .select("a", "b", _dot("va", "vb").alias("cos_sim"))
    )
    w = Window.partitionBy("a").orderBy(F.desc("cos_sim"), F.asc("b"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("a", "b", "cos_sim", "rnk")
    )


def _pack_blocks(
    df: DataFrame, n_blocks: int, id_name: str, prefix: str
) -> DataFrame:
    """(id, vec) rows -> n_blocks packed rows (block_id, ids bytes,
    unit-normalized float64 matrix bytes, nrows, dim). Block assignment
    is pmod(xxhash64(id), n_blocks): uniform, deterministic, no sort.
    Each block is one bounded pandas group (~block_rows × d × 8 bytes)."""
    import pandas as pd  # noqa: F811 (executor-side import)

    schema = (
        f"{prefix}block long, {prefix}ids binary, {prefix}mat binary, "
        f"{prefix}n int, {prefix}dim int"
    )

    def pack(key, pdf):
        ids = pdf["id"].to_numpy(dtype=np.int64)
        order = np.argsort(ids)
        ids = ids[order]
        mat = np.stack(
            [np.asarray(v, dtype=np.float64) for v in pdf["vec"]]
        )[order]
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0.0] = 1.0
        mat = mat / norms
        return pd.DataFrame(
            {
                f"{prefix}block": [key[0]],
                f"{prefix}ids": [ids.tobytes()],
                f"{prefix}mat": [np.ascontiguousarray(mat).tobytes()],
                f"{prefix}n": [len(ids)],
                f"{prefix}dim": [mat.shape[1]],
            }
        )

    return (
        df.select(
            F.col(id_name).alias("id"),
            F.col("vec"),
            F.pmod(F.xxhash64(id_name), F.lit(n_blocks)).alias("blk"),
        )
        .groupBy("blk")
        .applyInPandas(pack, schema)
    )


def cosine_topk_blocked(
    embeddings: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_rows: int = 2048,
) -> DataFrame:
    """Distributed block-matmul cosine top-k — NO driver-side collect.

    Both sides of the (query × reference) product are packed into
    hash-assigned blocks of ~block_rows vectors (ids + unit-normalized
    float64 matrix as binary cells); the Q×R block cross join runs one
    numpy GEMM per cell emitting each query's per-cell top-k by
    (-cos, id); a final row_number window merges the R×k candidates per
    query into the global top-k. Per-task memory is bounded by two
    blocks + a chunked sims tile (queries are GEMM'd 512 rows at a
    time), independent of table size — the shape that survives a 100×
    scale-up, unlike broadcasting the whole table (driver OOM).

    Determinism: per-cell selection uses the same total order
    (-cos, id) as the final merge, so per-cell top-k loses nothing from
    the global top-k and ties resolve identically everywhere.
    """
    import math

    import pandas as pd  # noqa: F811 (executor-side import)

    n = embeddings.count()
    spark = embeddings.sparkSession
    if n == 0:
        return spark.createDataFrame(
            [], "a long, b long, cos_sim double, rnk int"
        )
    n_blocks = max(1, math.ceil(n / block_rows))
    base = embeddings.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    )
    # pack ONCE; derive the reference side by renaming columns — without
    # the persist both crossJoin branches would re-run the pack shuffle
    from hsearch_spark.utils import bounded_persist

    qb = bounded_persist(
        _pack_blocks(base, n_blocks, "id", "q"), "dedup.cosine_topk_blocked"
    )
    rb = qb.select(
        *[
            F.col(c).alias("r" + c[1:])
            for c in ("qblock", "qids", "qmat", "qn", "qdim")
        ]
    )

    out_schema = T.StructType(
        [
            T.StructField("a", T.LongType(), False),
            T.StructField("b", T.LongType(), False),
            T.StructField("cos_sim", T.DoubleType(), False),
        ]
    )
    chunk = 512  # sims tile = chunk × block_rows × 8 B ≈ 8 MB

    def cell_topk(batches):
        for pdf in batches:
            for _, row in pdf.iterrows():
                q_ids = np.frombuffer(row["qids"], dtype=np.int64)
                q = np.frombuffer(row["qmat"], dtype=np.float64).reshape(
                    row["qn"], row["qdim"]
                )
                r_ids = np.frombuffer(row["rids"], dtype=np.int64)
                r = np.frombuffer(row["rmat"], dtype=np.float64).reshape(
                    row["rn"], row["rdim"]
                )
                frames = []
                for s0 in range(0, len(q_ids), chunk):
                    qc_ids = q_ids[s0 : s0 + chunk]
                    sims = q[s0 : s0 + chunk] @ r.T
                    # self-exclusion, vectorized (ref ids are sorted)
                    pos = np.searchsorted(r_ids, qc_ids)
                    hit = (pos < len(r_ids)) & (
                        r_ids[np.minimum(pos, len(r_ids) - 1)] == qc_ids
                    )
                    sims[np.flatnonzero(hit), pos[hit]] = -np.inf
                    # stable argsort on -sims = (-cos, id) total order
                    # (columns are r_id-ascending), no per-row loop
                    kk = min(k, sims.shape[1])
                    top = np.argsort(-sims, axis=1, kind="stable")[:, :kk]
                    rows = np.repeat(np.arange(len(qc_ids)), kk)
                    cols = top.ravel()
                    keep = np.isfinite(sims[rows, cols])
                    rows, cols = rows[keep], cols[keep]
                    frames.append(
                        pd.DataFrame(
                            {
                                "a": qc_ids[rows],
                                "b": r_ids[cols],
                                "cos_sim": sims[rows, cols],
                            }
                        )
                    )
                yield pd.concat(frames, ignore_index=True) if frames else (
                    pd.DataFrame({"a": [], "b": [], "cos_sim": []})
                )

    local = (
        qb.crossJoin(rb)
        .select(
            F.col("qids"), F.col("qmat"), F.col("qn"), F.col("qdim"),
            F.col("rids"), F.col("rmat"), F.col("rn"), F.col("rdim"),
        )
        .mapInPandas(cell_topk, out_schema)
    )
    w = Window.partitionBy("a").orderBy(F.desc("cos_sim"), F.asc("b"))
    return (
        local.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("a", "b", "cos_sim", "rnk")
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_tables: int = 1,
    config=None,
    input_rows: int | None = None,
) -> DataFrame:
    """Scale path: random-hyperplane LSH buckets → within-bucket verify.

    `input_rows` = row count of `embeddings`, when the caller knows it
    (bucket keys are exactly n_tables per vector) — lets the broadcast
    guard prove safety without a runtime count.

    Hyperplanes seeded from config (contrast ref srand(time(NULL)),
    pcluster.cpp:84), broadcast in the UDF closure. Bucket key = n_planes
    sign bits (the reference's KLSH key, lsh.cpp:40-49), OR-amplified
    across `n_tables` independent tables (the reference's L-table loop,
    hclust.cpp:261-289, materialized as one array column + posexplode
    instead of L re-scans). Verify = exact cosine within bucket, JVM-side.

    Hot-bucket bound: candidate pairing routes through the SAME
    `bucket_pairs_grouped` policy as every other channel (MinHash bands,
    SimHash combos) — buckets up to config.max_bucket_all_pairs emit
    exact all-pairs; hotter buckets (a boilerplate-image corpus putting
    thousands of near-identical embeddings into one bucket per table)
    degrade to the connectivity-preserving star-R pairing at O(n·R)
    output instead of an uncapped C(n,2) self-join blowup. Drops are
    observable via candidates.dropped_pairs_metrics(keyed, "bucket",
    config.max_bucket_all_pairs, config.star_representatives). Ref precedent for capping hot buckets:
    pcluster/src/pcluster/pcluster.cpp:115-116 (500-hit cap).
    Unit-normalization happens ONCE per vector (before pairing), not
    once per bucket membership row.
    """
    from hsearch_spark.config import DedupConfig
    from hsearch_spark.operators.candidates import bucket_pairs_grouped

    config = config or DedupConfig()
    # bucket keys pack n_planes sign bits in the low bits and the table
    # id at bit 48+ — overlap would silently merge buckets across tables
    if n_planes >= 48 or n_tables >= (1 << 15):
        raise ValueError(
            f"n_planes must be < 48 and n_tables < 32768 (key packing); "
            f"got n_planes={n_planes}, n_tables={n_tables}"
        )
    first = embeddings.select(F.size(vec_col).alias("d")).first()
    if first is None:
        return embeddings.sparkSession.createDataFrame(
            [], f"a long, b long, cos_sim double"
        )
    dim = first["d"]
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((dim, n_planes * n_tables))

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def bucket_udf(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy())  # (batch, dim)
        bits = (mat @ planes) > 0  # (batch, n_planes * n_tables)
        bits = bits.reshape(len(mat), n_tables, n_planes)
        keys = (bits.astype(np.uint64) << np.arange(n_planes, dtype=np.uint64)).sum(
            axis=2
        )  # (batch, n_tables)
        # disambiguate tables: high bits carry the table id
        keys |= np.arange(n_tables, dtype=np.uint64) << np.uint64(48)
        return pd.Series(list(keys.astype(np.int64)))

    keyed = embeddings.select(
        F.col(id_col).alias("doc_id"),
        F.explode(bucket_udf(F.col(vec_col))).alias("bucket"),
    )
    # bucket_pairs_grouped already dedups pairs across tables (test-once)
    pairs = bucket_pairs_grouped(
        keyed,
        "bucket",
        config,
        input_rows=None if input_rows is None else input_rows * n_tables,
    )
    unit = _unit_normalized(embeddings, id_col, vec_col, "id", "vec")
    va = unit.select(F.col("id").alias("a"), F.col("vec").alias("va"))
    vb = unit.select(F.col("id").alias("b"), F.col("vec").alias("vb"))
    return (
        pairs.join(va, "a")
        .join(vb, "b")
        .select("a", "b", _dot("va", "vb").alias("cos_sim"))
        .where(F.col("cos_sim") >= threshold)
    )
