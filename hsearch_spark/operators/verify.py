"""Exact-verify join: candidate pairs -> edges with exact Jaccard.

Reference parity: the exact-distance verify gate after the LSH filter
(kmer_search.cpp:106-112; threshold gate hash_search.cpp:593-599). Two
levels, cheapest first (ref two-level filter, SURVEY.md §4):

1. signature-agreement estimate over the 126-slot MinHash arrays
   (~1 KB/doc): the unbiased Jaccard estimator, evaluated JVM-side via
   zip_with/aggregate. Pairs with est < est_prefilter are dropped —
   for a true τ=0.8 pair, P(drop) < 1e-4 at prefilter 0.65.
2. exact Jaccard for the survivors by RE-SHINGLING their texts inside a
   vectorized pandas UDF (numpy sorted-array intersection). Re-shingling
   beats storing shingle arrays: the arrays are ~10 KB/doc (bigger than
   the page text), would dominate the sigs table and every shuffle that
   touches it, while the exact stage only ever needs them for the tiny
   post-prefilter candidate set.

Plan shape at scale: candidates(a,b) joins docs(doc_id, text) twice on
doc_id (shuffle or AQE-broadcast of the candidate side), then one
mapInPandas pass. Texts travel only for surviving candidates.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hsearch_spark.config import DedupConfig
from hsearch_spark.functions import hashing as H

VERIFY_SCHEMA = T.StructType(
    [
        T.StructField("a", T.LongType(), False),
        T.StructField("b", T.LongType(), False),
        T.StructField("jaccard", T.DoubleType(), False),
    ]
)


def exact_jaccard_pairs(
    candidates: DataFrame, docs: DataFrame, config: DedupConfig
) -> DataFrame:
    """(a, b) + docs(doc_id, text) -> (a, b, jaccard) — exact, re-shingled."""
    k = config.shingle_k
    d = docs.select("doc_id", "text")
    ta = d.select(F.col("doc_id").alias("a"), F.col("text").alias("text_a"))
    tb = d.select(F.col("doc_id").alias("b"), F.col("text").alias("text_b"))
    paired = candidates.join(ta, "a").join(tb, "b")
    # AQE coalesces the (byte-small) join output to a couple of partitions,
    # which would serialize the CPU-heavy re-shingling below onto 2-3
    # Python workers; spread pairs across the cluster first — this stage
    # is compute-bound, not byte-bound, so advisory-size coalescing is
    # exactly wrong for it
    paired = paired.repartition(
        candidates.sparkSession.sparkContext.defaultParallelism, "a", "b"
    )

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # Per-partition shingle cache: hub docs (one doc in many
        # surviving pairs) re-shingle once per partition instead of once
        # per pair. Bounded FIFO (~cap × 10 KB worst case) so a partition
        # full of distinct docs can't grow it without limit.
        cache: dict[int, np.ndarray] = {}
        cap = 4096

        def shingles(doc_id: int, text) -> np.ndarray:
            s = cache.get(doc_id)
            if s is None:
                s = H.shingle_hashes(str(text), k)
                if len(cache) >= cap:
                    cache.pop(next(iter(cache)))
                cache[doc_id] = s
            return s

        for pdf in batches:
            jac = np.empty(len(pdf), dtype=np.float64)
            it = zip(pdf["a"], pdf["b"], pdf["text_a"], pdf["text_b"])
            for i, (a, b, x, y) in enumerate(it):
                jac[i] = H.jaccard(shingles(a, x), shingles(b, y))
            yield pd.DataFrame(
                {"a": pdf["a"], "b": pdf["b"], "jaccard": jac}
            )

    return paired.select("a", "b", "text_a", "text_b").mapInPandas(
        compute, VERIFY_SCHEMA
    )


def verify_pairs(
    candidates: DataFrame,
    sigs: DataFrame,
    docs: DataFrame,
    config: DedupConfig,
    method: str = "minhash",
) -> DataFrame:
    """(a, b) -> edges(a, b, jaccard, method) where jaccard >= threshold.

    The signature-estimate prefilter (when config.est_prefilter is set)
    drops pairs first; the exact re-shingled Jaccard gate runs on the
    survivors."""
    if config.est_prefilter is not None:
        candidates = (
            minhash_estimate(candidates, sigs)
            .where(F.col("jaccard_est") >= config.est_prefilter)
            .select("a", "b")
        )
    return (
        exact_jaccard_pairs(candidates, docs, config)
        .where(F.col("jaccard") >= config.jaccard_threshold)
        .withColumn("method", F.lit(method))
    )


def minhash_estimate(candidates: DataFrame, sigs: DataFrame) -> DataFrame:
    """Signature-agreement Jaccard estimate (cheap prefilter / diagnostics).

    est = fraction of the num_perm signature slots that agree — the
    unbiased MinHash estimator, over the packed-uint32 signature blobs
    (one equality compare per 4 bytes in numpy; the whole candidate
    batch is two frombuffer + one vectorized compare).
    """

    @F.pandas_udf(T.DoubleType())
    def est_udf(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series(np.empty(0, dtype=np.float64))
        xa = np.frombuffer(b"".join(a), dtype=np.uint32).reshape(len(a), -1)
        xb = np.frombuffer(b"".join(b), dtype=np.uint32).reshape(len(b), -1)
        return pd.Series((xa == xb).mean(axis=1))

    s = sigs.select("doc_id", "sig")
    sa = s.select(F.col("doc_id").alias("a"), F.col("sig").alias("sig_a"))
    sb = s.select(F.col("doc_id").alias("b"), F.col("sig").alias("sig_b"))
    return (
        candidates.join(sa, "a")
        .join(sb, "b")
        .select("a", "b", est_udf("sig_a", "sig_b").alias("jaccard_est"))
    )
