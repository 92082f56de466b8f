"""Exact-verify join: candidate pairs -> edges with exact Jaccard.

Reference parity: the exact-distance verify gate after the LSH filter
(kmer_search.cpp:106-112; threshold gate hash_search.cpp:593-599). Two
levels, cheapest first (ref two-level filter, SURVEY.md §4):

1. signature-agreement estimate over the 126-slot MinHash arrays
   (~0.5 KB/doc): the unbiased Jaccard estimator, one vectorized numpy
   compare per batch (signature_agreement). Pairs with est <
   est_prefilter are dropped — for a true τ=0.8 pair, P(drop) < 1e-4
   at prefilter 0.65.
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

from collections.abc import Hashable, Iterable, Iterator, Sequence

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


_SHINGLE_CACHE_CAP = 4096


def exact_jaccard(
    text_a: Iterable,
    text_b: Iterable,
    key_a: Iterable,
    key_b: Iterable,
    k: int,
    cache: dict[Hashable, np.ndarray],
) -> np.ndarray:
    """Exact Jaccard of each (text_a[i], text_b[i]) pair's k-shingle
    sets: the verify kernel, shared by exact_jaccard_pairs' Arrow stage
    and the stream's driver-side verify (streaming.incremental).

    `cache` maps key_a[i] / key_b[i] to that text's shingle array across
    calls, so a hub doc (one doc in many surviving pairs) re-shingles
    once, not once per pair. The caller picks the key, and a key must
    name one text: a doc_id where each doc has one text, a version key
    where a doc_id may have several (a re-crawl). Bounded FIFO (~cap ×
    10 KB worst case), so a caller full of distinct docs cannot grow it
    without limit."""

    def shingles(key, text) -> np.ndarray:
        s = cache.get(key)
        if s is None:
            s = H.shingle_hashes(str(text), k)
            if len(cache) >= _SHINGLE_CACHE_CAP:
                cache.pop(next(iter(cache)))
            cache[key] = s
        return s

    return np.fromiter(
        (
            H.jaccard(shingles(ka, x), shingles(kb, y))
            for x, y, ka, kb in zip(text_a, text_b, key_a, key_b)
        ),
        dtype=np.float64,
    )


def signature_agreement(
    sig_a: Sequence[bytes], sig_b: Sequence[bytes]
) -> np.ndarray:
    """Fraction of agreeing signature slots of each (sig_a[i], sig_b[i])
    pair: the estimate kernel, shared by minhash_estimate's pandas UDF
    and the stream's driver-side verify. One equality compare per 4
    bytes over the packed-uint32 blobs."""
    if len(sig_a) == 0:
        return np.empty(0, dtype=np.float64)
    xa = np.frombuffer(b"".join(sig_a), dtype=np.uint32).reshape(len(sig_a), -1)
    xb = np.frombuffer(b"".join(sig_b), dtype=np.uint32).reshape(len(sig_b), -1)
    return (xa == xb).mean(axis=1)


def exact_jaccard_pairs(
    candidates: DataFrame,
    docs: DataFrame,
    config: DedupConfig,
    versions: bool = False,
) -> DataFrame:
    """(a, b) + docs(doc_id, text) -> (a, b, jaccard) — exact, re-shingled,
    one row per (text of a, text of b). `versions`: docs may hold several
    texts per doc_id, so the shingle cache keys each text by (doc_id,
    xxhash64(text)) rather than by doc_id."""
    k = config.shingle_k
    cols = ["text", "v"] if versions else ["text"]
    d = docs.select("doc_id", "text", F.xxhash64("text").alias("v"))

    def side(x: str) -> DataFrame:
        return d.select(
            F.col("doc_id").alias(x), *(F.col(c).alias(f"{c}_{x}") for c in cols)
        )

    paired = candidates.join(side("a"), "a").join(side("b"), "b")
    # AQE coalesces the (byte-small) join output to a couple of partitions,
    # which would serialize the CPU-heavy re-shingling below onto 2-3
    # Python workers; spread pairs across the cluster first — this stage
    # is compute-bound, not byte-bound, so advisory-size coalescing is
    # exactly wrong for it
    paired = paired.repartition(
        candidates.sparkSession.sparkContext.defaultParallelism, "a", "b"
    )

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[Hashable, np.ndarray] = {}  # one per partition
        for pdf in batches:
            ka, kb = pdf["a"], pdf["b"]
            if versions:
                ka, kb = zip(ka, pdf["v_a"]), zip(kb, pdf["v_b"])
            jac = exact_jaccard(pdf["text_a"], pdf["text_b"], ka, kb, k, cache)
            yield pd.DataFrame({"a": pdf["a"], "b": pdf["b"], "jaccard": jac})

    return paired.select(
        "a", "b", *(f"{c}_{x}" for x in "ab" for c in cols)
    ).mapInPandas(compute, VERIFY_SCHEMA)


def verify_pairs(
    candidates: DataFrame,
    sigs: DataFrame,
    docs: DataFrame,
    config: DedupConfig,
    method: str = "minhash",
    versions: bool = False,
) -> DataFrame:
    """(a, b) -> edges(a, b, jaccard, method) where jaccard >= threshold.

    The signature-estimate prefilter (when config.est_prefilter is set)
    drops pairs first; the exact re-shingled Jaccard gate runs on the
    survivors. Where sigs and docs hold several versions of a doc_id
    (`versions`, see exact_jaccard_pairs), the joins emit one row per
    version pair."""
    if config.est_prefilter is not None:
        candidates = (
            minhash_estimate(candidates, sigs)
            .where(F.col("jaccard_est") >= config.est_prefilter)
            .select("a", "b")
        )
    return (
        exact_jaccard_pairs(candidates, docs, config, versions)
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
        return pd.Series(signature_agreement(a, b))

    s = sigs.select("doc_id", "sig")
    sa = s.select(F.col("doc_id").alias("a"), F.col("sig").alias("sig_a"))
    sb = s.select(F.col("doc_id").alias("b"), F.col("sig").alias("sig_b"))
    return (
        candidates.join(sa, "a")
        .join(sb, "b")
        .select("a", "b", est_udf("sig_a", "sig_b").alias("jaccard_est"))
    )
