"""Exact-verify join: candidate pairs -> edges with exact Jaccard.

Reference parity: the exact-distance verify gate after the LSH filter
(kmer_search.cpp:106-112; threshold gate hash_search.cpp:593-599). Two
levels, cheapest first (ref two-level filter, SURVEY.md §4):

1. signature-agreement estimate over the 126-slot MinHash arrays
   (~0.5 KB/doc): the unbiased Jaccard estimator, one vectorized numpy
   compare per batch (signature_agreement). Pairs with est <
   est_prefilter are dropped — for a true τ=0.8 pair, P(drop) < 1e-4
   at prefilter 0.65.
2. exact Jaccard for the survivors by RE-SHINGLING their texts in the
   same Arrow pass (numpy sorted-array intersection). Re-shingling
   beats storing shingle arrays: the arrays are ~10 KB/doc (bigger than
   the page text), would dominate the sigs table and every shuffle that
   touches it, while the exact stage only ever needs them for the tiny
   post-prefilter candidate set.

Plan shape: one hash repartition spreads the 16-byte (a, b) pairs over
every core (the Python pass is compute-bound); four doc_id equi-joins,
left to auto-broadcast, bring each side's sig and text; one mapInArrow
pass runs both levels. Texts cross no shuffle when the joins broadcast.
"""

from __future__ import annotations

from collections.abc import Hashable, Iterable, Iterator, Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
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
    sets: the verify kernel, called by verify_pairs' Arrow pass and by
    the stream's driver-side verify (streaming.incremental.verify_versions).

    `cache` maps key_a[i] / key_b[i] to that text's shingle array across
    calls, so a hub doc (one doc in many surviving pairs) re-shingles
    once, not once per pair. A key must name one text, since a doc_id
    may have several (a re-crawl): verify_pairs keys by (doc_id,
    xxhash64(text)), verify_versions by version index. Bounded FIFO
    (~cap × 10 KB worst case), so a caller full of distinct docs cannot
    grow it without limit."""

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
    pair: the estimate kernel, called by verify_pairs' Arrow pass (the
    est_prefilter gate), by minhash_estimate's pandas UDF and by the
    stream's driver-side verify (streaming.incremental.verify_versions).
    One equality compare per 4 bytes over the packed-uint32 blobs."""
    if len(sig_a) == 0:
        return np.empty(0, dtype=np.float64)
    xa = np.frombuffer(b"".join(sig_a), dtype=np.uint32).reshape(len(sig_a), -1)
    xb = np.frombuffer(b"".join(sig_b), dtype=np.uint32).reshape(len(sig_b), -1)
    return (xa == xb).mean(axis=1)


def verify_pairs(
    candidates: DataFrame, sigs: DataFrame, docs: DataFrame, config: DedupConfig
) -> DataFrame:
    """(a, b) -> edges(a, b, jaccard, method="minhash") where jaccard >=
    config.jaccard_threshold, in one plan (see the module docstring).

    Where sigs and docs hold several versions of a doc_id (the stream's
    Spark fallback, which passes its one doc table as both), the joins
    give one row per sig version × text version on each side; a row
    passes iff its sig pair passes the est_prefilter gate and its text
    pair passes the threshold. With est_prefilter None, sigs is not
    joined."""
    gate, tau, k = config.est_prefilter, config.jaccard_threshold, config.shingle_k
    payloads = [docs.select("doc_id", "text", F.xxhash64("text").alias("v"))]
    if gate is not None:
        payloads.insert(0, sigs.select("doc_id", "sig"))
    paired = candidates.select("a", "b").repartition(
        candidates.sparkSession.sparkContext.defaultParallelism, "a", "b"
    )
    # a's payloads, then b's: if the joins sort-merge, the pair side is
    # exchanged once per key, not once per join
    for x in "ab":
        for p in payloads:
            paired = paired.join(
                p.select(
                    F.col("doc_id").alias(x),
                    *(F.col(c).alias(f"{c}_{x}") for c in p.columns[1:]),
                ),
                x,
            )

    def compute(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        cache: dict[Hashable, np.ndarray] = {}  # one per partition
        for batch in batches:
            if gate is not None:
                est = signature_agreement(
                    batch.column("sig_a").to_pylist(),
                    batch.column("sig_b").to_pylist(),
                )
                batch = batch.filter(pa.array(est >= gate))
            a, b, text_a, text_b, v_a, v_b = (
                batch.column(c).to_pylist()
                for c in ("a", "b", "text_a", "text_b", "v_a", "v_b")
            )
            jac = exact_jaccard(text_a, text_b, zip(a, v_a), zip(b, v_b), k, cache)
            yield pa.RecordBatch.from_arrays(
                [batch.column("a"), batch.column("b"), pa.array(jac)],
                names=VERIFY_SCHEMA.names,
            ).filter(pa.array(jac >= tau))

    return paired.mapInArrow(compute, VERIFY_SCHEMA).withColumn(
        "method", F.lit("minhash")
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
