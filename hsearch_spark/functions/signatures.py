"""Signature stage: one vectorized pass computing shingle set + MinHash +
substring anchors per document.

Reference parity (SURVEY.md §2.2/§2.3):
- shingle set       <- bag-of-k-mers featurization (pcluster.cpp:26-32)
- MinHash signature <- E2LSH K×L hashing (hclust/lsh.hpp:29-59), all
  bands in ONE pass instead of the reference's L serial re-scans
  (hclust.cpp:261-289)
- anchors           <- suffix-array repeated-span detection
  (IGC/suffix_array.cpp:15-47) re-expressed as content-defined sampling

Implementation: ``mapInArrow`` so both outputs come from ONE rolling-
hash pass over each text (two separate pandas_udf columns would hash
every document twice). Arrow-batched; per-batch numpy only — no
per-row Python beyond the unavoidable per-doc loop over variable-length
texts (each iteration is a vectorized numpy kernel over that doc's
bytes). SimHash is computed only by the channel that reads it
(operators.candidates.add_simhash), as the reference computes its KLSH
sign bits only in pcluster.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hsearch_spark.config import DedupConfig
from hsearch_spark.functions import hashing as H

SIG_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        # num_perm uint32 minima packed little-endian (hashing.
        # minhash_signature_packed): half the bytes of array<long> and no
        # per-element Arrow/Tungsten overhead — the signature table is
        # the biggest byte mover in the pipeline
        T.StructField("sig", T.BinaryType(), False),
        T.StructField("anchors", T.ArrayType(T.LongType(), False), False),
    ]
)


def signature_batch(
    ids: pa.Array, text: pa.Array, config: DedupConfig
) -> pa.RecordBatch:
    """One Arrow batch of (doc_id, non-null text) -> (doc_id, sig,
    anchors): the signature kernel, shared by the mapInArrow stage
    (add_signature_columns) and the stream's driver-side new side
    (streaming.incremental)."""
    num_perm = config.num_perm
    salt = config.minhash_salt()
    k = config.shingle_k
    gram = config.anchor_gram
    mod = config.anchor_mod
    n_rows = len(text)
    # Null slots would otherwise be hashed from whatever bytes their
    # (spec-unspecified) offsets span — callers coalesce text to ''
    # upstream; assert as a backstop.
    assert text.null_count == 0, (
        "null text reached the signature kernel; coalesce it to '' upstream"
    )
    # read the UTF-8 bytes straight out of the Arrow string buffers — no
    # pandas materialization, no per-row Python str, no .encode() copies.
    # offsets dtype depends on string vs large_string (Spark's
    # useLargeVarTypes).
    off_dtype = np.int64 if pa.types.is_large_string(text.type) else np.int32
    bufs = text.buffers()
    offsets = np.frombuffer(bufs[1], dtype=off_dtype)[
        text.offset : text.offset + n_rows + 1
    ]
    data = (
        np.frombuffer(bufs[2], dtype=np.uint8)
        if bufs[2] is not None
        else np.empty(0, dtype=np.uint8)
    )
    out_sig, out_anc = [], []
    for i in range(n_rows):
        # per-doc slices stay L2-resident; both window widths share the
        # doc's O(n) rolling-hash prefix tables and the process-cached
        # power tables (hashing._powers) — measured faster than hashing
        # one concatenated batch buffer, whose ~10 MB temporaries fall
        # out of cache
        spad, inv = H._prefix_tables(data[offsets[i] : offsets[i + 1]])
        sh = np.unique(H._window_hashes(spad, inv, k) >> np.uint64(32))
        a = H._window_hashes(spad, inv, gram)
        anc = np.unique(a[a % np.uint64(mod) == 0]).astype(np.int64)
        out_sig.append(H.minhash_signature_packed(sh, num_perm, salt))
        out_anc.append(anc)
    return pa.RecordBatch.from_arrays(
        [
            ids,
            pa.array(out_sig, type=pa.binary()),
            pa.array(out_anc, type=pa.list_(pa.int64())),
        ],
        names=["doc_id", "sig", "anchors"],
    )


def add_signature_columns(docs: DataFrame, config: DedupConfig) -> DataFrame:
    """docs(doc_id, text, ...) -> sigs(doc_id, sig, anchors).

    The config is captured in the UDF closure and signature_batch derives
    the MinHash salt from config.seed — the broadcast-of-seeded-params
    pattern replacing the reference's srand(time(NULL)) (pcluster.cpp:84).

    The raw shingle set is deliberately NOT materialized: it is ~10 KB
    per web page (larger than the text itself) and is only ever needed
    for the few candidate pairs that survive the signature-estimate
    prefilter — the exact-verify stage re-shingles those from `text`
    (operators/verify.py). At 10^12 docs, persisting shingle arrays
    would dominate total storage and every downstream shuffle.
    """

    def compute(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            yield signature_batch(batch.column(0), batch.column(1), config)

    # coalesce JVM-side: guarantees null_count == 0 in every Arrow batch
    # (null slots have producer-dependent offset contents — hashing them
    # would make signatures nondeterministic across Arrow producers)
    return docs.select(
        "doc_id", F.coalesce(F.col("text"), F.lit("")).alias("text")
    ).mapInArrow(compute, SIG_SCHEMA)


def explode_bands(sigs: DataFrame, config: DedupConfig) -> DataFrame:
    """sigs -> bands(doc_id, band_id, band_hash): b rows per doc.

    The OR-amplification step (ref: L tables, hclust.cpp:261-289) —
    all b band keys materialized in one pass, entirely JVM-side:
    band i's key is xxhash64(i, 4·r-byte slice of the packed signature)
    (the AND-construction: r minima concatenated into one key, ref
    hclust/lsh.hpp:51-59). No Python round-trip — signatures are hashed
    where they already live, inside whole-stage codegen.
    """
    r_bytes = config.rows_per_band * 4
    # one SQL expression: built as Column objects, the b structs cost
    # about a thousand py4j calls per call
    entries = ", ".join(
        f"named_struct('band_id', {i}, 'band_hash', "
        f"xxhash64({i}, substring(sig, {i * r_bytes + 1}, {r_bytes})))"
        for i in range(config.bands)
    )
    return sigs.select(
        "doc_id", F.expr(f"explode(array({entries}))").alias("e")
    ).select("doc_id", "e.band_id", "e.band_hash")
