"""Pairwise alignment scoring for candidate pairs — the V3/V4 analog.

The reference scores candidate pairs with x-drop ungapped extension and
banded gapped alignment (hsearch/src/hsearch/hash_search.cpp:661-948) to
rank hits, not just gate them. For text near-dup review the equivalent
"how similar, exactly?" score is edit distance: this module computes
Levenshtein distance (optionally Ukkonen-banded — the same banded-DP
trick as the reference's banded alignment) for an already-blocked
candidate pair set, as a vectorized-kernel mapInPandas stage.

Scale shape: this NEVER runs all-pairs — callers feed it the bounded
candidate set that survived LSH/blocking (the reference's two-level
filter discipline, kmer_search.cpp:100-112). Texts travel only for
surviving pairs, exactly like operators/verify.py. The DP kernel is
numpy row-vectorized (O(min(n,m)) vector ops per row, no per-cell
Python); with `band` set, cost drops to O(band) per row and the result
is exact whenever true distance <= band (Ukkonen), else reported as the
band bound.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

ALIGN_SCHEMA = T.StructType(
    [
        T.StructField("a", T.LongType(), False),
        T.StructField("b", T.LongType(), False),
        T.StructField("edit_distance", T.LongType(), False),
        T.StructField("edit_sim", T.DoubleType(), False),
    ]
)


def _levenshtein(x, y, band: int | None) -> int:
    """Row-vectorized Levenshtein DP over symbol arrays — no per-cell Python.

    `x`/`y` are bytes (treated as uint8 symbols) or numpy integer arrays
    (e.g. uint32 Unicode code points — the operator path, so distances
    are CHARACTER-level and match DuckDB/PostgreSQL `levenshtein()` on
    non-ASCII text too, not just when UTF-8 happens to be 1 byte/char).

    The only sequential dependency in a DP row is the insertion chain
    cur[j] = min(best[j], cur[j-1] + 1); substituting c[j] = cur[j] - j
    turns it into a plain running minimum, so each row is two vector
    mins + one np.minimum.accumulate.

    band=None → exact. band=k → Ukkonen band: cells with |i-j| > k are
    pinned to BIG; the result is exact whenever the true distance <= k,
    and otherwise is exactly band + 1, meaning "more than band" — a sane
    magnitude consumers can sort/threshold on (never the raw BIG-ish
    internal bound).
    """
    xa = (
        np.frombuffer(x, dtype=np.uint8)
        if isinstance(x, (bytes, bytearray))
        else np.asarray(x)
    )
    ya = (
        np.frombuffer(y, dtype=np.uint8)
        if isinstance(y, (bytes, bytearray))
        else np.asarray(y)
    )
    if len(xa) < len(ya):
        xa, ya = ya, xa  # ya is the shorter → row width min(n, m)
    n, m = len(xa), len(ya)
    if band is not None and n - m > band:
        return band + 1  # length gap alone exceeds the band
    if m == 0:
        return n
    BIG = np.int64(1) << 30
    js = np.arange(1, m + 1, dtype=np.int64)
    j0 = np.arange(m + 1, dtype=np.int64)
    prev = j0.copy()
    if band is not None:
        prev = np.where(j0 > band, BIG, prev)
    for i in range(1, n + 1):
        best = np.minimum(
            prev[:-1] + (ya != xa[i - 1]),  # substitute
            prev[1:] + 1,  # delete
        )
        if band is not None:
            best = np.where(np.abs(js - i) > band, BIG, best)
        cur0 = np.int64(i) if band is None or i <= band else BIG
        # c[j] = min(cur0, min_{i<=j}(best[i-1] - i)); cur[j] = c[j] + j
        c = np.minimum.accumulate(np.concatenate(([cur0], best - js)))
        prev = c + j0
        if band is not None:
            if int(prev.min()) > band:
                return band + 1  # "more than band", clamped sane
    d = int(prev[m])
    return d if band is None or d <= band else band + 1


def edit_similarity_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    band: int | None = None,
    text_col: str = "text",
) -> DataFrame:
    """pairs(a, b) + docs(doc_id, text) -> (a, b, edit_distance, edit_sim).

    edit_sim = 1 - distance / max(len_a, len_b) in [0, 1], with distance
    and lengths both CHARACTER-level (texts are decoded to uint32 code
    points before the DP) — the same contract as DuckDB/PostgreSQL
    levenshtein(), on any corpus, not just ASCII. Two doc_id equi-joins
    pull the texts to the (bounded) pair set, then one mapInPandas pass.
    """
    d = docs.select("doc_id", F.col(text_col).alias("_t"))
    ta = d.select(F.col("doc_id").alias("a"), F.col("_t").alias("text_a"))
    tb = d.select(F.col("doc_id").alias("b"), F.col("_t").alias("text_b"))
    paired = pairs.select("a", "b").join(ta, "a").join(tb, "b")
    paired = paired.repartition(
        pairs.sparkSession.sparkContext.defaultParallelism, "a", "b"
    )

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            dist = np.empty(len(pdf), dtype=np.int64)
            sim = np.empty(len(pdf), dtype=np.float64)
            for i, (x, y) in enumerate(zip(pdf["text_a"], pdf["text_b"])):
                # utf-32-le bytes ARE the code-point array — one decode,
                # zero-copy view, character-level DP symbols
                cx = np.frombuffer(str(x).encode("utf-32-le"), dtype=np.uint32)
                cy = np.frombuffer(str(y).encode("utf-32-le"), dtype=np.uint32)
                dv = _levenshtein(cx, cy, band)
                dist[i] = dv
                mx = max(len(cx), len(cy))
                # band+1 can exceed mx on short texts; clamp sim to [0,1]
                sim[i] = max(0.0, 1.0 - dv / mx) if mx else 1.0
            yield pd.DataFrame(
                {"a": pdf["a"], "b": pdf["b"],
                 "edit_distance": dist, "edit_sim": sim}
            )

    return paired.select("a", "b", "text_a", "text_b").mapInPandas(
        compute, ALIGN_SCHEMA
    )
