"""Per-doc and per-pair cost of the Python kernels, timed outside Spark
on a fixed sample of the workload's own pages."""

from __future__ import annotations

import statistics
import time

import pandas as pd

from hsearch_spark.config import DedupConfig
from hsearch_spark.functions import hashing as H
from hsearch_spark.functions.text import extract_text_udf


def _us_per_item(fn, n_items: int, reps: int) -> float:
    """Median over `reps` calls of fn()'s wall µs ÷ n_items."""
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls) * 1e6 / n_items


def kernel_costs(
    pages: pd.DataFrame, config: DedupConfig, n_docs: int = 200, reps: int = 3
) -> tuple[dict[str, float], list[tuple[str, float, float]]]:
    """({metric: µs per doc or pair}, spans[(name, start, end)])."""
    sample = pages.iloc[:n_docs]
    html = sample["html"]
    texts = [" ".join(t.lower().split()) for t in sample["text"]]
    k, num_perm, salt = config.shingle_k, config.num_perm, config.minhash_salt()
    shingles = [H.shingle_hashes(t, k) for t in texts]
    # pairs: each doc with its successor, so sizes vary like real candidates
    pairs = list(zip(shingles, shingles[1:]))
    n = len(texts)
    extract = extract_text_udf.func
    benches = {
        "kern.extract_us_per_doc": (lambda: extract(html), n),
        "kern.shingle_us_per_doc": (lambda: [H.shingle_hashes(t, k) for t in texts], n),
        "kern.minhash_us_per_doc": (
            lambda: [H.minhash_signature(s, num_perm, salt) for s in shingles], n
        ),
        "kern.simhash_us_per_doc": (lambda: [H.simhash64(s) for s in shingles], n),
        "kern.anchor_us_per_doc": (
            lambda: [H.anchor_hashes(t, config.anchor_gram, config.anchor_mod) for t in texts],
            n,
        ),
        "kern.jaccard_us_per_pair": (
            lambda: [H.jaccard(a, b) for a, b in pairs], max(1, len(pairs))
        ),
    }
    out, spans = {}, []
    for name, (fn, items) in benches.items():
        t0 = time.time()
        out[name] = _us_per_item(fn, items, reps)
        spans.append((name, t0, time.time()))
    return out, spans
