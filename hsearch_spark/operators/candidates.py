"""Candidate-pair generation: LSH bucket self-join with explicit skew control.

Reference parity: the per-bucket all-pairs loops (hclust.cpp:186-205,
hclust2.cpp:107-131) and the candidate-set union across L tables with
test-once labels (motif_both_points.cpp:222-243). The reference's only
skew control is a hard output cap (500 hits, pcluster.cpp:115-116); we
make skew a first-class plan decision:

- buckets of size <= max_bucket_all_pairs emit all C(n,2) pairs
  (exactly the reference semantics);
- hot buckets (boilerplate pages all hashing to one band value) emit a
  bounded "star-R" pairing instead: every member pairs with the R
  members having the smallest doc_ids. For connected-components dedup
  this preserves connectivity whenever any representative verifies, at
  O(n*R) pairs instead of O(n^2) — a 10^5-doc boilerplate bucket goes
  from 5e9 pairs to 8e5. Drops are *logged, not silent*
  (dropped_pairs_metrics).

One kernel (bucket_runs) and one ledger formula (dropped_pairs_metrics)
serve every keyed channel: MinHash bands and SimHash combos (star-R),
the substring anchors and seeds (run_pairs: R = 0, a hot run is
dropped whole), and the stream's driver-side within-batch pairs.

At 100 TB the band self-join is THE shuffle: the key is band_hash — a
band-index-salted, uniformly-mixed 64-bit hash, so the shuffle itself
is balanced; only the within-bucket pair blowup needs the cap above.
AQE skew-join handles residual stragglers.
"""

from __future__ import annotations

import itertools
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hsearch_spark.config import DedupConfig
from hsearch_spark.functions import hashing as H


def bucket_runs(
    k: np.ndarray, d: np.ndarray, cap: int, r: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """The bucket kernel over (key, doc_id) rows: (pair_a, pair_b, rep,
    rep_key). Rows sorted by (key, doc_id) are used as they are; any
    other order is lexsorted first. Buckets of at most `cap` rows emit
    all their pairs, pair_a <= pair_b in doc_id order; each bucket over
    `cap` emits its min(r, size) smallest doc_ids as reps, which the
    caller pairs with the bucket's full membership (rep < member); r = 0
    drops hot buckets whole."""
    empty = np.empty(0, np.int64)
    if not k.size:
        return empty, empty, empty, empty
    brk = k[1:] != k[:-1]
    if not np.all((k[1:] > k[:-1]) | (~brk & (d[1:] >= d[:-1]))):
        order = np.lexsort((d, k))
        k, d = k[order], d[order]
        brk = k[1:] != k[:-1]
    new = np.empty(k.size, dtype=bool)
    new[0] = True
    new[1:] = brk
    starts = np.flatnonzero(new)
    lens = np.diff(np.append(starts, k.size))
    # small buckets → exact all-pairs, one broadcast triu-index gather
    # per run length
    out_a, out_b = [empty], [empty]
    for length in range(2, min(cap, int(lens.max())) + 1):
        sel = starts[lens == length]
        if sel.size == 0:
            continue
        ii, jj = np.triu_indices(length, 1)
        out_a.append(d[(sel[:, None] + ii[None, :]).ravel()])
        out_b.append(d[(sel[:, None] + jj[None, :]).ravel()])
    # hot buckets → min(r, len) smallest ids as reps
    hsel = starts[lens > cap]
    cols = np.arange(r)
    idx = hsel[:, None] + cols[None, :]
    mask = cols[None, :] < np.minimum(lens[lens > cap], r)[:, None]
    return (
        np.concatenate(out_a),
        np.concatenate(out_b),
        d[idx[mask]],
        k[idx[mask]],
    )


def _columns(batches: Iterator[pa.RecordBatch], *names: str) -> list[np.ndarray]:
    """A mapInArrow input's int64 columns `names`, each concatenated
    over the task's batches."""
    cols = [[] for _ in names]
    for batch in batches:
        for c, name in zip(cols, names):
            c.append(batch.column(name).to_numpy(zero_copy_only=False))
    return [np.concatenate(c) if c else np.empty(0, np.int64) for c in cols]


def _record_batches(**columns: pa.Array) -> Iterator[pa.RecordBatch]:
    """A kernel's output as ~64k-row batches (zero-copy slices), not one
    partition-sized batch: at extreme key cardinalities a single batch
    could approach Arrow's per-array bound. An empty output is one empty
    batch, so the declared schema holds."""
    n = len(next(iter(columns.values())))
    chunk = 1 << 16
    for off in range(0, max(n, 1), chunk):
        yield pa.RecordBatch.from_arrays(
            [c.slice(off, chunk) for c in columns.values()], names=list(columns)
        )


def run_pairs(df: DataFrame, key: str, cap: int) -> DataFrame:
    """df(doc_id, key) -> (a, b): every pair of each run of equal `key`
    of at most `cap` rows; a hotter run (template text) emits nothing —
    bucket_runs with r = 0. One hash-repartition on `key` puts every run
    whole in one task, where the kernel sorts, gates and pair-expands at
    ~100 ns/row of numpy instead of ~25 µs per GROUP of JVM window /
    collect_list machinery over a singleton-dominant key space
    (event-log task metrics, BENCH.md round 4). A pair is emitted once
    per run it shares, so callers count votes; the sort makes the output
    independent of partitioning and Arrow batch split."""

    def kernel(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        k, d = _columns(batches, key, "doc_id")
        a, b, _, _ = bucket_runs(k, d, cap, 0)
        yield from _record_batches(
            a=pa.array(a, type=pa.int64()), b=pa.array(b, type=pa.int64())
        )

    return (
        df.select("doc_id", key)
        .repartition(key)
        .mapInArrow(kernel, "a long, b long")
    )


def bucket_pairs_grouped(
    df: DataFrame,
    key: str,
    config: DedupConfig,
    input_rows: int | None = None,
) -> DataFrame:
    """Generic within-bucket pairing: df(doc_id, key) -> (a, b), where
    `key` names one 64-bit bucket-hash column (band_hash, combo_key or
    an embedding-LSH bucket).

    Buckets up to max_bucket_all_pairs emit exact all-pairs C(n,2),
    built by one vectorized Arrow kernel over each bucket's sorted
    doc_ids. Buckets over that emit the star-R pairing
    (every member pairs with the R smallest ids) — connectivity-
    preserving, O(n·R) output.

    Memory is HARD-BOUNDED per bucket regardless of bucket size: the
    aggregation only ever sees the `keep_limit` smallest doc_ids of each
    bucket (a rank-limit window — Spark pushes `row_number() <= const`
    down as WindowGroupLimit, so each task keeps a bounded heap per key
    *before* the shuffle, and the post-shuffle sort is external/spill-
    able). A 10^8-member boilerplate bucket therefore aggregates a
    ≤ keep_limit-element array, not a multi-GB one.

    Hot buckets (> max_bucket_all_pairs members) still connect EVERY
    member: the star-R pairing is produced by BROADCAST-joining the R
    smallest ids of each hot bucket (reps — a few rows per hot bucket,
    tiny by construction) back against the original input — no second
    shuffle of the big table, no row of the big side ever held in an
    array. Output is O(n·R) per hot bucket, connectivity-preserving,
    drops nothing. Shuffle budget: ONE exchange for the rank-limit
    window (+ the groupBy reuses its partitioning) and ONE for the
    cross-band pair dedup — same as the unbounded collect_list plan
    this replaces. The input is scanned twice (window branch + star
    branch); both scans are column-pruned and the in-pipeline input is
    a cheap explode of checkpointed signatures.
    """
    cap = config.max_bucket_all_pairs
    r = config.star_representatives
    keep_limit = max(cap, r) + 1
    base = df.select(key, "doc_id")
    w = Window.partitionBy(key).orderBy("doc_id")
    kept = base.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= keep_limit
    )

    # ONE vectorized Arrow pass over the window's output replaces
    # [groupBy + collect_list arrays + higher-order pair explode +
    # second scan for the hot branch]: the per-group JVM machinery paid
    # ~60 µs per bucket over an almost-all-singleton key space — 535
    # executor-CPU-s at 400k docs / 8.4M band rows, the pipeline's
    # single largest CPU sink after the substring rewrite (event-log
    # task metrics, BENCH.md round 4). The kernel consumes rows ALREADY
    # sorted by (key, doc_id) — WindowExec's required sort order, which
    # mapInArrow preserves — so run detection is one boundary scan, no
    # sort (a vectorized order check guards the assumption and falls
    # back to lexsort if a future plan change breaks it). Per-bucket
    # state stays HARD-BOUNDED exactly as before: WindowGroupLimit caps
    # each bucket at keep_limit rows pre-shuffle, so a 10^8-member
    # boilerplate bucket reaches the kernel as ≤ keep_limit rows.
    # Output is a mixed table: all-pairs rows (a, b, key=null) for
    # buckets ≤ cap, representative rows (a=rep, b=null, key) for hot
    # buckets — the hot branch still BROADCAST-joins reps against the
    # full input, connecting every member without re-shuffling it.
    def runs_mixed(batches):
        k, d = _columns(batches, key, "doc_id")
        pa_, pb_, ra, rk = bucket_runs(k, d, cap, r)
        # null masks: pairs have null key, reps have null b
        a = np.concatenate([pa_, ra])
        b = np.concatenate([pb_, np.zeros(ra.size, np.int64)])
        kk = np.concatenate([np.zeros(pa_.size, np.int64), rk])
        valid_b = np.zeros(a.size, dtype=bool)
        valid_b[: pa_.size] = True
        yield from _record_batches(**{
            "a": pa.array(a, type=pa.int64()),
            "b": pa.array(b, type=pa.int64(), mask=~valid_b),
            key: pa.array(kk, type=pa.int64(), mask=valid_b),
        })

    mixed = kept.select(key, "doc_id").mapInArrow(
        runs_mixed, f"a long, b long, {key} long"
    )
    # Both the pairs branch and the hot-reps branch consume `mixed`;
    # persist it so the window + kernel run ONCE (one InMemoryRelation
    # for both consumers). `mixed` is bounded: ≤ C(cap, 2) pair rows per
    # small bucket + ≤ R rep rows per hot bucket. Lineage is preserved
    # (fault-tolerant), unlike localCheckpoint; bounded_persist evicts
    # caches from prior calls at this site.
    from hsearch_spark.utils import bounded_persist

    mixed = bounded_persist(mixed, "candidates.bucket_pairs_grouped")
    small_pairs = mixed.where(F.col(key).isNull()).select("a", "b")
    reps = mixed.where(F.col(key).isNotNull()).select(key, "a")
    # hot buckets: R smallest ids are the representatives; broadcast
    # them back against the FULL membership so every member gets an edge
    # without re-shuffling the big side. The broadcast hint is honored
    # unconditionally (NOT auto-dropped at size), so it is GUARDED — a
    # corpus whose reps exceed config.max_broadcast_reps (adversarial
    # simhash combo keys fanning out hot buckets) degrades to a plain
    # shuffle join instead of failing on driver/broadcast memory. The
    # guard is TIERED so the common case costs zero extra jobs:
    # 1. proven bound — every hot bucket holds > cap members, so
    #    #hot <= input_rows/(cap+1) and reps rows <= R*that. Callers
    #    know input_rows exactly and for free (bands = b × #sigs,
    #    simhash combos = C(blocks, blocks-h) × #sigs, LSH keys =
    #    n_tables × #vectors); when the bound clears the limit the
    #    broadcast is safe with NO runtime action.
    # 2. exact count — only when the bound can't clear (10^9+-row
    #    corpora, where one extra job is noise against the pipeline):
    #    count rep rows on the already-persisted bounded `mixed`.
    # The decision is physical only — emitted pairs are identical on
    # both paths (pinned by test_broadcast_guard_fallback_same_pairs);
    # per-bucket memory bounds hold either way.
    bound = None if input_rows is None else r * (input_rows // (cap + 1))
    if bound is not None and bound <= config.max_broadcast_reps:
        broadcast_safe = True
    else:
        broadcast_safe = reps.count() <= config.max_broadcast_reps
    if broadcast_safe:
        reps = F.broadcast(reps)
    large_pairs = (
        base.join(reps, key)
        .where(F.col("a") < F.col("doc_id"))
        .select("a", F.col("doc_id").alias("b"))
    )
    return small_pairs.union(large_pairs).dropDuplicates(["a", "b"])


def candidate_pairs(
    bands: DataFrame, config: DedupConfig, input_rows: int | None = None
) -> DataFrame:
    """bands(doc_id, band_hash, ...) -> pairs(a, b), a < b, distinct.

    Pair dedup across bands (ref: test-once labels,
    motif_both_points.cpp:222-243) = dropDuplicates BEFORE the expensive
    verify stage — dedup-then-verify, not verify-then-dedup.
    `input_rows` (= config.bands × #docs, when the caller knows #docs)
    lets the broadcast guard prove safety without a runtime count.

    The shuffle key is band_hash ALONE: explode_bands salts each band's
    hash with its band index, so band_hash already encodes (band, value)
    and shipping a separate band_id column through the pipeline's
    largest exchange would be pure overhead (UnsafeRow 32 → 24 bytes,
    −25% on this shuffle). A cross-band 64-bit collision (≈ (b·n)²/2⁶⁵
    expected — ~10⁷ at 10¹² docs, zero at sandbox scale) merely co-
    buckets unrelated docs, adding candidate pairs the exact-verify gate
    re-checks anyway — never a correctness risk. The explicit select
    prunes any extra band columns BEFORE the exchange."""
    return bucket_pairs_grouped(
        bands.select("doc_id", "band_hash"),
        "band_hash",
        config,
        input_rows=input_rows,
    )


def dropped_pairs_metrics(df: DataFrame, key: str, cap: int, r: int) -> DataFrame:
    """(key, n, dropped_pairs) per bucket of `key` over `cap` rows: the
    pairs bucket_runs did not emit, C(n,2) less the star pairs of its
    m = min(r, n) smallest ids (r = 0: the whole bucket) — the
    no-silent-truncation ledger (SURVEY.md §4 'no silent truncation').
    Works for any keyed channel: MinHash bands (band_hash, band-salted),
    SimHash combos (combo_key), substring anchors (anchor, r = 0)."""
    sizes = df.groupBy(key).agg(F.count("*").alias("n"))
    n = F.col("n")
    m = F.least(F.lit(r).cast("long"), n)
    star_pairs = m * n - m * (m + 1) / 2
    return sizes.where(n > cap).select(
        key,
        "n",
        (n * (n - 1) / 2 - star_pairs).cast("long").alias("dropped_pairs"),
    )


def add_simhash(docs: DataFrame, config: DedupConfig) -> DataFrame:
    """docs(doc_id, text, ...) -> (doc_id, simhash): the 64-bit SimHash
    of each doc's k-shingle set, null text as ''. Only the SimHash
    channel reads it, so it is computed here, not in the signature
    kernel every pipeline pays for."""
    k = config.shingle_k

    @F.pandas_udf("long")
    def simhash(text: pd.Series) -> pd.Series:
        return text.map(lambda t: H.simhash64(H.shingle_hashes(t, k)))

    text = F.coalesce(F.col("text"), F.lit(""))
    return docs.select("doc_id", simhash(text).alias("simhash"))


def simhash_candidates(
    sims: DataFrame, config: DedupConfig, input_rows: int | None = None
) -> DataFrame:
    """SimHash candidate channel — block-permutation scheme (Manku, Jain,
    Das Sarma, "Detecting Near-Duplicates for Web Crawling", WWW'07).

    Split the `simhash_bits` fingerprint into `simhash_blocks` nearly
    equal blocks; for every combination of (blocks - hamming_max) blocks,
    key the doc on xxhash64(combo_id, those block values). Pigeonhole: a
    pair within hamming_max has its differing bits in <= hamming_max
    blocks, so SOME combination of the remaining blocks is identical on
    both sides → candidate. With the defaults (64 bits, 6 blocks, h=3)
    that is C(6,3) = 20 tables keyed on ~32 bits of fingerprint —
    ~2^32 distinct buckets per table.

    Hot-bucket caveat (shared with the MinHash band channel): buckets
    over max_bucket_all_pairs degrade to the star-R pairing, so the
    pigeonhole guarantee holds UNCONDITIONALLY only for buckets within
    the all-pairs cap; in a hot bucket a member-member pair survives iff
    a representative also passes the hamming gate (true for the
    boilerplate near-identical families that cause hot buckets, not
    guaranteed for adversarial structures). That trade is deliberate —
    the reference's own hot-bucket policy is a hard output cap
    (pcluster.cpp:115-116).
    Final gate: exact bit_count(a ^ b) <= hamming_max
    (ref two-level filter: kmer_search.cpp:100-112).

    `sims` is (doc_id, simhash), as add_simhash builds it. `input_rows`
    = its row count (i.e. #docs), when the caller knows it — lets the
    broadcast guard prove safety without a runtime count (combo-key rows
    are exactly C(blocks, blocks-h) per doc).
    """
    h = config.simhash_hamming_max
    nb = config.simhash_blocks
    bits = config.simhash_bits
    widths = [bits // nb + (1 if i < bits % nb else 0) for i in range(nb)]
    offsets = [sum(widths[:i]) for i in range(nb)]

    def block(i: int) -> F.Column:
        return F.shiftrightunsigned(F.col("simhash"), offsets[i]).bitwiseAND(
            F.lit((1 << widths[i]) - 1)
        )

    combos = list(itertools.combinations(range(nb), nb - h))
    keys = F.array(
        *[
            F.xxhash64(F.lit(ci), *[block(i) for i in combo])
            for ci, combo in enumerate(combos)
        ]
    )
    keyed = sims.select("doc_id", F.explode(keys).alias("combo_key"))
    pairs = bucket_pairs_grouped(
        keyed,
        "combo_key",
        config,
        input_rows=None if input_rows is None else input_rows * len(combos),
    )
    sa = sims.select(F.col("doc_id").alias("a"), F.col("simhash").alias("sim_a"))
    sb = sims.select(F.col("doc_id").alias("b"), F.col("simhash").alias("sim_b"))
    return (
        pairs.join(sa, "a")
        .join(sb, "b")
        .where(
            F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
            <= config.simhash_hamming_max
        )
        .select("a", "b")
    )
