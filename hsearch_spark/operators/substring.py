"""Substring (long repeated span) dedup — the suffix-array stage, Spark-first.

Reference parity: the IGC suffix-array pipeline sorts every (row, offset)
position by suffix content with a 500-char comparator cap, then counts
runs of equal k-prefixes to find repeated substrings
(IGC/shuffle_data/IGC/suffix_array.cpp:15-47, 51-68 via
gen_kmers_from_suffix_array.cpp).

A global suffix sort is the wrong physical plan on a cluster (one giant
range-partitioned sort over ~corpus-size × avg-len keys). The equivalent
logical result — "which documents share a span ≥ min_span" — only needs
*alignment-free sampled gram equality*: hash every `anchor_gram`-char
window (stride 1) and keep windows whose hash ≡ 0 (mod anchor_mod).
Anchor positions are chosen by CONTENT, so two documents sharing any
span ≥ min_span share the same anchors regardless of offset. A shared
span of length L contains L - gram + 1 windows → expected
(L - gram + 1)/mod shared anchors; with gram=50, mod=16, L=200 that's
≈ 9.4, and requiring anchor_min_common=3 makes false positives (random
50-gram collisions) essentially impossible.

Physical plan: anchors were already computed in the signature pass
(hsearch_spark.functions.signatures — ONE text scan for MinHash +
anchors); here it's explode → candidates.run_pairs (repartition on the
anchor, then the shared bucket kernel, candidates.bucket_runs, with no
representatives: a run over anchor_df_max is dropped whole) →
groupBy(pair) count — two balanced shuffles on 64-bit keys. The
reference's run-length counting over the sorted suffix array (A4) is
exactly the kernel's equal-anchor run detection.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hsearch_spark.config import DedupConfig
from hsearch_spark.functions import hashing as H
from hsearch_spark.operators.candidates import run_pairs


def substring_edges(sigs: DataFrame, config: DedupConfig) -> DataFrame:
    """sigs(doc_id, anchors) -> edges(a, b, n_common_anchors ≥ min_common).

    Boilerplate control: an anchor present in more than `anchor_df_max`
    documents is a site-wide template span (header/footer/nav), not
    copied content — merging on it would glue a whole site into one
    cluster. The document-frequency cap drops those anchors BEFORE
    pairing, which is simultaneously the skew fix: the hottest anchor
    bucket is bounded by df_max, so the within-bucket self-join is
    bounded at C(df_max, 2) pairs. (The reference's analog is its hard
    hit cap, pcluster.cpp:115-116 — ours is semantic, not positional.)

    Physical plan: TWO exchanges (run_pairs' hash-repartition on the
    anchor; the pair-count groupBy) around ONE vectorized Arrow kernel,
    the bucket kernel every keyed channel shares (candidates.bucket_runs
    with r = 0): per task it sorts (anchor, doc_id), finds equal-anchor
    runs, drops runs over df_max, and emits each surviving run's
    all-pairs. The obvious declarative formulations pay ~25 µs per
    anchor GROUP and the anchor key space is almost all singleton
    groups, so at 400k docs / 34.5M anchor rows they burn 852
    executor-CPU-s where this kernel burns 85 (event-log task metrics,
    2026-08-18; output bit-identical, same row count and xxhash).

    Scale/skew notes:
    - the kernel accumulates its whole shuffle partition (16 B/row in
      numpy) before sorting — size spark.sql.shuffle.partitions so
      partitions fit executor memory, exactly like every sort;
    - a boilerplate anchor's run lands in one partition but is COUNTED
      and dropped vectorized (never expanded into pairs), so hot
      template anchors cost their row count, not C(df, 2); the ledger
      (candidates.dropped_pairs_metrics with r = 0) records them;
    - per-run pair expansion is bounded by C(df_max, 2) and runs are
      detected after an order-independent sort → deterministic under
      any partitioning / Arrow batch split.
    """
    anchors = sigs.select("doc_id", F.explode("anchors").alias("anchor"))
    pairs = run_pairs(anchors, "anchor", config.anchor_df_max)
    return (
        pairs.groupBy("a", "b")
        .agg(F.count("*").alias("n_common_anchors"))
        .where(F.col("n_common_anchors") >= config.anchor_min_common)
    )


def anchor_positions(
    docs: DataFrame, config: DedupConfig, max_positions: int = 4
) -> DataFrame:
    """(doc_id, text) -> (doc_id, anchor, pos): each content-defined
    anchor with up to `max_positions` earliest BYTE offsets in the UTF-8
    text (position order, deterministic).

    Same kernel as the signature pass (hashing._prefix_tables /
    _window_hashes, identical filter hash % anchor_mod == 0, identical
    int64 cast) so the emitted `anchor` values join exactly against
    sigs.anchors / substring_edges candidates. Kept OUT of the main
    signature schema on purpose: positions are only needed for the few
    pairs that survive the anchor-count gate, so the span-extension
    caller extracts them for that doc subset only (semi-join), never
    corpus-wide.

    Multiple positions per anchor matter for repeated web boilerplate:
    an anchor gram that also occurs BEFORE the shared span in one doc
    (a navigation phrase repeated pre-span) would, under first-only
    positions, seed the extension at non-corresponding occurrences and
    silently shrink or drop the pair. Keeping the first few occurrences
    per side lets the extension try every combination and pick the one
    that actually extends (anchor_span_edges).
    """
    gram = config.anchor_gram
    mod = np.uint64(config.anchor_mod)
    empty = {
        "doc_id": np.empty(0, dtype=np.int64),
        "anchor": np.empty(0, dtype=np.int64),
        "pos": np.empty(0, dtype=np.int32),
    }

    def compute(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            ids = batch.column(0).to_numpy(zero_copy_only=False)
            txt = batch.column(1)
            out_id, out_anchor, out_pos = [], [], []
            for i in range(len(txt)):
                data = np.frombuffer(
                    txt[i].as_py().encode("utf-8"), dtype=np.uint8
                )
                spad, inv = H._prefix_tables(data)
                a = H._window_hashes(spad, inv, gram)
                mask = a % mod == 0
                idx = np.flatnonzero(mask)
                if idx.size == 0:
                    continue
                vals = a[mask]
                # group by anchor value, keep the max_positions earliest
                # offsets of each: sort by (value, offset) and rank
                # within each value run — fully vectorized
                order = np.lexsort((idx, vals))
                sv, si = vals[order], idx[order]
                is_first = np.empty(sv.shape[0], dtype=bool)
                is_first[0] = True
                is_first[1:] = sv[1:] != sv[:-1]
                run_start = np.maximum.accumulate(
                    np.where(is_first, np.arange(sv.shape[0]), 0)
                )
                rank = np.arange(sv.shape[0]) - run_start
                keep = rank < max_positions
                out_id.append(
                    np.full(int(keep.sum()), ids[i], dtype=np.int64)
                )
                out_anchor.append(sv[keep].astype(np.int64))
                out_pos.append(si[keep].astype(np.int32))
            cols = (
                {
                    "doc_id": np.concatenate(out_id),
                    "anchor": np.concatenate(out_anchor),
                    "pos": np.concatenate(out_pos),
                }
                if out_id
                else empty
            )
            # explicit Arrow types on EVERY column: an empty python list
            # would otherwise infer null type for doc_id and break the
            # declared mapInArrow schema on empty batches
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(cols["doc_id"], type=pa.int64()),
                    pa.array(cols["anchor"], type=pa.int64()),
                    pa.array(cols["pos"], type=pa.int32()),
                ],
                names=["doc_id", "anchor", "pos"],
            )

    return docs.select(
        "doc_id", F.coalesce("text", F.lit("")).alias("text")
    ).mapInArrow(compute, "doc_id long, anchor long, pos int")


def anchor_span_edges(
    docs: DataFrame,
    config: DedupConfig | None = None,
    max_positions: int = 4,
    max_seeds: int = 24,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """V2 — seed match + UNGAPPED EXTENSION, closing the reference's
    two-phase span verify: hash_search seeds a hit, then extends the
    exact match outward until mismatch to report the full aligned span
    (hash_search.cpp:450-527 seed narrowing feeding the ungapped extend;
    SURVEY.md §2 V2). substring_edges answers "WHICH pairs share a long
    span"; this operator answers "WHERE and HOW LONG".

    Plan (all stages bounded by the candidate gate, never corpus-wide):
      1. candidate pairs   = substring_edges(sigs) — bounded pairing
      2. positions         = anchor_positions() over ONLY the docs that
                             appear in a pair (semi-join pruned); up to
                             `max_positions` occurrences per anchor side
      3. seeds per pair    = the first `max_seeds` (anchor, pos_a, pos_b)
                             combinations in (anchor, pos_a, pos_b) order
                             — bounded BEFORE the groupBy by a rank-limit
                             window (WindowGroupLimit: per-key state is
                             capped pre-shuffle, a boilerplate-heavy pair
                             never materializes an unbounded seed array)
      4. extension kernel  = mapInArrow: for each seed, first verify the
                             gram bytes actually match (64-bit rolling
                             hashes can collide; a collision would report
                             a span whose seed window differs — the guard
                             drops that seed instead), then numpy
                             byte-compare outward on both sides; left run
                             + gram + right run = maximal ungapped span.
                             The pair reports its BEST seed (max span,
                             first-in-order on ties — deterministic).

    Multiple seeds close the repeated-boilerplate failure mode: if the
    chosen anchor's gram also occurs before the shared span on one side
    (nav text repeated pre-span — common in web pages), the first-
    occurrence seed pairs non-corresponding offsets and the extension
    collapses. Trying every (pos_a, pos_b) combination of the earliest
    `max_positions` occurrences per side (per shared anchor, in anchor
    order) finds the corresponding pair whenever each side's true span
    occurrence is within its first `max_positions` occurrences of some
    shared anchor — with ~(L-gram)/mod shared anchors per span, the
    chance that EVERY one of them is repeated >max_positions times
    pre-span is negligible outside adversarial input.

    Emits (a, b, a_start, b_start, span_len) with span_len >=
    config.min_span; offsets are BYTE offsets into the UTF-8 text
    (exact-match extension is byte-exact, so byte space is the correct
    comparison space regardless of encoding).

    `sigs`: optional precomputed add_signature_columns(docs, config)
    frame — pass it when calling alongside the pipeline so the corpus
    is signatured once, not twice.
    """
    config = config or DedupConfig()
    if sigs is None:
        # standalone call: signature the corpus here. Pipeline callers
        # pass their already-checkpointed `sigs` stage so the corpus is
        # not rolling-hashed a second time (one Arrow scan per run).
        from hsearch_spark.functions.signatures import add_signature_columns

        sigs = add_signature_columns(docs, config)
    pairs = substring_edges(sigs, config).select("a", "b")
    pair_docs = (
        pairs.select(F.col("a").alias("doc_id"))
        .union(pairs.select(F.col("b").alias("doc_id")))
        .distinct()
    )
    subset = docs.join(pair_docs, "doc_id", "left_semi")
    pos = anchor_positions(subset, config, max_positions=max_positions)
    seed_rows = pairs.join(
        pos.select(
            F.col("doc_id").alias("a"),
            "anchor",
            F.col("pos").alias("pos_a"),
        ),
        "a",
    ).join(
        pos.select(
            F.col("doc_id").alias("b"),
            "anchor",
            F.col("pos").alias("pos_b"),
        ),
        ["b", "anchor"],
    )
    w = Window.partitionBy("a", "b").orderBy("anchor", "pos_a", "pos_b")
    seeded = (
        seed_rows.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= max_seeds)
        .groupBy("a", "b")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("anchor", "pos_a", "pos_b"))
            ).alias("seeds")
        )
    )
    texts = docs.select("doc_id", F.coalesce("text", F.lit("")).alias("text"))
    with_text = (
        seeded.join(
            texts.select(
                F.col("doc_id").alias("a"), F.col("text").alias("text_a")
            ),
            "a",
        )
        .join(
            texts.select(
                F.col("doc_id").alias("b"), F.col("text").alias("text_b")
            ),
            "b",
        )
        .select("a", "b", "seeds", "text_a", "text_b")
    )
    gram = config.anchor_gram
    min_span = config.min_span

    def extend(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        # per-pair loop over numpy byte compares: the input is the
        # candidate-pair table (already gated), not the corpus — the
        # vectorized slice compares dominate, same trade as align.py
        for batch in batches:
            d = batch.to_pydict()
            out = {"a": [], "b": [], "a_start": [], "b_start": [],
                   "span_len": []}
            for i in range(batch.num_rows):
                ta = np.frombuffer(
                    d["text_a"][i].encode("utf-8"), dtype=np.uint8
                )
                tb = np.frombuffer(
                    d["text_b"][i].encode("utf-8"), dtype=np.uint8
                )
                best = None  # (span, a_start, b_start)
                for s in d["seeds"][i]:
                    pa_, pb = s["pos_a"], s["pos_b"]
                    # hash-collision guard: the seed windows must be
                    # byte-identical before extension may claim an
                    # exact-match span through them
                    if not np.array_equal(
                        ta[pa_ : pa_ + gram], tb[pb : pb + gram]
                    ):
                        continue
                    m = min(pa_, pb)
                    lcmp = ta[pa_ - m : pa_] != tb[pb - m : pb]
                    bad = np.flatnonzero(lcmp)
                    left = m if bad.size == 0 else m - 1 - int(bad[-1])
                    m2 = min(ta.shape[0] - pa_, tb.shape[0] - pb) - gram
                    rcmp = (
                        ta[pa_ + gram : pa_ + gram + m2]
                        != tb[pb + gram : pb + gram + m2]
                    )
                    bad2 = np.flatnonzero(rcmp)
                    right = m2 if bad2.size == 0 else int(bad2[0])
                    span = left + gram + right
                    if best is None or span > best[0]:
                        best = (span, pa_ - left, pb - left)
                if best is not None and best[0] >= min_span:
                    out["a"].append(d["a"][i])
                    out["b"].append(d["b"][i])
                    out["a_start"].append(best[1])
                    out["b_start"].append(best[2])
                    out["span_len"].append(best[0])
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out["a"], type=pa.int64()),
                    pa.array(out["b"], type=pa.int64()),
                    pa.array(out["a_start"], type=pa.int32()),
                    pa.array(out["b_start"], type=pa.int32()),
                    pa.array(out["span_len"], type=pa.int32()),
                ],
                names=["a", "b", "a_start", "b_start", "span_len"],
            )

    return with_text.mapInArrow(
        extend, "a long, b long, a_start int, b_start int, span_len int"
    )


def seed_suffix_pairs(
    docs: DataFrame,
    seed_len: int = 16,
    suffix_len: int = 4,
    stride: int = 1,
    min_common: int = 2,
    df_max: int = 64,
) -> DataFrame:
    """J3 — the reference's seed RANGE join, re-planned as an equi-join
    on a WIDER key. hash_search's `ExtendSeq2Set` narrows each seed
    bucket with lower_bound/upper_bound over sorted compressed suffixes
    so only entries whose next 4 chars match the query's survive
    (hash_search.cpp:450-527; lower 471-474, upper 519-521). On Spark
    the sorted-bucket range scan is the wrong physical plan; the same
    logical result is a plain equi-join on the composite key
    (seed, next-suffix_len chars) — Catalyst's hash/sort-merge join on
    the wider key IS the narrowing (SURVEY.md §2 J3).

    Emits (a, b, n_common_seeds): document pairs sharing >= min_common
    strided seed windows WITH matching following suffix. Two docs that
    share a seed but diverge in the next suffix_len chars do NOT pair on
    that seed — exactly the pruning the reference's range trick buys.
    The anchor channel (substring_edges) subsumes this for dedup (a
    64-bit hash of a 50-gram is already maximally narrow); this
    operator exists for the probe/search-style workload where seeds are
    short and content-coarse. Same df-gate as the anchor channel
    (buckets with df > df_max are template text, dropped).

    stride=1 (default) extracts every window position — the reference
    indexes every suffix, which is what makes seed matching
    shift-invariant. stride > 1 cuts extraction cost by that factor but
    only matches docs whose shared content happens to agree in offset
    phase (mod stride) — fine for aligned/exact-dup probing, wrong for
    arbitrary-offset spans (the anchor channel's content-defined
    positions solve that without stride-1 cost).

    Physical plan (round 5): the same two-exchange run-kernel shape as
    substring_edges — the (seed, suffix) composite key is folded to ONE
    uniformly-mixed 64-bit xxhash64 (shipping 8 B keys instead of
    20-char strings through the exchange) and fed to
    candidates.run_pairs, which sorts, df-gates and pair-expands. The
    previous declarative plan (rank-limit window → collect_list →
    higher-order pair explode) paid ~25 µs of per-group JVM machinery
    per bucket over a key space that is almost all singletons — at stride-1 windows over every doc that
    is the dominant stage cost (the same 10× the anchor channel measured
    in round 4, BENCH.md). A 64-bit cross-key collision merely co-votes
    two unrelated windows toward a candidate pair that still needs
    min_common total votes — ≈ (#windows)²/2⁶⁵ expected extra votes,
    zero at sandbox scale (pinned by the brute-force oracle test)."""
    t = F.col("text")
    width = seed_len + suffix_len
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.length(t) - width + 1, F.lit(1)),
        F.lit(stride),
    )
    wins = (
        docs.select(
            "doc_id",
            F.explode(
                F.transform(starts, lambda s: t.substr(s, F.lit(width)))
            ).alias("w"),
        )
        .where(F.length("w") == width)
        .select("doc_id", F.xxhash64("w").alias("key"))
        .distinct()  # one vote per (doc, seed, suffix)
    )
    return (
        run_pairs(wins, "key", df_max)
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_common_seeds"))
        .where(F.col("n_common_seeds") >= min_common)
    )


def repeated_window_counts(
    docs: DataFrame, window: int, stride: int
) -> DataFrame:
    """Direct analog of the reference's sorted-suffix run-length counter
    (gen_kmers_from_suffix_array.cpp:51-68): count how many times each
    fixed-width text window repeats across the corpus. Diagnostic /
    boilerplate-mining operator; SQL-expressible (driver contract).

    Uses strided substring extraction (sequence + transform) — all
    built-ins. The groupBy replaces the global suffix sort; at scale the
    aggregation is partial (map-side) + final, shuffle key = window hash.
    """
    t = F.col("text")
    starts = F.sequence(
        F.lit(1),
        F.greatest(F.length(t) - window + 1, F.lit(1)),
        F.lit(stride),
    )
    wins = docs.select(
        F.explode(
            F.transform(starts, lambda s: F.substring(t, s, window))
        ).alias("win")
    ).where(F.length("win") == window)
    return wins.groupBy("win").agg(F.count("*").alias("n_occurrences"))
