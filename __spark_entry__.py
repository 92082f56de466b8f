"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)`: flagship dedup pipeline over sf0.001 documents.
`queries()`: one entry per implemented operator from SURVEY.md §2 plus
the training-pipeline suite; each callable (spark, sf_dir) -> DataFrame.
`oracle_sql()`: DuckDB-dialect SQL for every SQL-expressible query.
Non-SQL-expressible entries (MinHash/SimHash/LSH/anchors — seeded hash
families) are rows-only by design and say so in their docstrings.

Column-name parity rule: every computed column is aliased identically
in the Spark code and the SQL. Doubles are rounded in BOTH engines
before output so the driver's value-hash is stable.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hsearch_spark.config import DedupConfig
from hsearch_spark.functions.signatures import add_signature_columns, explode_bands
from hsearch_spark.functions.text import canonicalize_text_col
from hsearch_spark.operators.candidates import add_simhash, candidate_pairs, simhash_candidates
from hsearch_spark.operators.components import assign_clusters, connected_components
from hsearch_spark.operators.dedup import (
    cosine_topk_blocked,
    embedding_near_dup_pairs,
)
from hsearch_spark.operators.substring import substring_edges
from hsearch_spark.operators.verify import verify_pairs

CFG = DedupConfig()


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet"))


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents with canonicalized text (the dedup input adapter)."""
    return _read(spark, sf_dir, "documents").select(
        "doc_id", canonicalize_text_col(F.col("text")).alias("text"), "lang"
    )


def _sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return add_signature_columns(_docs(spark, sf_dir), CFG)


# --------------------------------------------------------------------------
# flagship
# --------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full near-dup clustering of sf0.001 documents.

    pages→sigs→bands→candidates→verify→CC (SURVEY.md §3.1 lifecycle).
    """
    docs = _docs(spark, "/root/testdata/sf0.001")
    sigs = add_signature_columns(docs, CFG).localCheckpoint()
    bands = explode_bands(sigs, CFG)
    cands = candidate_pairs(bands, CFG)
    edges = verify_pairs(cands, sigs, docs, CFG).select("a", "b")
    sub = substring_edges(sigs, CFG).select("a", "b")
    fp_pairs = exact_dup_pairs_df(docs).select("a", "b")
    all_edges = edges.union(sub).union(fp_pairs)
    return assign_clusters(docs, connected_components(all_edges))


# --------------------------------------------------------------------------
# SQL-expressible operator queries (Spark side)
# --------------------------------------------------------------------------


def exact_dup_pairs_df(docs: DataFrame) -> DataFrame:
    # md5 here (and in q_exact_dup_groups below) is the DUCKDB-PARITY
    # oracle key — DuckDB has md5() but not xxhash64. Production code
    # uses functions/text.py:fingerprint_col (xxhash64 → 64-bit long
    # shuffle key). Two fingerprints by design; don't unify.
    keyed = docs.select(
        "doc_id", F.md5(F.col("text").cast("binary")).alias("fp")
    )
    mins = (
        keyed.groupBy("fp")
        .agg(F.min("doc_id").alias("a"), F.count("*").alias("n"))
        .where(F.col("n") > 1)
    )
    return (
        keyed.join(mins, "fp")
        .where(F.col("doc_id") != F.col("a"))
        .select("a", F.col("doc_id").alias("b"))
    )


def q_exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1/O6/S9: exact-duplicate groups by content fingerprint."""
    return (
        _docs(spark, sf_dir)
        .groupBy(F.md5(F.col("text").cast("binary")).alias("fingerprint"))
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
        .where(F.col("n_docs") > 1)
    )


def q_exact_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-pattern exact-dup pairs (group min ↔ members)."""
    return exact_dup_pairs_df(_docs(spark, sf_dir))


def q_exact_dup_truncfp_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-vacuous exact-dup evidence (O6/U1): dup groups on a TRUNCATED
    fingerprint (first 2 hex chars of md5 → 256 buckets). With >256 docs
    the pigeonhole guarantees >0 groups, so this row can never pass
    vacuously — unlike exact_dup_groups, which is legitimately empty on
    the driver corpus (no byte-identical docs after canonicalization)."""
    return (
        _docs(spark, sf_dir)
        .groupBy(
            F.substring(F.md5(F.col("text").cast("binary")), 1, 2).alias(
                "fp_prefix"
            )
        )
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
        .where(F.col("n_docs") > 1)
        .orderBy("fp_prefix")
    )


def q_tsv_scan_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 TSV scan + projection (ref NOGCOG.cpp:14-42): round-trip the
    nation table through a tab-separated file, read it back with an
    explicit schema, project 2 of 3 columns and filter. The oracle reads
    the parquet directly — proving the TSV scan is lossless."""
    import hashlib
    import tempfile

    n = _read(spark, sf_dir, "nation")
    out = os.path.join(
        tempfile.gettempdir(),
        "hsearch_tsv_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8],
    )
    n.select("n_nationkey", "n_name", "n_regionkey").coalesce(1).write.mode(
        "overwrite"
    ).option("sep", "\t").csv(out)
    tsv = spark.read.schema(
        "n_nationkey long, n_name string, n_regionkey long"
    ).option("sep", "\t").csv(out)
    return (
        tsv.where(F.col("n_regionkey") == 1)
        .select("n_nationkey", F.upper("n_name").alias("name_u"))
        .orderBy("n_nationkey")
    )


def q_json_field_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5-class semi-structured parse (ref STOCKHOLM.cpp:5-50 multi-record
    text parse): extract a typed field from the events.props JSON-string
    column with a schema'd from_json (JVM-side, no Python), aggregate per
    event_type."""
    e = _read(spark, sf_dir, "events")
    k = F.from_json("props", "k long")["k"]
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


def q_stockholm_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 multi-record semi-structured parse (ref STOCKHOLM.cpp:5-50):
    a STOCKHOLM-shaped record file (#=GF metadata / member lines / `//`
    terminators) synthesized deterministically from the supplier table
    (setup only), then parsed back by the distributed per-file parser
    and aggregated per record. Oracle aggregates supplier directly —
    proving the parse is lossless."""
    import hashlib
    import tempfile

    from hsearch_spark.sources.records import read_tagged_records

    sup = (
        _read(spark, sf_dir, "supplier")
        .select("s_suppkey", "s_name", "s_nationkey")
        .orderBy("s_nationkey", "s_suppkey")
        .collect()
    )
    lines, cur = [], None
    for r in sup:
        if r["s_nationkey"] != cur:
            if cur is not None:
                lines.append("//")
            cur = r["s_nationkey"]
            lines.append(f"#=GF ID nation_{cur}")
        lines.append(f"sup_{r['s_suppkey']} {r['s_name']}")
    lines.append("//")
    out_dir = os.path.join(
        tempfile.gettempdir(),
        "hsearch_sto_" + hashlib.md5(sf_dir.encode()).hexdigest()[:8],
    )
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "records.sto"), "w") as f:
        f.write("\n".join(lines) + "\n")
    parsed = read_tagged_records(spark, out_dir)
    return (
        parsed.groupBy("rec_id")
        .agg(F.count("*").alias("n_members"))
        .orderBy("rec_id")
    )


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: multi-aggregate scan (TPC-H Q1 shape)."""
    li = _read(spark, sf_dir, "lineitem").where(F.col("l_shipdate") <= "1998-09-01")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: filtered/conditional aggregate (sum where flag = 'R')."""
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_linestatus")
        .agg(
            F.round(
                F.sum(F.when(F.col("l_returnflag") == "R", F.col("l_quantity")).otherwise(F.lit(0.0))),
                2,
            ).alias("returned_qty"),
            F.count("*").alias("n_rows"),
        )
        .orderBy("l_linestatus")
    )


def q_min_by_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: keep-best-per-key (min acctbal supplier per nation)."""
    s = _read(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy(
        F.asc("s_acctbal"), F.asc("s_suppkey")
    )
    return (
        s.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "s_nationkey",
            F.col("s_suppkey").alias("cheapest_suppkey"),
            F.round("s_acctbal", 2).alias("min_acctbal"),
        )
        .orderBy("s_nationkey")
    )


def q_topk_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3: per-group top-k (top 3 orders by totalprice per customer)."""
    o = _read(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("totalprice"),
            "rnk",
        )
    )


def q_median_order_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10/O8: exact median (interpolated percentile)."""
    o = _read(spark, sf_dir, "orders")
    return o.agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("median_price"),
        F.count("*").alias("n_orders"),
    )


def q_event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 (gap-and-island): sessionize events per user, 30-min gap."""
    e = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ in the parquet; session tz is UTC so the cast
    # is exact and matches DuckDB's epoch_ms on the naive timestamp
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    prev = F.lag(ms).over(w)
    # first event of a user starts a session (prev is null)
    gap = F.when(prev.isNull() | (ms - prev > 1800000), 1).otherwise(0)
    flagged = e.withColumn("new_session", gap)
    return (
        flagged.groupBy("user_id")
        .agg(
            F.sum("new_session").alias("n_sessions"),
            F.count("*").alias("n_events"),
        )
        .orderBy("user_id")
    )


def q_recall_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: full-outer pred-vs-truth pair join → tp/fp/fn counts.

    pred = doc pairs blocked on (lang, n_chars); truth = identical text.
    """
    d = _read(spark, sf_dir, "documents").select("doc_id", "text", "lang", "n_chars")
    pred = (
        d.alias("x")
        .join(
            d.alias("y"),
            on=[
                F.col("x.lang") == F.col("y.lang"),
                F.col("x.n_chars") == F.col("y.n_chars"),
                F.col("x.doc_id") < F.col("y.doc_id"),
            ],
        )
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
    )
    truth = (
        d.alias("x")
        .join(
            d.alias("y"),
            on=[
                F.col("x.text") == F.col("y.text"),
                F.col("x.doc_id") < F.col("y.doc_id"),
            ],
        )
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
    )
    p = pred.withColumn("predicted", F.lit(1))
    t = truth.withColumn("actual", F.lit(1))
    conf = p.join(t, ["a", "b"], "full_outer")
    return conf.agg(
        F.sum(
            F.when(F.col("predicted").isNotNull() & F.col("actual").isNotNull(), 1).otherwise(0)
        ).alias("tp"),
        F.sum(
            F.when(F.col("predicted").isNotNull() & F.col("actual").isNull(), 1).otherwise(0)
        ).alias("fp"),
        F.sum(
            F.when(F.col("predicted").isNull() & F.col("actual").isNotNull(), 1).otherwise(0)
        ).alias("fn"),
    )


def q_recall_by_bin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall binned by similarity decile — the reference evaluator's
    per-distance accuracy table (`tp_map[int(dis*10)]++`,
    hclust/src/hclust/motif_both_points.cpp:154-162), which shows WHERE
    on the S-curve a channel loses pairs instead of one scalar recall.

    truth = embedding pairs at cosine >= 0.3 carrying their cosine;
    pred = the same pairs at the stricter >= 0.45 — so the bin table
    exposes exactly which cosine decile the stricter gate abandons."""
    from hsearch_spark.operators.evaluate import recall_by_bin

    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    norm = F.sqrt(F.aggregate(F.col("v"), F.lit(0.0), lambda acc, x: acc + x * x))
    unit = emb.select("vec_id", F.transform("v", lambda x: x / norm).alias("v"))
    e = unit.select(F.col("vec_id").alias("a"), F.col("v").alias("va"))
    f = unit.select(F.col("vec_id").alias("b"), F.col("v").alias("vb"))
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    truth = (
        e.crossJoin(f)
        .where(F.col("a") < F.col("b"))
        .select("a", "b", dot.alias("cos"))
        .where(F.col("cos") >= 0.3)
    )
    pred = truth.where(F.col("cos") >= 0.45).select("a", "b")
    return recall_by_bin(pred, truth, "cos", n_bins=10)


def q_distinct_tokens_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9/U1: distinct-token enumeration per language."""
    d = _docs(spark, sf_dir)
    return (
        d.select("lang", F.explode(F.split("text", " ")).alias("tok"))
        .where(F.col("tok") != "")
        .groupBy("lang")
        .agg(F.countDistinct("tok").alias("n_distinct_tokens"))
        .orderBy("lang")
    )


def q_repeated_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/A4/H8: repeated fixed-width text windows (suffix-array analog).

    Window 20 chars, stride 10; windows occurring >1 time corpus-wide.
    """
    d = _docs(spark, sf_dir)
    t = F.col("text")
    starts = F.sequence(F.lit(1), F.greatest(F.length(t) - 19, F.lit(1)), F.lit(10))
    wins = d.select(
        F.explode(F.transform(starts, lambda s: F.substring(t, s, 20))).alias("win")
    ).where(F.length("win") == 20)
    return (
        wins.groupBy("win")
        .agg(F.count("*").alias("n_occurrences"))
        .where(F.col("n_occurrences") > 1)
    )


def q_seed_suffix_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: seed range join as a wider equi-key — doc pairs sharing
    >= 2 strided (16-char seed, next-4-chars suffix) windows. The
    composite join key IS the reference's lower/upper_bound suffix
    narrowing (hash_search.cpp:450-527); see
    operators.substring.seed_suffix_pairs."""
    from hsearch_spark.operators.substring import seed_suffix_pairs

    return seed_suffix_pairs(
        _docs(spark, sf_dir),
        seed_len=16,
        suffix_len=4,
        stride=1,
        min_common=2,
        df_max=64,
    ).orderBy("a", "b")


def q_bucket_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H6/A8: bucket-size histogram (skew diagnostics shape)."""
    d = _docs(spark, sf_dir)
    sizes = d.groupBy(
        F.substring(F.md5(F.col("text").cast("binary")), 1, 2).alias("bucket")
    ).agg(F.count("*").alias("bucket_size"))
    return (
        sizes.groupBy("bucket_size")
        .agg(F.count("*").alias("n_buckets"))
        .orderBy("bucket_size")
    )


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors per vector, block-matmul plan
    (broadcast reference matrix + one numpy GEMM per Arrow batch)."""
    e = _read(spark, sf_dir, "embeddings")
    topk = cosine_topk_blocked(e, k=5, id_col="vec_id", vec_col="embedding")
    return topk.select(
        "a", "b", F.round("cos_sim", 4).alias("cos_sim"), "rnk"
    )


def q_ivf_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF inverted-list ANN (operators/ann.py) in full-probe mode
    (n_probe == n_lists), which is provably exact — so it shares the
    brute-force oracle. The approximate regime (n_probe < n_lists,
    recall@5 >= 0.8 at quarter-probe) is pytest-gated in
    tests/test_ann.py."""
    from hsearch_spark.operators.ann import ivf_topk

    e = _read(spark, sf_dir, "embeddings")
    topk = ivf_topk(e, k=5, n_lists=16, n_probe=16)
    return topk.select(
        "a", "b", F.round("cos_sim", 4).alias("cos_sim"), "rnk"
    )


def q_ivf_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF through the PERSISTED-INDEX path (operators/ann.py IvfIndex):
    build_ivf_index trains + assigns once, then .search() probes at
    query-time n_probe with NO retraining — the production shape (the
    reference's analog: kmer_search reads a precomputed centers file,
    kmer_search.cpp:215-227, and only ever probes). Same regime and
    defaults as ivf_cosine_topk_probe, so the result set is identical
    (pinned by tests/test_ann.py::test_ivf_index_build_once_probe_many);
    rows-only — approximate results have no SQL oracle."""
    from hsearch_spark.operators.ann import build_ivf_index

    e = _read(spark, sf_dir, "embeddings")
    idx = build_ivf_index(e, n_lists=64, seed=42)
    topk = idx.search(e, k=5, n_probe=8, prune_partitions=False)
    return topk.select(
        "a", "b", F.round("cos_sim", 4).alias("cos_sim"), "rnk"
    )


def q_ivf_repair_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index-maintenance surface (operators/ann.py): .add() a
    deterministic skewed batch onto a trained index (drift —
    over_cap flips), then repair_oversized splits ONLY the drifted
    lists in place. Returns the per-list occupancy ledger before and
    after (phase, list_id, n, over_cap). rows-only — seeded k-means
    has no SQL oracle; invariants (flag clears, untouched rows keep
    their assignment, full-probe exactness, determinism) are pinned by
    tests/test_ann.py::test_ivf_repair_oversized_in_place."""
    import numpy as np

    from hsearch_spark.operators.ann import (
        build_ivf_index,
        list_size_metrics,
        repair_oversized,
    )

    e = _read(spark, sf_dir, "embeddings")
    idx = build_ivf_index(e, n_lists=16, seed=42)
    # deterministic hot region: many near-identical vectors (seeded
    # numpy, driver-side) — the boilerplate-embedding drift mode
    d = len(e.select("embedding").first()[0])
    rng = np.random.default_rng(7)
    hot = rng.standard_normal(d)
    rows = [
        (
            1_000_000 + i,
            [float(x) for x in hot + rng.standard_normal(d) * 0.05],
        )
        for i in range(600)
    ]
    extra = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    drifted = idx.add(extra)
    fixed = repair_oversized(drifted)

    def ledger(index, phase):
        return list_size_metrics(index).select(
            F.lit(phase).alias("phase"), "list_id", "n", "over_cap"
        )

    return ledger(drifted, "drifted").unionByName(
        ledger(fixed, "repaired")
    ).orderBy("phase", "list_id")


def q_ivf_cosine_topk_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF in its actual operating regime (n_probe << n_lists): each
    query touches n_probe/n_lists of the table. rows-only — approximate
    results have no SQL oracle; exactness is covered by ivf_cosine_topk
    (full probe) and the recall floor by tests/test_ann.py."""
    from hsearch_spark.operators.ann import ivf_topk

    e = _read(spark, sf_dir, "embeddings")
    topk = ivf_topk(e, k=5, n_lists=64, n_probe=8)
    return topk.select(
        "a", "b", F.round("cos_sim", 4).alias("cos_sim"), "rnk"
    )


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs at cosine >= 0.4 (brute force, oracle-able).

    Threshold 0.4 (not the production 0.9) because the driver's synthetic
    embeddings top out near cosine 0.51 — 0.4 yields a non-trivial,
    oracle-verifiable pair set instead of a vacuous empty result."""
    emb = _read(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    norm = F.sqrt(F.aggregate(F.col("v"), F.lit(0.0), lambda acc, x: acc + x * x))
    unit = emb.select(
        "vec_id", F.transform("v", lambda x: x / norm).alias("v")
    )
    e = unit.select(F.col("vec_id").alias("a"), F.col("v").alias("va"))
    f = unit.select(F.col("vec_id").alias("b"), F.col("v").alias("vb"))
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    return (
        e.crossJoin(f)
        .where(F.col("a") < F.col("b"))
        .select("a", "b", dot.alias("cos"))
        .where(F.col("cos") >= 0.4)
        .select("a", "b", F.round("cos", 4).alias("cos_sim"))
    )


def q_token_stats_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-analysis: token/char budget stats per language."""
    d = _docs(spark, sf_dir)
    toks = F.size(F.split("text", " "))
    return (
        d.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(toks).alias("total_tokens"),
            F.round(F.avg(toks), 4).alias("avg_tokens"),
            F.round(F.avg(F.length("text")), 4).alias("avg_chars"),
        )
        .orderBy("lang")
    )


def q_lang_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language share of corpus (quality/composition report)."""
    d = _docs(spark, sf_dir)
    total = Window.partitionBy()
    return (
        d.groupBy("lang")
        .agg(F.count("*").alias("n_docs"))
        .withColumn(
            "share", F.round(F.col("n_docs") / F.sum("n_docs").over(total), 6)
        )
        .orderBy("lang")
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-n-gram language ID (text-analysis suite): argmax of
    per-language marker-trigram hit counts; 'und' when no marker fires.
    Deterministic scoring is what the oracle checks — the synthetic
    corpus shares one vocabulary across its lang labels, so label
    accuracy is not measurable here (documented in functions/text.py)."""
    from hsearch_spark.functions.text import lang_id_col

    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id", lang_id_col(F.col("text")).alias("pred_lang")
    ).orderBy("doc_id")


def q_char_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 residue-frequency analog: corpus-wide character frequency over
    canonical text (ref counts amino-acid residue frequencies; for
    webtext the 'residues' are characters). Map-side-combinable
    explode + groupBy — one shuffle on a tiny key space."""
    d = _docs(spark, sf_dir)
    return (
        d.select(F.explode(F.expr("regexp_extract_all(text, '.', 0)")).alias("ch"))
        .groupBy("ch")
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy("ch")
    )


def q_lang_char_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10: the MEME sink writes a per-cluster letter-probability matrix
    (centerDistanceSmapling.cpp:189-200+); the webtext analog is a
    per-group character-probability profile — here keyed by lang (the
    oracle-checkable grouping; per-dedup-cluster uses the same plan with
    cluster_id). Two map-side-combinable aggs, tiny key space."""
    d = _docs(spark, sf_dir)
    counts = (
        d.select(
            "lang",
            F.explode(F.expr("regexp_extract_all(text, '.', 0)")).alias("ch"),
        )
        .groupBy("lang", "ch")
        .agg(F.count("*").alias("n_occurrences"))
    )
    w = Window.partitionBy("lang")
    return (
        counts.withColumn(
            "prob",
            F.round(F.col("n_occurrences") / F.sum("n_occurrences").over(w), 6),
        )
        .orderBy("lang", "ch")
    )


def q_union_eval_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3: key-space union of two tables' category domains."""
    c = _read(spark, sf_dir, "customer").select(F.col("c_mktsegment").alias("k"))
    o = _read(spark, sf_dir, "orders").select(F.col("o_orderpriority").alias("k"))
    return c.union(o).distinct().orderBy("k")


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: element-wise centroid (mean vector) per label group,
    emitted as exploded (label, pos, centroid_val) rows — scalar columns
    only, because the driver's canonicalizer cannot sort/hash array
    cells (ref centroid accumulation: hclust.cpp:88-155)."""
    e = _read(spark, sf_dir, "embeddings")
    per_dim = (
        e.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.avg(F.col("v").cast("double")).alias("m"))
    )
    return per_dim.select(
        "label",
        F.col("pos").cast("long").alias("pos"),
        F.round("m", 4).alias("centroid_val"),
    ).orderBy("label", "pos")


def q_doc_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10/P11: derived per-doc views (flatMap over generated variants —
    the 6-frame-translation/reverse-complement analog for text):
    identity, reversed, vowel-masked; fingerprinted."""
    d = _docs(spark, sf_dir)
    variants = F.array(
        F.col("text"),
        F.reverse(F.col("text")),
        F.translate(F.col("text"), "aeiou", "*****"),
    )
    return d.select(
        "doc_id", F.posexplode(variants).alias("variant_id", "v")
    ).select(
        "doc_id",
        "variant_id",
        F.md5(F.col("v").cast("binary")).alias("variant_fp"),
    )


def q_salted_token_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase (salted partial → final) aggregation — result-identical
    to a direct groupBy (oracle proves it), physical plan shards hot keys."""
    from hsearch_spark.operators.skew import salted_agg

    d = _docs(spark, sf_dir).select(
        "lang", F.size(F.split("text", " ")).alias("n_toks")
    )
    out = salted_agg(
        d,
        ["lang"],
        {"n_docs": "count(*)", "total_tokens": "sum(n_toks)", "max_tokens": "max(n_toks)"},
        salt_factor=8,
    )
    return out.orderBy("lang")


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V1 exact-verify, oracle-checked: word-trigram Jaccard over all doc
    pairs (brute-force; the small-scale oracle for the LSH channels, ref
    motif_both_points_noLSH.cpp:36-56). Built-in array fns only."""
    d = _docs(spark, sf_dir)
    w = F.split("text", " ")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(w) - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at(w, i),
                F.element_at(w, i + 1),
                F.element_at(w, i + 2),
            ),
        )
    )
    g = d.where(F.size(w) >= 3).select("doc_id", grams.alias("grams"))
    x = g.select(F.col("doc_id").alias("a"), F.col("grams").alias("ga"))
    y = g.select(F.col("doc_id").alias("b"), F.col("grams").alias("gb"))
    jac = F.size(F.array_intersect("ga", "gb")).cast("double") / F.size(
        F.array_union("ga", "gb")
    )
    return (
        x.crossJoin(y)
        .where(F.col("a") < F.col("b"))
        .where(jac >= 0.5)
        .select("a", "b", F.round(jac, 4).alias("jaccard"))
    )


def q_edit_similarity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V3/V4 analog: exact edit-distance scoring of an already-blocked
    candidate pair set (pairs sharing (lang, n_chars)) — ranked near-dup
    review scores, not just a threshold gate (ref banded alignment,
    hash_search.cpp:661-948). The DP operates on Unicode code points,
    so it equals DuckDB's char-level levenshtein on ANY corpus, not
    just ASCII ones."""
    from hsearch_spark.operators.align import edit_similarity_pairs

    raw = _read(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    pairs = (
        raw.alias("x")
        .join(
            raw.alias("y"),
            on=[
                F.col("x.lang") == F.col("y.lang"),
                F.col("x.n_chars") == F.col("y.n_chars"),
                F.col("x.doc_id") < F.col("y.doc_id"),
            ],
        )
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
    )
    out = edit_similarity_pairs(pairs, _docs(spark, sf_dir))
    return out.select(
        "a", "b", "edit_distance", F.round("edit_sim", 4).alias("edit_sim")
    )


def q_nearest_center(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 probe join: per-label centroids (small) broadcast against every
    vector; min_by keeps the nearest (A5, kmer_search.cpp:113-120)."""
    e = _read(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    per_dim = (
        e.select("label", F.posexplode("v").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(F.avg("x").alias("m"))
    )
    centers = (
        per_dim.groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s["m"],
            ).alias("c")
        )
        .select(F.col("label").alias("c_label"), "c")
    )
    dist = F.sqrt(
        F.aggregate(
            F.zip_with("v", "c", lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    scored = e.crossJoin(F.broadcast(centers)).select(
        "vec_id", "c_label", dist.alias("d")
    )
    return (
        scored.groupBy("vec_id")
        .agg(
            F.min_by("c_label", "d").alias("nearest_label"),
            F.round(F.min("d"), 4).alias("dist"),
        )
        .orderBy("vec_id")
    )


def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-quality features (C4/Gopher-style heuristics) per document —
    training-pipeline quality scoring, all built-in Column fns."""
    from hsearch_spark.functions.text import quality_features

    qf = quality_features(_docs(spark, sf_dir))
    return qf.select(
        "doc_id",
        "n_chars_c",
        "n_tokens",
        F.round("mean_token_len", 4).alias("mean_token_len"),
        F.round("punct_ratio", 4).alias("punct_ratio"),
    ).orderBy("doc_id")


def q_interval_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V7 overlap pruning as gaps-and-islands: merge overlapping
    [shipdate, shipdate+quantity] spans per supplier via a running-max
    window (ref span merge, hash_search.cpp:1199-1273)."""
    li = _read(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        F.col("l_shipdate").alias("s"),
        F.date_add("l_shipdate", F.col("l_quantity").cast("int")).alias("e"),
    )
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = li.select(
        "l_suppkey",
        F.when(F.max("e").over(w) >= F.col("s"), 0).otherwise(1).alias(
            "new_island"
        ),
    )
    return (
        flagged.groupBy("l_suppkey")
        .agg(
            F.count("*").alias("n_intervals"),
            F.sum("new_island").alias("n_islands"),
        )
        .orderBy("l_suppkey")
    )


def q_label_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2+A3+S10: per-cluster (label) stats — size, radius (max distance
    to centroid), mean distance (ref cluster radius: hclust.cpp:216-222;
    per-cluster reporting: centerDistanceSmapling.cpp:189-200)."""
    e = _read(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    per_dim = (
        e.select("label", F.posexplode("v").alias("pos", "x"))
        .groupBy("label", "pos")
        .agg(F.avg("x").alias("m"))
    )
    centers = per_dim.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
        ).alias("c")
    )
    dist = F.sqrt(
        F.aggregate(
            F.zip_with("v", "c", lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return (
        e.join(F.broadcast(centers), "label")
        .select("label", dist.alias("d"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_members"),
            F.round(F.max("d"), 4).alias("radius"),
            F.round(F.avg("d"), 4).alias("mean_dist"),
        )
        .orderBy("label")
    )


def q_m8_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7: M8-style formatted hit export — fixed-precision text columns
    (ref PrintM8: hash_search.cpp:1288-1308, e-value formatting
    util.hpp:269-293) over the embedding near-dup pairs."""
    pairs = q_embedding_near_dup(spark, sf_dir)
    return pairs.select(
        F.concat_ws(
            "\t",
            F.col("a").cast("string"),
            F.col("b").cast("string"),
            F.format_string("%.4f", F.col("cos_sim")),
            F.format_string("%.1e", 1.0 - F.col("cos_sim")),
        ).alias("m8_line")
    ).orderBy("m8_line")


# --------------------------------------------------------------------------
# non-SQL-expressible (rows-only) — seeded LSH internals
# --------------------------------------------------------------------------


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing over documents-as-media (rows-only: sha1 +
    histogram features aren't DuckDB-expressible). The feature vector is
    emitted as a fixed-precision CSV string: the driver canonicalizer
    cannot sort/hash array cells."""
    from hsearch_spark.functions.multimodal import extract_media_features

    media = _docs(spark, sf_dir).select(
        "doc_id",
        F.lit("text").alias("media_type"),
        F.col("text").cast("binary").alias("payload"),
    )
    feats = extract_media_features(media)
    return feats.select(
        "doc_id",
        "media_type",
        "n_bytes",
        "content_sha1",
        F.concat_ws(
            ",", F.transform("feature", lambda x: F.format_string("%.6f", x))
        ).alias("feature_csv"),
    )


def q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing (rows-only)."""
    from hsearch_spark.functions.multimodal import sample_frames

    media = _docs(spark, sf_dir).select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )
    return sample_frames(media, n_frames=4, chunk=256)


def q_minhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MinHash dedup clustering of documents (rows-only: seeded LSH)."""
    docs = _docs(spark, sf_dir)
    sigs = add_signature_columns(docs, CFG).localCheckpoint()
    bands = explode_bands(sigs, CFG)
    cands = candidate_pairs(bands, CFG)
    edges = verify_pairs(cands, sigs, docs, CFG).select("a", "b")
    fp = exact_dup_pairs_df(docs).select("a", "b")
    return assign_clusters(docs, connected_components(edges.union(fp)))


def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash hamming-gated candidate pairs (rows-only: seeded hashing)."""
    return simhash_candidates(add_simhash(_docs(spark, sf_dir), CFG), CFG)


def q_band_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH band-join candidate pairs (rows-only: seeded MinHash)."""
    sigs = _sigs(spark, sf_dir)
    return candidate_pairs(explode_bands(sigs, CFG), CFG)


def q_substring_anchor_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-based substring-dup edges (rows-only: content-defined hash)."""
    return substring_edges(_sigs(spark, sf_dir), CFG)


def q_anchor_span_extension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V2: seed match + ungapped extension — maximal shared-span length
    and byte offsets for anchor-candidate pairs (rows-only: positions
    derive from content-defined 64-bit anchor hashes; the pytest oracle
    is the planted-span length/offset gate, tests/test_substring.py).
    Ref: hash_search.cpp:450-527 seed hit -> exact extend."""
    from hsearch_spark.operators.substring import anchor_span_edges

    return anchor_span_edges(_docs(spark, sf_dir), CFG).orderBy("a", "b")


def q_embedding_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH embedding near-dup (rows-only: seeded projections).

    16 tables × 4 sign bits (OR-amplified, ref hclust.cpp:261-289 L-loop)
    so recall at the τ=0.4 operating point is high; the brute-force twin
    `embedding_near_dup` is the oracle-checked exact baseline."""
    e = _read(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(
        e, threshold=0.4, n_planes=4, n_tables=16, seed=CFG.seed
    )


# --------------------------------------------------------------------------
# contract tables
# --------------------------------------------------------------------------


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "exact_dup_groups": q_exact_dup_groups,
        "exact_dup_pairs": q_exact_dup_pairs,
        "exact_dup_truncfp_groups": q_exact_dup_truncfp_groups,
        "tsv_scan_projection": q_tsv_scan_projection,
        "json_field_extract": q_json_field_extract,
        "stockholm_parse": q_stockholm_parse,
        "pricing_summary": q_pricing_summary,
        "conditional_agg": q_conditional_agg,
        "min_by_supplier": q_min_by_supplier,
        "topk_orders_per_customer": q_topk_orders_per_customer,
        "median_order_price": q_median_order_price,
        "event_sessions": q_event_sessions,
        "recall_confusion": q_recall_confusion,
        "recall_by_bin": q_recall_by_bin,
        "distinct_tokens_per_lang": q_distinct_tokens_per_lang,
        "repeated_windows": q_repeated_windows,
        "seed_suffix_pairs": q_seed_suffix_pairs,
        "bucket_size_histogram": q_bucket_size_histogram,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ivf_cosine_topk": q_ivf_cosine_topk,
        "embedding_near_dup": q_embedding_near_dup,
        "token_stats_per_lang": q_token_stats_per_lang,
        "lang_distribution": q_lang_distribution,
        "lang_id": q_lang_id,
        "char_frequency": q_char_frequency,
        "lang_char_profile": q_lang_char_profile,
        "union_eval_keys": q_union_eval_keys,
        "label_centroids": q_label_centroids,
        "doc_variants": q_doc_variants,
        "salted_token_totals": q_salted_token_totals,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "edit_similarity_pairs": q_edit_similarity_pairs,
        "nearest_center": q_nearest_center,
        "quality_scores": q_quality_scores,
        "interval_islands": q_interval_islands,
        "label_cluster_stats": q_label_cluster_stats,
        "m8_export": q_m8_export,
        # rows-only (seeded LSH internals; no SQL equivalent)
        "ivf_cosine_topk_probe": q_ivf_cosine_topk_probe,
        "ivf_index_probe": q_ivf_index_probe,
        "ivf_repair_occupancy": q_ivf_repair_occupancy,
        "media_features": q_media_features,
        "media_frames": q_media_frames,
        "minhash_clusters": q_minhash_clusters,
        "simhash_pairs": q_simhash_pairs,
        "band_candidates": q_band_candidates,
        "substring_anchor_edges": q_substring_anchor_edges,
        "anchor_span_extension": q_anchor_span_extension,
        "embedding_lsh_neardup": q_embedding_lsh_neardup,
    }


# canonicalized text expression shared by the oracles (must mirror
# hsearch_spark.functions.text.canonicalize_text_col exactly)
_CANON = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"


def _lang_id_oracle() -> str:
    """DuckDB mirror of functions.text.lang_id_col, generated from the
    same _LANG_MARKERS table so the two can never drift."""
    from hsearch_spark.functions.text import _LANG_MARKERS

    score_rows = []
    for lang, markers in _LANG_MARKERS.items():
        terms = " + ".join(
            f"(length(p) - length(replace(p, '{m}', ''))) / {float(len(m))}"
            for m in markers
        )
        score_rows.append(
            f"SELECT doc_id, '{lang}' AS lang, ({terms}) AS score FROM d"
        )
    union = "\n              UNION ALL\n              ".join(score_rows)
    return f"""
            WITH d AS (
              SELECT doc_id, ' ' || {_CANON} || ' ' AS p FROM documents
            ), s AS (
              {union}
            ), best AS (
              SELECT doc_id, lang, score,
                     row_number() OVER (PARTITION BY doc_id
                                        ORDER BY score DESC, lang DESC) AS rn
              FROM s
            )
            SELECT doc_id,
                   CASE WHEN score > 0 THEN lang ELSE 'und' END AS pred_lang
            FROM best WHERE rn = 1 ORDER BY doc_id
        """


def oracle_sql() -> dict[str, str]:
    return {
        "exact_dup_groups": f"""
            SELECT md5({_CANON}) AS fingerprint,
                   count(*) AS n_docs,
                   min(doc_id) AS keep_doc_id
            FROM documents
            GROUP BY 1 HAVING count(*) > 1
        """,
        "exact_dup_pairs": f"""
            WITH keyed AS (
              SELECT doc_id, md5({_CANON}) AS fp FROM documents
            ), mins AS (
              SELECT fp, min(doc_id) AS a, count(*) AS n
              FROM keyed GROUP BY fp HAVING count(*) > 1
            )
            SELECT m.a AS a, k.doc_id AS b
            FROM keyed k JOIN mins m USING (fp)
            WHERE k.doc_id <> m.a
        """,
        "exact_dup_truncfp_groups": f"""
            SELECT substr(md5({_CANON}), 1, 2) AS fp_prefix,
                   count(*) AS n_docs,
                   min(doc_id) AS keep_doc_id
            FROM documents
            GROUP BY 1 HAVING count(*) > 1
            ORDER BY fp_prefix
        """,
        "tsv_scan_projection": """
            SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
                   upper(n_name) AS name_u
            FROM nation WHERE n_regionkey = 1
            ORDER BY n_nationkey
        """,
        "stockholm_parse": """
            SELECT 'nation_' || CAST(s_nationkey AS VARCHAR) AS rec_id,
                   count(*) AS n_members
            FROM supplier GROUP BY s_nationkey ORDER BY rec_id
        """,
        "json_field_extract": """
            WITH parsed AS (
              SELECT event_type,
                     CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
              FROM events
            )
            SELECT event_type,
                   count(*) AS n_events,
                   CAST(sum(k) AS BIGINT) AS sum_k,
                   min(k) AS min_k,
                   max(k) AS max_k
            FROM parsed GROUP BY event_type ORDER BY event_type
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 4) AS avg_qty,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= DATE '1998-09-01'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "conditional_agg": """
            SELECT l_linestatus,
                   round(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity ELSE 0.0 END), 2)
                     AS returned_qty,
                   count(*) AS n_rows
            FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus
        """,
        "min_by_supplier": """
            SELECT s_nationkey,
                   cheapest_suppkey,
                   round(min_acctbal, 2) AS min_acctbal
            FROM (
              SELECT s_nationkey, s_suppkey AS cheapest_suppkey,
                     s_acctbal AS min_acctbal,
                     row_number() OVER (PARTITION BY s_nationkey
                                        ORDER BY s_acctbal ASC, s_suppkey ASC) AS rn
              FROM supplier
            ) WHERE rn = 1 ORDER BY s_nationkey
        """,
        "topk_orders_per_customer": """
            SELECT o_custkey, o_orderkey,
                   round(o_totalprice, 2) AS totalprice, rnk
            FROM (
              SELECT o_custkey, o_orderkey, o_totalprice,
                     row_number() OVER (PARTITION BY o_custkey
                                        ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
              FROM orders
            ) WHERE rnk <= 3
        """,
        "median_order_price": """
            SELECT round(CAST(quantile_cont(o_totalprice, 0.5) AS DOUBLE), 4)
                     AS median_price,
                   count(*) AS n_orders
            FROM orders
        """,
        "event_sessions": """
            WITH flagged AS (
              SELECT user_id,
                     CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000 THEN 1
                          WHEN lag(ts) OVER w IS NULL THEN 1
                          ELSE 0 END AS new_session
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            )
            SELECT user_id,
                   CAST(sum(new_session) AS BIGINT) AS n_sessions,
                   count(*) AS n_events
            FROM flagged GROUP BY user_id ORDER BY user_id
        """,
        "recall_confusion": """
            WITH pred AS (
              SELECT x.doc_id AS a, y.doc_id AS b
              FROM documents x JOIN documents y
                ON x.lang = y.lang AND x.n_chars = y.n_chars
               AND x.doc_id < y.doc_id
            ), truth AS (
              SELECT x.doc_id AS a, y.doc_id AS b
              FROM documents x JOIN documents y
                ON x.text = y.text AND x.doc_id < y.doc_id
            ), conf AS (
              SELECT coalesce(p.a, t.a) AS a,
                     p.a IS NOT NULL AS predicted,
                     t.a IS NOT NULL AS actual
              FROM pred p FULL OUTER JOIN truth t
                ON p.a = t.a AND p.b = t.b
            )
            SELECT CAST(sum(CASE WHEN predicted AND actual THEN 1 ELSE 0 END) AS BIGINT) AS tp,
                   CAST(sum(CASE WHEN predicted AND NOT actual THEN 1 ELSE 0 END) AS BIGINT) AS fp,
                   CAST(sum(CASE WHEN NOT predicted AND actual THEN 1 ELSE 0 END) AS BIGINT) AS fn
            FROM conf
        """,
        "recall_by_bin": """
            WITH pairs AS (
              SELECT x.vec_id AS a, y.vec_id AS b,
                     list_cosine_similarity(CAST(x.embedding AS DOUBLE[]),
                                            CAST(y.embedding AS DOUBLE[])) AS cos
              FROM embeddings x, embeddings y
              WHERE x.vec_id < y.vec_id
            ), truth AS (
              SELECT * FROM pairs WHERE cos >= 0.3
            ), binned AS (
              SELECT least(CAST(floor(cos * 10) AS INTEGER), 9) AS bin,
                     CASE WHEN cos >= 0.45 THEN 1 ELSE 0 END AS tp_flag
              FROM truth
            )
            SELECT bin,
                   bin / 10.0 AS bin_lo,
                   CAST(sum(tp_flag) AS BIGINT) AS tp,
                   CAST(sum(1 - tp_flag) AS BIGINT) AS fn,
                   CAST(sum(tp_flag) AS DOUBLE) /
                     CAST(sum(tp_flag) + sum(1 - tp_flag) AS DOUBLE) AS recall
            FROM binned GROUP BY bin ORDER BY bin
        """,
        "seed_suffix_pairs": f"""
            WITH canon AS (SELECT doc_id, {_CANON} AS t FROM documents),
            starts AS (
              SELECT doc_id, t,
                     unnest(range(1, greatest(length(t) - 19, 1) + 1, 1)) AS s
              FROM canon
            ),
            wins AS (
              SELECT DISTINCT doc_id,
                     substr(t, CAST(s AS INT), 16) AS seed,
                     substr(t, CAST(s AS INT) + 16, 4) AS suffix
              FROM starts
              WHERE length(substr(t, CAST(s AS INT), 20)) = 20
            ),
            df AS (
              SELECT seed, suffix, count(*) AS n_docs
              FROM wins GROUP BY seed, suffix
            ),
            kept AS (
              SELECT w.doc_id, w.seed, w.suffix
              FROM wins w JOIN df USING (seed, suffix)
              WHERE df.n_docs BETWEEN 2 AND 64
            )
            SELECT x.doc_id AS a, y.doc_id AS b,
                   CAST(count(*) AS BIGINT) AS n_common_seeds
            FROM kept x JOIN kept y USING (seed, suffix)
            WHERE x.doc_id < y.doc_id
            GROUP BY x.doc_id, y.doc_id
            HAVING count(*) >= 2
            ORDER BY a, b
        """,
        "distinct_tokens_per_lang": f"""
            SELECT lang, count(DISTINCT tok) AS n_distinct_tokens
            FROM (
              SELECT lang, unnest(string_split({_CANON}, ' ')) AS tok
              FROM documents
            ) WHERE tok <> ''
            GROUP BY lang ORDER BY lang
        """,
        "repeated_windows": f"""
            WITH canon AS (SELECT {_CANON} AS t FROM documents),
            starts AS (
              SELECT t, unnest(range(1, greatest(length(t) - 19, 1) + 1, 10)) AS s
              FROM canon
            ),
            wins AS (
              SELECT substr(t, CAST(s AS INT), 20) AS win FROM starts
            )
            SELECT win, count(*) AS n_occurrences
            FROM wins WHERE length(win) = 20
            GROUP BY win HAVING count(*) > 1
        """,
        "bucket_size_histogram": f"""
            WITH sizes AS (
              SELECT substr(md5({_CANON}), 1, 2) AS bucket,
                     count(*) AS bucket_size
              FROM documents GROUP BY 1
            )
            SELECT bucket_size, count(*) AS n_buckets
            FROM sizes GROUP BY bucket_size ORDER BY bucket_size
        """,
        "ann_cosine_topk": """
            WITH pairs AS (
              SELECT x.vec_id AS a, y.vec_id AS b,
                     list_cosine_similarity(CAST(x.embedding AS DOUBLE[]),
                                            CAST(y.embedding AS DOUBLE[])) AS cos
              FROM embeddings x, embeddings y
              WHERE x.vec_id <> y.vec_id
            ), ranked AS (
              SELECT a, b, cos,
                     row_number() OVER (PARTITION BY a
                                        ORDER BY cos DESC, b ASC) AS rnk
              FROM pairs
            )
            SELECT a, b, round(cos, 4) AS cos_sim, rnk
            FROM ranked WHERE rnk <= 5
        """,
        "ivf_cosine_topk": """
            WITH pairs AS (
              SELECT x.vec_id AS a, y.vec_id AS b,
                     list_cosine_similarity(CAST(x.embedding AS DOUBLE[]),
                                            CAST(y.embedding AS DOUBLE[])) AS cos
              FROM embeddings x, embeddings y
              WHERE x.vec_id <> y.vec_id
            ), ranked AS (
              SELECT a, b, cos,
                     row_number() OVER (PARTITION BY a
                                        ORDER BY cos DESC, b ASC) AS rnk
              FROM pairs
            )
            SELECT a, b, round(cos, 4) AS cos_sim, rnk
            FROM ranked WHERE rnk <= 5
        """,
        "embedding_near_dup": """
            SELECT x.vec_id AS a, y.vec_id AS b,
                   round(list_cosine_similarity(CAST(x.embedding AS DOUBLE[]),
                                                CAST(y.embedding AS DOUBLE[])), 4)
                     AS cos_sim
            FROM embeddings x, embeddings y
            WHERE x.vec_id < y.vec_id
              AND list_cosine_similarity(CAST(x.embedding AS DOUBLE[]),
                                         CAST(y.embedding AS DOUBLE[])) >= 0.4
        """,
        "token_stats_per_lang": f"""
            WITH d AS (SELECT lang, {_CANON} AS t FROM documents)
            SELECT lang, count(*) AS n_docs,
                   CAST(sum(length(string_split(t, ' '))) AS BIGINT) AS total_tokens,
                   round(avg(length(string_split(t, ' '))), 4) AS avg_tokens,
                   round(avg(length(t)), 4) AS avg_chars
            FROM d GROUP BY lang ORDER BY lang
        """,
        "lang_id": _lang_id_oracle(),
        "char_frequency": f"""
            SELECT ch, count(*) AS n_occurrences
            FROM (
              SELECT unnest(regexp_extract_all({_CANON}, '.')) AS ch
              FROM documents
            )
            GROUP BY ch ORDER BY ch
        """,
        "lang_char_profile": f"""
            SELECT lang, ch, count(*) AS n_occurrences,
                   round(
                     count(*) / CAST(
                       sum(count(*)) OVER (PARTITION BY lang) AS DOUBLE
                     ), 6
                   ) AS prob
            FROM (
              SELECT lang, unnest(regexp_extract_all({_CANON}, '.')) AS ch
              FROM documents
            )
            GROUP BY lang, ch ORDER BY lang, ch
        """,
        "lang_distribution": """
            SELECT lang, count(*) AS n_docs,
                   round(count(*) / CAST(sum(count(*)) OVER () AS DOUBLE), 6)
                     AS share
            FROM documents GROUP BY lang ORDER BY lang
        """,
        "union_eval_keys": """
            SELECT DISTINCT k FROM (
              SELECT c_mktsegment AS k FROM customer
              UNION ALL
              SELECT o_orderpriority AS k FROM orders
            ) ORDER BY k
        """,
        "label_centroids": """
            WITH per_dim AS (
              SELECT label,
                     generate_subscripts(embedding, 1) - 1 AS pos,
                     unnest(CAST(embedding AS DOUBLE[])) AS v
              FROM embeddings
            )
            SELECT label, pos, round(avg(v), 4) AS centroid_val
            FROM per_dim GROUP BY label, pos ORDER BY label, pos
        """,
        "doc_variants": f"""
            WITH d AS (SELECT doc_id, {_CANON} AS t FROM documents),
            v AS (
              SELECT doc_id, 0 AS variant_id, t AS v FROM d
              UNION ALL
              SELECT doc_id, 1, reverse(t) FROM d
              UNION ALL
              SELECT doc_id, 2, translate(t, 'aeiou', '*****') FROM d
            )
            SELECT doc_id, variant_id, md5(v) AS variant_fp FROM v
        """,
        "salted_token_totals": f"""
            WITH d AS (
              SELECT lang, length(string_split({_CANON}, ' ')) AS n_toks
              FROM documents
            )
            SELECT lang, count(*) AS n_docs,
                   CAST(sum(n_toks) AS BIGINT) AS total_tokens,
                   max(n_toks) AS max_tokens
            FROM d GROUP BY lang ORDER BY lang
        """,
        "ngram_jaccard_pairs": f"""
            WITH d AS (
              SELECT doc_id, string_split({_CANON}, ' ') AS w FROM documents
            ), g AS (
              SELECT doc_id,
                     list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                    FOR i IN generate_series(1, len(w) - 2)])
                       AS grams
              FROM d WHERE len(w) >= 3
            )
            SELECT x.doc_id AS a, y.doc_id AS b,
                   round(CAST(len(list_intersect(x.grams, y.grams)) AS DOUBLE)
                         / len(list_distinct(list_concat(x.grams, y.grams))), 4)
                     AS jaccard
            FROM g x JOIN g y ON x.doc_id < y.doc_id
            WHERE CAST(len(list_intersect(x.grams, y.grams)) AS DOUBLE)
                  / len(list_distinct(list_concat(x.grams, y.grams))) >= 0.5
        """,
        "edit_similarity_pairs": f"""
            WITH d AS (
              SELECT doc_id, lang, n_chars, {_CANON} AS t FROM documents
            ), pred AS (
              SELECT x.doc_id AS a, y.doc_id AS b, x.t AS tx, y.t AS ty
              FROM d x JOIN d y
                ON x.lang = y.lang AND x.n_chars = y.n_chars
               AND x.doc_id < y.doc_id
            )
            SELECT a, b,
                   CAST(levenshtein(tx, ty) AS BIGINT) AS edit_distance,
                   round(1.0 - levenshtein(tx, ty)
                         / CAST(greatest(length(tx), length(ty)) AS DOUBLE),
                         4) AS edit_sim
            FROM pred
        """,
        "nearest_center": """
            WITH e AS (
              SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings
            ), dims AS (
              SELECT label, i, avg(v[i]) AS m
              FROM e CROSS JOIN (
                SELECT unnest(range(1,
                  (SELECT len(embedding) FROM embeddings LIMIT 1) + 1)) AS i
              )
              GROUP BY label, i
            ), centers AS (
              SELECT label, list(m ORDER BY i) AS c FROM dims GROUP BY label
            )
            SELECT e.vec_id,
                   arg_min(c.label, list_distance(e.v, c.c)) AS nearest_label,
                   round(min(list_distance(e.v, c.c)), 4) AS dist
            FROM e CROSS JOIN centers c
            GROUP BY e.vec_id
            ORDER BY e.vec_id
        """,
        "quality_scores": f"""
            WITH d AS (SELECT doc_id, {_CANON} AS t FROM documents),
            tok AS (
              SELECT doc_id, t,
                     CASE WHEN length(t) = 0 THEN 0
                          ELSE len(string_split(t, ' ')) END AS n_tokens
              FROM d
            )
            SELECT doc_id,
                   length(t) AS n_chars_c,
                   n_tokens,
                   round(CAST(length(regexp_replace(t, '\\s+', '', 'g')) AS DOUBLE)
                         / nullif(n_tokens, 0), 4) AS mean_token_len,
                   CASE WHEN length(t) = 0 THEN 0.0
                        ELSE round(CAST(length(t)
                               - length(regexp_replace(t, '[^\\w\\s]', '', 'g'))
                               AS DOUBLE) / length(t), 4) END AS punct_ratio
            FROM tok ORDER BY doc_id
        """,
        "label_cluster_stats": """
            WITH e AS (
              SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings
            ), dims AS (
              SELECT label, i, avg(v[i]) AS m
              FROM e CROSS JOIN (
                SELECT unnest(range(1,
                  (SELECT len(embedding) FROM embeddings LIMIT 1) + 1)) AS i
              )
              GROUP BY label, i
            ), centers AS (
              SELECT label, list(m ORDER BY i) AS c FROM dims GROUP BY label
            )
            SELECT e.label, count(*) AS n_members,
                   round(max(list_distance(e.v, c.c)), 4) AS radius,
                   round(avg(list_distance(e.v, c.c)), 4) AS mean_dist
            FROM e JOIN centers c USING (label)
            GROUP BY e.label ORDER BY e.label
        """,
        "m8_export": """
            SELECT x.vec_id || chr(9) || y.vec_id || chr(9)
                   || printf('%.4f', round(list_cosine_similarity(
                        CAST(x.embedding AS DOUBLE[]),
                        CAST(y.embedding AS DOUBLE[])), 4)) || chr(9)
                   || printf('%.1e', 1.0 - round(list_cosine_similarity(
                        CAST(x.embedding AS DOUBLE[]),
                        CAST(y.embedding AS DOUBLE[])), 4))
                     AS m8_line
            FROM embeddings x, embeddings y
            WHERE x.vec_id < y.vec_id
              AND list_cosine_similarity(CAST(x.embedding AS DOUBLE[]),
                                         CAST(y.embedding AS DOUBLE[])) >= 0.4
            ORDER BY m8_line
        """,
        "interval_islands": """
            WITH iv AS (
              SELECT l_suppkey, l_shipdate AS s,
                     l_shipdate + to_days(CAST(l_quantity AS INT)) AS e
              FROM lineitem
            ), flagged AS (
              SELECT l_suppkey,
                     CASE WHEN max(e) OVER (
                            PARTITION BY l_suppkey ORDER BY s, e
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                          ) >= s
                          THEN 0 ELSE 1 END AS new_island
              FROM iv
            )
            SELECT l_suppkey, count(*) AS n_intervals,
                   CAST(sum(new_island) AS BIGINT) AS n_islands
            FROM flagged GROUP BY l_suppkey ORDER BY l_suppkey
        """,
    }
