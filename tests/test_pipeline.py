"""End-to-end pipeline: recall/precision gate vs planted truth (the
north-rule correctness criterion), cluster-assignment determinism,
checkpoint resume.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from hsearch_spark.config import DedupConfig
from hsearch_spark.operators.components import connected_components
from hsearch_spark.operators.evaluate import cluster_all_pairs, recall_metrics
from hsearch_spark.plans.pipeline import run_dedup
from hsearch_spark.sources.io import StageStore
from hsearch_spark.sources.pages import pages_dataframe


@pytest.fixture(scope="module")
def pipeline_result(spark):
    pages, fx = pages_dataframe(spark, n_docs=300, seed=42)
    res = run_dedup(spark, pages)
    return res, fx


def _truth_pair_ids(spark, res, fx):
    url_map = res.docs.select("doc_id", "url")
    tp = spark.createDataFrame(fx.truth_pairs)
    return (
        tp.join(
            url_map.withColumnRenamed("url", "a_url").withColumnRenamed("doc_id", "a"),
            "a_url",
        )
        .join(
            url_map.withColumnRenamed("url", "b_url").withColumnRenamed("doc_id", "b"),
            "b_url",
        )
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
    )


def test_dup_pair_recall_gate(spark, pipeline_result):
    """North rule: dup-pair recall >= 0.99 at the pinned config."""
    res, fx = pipeline_result
    truth = _truth_pair_ids(spark, res, fx)
    m = recall_metrics(cluster_all_pairs(res.clusters), truth)
    assert m["recall"] >= 0.99, m
    assert m["precision"] >= 0.99, m


def test_cluster_assignments_match_planted_truth(spark, pipeline_result):
    """Exact cluster-assignment match: predicted grouping == planted
    families (canonical labels compared via co-membership)."""
    res, fx = pipeline_result
    pred = {
        r["doc_id"]: r["cluster_id"] for r in res.clusters.collect()
    }
    urls = {r["doc_id"]: r["url"] for r in res.docs.collect()}
    truth = dict(
        zip(fx.truth_clusters["url"], fx.truth_clusters["cluster_url"])
    )
    # group docs by predicted cluster; every truth family must be exactly
    # one predicted cluster (and contain no outsiders)
    from collections import defaultdict

    by_pred = defaultdict(set)
    for d, c in pred.items():
        by_pred[c].add(urls[d])
    by_truth = defaultdict(set)
    for u, c in truth.items():
        by_truth[c].add(u)
    for fam in by_truth.values():
        matches = [g for g in by_pred.values() if fam & g]
        assert len(matches) == 1 and matches[0] == fam, fam


def test_pipeline_deterministic_across_runs(spark):
    pages, _ = pages_dataframe(spark, n_docs=150, seed=7)
    r1 = run_dedup(spark, pages)
    r2 = run_dedup(spark, pages.repartition(13))
    c1 = {r["doc_id"]: r["cluster_id"] for r in r1.clusters.collect()}
    c2 = {r["doc_id"]: r["cluster_id"] for r in r2.clusters.collect()}
    assert c1 == c2


def test_checkpoint_resume(spark, tmp_path):
    work = str(tmp_path / "work")
    pages, _ = pages_dataframe(spark, n_docs=120, seed=3)
    r1 = run_dedup(spark, pages, work_dir=work)
    c1 = {r["doc_id"]: r["cluster_id"] for r in r1.clusters.collect()}
    # wipe the final stages → resume recomputes only those
    cfg_hash = DedupConfig().config_hash()
    for stage in ("edges", "clusters"):
        shutil.rmtree(os.path.join(work, cfg_hash, stage))
    r2 = run_dedup(spark, pages, work_dir=work)
    assert r2.metrics["stages"]["sigs"].get("resumed") is True
    assert "resumed" not in r2.metrics["stages"]["edges"]
    # one stage per pipeline phase: the edge channels are fused into
    # `edges`, and CC at this size writes no `cc/` stage
    assert set(os.listdir(os.path.join(work, cfg_hash))) == {
        "docs", "sigs", "candidates", "edges", "clusters", "dropped_pairs",
    }
    c2 = {r["doc_id"]: r["cluster_id"] for r in r2.clusters.collect()}
    assert c1 == c2
    # lineage sidecars carry per-file row counts
    lineage = json.load(
        open(os.path.join(work, cfg_hash, "clusters", "_LINEAGE.json"))
    )
    assert lineage["rows"] == len(c1)
    assert sum(lineage["files"].values()) == len(c1)


def test_changed_input_invalidates_checkpoints(spark, tmp_path):
    """Same config + same work_dir + DIFFERENT input must recompute,
    never read back the first input's stages (the sidecar records an
    input fingerprint alongside the config hash)."""
    work = str(tmp_path / "work")
    p1, _ = pages_dataframe(spark, n_docs=120, seed=3)
    run_dedup(spark, p1, work_dir=work)
    p2, _ = pages_dataframe(spark, n_docs=90, seed=31)
    r2 = run_dedup(spark, p2, work_dir=work)
    assert "resumed" not in r2.metrics["stages"]["docs"]
    assert r2.clusters.count() == 90
    # fresh reference run: the reused work_dir changed nothing
    ref = run_dedup(spark, p2)
    assert {
        (r["doc_id"], r["cluster_id"]) for r in r2.clusters.collect()
    } == {(r["doc_id"], r["cluster_id"]) for r in ref.clusters.collect()}
    # and the SAME input still resumes (fingerprint is order-insensitive)
    r3 = run_dedup(spark, p2.repartition(7), work_dir=work)
    assert r3.metrics["stages"]["docs"].get("resumed") is True


def test_mid_cc_crash_resume(spark, tmp_path):
    """A store-backed run at this size takes the driver union-find and
    writes no CC stage (its input, the edges stage, is already durable).
    The durable star loop, forced with driver_max_edges=0, must survive
    a crash: with the LAST completed iterations wiped, a re-run resumes
    the earlier ones and converges to the same assignments — the
    durable-iteration guarantee localCheckpoint cannot give."""
    work = str(tmp_path / "work")
    pages, _ = pages_dataframe(spark, n_docs=120, seed=3)
    r1 = run_dedup(spark, pages, work_dir=work)
    c1 = {r["doc_id"]: r["cluster_id"] for r in r1.clusters.collect()}
    cfg_hash = DedupConfig().config_hash()
    assert not os.path.exists(os.path.join(work, cfg_hash, "cc"))

    def loop_labels():
        store = StageStore(spark, work, "loop")
        cc = connected_components(r1.edges, store=store, driver_max_edges=0)
        return {r["doc_id"]: r["cluster_id"] for r in cc.collect()}, store

    loop_labels()
    cc_dir = os.path.join(work, "loop", "cc")
    iters = sorted(os.listdir(cc_dir))
    assert len(iters) >= 2, "CC should have persisted >= 2 iterations"
    # crash state: the last CC iteration(s) missing
    for it in iters[len(iters) // 2 :]:
        shutil.rmtree(os.path.join(cc_dir, it))
    labels, store = loop_labels()
    # CC labels the docs on an edge; every other doc is a singleton
    assert labels == {d: c1[d] for d in labels}
    assert all(c1[d] == d for d in c1.keys() - labels.keys())
    # the surviving early iterations were read back, not recomputed
    assert store.metrics[f"cc/{iters[0]}"].get("resumed") is True
    # and every iteration is durable again after the re-run
    assert sorted(os.listdir(cc_dir)) == iters


def test_edges_carry_method_and_threshold(spark, pipeline_result):
    res, _ = pipeline_result
    rows = res.edges.collect()
    assert rows
    for r in rows:
        assert r["method"] in {"exact", "minhash", "substring"}
        if r["method"] in {"exact", "minhash"}:
            assert r["jaccard"] >= DedupConfig().jaccard_threshold


def test_store_and_in_memory_runs_equivalent(spark, tmp_path):
    """A store-backed run (parquet stages) and an in-memory run
    (localCheckpoint stages) differ only in where stages are kept —
    edges and cluster assignments must be identical."""
    pages, _ = pages_dataframe(spark, n_docs=250, seed=11)
    mem = run_dedup(spark, pages)
    stored = run_dedup(spark, pages, work_dir=str(tmp_path / "wd"))

    def edge_set(res):
        return {
            (r["a"], r["b"], r["method"], r["jaccard"])
            for r in res.edges.collect()
        }

    assert edge_set(mem) == edge_set(stored)
    cm = {r["doc_id"]: r["cluster_id"] for r in mem.clusters.collect()}
    cs = {r["doc_id"]: r["cluster_id"] for r in stored.clusters.collect()}
    assert cm == cs


def test_dropped_pairs_ledger_emitted(spark, tmp_path):
    """The star-R hot-bucket policy's not-emitted pairs are an emitted,
    auditable ledger on the result — per hot bucket, the exact count of
    all-pairs candidates the bounded pairing skipped (no silent
    truncation). Forcing a tiny all-pairs cap over a boilerplate-heavy
    fixture must yield hot buckets, and each ledger row must match the
    closed-form count C(n,2) - (R*n - R(R+1)/2)."""
    cfg = DedupConfig(max_bucket_all_pairs=3, star_representatives=2)
    pages, _ = pages_dataframe(spark, n_docs=120, seed=13)
    res = run_dedup(spark, pages, config=cfg, work_dir=str(tmp_path / "w"))
    assert res.dropped_pairs is not None
    # the substring channel's df-gate rows have their own closed form
    # (test_substring_df_gate_drops_in_ledger)
    bands = F.col("channel") == "minhash_bands"
    rows = res.dropped_pairs.where(bands).collect()
    assert rows, "tiny cap over dup families must produce hot buckets"
    r = cfg.star_representatives
    for row in rows:
        n = row["bucket_size"]
        assert n > cfg.max_bucket_all_pairs
        want = n * (n - 1) // 2 - (r * n - r * (r + 1) // 2)
        assert row["dropped_pairs"] == want
    # checkpointed as a stage: row count is in the stage metrics
    assert "dropped_pairs" in res.metrics["stages"]
    # and the default (no work_dir) path still carries the lazy ledger
    res2 = run_dedup(spark, pages, config=cfg)
    assert res2.dropped_pairs is not None
    assert res2.dropped_pairs.where(bands).count() == len(rows)


def test_substring_df_gate_drops_in_ledger(spark):
    """The substring channel's df-gate is a SEMANTIC drop (template
    text), but SURVEY.md §4's 'logged, not silent' covers it too: a
    planted boilerplate anchor (df > anchor_df_max) must appear in the
    dropped-pairs ledger with the full C(n,2) it suppressed — the run
    kernel emits nothing for a gated anchor, unlike the band channel's
    star-R partial emission."""
    from hsearch_spark.sources.pages import pages_dataframe as _pd

    cfg = DedupConfig(anchor_df_max=3)
    boiler = (
        "site wide navigation header repeated verbatim on every page " * 5
    )
    pages, _ = _pd(spark, n_docs=40, seed=17)
    docs = pages.select(
        "url", "warc_ts", "html",
        F.concat(F.lit(boiler), F.col("text")).alias("text"),
        "lang",
    )
    res = run_dedup(spark, docs, config=cfg)
    rows = res.dropped_pairs.where(
        F.col("channel") == "substring_anchors"
    ).collect()
    assert rows, "a df=40 boilerplate anchor must be ledgered"
    for row in rows:
        n = row["bucket_size"]
        assert n > cfg.anchor_df_max
        assert row["dropped_pairs"] == n * (n - 1) // 2
    # the boilerplate prefix is on all 40 docs → at least one anchor
    # with bucket_size == 40 (the planted template span carries several)
    assert any(row["bucket_size"] == 40 for row in rows)
