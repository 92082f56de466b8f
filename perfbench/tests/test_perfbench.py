"""The benchmark's own parts: seeded generators, the count-sensitive
fingerprint, per-pass status-store attribution, and planted-truth
recall on a small instance of each workload.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import functions as F

from hsearch_spark.plans.pipeline import run_dedup
from hsearch_spark.streaming.incremental import IncrementalDedup
from perfbench import probes, workloads


def _digest(*frames: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for df in frames:
        h.update(repr(list(df.columns)).encode())
        for row in df.itertuples(index=False):
            h.update(repr(tuple(row)).encode())
    return h.hexdigest()


def _frames(name: str, seed: int) -> tuple[pd.DataFrame, ...]:
    if name == "stream_recrawl":
        inp = workloads.stream_recrawl(seed, n_base=200, batch_docs=50)
        return inp.base, inp.batch(0)[0], inp.batch(3)[0], inp.truth_pairs(4)
    inp = getattr(workloads, name)(seed, 300)
    return inp.pages, inp.truth_pairs


def test_generators_are_seeded():
    for name in ("web_mix", "dup_dense_store", "stream_recrawl"):
        a = _digest(*_frames(name, 11))
        assert a == _digest(*_frames(name, 11)), name
        assert a != _digest(*_frames(name, 12)), name


def test_dup_dense_shape():
    inp = workloads.dup_dense_store(3, 1600)
    fams = inp.pages["url"].str.extract(r"/(fam\d+|item)/")[0]
    assert (fams == "item").sum() == 200  # one family above the 64 cap
    sizes = fams[fams.str.startswith("fam", na=False)].value_counts()
    assert (sizes == 20).all()
    assert 0.75 <= sizes.sum() / len(inp.pages) <= 0.8
    assert inp.pages["url"].is_unique


def test_fingerprint_is_count_sensitive(spark):
    rows = [(i, i // 3) for i in range(30)]
    base = spark.createDataFrame(rows, "doc_id long, cluster_id long")
    dup1 = base.unionByName(base.limit(1))
    dup2 = dup1.unionByName(base.limit(1))
    fps = {probes.assignment_fingerprint(df) for df in (base, dup1, dup2)}
    assert len(fps) == 3
    # the XOR fold it replaces cannot see an even number of copies
    xor = F.expr("bit_xor(xxhash64(doc_id, cluster_id))")
    assert base.agg(xor).first()[0] == dup2.agg(xor).first()[0]


def test_web_mix_recall_and_per_pass_attribution(spark):
    inp = workloads.web_mix(5, 300)
    pages = spark.createDataFrame(inp.pages, schema=workloads.PAGES_SCHEMA).localCheckpoint()
    store = probes.StatusStore(spark)
    shuffles, fps = [], set()
    for _ in range(2):
        job0 = store.max_job_id()
        res = run_dedup(spark, pages)
        jobs = store.jobs_after(job0)
        shuffles.append(probes.shuffle_write_mb(jobs))
        fps.add(probes.assignment_fingerprint(res.clusters))
        labels = set(probes.rollup(jobs))
        assert {"docs", "sigs", "candidates", "edges", "clusters"} <= labels
    assert shuffles[0] == shuffles[1] > 0
    assert len(fps) == 1 and fps.pop()[0] == 300
    scores = probes.pair_scores(spark, res.clusters, inp.truth_pairs)
    assert scores["recall"] == 1.0 and scores["precision"] == 1.0


def test_dup_dense_store_recall(spark, tmp_path):
    inp = workloads.dup_dense_store(5, 400)
    pages = spark.createDataFrame(inp.pages, schema=workloads.PAGES_SCHEMA)
    res = run_dedup(spark, pages, work_dir=str(tmp_path / "store"))
    scores = probes.pair_scores(spark, res.clusters, inp.truth_pairs)
    assert scores["recall"] == 1.0 and scores["precision"] == 1.0
    assert res.dropped_pairs.agg(F.sum("dropped_pairs")).first()[0] > 0


def test_stream_recrawl_recall(spark, tmp_path):
    inp = workloads.stream_recrawl(5, n_base=200, batch_docs=50)
    inc = IncrementalDedup(spark, str(tmp_path / "state"), n_state_buckets=8)
    inc.process_batch(spark.createDataFrame(inp.base, schema=workloads.PAGES_SCHEMA), 0)
    for i in range(2):
        pdf, _ = inp.batch(i)
        inc.process_batch(spark.createDataFrame(pdf, schema=workloads.PAGES_SCHEMA), i + 1)
    inc.compact_state()
    clusters = inc.current_clusters()
    assert probes.assignment_fingerprint(clusters)[0] == len(inp.base) + 100
    scores = probes.pair_scores(spark, clusters, inp.truth_pairs(2))
    assert scores["recall"] == 1.0 and scores["precision"] == 1.0
