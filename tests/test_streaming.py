"""Incremental dedup: batch-equivalence (streamed result == one-shot
batch result) and a real Structured Streaming query over a file source.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from hsearch_spark.operators.components import assign_clusters, connected_components
from hsearch_spark.plans.pipeline import run_dedup
from hsearch_spark.sources.pages import generate_pages
from hsearch_spark.streaming.incremental import IncrementalDedup

SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def _halves(spark, n=200, seed=5):
    fx = generate_pages(n, seed)
    pdf = fx.pdf
    h1 = spark.createDataFrame(pdf.iloc[: n // 2], schema=SCHEMA)
    h2 = spark.createDataFrame(pdf.iloc[n // 2 :], schema=SCHEMA)
    full = spark.createDataFrame(pdf, schema=SCHEMA)
    return h1, h2, full


def _members(inc):
    """The doc-id sets of the current clusters."""
    members = {}
    for r in inc.current_clusters().collect():
        members.setdefault(r["cluster_id"], set()).add(r["doc_id"])
    return list(members.values())


def test_incremental_equals_batch(spark, tmp_path):
    h1, h2, full = _halves(spark)
    inc = IncrementalDedup(spark, str(tmp_path / "state"))
    inc.process_batch(h1, 0)
    inc.process_batch(h2, 1)
    streamed = {
        r["doc_id"]: r["cluster_id"] for r in inc.current_clusters().collect()
    }
    # batch reference: the full pipeline's clusters over its exact and
    # minhash edges only (the incremental path indexes no substring
    # anchors, by design). build_edges keeps the exact/minhash evidence
    # of every pair it has, so dropping the substring-method rows leaves
    # exactly the graph a run without that channel would build.
    batch = run_dedup(spark, full)
    expected = {
        r["doc_id"]: r["cluster_id"]
        for r in assign_clusters(
            batch.docs,
            connected_components(batch.edges.where(F.col("method") != "substring")),
        ).collect()
    }
    assert streamed == expected


def test_batch_retry_idempotent(spark, tmp_path):
    h1, h2, _ = _halves(spark, n=100, seed=9)
    inc = IncrementalDedup(spark, str(tmp_path / "state"))
    inc.process_batch(h1, 0)
    c1 = sorted(
        (r["doc_id"], r["cluster_id"]) for r in inc.current_clusters().collect()
    )
    inc.process_batch(h1, 0)  # simulated micro-batch retry
    c2 = sorted(
        (r["doc_id"], r["cluster_id"]) for r in inc.current_clusters().collect()
    )
    assert c1 == c2


def test_bucketed_state_layout_still_loads(spark, tmp_path):
    """State written in the older hash-bucketed layout
    (`<table>/batch_id=N/state_bucket=K/part-*.parquet`) reads as the
    same rows and columns as the plain append layout, and the next
    batch still merges against it — also when its `sigs` carry the
    older record's `simhash`/`n_shingles` columns, its cluster snapshot
    sits at `clusters/state_bucket=K/batch_id=N/` and a `bands/` table
    sits beside them. Compaction then deletes `bands/` and keeps every
    cluster."""
    from hsearch_spark.functions.signatures import explode_bands

    h1, h2, _ = _halves(spark, n=40, seed=33)
    state = tmp_path / "state"
    inc = IncrementalDedup(spark, str(state))
    inc.process_batch(h1, 0)
    assert not (state / "bands").exists()

    def rows(name):
        df = inc._read_state(name)
        return df.columns, sorted(map(tuple, df.collect()))

    def snapshot():
        return sorted(map(tuple, inc._latest_snapshot().collect()))

    before = {name: rows(name) for name in ("sigs", "docs")}
    snap_before = snapshot()
    for name in before:
        batch = state / name / "batch_id=0"
        bucket = batch / "state_bucket=0"
        bucket.mkdir()
        for part in batch.glob("*.parquet"):
            part.rename(bucket / part.name)
    (state / "clusters" / "state_bucket=0").mkdir()
    (state / "clusters" / "batch_id=0").rename(
        state / "clusters" / "state_bucket=0" / "batch_id=0"
    )
    assert {name: rows(name) for name in before} == before
    assert snapshot() == snap_before

    # the older five-column sigs record, and its bands table
    sigs = inc._read_state("sigs").toPandas()
    sigs.insert(2, "simhash", 0)
    sigs["n_shingles"] = 1
    old = spark.createDataFrame(
        sigs,
        "doc_id long, sig binary, simhash long, anchors array<long>, "
        "n_shingles int",
    )
    bucket = str(state / "sigs" / "batch_id=0" / "state_bucket=0")
    old.write.mode("overwrite").parquet(bucket)
    explode_bands(old, inc.config).select("doc_id", "band_hash").write.parquet(
        str(state / "bands" / "batch_id=0" / "state_bucket=0")
    )
    assert len(inc._read_state("sigs").columns) == 5

    # a cluster spanning both batches needs batch 1's probe to find the
    # moved sigs' band keys and its verify to find the moved sigs and texts
    old_ids = {r[0] for r in before["docs"][1]}
    inc.process_batch(h2, 1)
    members = _members(inc)
    assert sum(map(len, members)) == 40
    assert any(m & old_ids and m - old_ids for m in members)

    clusters = sorted(map(tuple, inc.current_clusters().collect()))
    inc.compact_state()
    assert not (state / "bands").exists()
    assert sorted(map(tuple, inc.current_clusters().collect())) == clusters


def test_current_clusters_never_reads_edges(spark, tmp_path):
    """Merge-only incremental CC: the maintained snapshot IS the answer —
    current_clusters() must not re-run connected components over the
    cumulative edge table (the O(corpus)-per-call anti-pattern). Assert
    the query reads no file from the edges state."""
    h1, h2, _ = _halves(spark, n=100, seed=23)
    inc = IncrementalDedup(spark, str(tmp_path / "state"))
    inc.process_batch(h1, 0)
    inc.process_batch(h2, 1)
    files = inc.current_clusters().inputFiles()
    assert files, "expected a file-backed plan"
    assert not any("/edges/" in f for f in files), files


def test_merge_only_cc_contracts_known_edges(spark, tmp_path):
    """An edge between two docs already sharing a root must vanish in
    contraction (no snapshot rewrite); a genuinely new edge merges."""
    inc = IncrementalDedup(spark, str(tmp_path / "state"))
    snap = spark.createDataFrame(
        [(2, 1), (3, 1)], "doc_id long, cluster_id long"
    )
    inc._append("clusters", snap, 0)

    edges = spark.createDataFrame(
        [(2, 3), (4, 5)], "a long, b long"
    )
    inc._merge_clusters(edges, 1)
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in inc._latest_snapshot().collect()
    }
    # 2,3 untouched (edge contracted away); 5 newly merged under root 4
    assert got == {2: 1, 3: 1, 5: 4}


def test_state_read_absent_or_loud(spark, tmp_path):
    """A state table is absent only when it holds no parquet part file
    (never written, or written by empty micro-batches only). A table
    that exists but cannot be read must fail the batch, not read as
    empty: that would skip the probe against the indexed corpus and
    silently miss every old duplicate."""
    h1, h2, _ = _halves(spark, n=40, seed=29)
    state = tmp_path / "state"
    inc = IncrementalDedup(spark, str(state))

    # an empty batch 0 leaves only _SUCCESS markers: batch 1 still runs
    inc.process_batch(h1.limit(0), 0)
    inc.process_batch(h1, 1)
    ids = [r["doc_id"] for r in inc.current_clusters().collect()]
    assert len(ids) == len(set(ids)) == h1.count()

    # a corrupt sigs table fails the next batch's probe read
    parts = list((state / "sigs").rglob("*.parquet"))
    assert parts
    for part in parts:
        part.write_bytes(b"not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet|footer"):
        inc.process_batch(h2, 2)


def test_compact_state_preserves_results(spark, tmp_path):
    """Compaction rewrites many small per-batch files into one plain
    batch dir while keeping every downstream answer."""
    import glob

    h1, h2, _ = _halves(spark, n=100, seed=25)
    inc = IncrementalDedup(spark, str(tmp_path / "state"))
    inc.process_batch(h1, 0)
    inc.process_batch(h2, 1)
    before = sorted(
        (r["doc_id"], r["cluster_id"]) for r in inc.current_clusters().collect()
    )
    n_files_before = len(
        glob.glob(str(tmp_path / "state" / "sigs" / "**" / "*.parquet"),
                  recursive=True)
    )
    inc.compact_state()
    n_files_after = len(
        glob.glob(str(tmp_path / "state" / "sigs" / "**" / "*.parquet"),
                  recursive=True)
    )
    assert n_files_after <= n_files_before
    dirs = {
        d.name
        for d in (tmp_path / "state" / "sigs").iterdir()
        if d.name.startswith("batch_id=")
    }
    assert dirs == {"batch_id=-1"}
    for name in ("sigs", "docs"):
        assert not list((tmp_path / "state" / name).rglob("state_bucket=*"))
    # the clusters log is bounded too: superseded per-batch deltas gone
    versions = {
        d.name
        for d in (tmp_path / "state" / "clusters").iterdir()
        if d.name.startswith(("batch_id=", "state_bucket="))
    }
    assert versions == {"batch_id=-1"}
    after = sorted(
        (r["doc_id"], r["cluster_id"]) for r in inc.current_clusters().collect()
    )
    assert after == before
    # state stays appendable post-compaction
    extra = _halves(spark, n=20, seed=27)[0]
    inc.process_batch(extra, 2)
    assert inc.current_clusters().count() == 110


@pytest.mark.parametrize("table", ["sigs", "clusters"])
def test_compaction_crash_recovers(spark, tmp_path, monkeypatch, table):
    """A crash while compaction moves a rewritten table into place must
    lose nothing: a new IncrementalDedup on the same directory answers
    as before compaction, and the next batch still merges with the
    docs indexed before the crash."""
    import os

    h1, h2, _ = _halves(spark, n=40, seed=33)
    state = str(tmp_path / "state")
    inc = IncrementalDedup(spark, state)
    inc.process_batch(h1, 0)
    before = sorted(map(tuple, inc.current_clusters().collect()))
    old_ids = {d for d, _ in before}
    assert any(d != c for d, c in before), "batch 0 must merge something"

    target = os.path.join(state, table)
    rename = os.rename
    crashed = []

    def crash_once(src, dst):
        if not crashed and (dst == target or dst.startswith(target + os.sep)):
            crashed.append(dst)
            raise OSError("simulated crash")
        rename(src, dst)

    monkeypatch.setattr(os, "rename", crash_once)
    with pytest.raises(OSError, match="simulated crash"):
        inc.compact_state()
    assert crashed

    inc = IncrementalDedup(spark, state)
    assert sorted(map(tuple, inc.current_clusters().collect())) == before
    inc.process_batch(h2, 1)
    members = _members(inc)
    assert sum(map(len, members)) == 40
    assert any(m & old_ids and m - old_ids for m in members)


def test_real_streaming_query_file_source(spark, tmp_path):
    """End-to-end readStream(parquet dir) → foreachBatch → state."""
    h1, h2, _ = _halves(spark, n=80, seed=11)
    src = tmp_path / "incoming"
    h1.coalesce(1).write.mode("append").parquet(str(src))
    h2.coalesce(1).write.mode("append").parquet(str(src))

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    inc = IncrementalDedup(spark, str(tmp_path / "state"))
    q = inc.start_stream(stream, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    clusters = inc.current_clusters()
    assert clusters.count() == 80
    # duplicate families must have merged across batches: fewer clusters
    # than docs
    assert clusters.select("cluster_id").distinct().count() < 80


def test_clusters_log_holds_only_changed_rows(spark, tmp_path):
    """The cluster snapshot is a per-batch delta log: `clusters/batch_id=N`
    holds exactly the (doc_id, cluster_id) rows batch N changed, a doc
    moved by merges in two batches reads its latest root, and a batch
    with no new merges writes nothing."""
    h1, h2, _ = _halves(spark, n=200, seed=31)
    inc = IncrementalDedup(spark, str(tmp_path / "state"))
    root = tmp_path / "state" / "clusters"

    def snapshot():
        return dict(map(tuple, inc._latest_snapshot().collect()))

    def delta(batch_id):
        rows = spark.read.parquet(str(root / f"batch_id={batch_id}")).collect()
        out = dict(map(tuple, rows))
        assert len(out) == len(rows), "a delta holds one row per doc"
        return out

    inc.process_batch(h1, 0)
    s0 = snapshot()
    assert s0 and delta(0) == s0

    inc.process_batch(h2, 1)
    s1 = snapshot()
    d1 = delta(1)
    assert d1 == {d: c for d, c in s1.items() if s0.get(d) != c}
    assert len(d1) < len(s1), "unchanged rows must not be rewritten"

    # docs merged in batch 0 and moved to a lower root in batch 1
    moved = {d for d in s0 if d in d1}
    assert moved, "batch 1 must move some batch-0 cluster"
    current = dict(map(tuple, inc.current_clusters().collect()))
    for d in moved:
        assert d1[d] < s0[d]
        assert s1[d] == current[d] == d1[d]

    # batch 2 replays batch 1's pages under a NEW batch id: every edge is
    # already known → contraction empties the remap → zero snapshot I/O
    inc.process_batch(h2, 2)
    assert sorted(d.name for d in root.iterdir()) == ["batch_id=0", "batch_id=1"]
    assert snapshot() == s1
