"""Incremental dedup: batch-equivalence (streamed result == one-shot
batch result) and a real Structured Streaming query over a file source.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
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


def _parts(spark, n, seed, k):
    """generate_pages(n, seed) as k consecutive micro-batches."""
    pdf = generate_pages(n, seed).pdf
    return [
        spark.createDataFrame(pdf.iloc[i * n // k : (i + 1) * n // k], schema=SCHEMA)
        for i in range(k)
    ]


def _rows(inc, names=("docs", "edges", "clusters")):
    """The row multiset of each state table."""
    return {name: sorted(map(tuple, inc._read_state(name).collect())) for name in names}


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
    """A retried micro-batch leaves the state as its first attempt did:
    right after it ran, and after a compaction that followed it (the
    newest batch stays out of the fold, so the retry does not read its
    own rows back as indexed state)."""
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

    counts = inc.process_batch(h2, 1)
    tables = _rows(inc)
    clusters = sorted(map(tuple, inc.current_clusters().collect()))
    inc.compact_state()
    assert _rows(inc) == tables
    assert inc.process_batch(h2, 1) == counts  # retried after the compaction
    assert _rows(inc) == tables
    assert sorted(map(tuple, inc.current_clusters().collect())) == clusters


def _to_older_layout(spark, state, batch_id, bucketed):
    """Rewrite batch `batch_id` of `state` as the layout before one doc
    table wrote it: `docs(doc_id, text)` beside a `sigs(doc_id, sig,
    anchors)` table. `bucketed` nests both in `batch_id=N/state_bucket=0/`,
    gives sigs the older record's `simhash`/`n_shingles` columns, adds
    its `bands` table and moves the cluster delta to
    `clusters/state_bucket=0/batch_id=N/`."""
    import shutil

    from hsearch_spark.config import DedupConfig
    from hsearch_spark.functions.signatures import add_signature_columns, explode_bands

    cfg = DedupConfig()
    batch = f"batch_id={batch_id}"
    sub = (batch, "state_bucket=0") if bucketed else (batch,)
    src = state / "docs" / batch
    docs = spark.read.parquet(str(src)).select("doc_id", "text").localCheckpoint()
    shutil.rmtree(src)
    docs.write.parquet(str(state.joinpath("docs", *sub)))
    sigs = add_signature_columns(docs, cfg)
    if bucketed:
        sigs = sigs.select(
            "doc_id", "sig", F.lit(0).cast("long").alias("simhash"), "anchors",
            F.lit(1).alias("n_shingles"),
        )
        explode_bands(sigs, cfg).select("doc_id", "band_hash").write.parquet(
            str(state.joinpath("bands", *sub))
        )
        (state / "clusters" / "state_bucket=0").mkdir(exist_ok=True)
        (state / "clusters" / batch).rename(
            state / "clusters" / "state_bucket=0" / batch
        )
    sigs.write.parquet(str(state.joinpath("sigs", *sub)))


@pytest.fixture(scope="module")
def older_state(spark, tmp_path_factory):
    """A state after batches 0 and 1 as the older layout wrote it (batch 0
    bucketed, batch 1 in the flat two-table layout), and what the same
    batches give on state this layout wrote: the docs rows, the
    clusters, and batch 2's counts, tables and clusters."""
    import shutil

    root = tmp_path_factory.mktemp("older_state")
    batches = _parts(spark, 60, 33, 3)
    inc = IncrementalDedup(spark, str(root / "fresh"))
    inc.process_batch(batches[0], 0)
    inc.process_batch(batches[1], 1)
    shutil.copytree(root / "fresh", root / "older")
    docs = sorted(map(tuple, inc._read_state("docs").collect()))
    before = sorted(map(tuple, inc.current_clusters().collect()))
    counts = inc.process_batch(batches[2], 2)
    old_ids = {d for d, _ in before}
    members = _members(inc)
    assert any(m & old_ids and m - old_ids for m in members), (
        "batch 2 must merge with the docs of batches 0-1"
    )
    for batch_id in (0, 1):
        _to_older_layout(spark, root / "older", batch_id, bucketed=batch_id == 0)
    return {
        "path": root / "older",
        "batches": batches,
        "docs": docs,
        "before": before,
        "counts": counts,
        "tables": _rows(inc),
        "after": sorted(map(tuple, inc.current_clusters().collect())),
    }


def _assert_converted(spark, state, older_state):
    """Open `state`: it then holds exactly this layout, with older_state's
    rows."""
    inc = IncrementalDedup(spark, str(state))
    assert sorted(p.name for p in state.iterdir()) == ["clusters", "docs", "edges"]
    assert not list(state.rglob("state_bucket=*"))
    for table in state.iterdir():
        assert {d.name for d in table.iterdir() if not d.name.startswith(".")} <= {
            "batch_id=0", "batch_id=1", "_SUCCESS",
        }
    assert {d.name for d in (state / "docs").glob("batch_id=*")} == {
        "batch_id=0", "batch_id=1",
    }  # each row keeps its batch
    assert spark.read.parquet(str(state / "docs" / "batch_id=0")).columns == [
        "doc_id", "text", "sig",
    ]
    assert sorted(map(tuple, inc._read_state("docs").collect())) == older_state["docs"]
    assert sorted(map(tuple, inc.current_clusters().collect())) == older_state["before"]
    return inc


def test_older_state_converted_on_open(spark, tmp_path, older_state):
    """Opening state an older layout wrote converts it before any batch
    runs: `sigs` and `bands` are gone, no `state_bucket=K/` directory is
    left, every table sits in flat `batch_id=N/` directories with its
    rows' own batch ids, and docs holds each version's (doc_id, text,
    sig), as this layout writes it. The next batch then gives the counts,
    tables and clusters it gives on state this layout wrote."""
    import shutil

    state = tmp_path / "state"
    shutil.copytree(older_state["path"], state)
    assert (state / "bands").exists()
    assert len(spark.read.parquet(
        str(state / "sigs" / "batch_id=0" / "state_bucket=0")
    ).columns) == 5
    inc = _assert_converted(spark, state, older_state)
    _assert_converted(spark, state, older_state)  # a second open changes nothing
    assert inc.process_batch(older_state["batches"][2], 2) == older_state["counts"]
    assert _rows(inc) == older_state["tables"]
    assert sorted(map(tuple, inc.current_clusters().collect())) == older_state["after"]


# the renames and deletes of a conversion of older_state, in order
_CONVERT_STEPS = [
    "rename docs", "rename docs__compacting", "rmtree docs__old",
    "rename clusters", "rename clusters__compacting", "rmtree clusters__old",
    "rmtree sigs", "rmtree bands",
]


@pytest.mark.parametrize("step", _CONVERT_STEPS)
def test_conversion_crash_recovers(spark, tmp_path, monkeypatch, older_state, step):
    """A crash at any rename or delete of the open-time conversion loses
    nothing: the next open finishes or redoes it, answers as before, and
    the next batch merges with the docs indexed before the crash."""
    import os
    import shutil

    state = tmp_path / "state"
    shutil.copytree(older_state["path"], state)
    done = []
    rename, rmtree = os.rename, shutil.rmtree

    def op(kind, real):
        def run(path, *args, **kwargs):
            done.append(f"{kind} {os.path.basename(path)}")
            if done[-1] == step:
                raise OSError("simulated crash")
            real(path, *args, **kwargs)

        return run

    monkeypatch.setattr(os, "rename", op("rename", rename))
    monkeypatch.setattr(shutil, "rmtree", op("rmtree", rmtree))
    with pytest.raises(OSError, match="simulated crash"):
        IncrementalDedup(spark, str(state))
    monkeypatch.undo()
    assert done == _CONVERT_STEPS[: _CONVERT_STEPS.index(step) + 1]

    inc = _assert_converted(spark, state, older_state)
    inc.process_batch(older_state["batches"][2], 2)
    assert sorted(map(tuple, inc.current_clusters().collect())) == older_state["after"]


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
    inc._append("clusters", pa.table({"doc_id": [2, 3], "cluster_id": [1, 1]}), 0)

    assert inc._merge_clusters(np.array([2, 4]), np.array([3, 5]), 1) == (1, 1)
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in inc._latest_snapshot().collect()
    }
    # 2,3 untouched (edge contracted away); 5 newly merged under root 4
    assert got == {2: 1, 3: 1, 5: 4}


def test_state_read_absent_or_loud(spark, tmp_path, monkeypatch):
    """A state table is absent only when it holds no parquet part file
    (never written, or written by empty micro-batches only). A table
    that exists but cannot be read must fail the batch, not read as
    empty: that would skip the probe against the indexed corpus and
    silently miss every old duplicate. The cluster snapshot is read on
    the merge worker thread, and its error fails the batch too. Passing
    or failing, a batch leaves the session's Arrow batch size as it was."""
    import shutil
    import threading

    arrow_batch = "spark.sql.execution.arrow.maxRecordsPerBatch"
    session_batch = spark.conf.get(arrow_batch)
    h1, h2, _ = _halves(spark, n=40, seed=29)
    state = tmp_path / "state"
    inc = IncrementalDedup(spark, str(state))

    # an empty batch 0 leaves only _SUCCESS markers: batch 1 still runs
    inc.process_batch(h1.limit(0), 0)
    inc.process_batch(h1, 1)
    assert spark.conf.get(arrow_batch) == session_batch
    ids = [r["doc_id"] for r in inc.current_clusters().collect()]
    assert len(ids) == len(set(ids)) == h1.count()

    # a corrupt clusters table fails the next probing batch, from the
    # snapshot read on the worker thread
    shutil.copytree(state, tmp_path / "bad_clusters")
    bad = IncrementalDedup(spark, str(tmp_path / "bad_clusters"))
    parts = list((tmp_path / "bad_clusters" / "clusters").rglob("*.parquet"))
    assert parts
    for part in parts:
        part.write_bytes(b"not a parquet file")
    reads, read_state = [], bad._read_state

    def spy(name, below_batch=None):
        reads.append((name, threading.current_thread().name))
        return read_state(name, below_batch)

    monkeypatch.setattr(bad, "_read_state", spy)
    with pytest.raises(Exception, match="(?i)parquet|footer") as err:
        bad.process_batch(h2, 2)
    assert any(e.name == "_snapshot_rows" for e in err.traceback)
    assert [t for name, t in reads if name == "clusters"] == ["stream/merge_0"]
    assert spark.conf.get(arrow_batch) == session_batch

    # a corrupt docs table fails the next batch's probe read
    parts = list((state / "docs").rglob("*.parquet"))
    assert parts
    for part in parts:
        part.write_bytes(b"not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet|footer"):
        inc.process_batch(h2, 2)
    assert spark.conf.get(arrow_batch) == session_batch


def test_compact_state_preserves_results(spark, tmp_path):
    """Compaction rewrites the many small per-batch files of every batch
    but the newest into one plain batch dir while keeping every
    downstream answer; the newest batch keeps its own dir."""
    import glob

    h1, h2, _ = _halves(spark, n=100, seed=25)
    inc = IncrementalDedup(spark, str(tmp_path / "state"))
    inc.process_batch(h1, 0)
    inc.process_batch(h2, 1)
    before = sorted(
        (r["doc_id"], r["cluster_id"]) for r in inc.current_clusters().collect()
    )
    n_files_before = len(
        glob.glob(str(tmp_path / "state" / "docs" / "**" / "*.parquet"),
                  recursive=True)
    )
    inc.compact_state()
    n_files_after = len(
        glob.glob(str(tmp_path / "state" / "docs" / "**" / "*.parquet"),
                  recursive=True)
    )
    assert n_files_after <= n_files_before
    for name in ("docs", "edges", "clusters"):
        dirs = {
            d.name
            for d in (tmp_path / "state" / name).iterdir()
            if d.name.startswith(("batch_id=", "state_bucket="))
        }
        assert dirs == {"batch_id=-1", "batch_id=1"}, name
    after = sorted(
        (r["doc_id"], r["cluster_id"]) for r in inc.current_clusters().collect()
    )
    assert after == before
    # state stays appendable post-compaction. The fixture's urls repeat
    # across sizes, so these 10 pages re-crawl indexed docs: 10 more
    # versions, one row per doc
    extra = _halves(spark, n=20, seed=27)[0]
    inc.process_batch(extra, 2)
    assert inc._read_state("docs").count() == 110
    urls = h1.union(h2).union(extra).select("url").distinct().count()
    assert inc.current_clusters().count() == urls


@pytest.mark.parametrize("table", ["docs", "clusters"])
def test_compaction_crash_recovers(spark, tmp_path, monkeypatch, table):
    """A crash while compaction moves a rewritten table into place must
    lose nothing: a new IncrementalDedup on the same directory answers
    as before compaction, and the next batch still merges with the
    docs indexed before the crash."""
    import os

    b0, b1, b2 = _parts(spark, 60, 33, 3)
    state = str(tmp_path / "state")
    inc = IncrementalDedup(spark, state)
    inc.process_batch(b0, 0)
    inc.process_batch(b1, 1)
    before = sorted(map(tuple, inc.current_clusters().collect()))
    old_ids = {d for d, _ in before}
    assert any(d != c for d, c in before), "batches 0-1 must merge something"

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
    inc.process_batch(b2, 2)
    members = _members(inc)
    assert sum(map(len, members)) == 60
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


def test_driver_batch_pairs_equal_candidate_pairs(spark):
    """The stream's driver-side within-batch pairs equal candidate_pairs
    over the same docs, on a batch with a planted family of 70 near-copies
    (band buckets past max_bucket_all_pairs: the star-R branch) and one
    doc_id listed twice."""
    from hsearch_spark.config import DedupConfig
    from hsearch_spark.functions.signatures import add_signature_columns, explode_bands
    from hsearch_spark.operators.candidates import candidate_pairs
    from hsearch_spark.streaming.incremental import batch_pairs

    cfg = DedupConfig()
    rng = np.random.default_rng(51)
    template = " ".join(f"w{x}" for x in rng.integers(0, 5000, 200))
    texts = list(generate_pages(200, seed=51).pdf["text"])
    texts += [f"{template} item {m}" for m in range(70)]
    rows = [(i * 7919 % 1009, t) for i, t in enumerate(texts)] + [(0, texts[0])]
    sigs = add_signature_columns(
        spark.createDataFrame(rows, "doc_id long, text string"), cfg
    ).localCheckpoint()
    bands = explode_bands(sigs, cfg)
    biggest = bands.groupBy("band_hash").count().agg(F.max("count")).first()[0]
    assert biggest > cfg.max_bucket_all_pairs
    expected = {tuple(r) for r in candidate_pairs(bands, cfg).collect()}

    t = bands.select("doc_id", "band_hash").toArrow()
    a, b = batch_pairs(
        t.column("doc_id").to_numpy(), t.column("band_hash").to_numpy(), cfg
    )
    got = set(zip(a.tolist(), b.tolist()))
    assert len(got) == a.size
    assert (0, 0) in got
    assert got == expected


def test_recrawled_url_is_one_row(spark, tmp_path):
    """A batch that re-crawls already-indexed urls stores a second version
    of each doc; current_clusters() still returns one row per doc_id."""
    fx = generate_pages(20, seed=43)
    pages = spark.createDataFrame(fx.pdf, schema=SCHEMA)
    recrawl = spark.createDataFrame(
        fx.pdf.assign(text=fx.pdf["text"] + " updated"), schema=SCHEMA
    )
    inc = IncrementalDedup(spark, str(tmp_path / "state"))
    inc.process_batch(pages, 0)
    inc.process_batch(recrawl, 1)
    ids = [r["doc_id"] for r in inc.current_clusters().collect()]
    assert len(ids) == len(set(ids)) == 20


def test_process_batch_counts(spark, tmp_path):
    """process_batch returns the counts it already holds, and they agree
    with what it wrote: within-batch pairs (= candidate_pairs), probe
    hits and fetched docs against state, edges, merges, cluster rows."""
    from hsearch_spark.functions.signatures import add_signature_columns, explode_bands
    from hsearch_spark.functions.text import extract_pages
    from hsearch_spark.operators.candidates import candidate_pairs

    h1, h2, _ = _halves(spark, n=80, seed=45)
    state = tmp_path / "state"
    inc = IncrementalDedup(spark, str(state))

    def rows(table, batch_id):
        path = state / table / f"batch_id={batch_id}"
        return spark.read.parquet(str(path)).count() if path.exists() else 0

    c0 = inc.process_batch(h1, 0)
    sigs = add_signature_columns(extract_pages(h1), inc.config)
    n_pairs = candidate_pairs(explode_bands(sigs, inc.config), inc.config).count()
    assert c0["batch_pairs"] == n_pairs > 0
    assert c0["probe_hits"] == c0["old_docs"] == 0
    assert c0["edges"] == rows("edges", 0) > 0
    # no earlier clusters: every appended row is a merged singleton root
    assert c0["cluster_rows"] == c0["merges"] == rows("clusters", 0) > 0

    c1 = inc.process_batch(h2, 1)
    assert c1["probe_hits"] > 0 and c1["old_docs"] > 0
    assert c1["edges"] == rows("edges", 1)
    assert c1["cluster_rows"] == rows("clusters", 1) >= c1["merges"] > 0


def test_state_tables_one_part_file_per_batch(spark, tmp_path):
    """The driver writes each state table's batch as one parquet file."""
    h1, h2, _ = _halves(spark, n=80, seed=47)
    state = tmp_path / "state"
    inc = IncrementalDedup(spark, str(state))
    inc.process_batch(h1, 0)
    inc.process_batch(h2, 1)
    for table in ("docs", "edges", "clusters"):
        for batch in (0, 1):
            parts = list((state / table / f"batch_id={batch}").glob("*.parquet"))
            assert len(parts) == 1, (table, batch, parts)


def test_crash_before_rename_retries_clean(spark, tmp_path, monkeypatch):
    """A crash between a table's driver write and its rename into place
    leaves state that still reads (the dot-named temp file is skipped);
    the retried batch drops it with the rest of the batch and gives the
    clusters and edges of a run that never crashed."""
    import os

    h1, h2, _ = _halves(spark, n=60, seed=49)
    clean = IncrementalDedup(spark, str(tmp_path / "clean"))
    clean.process_batch(h1, 0)
    clean.process_batch(h2, 1)

    state = tmp_path / "state"
    inc = IncrementalDedup(spark, str(state))
    inc.process_batch(h1, 0)
    rename = os.rename
    part = os.path.join("docs", "batch_id=1", "part-00000.parquet")

    def crash(src, dst):
        if dst.endswith(part):
            raise OSError("simulated crash")
        rename(src, dst)

    monkeypatch.setattr(os, "rename", crash)
    with pytest.raises(OSError, match="simulated crash"):
        inc.process_batch(h2, 1)
    monkeypatch.setattr(os, "rename", rename)
    assert (state / "docs" / "batch_id=1" / ".part-00000.parquet.tmp").exists()
    assert inc._read_state("docs").count() == 30
    assert inc.current_clusters().count() == 30  # batch 1's docs did not land

    inc = IncrementalDedup(spark, str(state))
    inc.process_batch(h2, 1)
    assert not (state / "docs" / "batch_id=1" / ".part-00000.parquet.tmp").exists()

    def table(x, name):
        return sorted(map(tuple, x._read_state(name).collect()))

    assert table(inc, "edges") == table(clean, "edges")
    assert sorted(map(tuple, inc.current_clusters().collect())) == sorted(
        map(tuple, clean.current_clusters().collect())
    )


def _recrawl_batches(spark):
    """Batch 0: 60 pages. Batch 1: 30 new pages plus a re-crawl of 20 of
    batch 0's urls that have planted duplicates, 10 of them with changed
    text: docs indexed in two versions, each version pair of a duplicate
    pair with its own Jaccard."""
    fx = generate_pages(90, seed=53)
    pdf = fx.pdf
    duped = set(fx.truth_pairs["a_url"]) | set(fx.truth_pairs["b_url"])
    old = pdf.iloc[:60]
    recrawl = old[old["url"].isin(duped)].iloc[:20].copy()
    recrawl.loc[recrawl.index[:10], "text"] += " updated"
    return (
        spark.createDataFrame(old, schema=SCHEMA),
        spark.createDataFrame(pd.concat([pdf.iloc[60:], recrawl]), schema=SCHEMA),
    )


def test_oversized_batch_runs_in_passes(spark, tmp_path, monkeypatch):
    """Past the driver size rule a batch runs as doc_id-range passes, each
    deduped against the state and the passes before it: the clusters and
    the docs rows equal a single-pass run, and each table's batch holds
    one part file per pass."""
    import hsearch_spark.streaming.incremental as inc_mod

    b0, b1 = _recrawl_batches(spark)
    one = IncrementalDedup(spark, str(tmp_path / "one"))
    c = [one.process_batch(b0, 0), one.process_batch(b1, 1)]
    assert c[1]["probe_hits"] > 0

    monkeypatch.setattr(inc_mod, "_DRIVER_MAX_DOCS", 16)
    state = tmp_path / "passes"
    split = IncrementalDedup(spark, str(state))
    split.process_batch(b0, 0)
    split.process_batch(b1, 1)
    for batch, pages in enumerate((b0, b1)):
        n_docs = pages.select("url").distinct().count()
        parts = list((state / "docs" / f"batch_id={batch}").glob("*.parquet"))
        assert len(parts) == -(-n_docs // 16) > 1
    assert _rows(split, ["docs"]) == _rows(one, ["docs"])
    assert sorted(map(tuple, split.current_clusters().collect())) == sorted(
        map(tuple, one.current_clusters().collect())
    )


def test_probe_hits_past_rule_verify_in_spark(spark, tmp_path, monkeypatch):
    """The driver counts a pass's probe hits from the probe's rows: the
    row count of the raw (new, indexed) band-key join, a re-crawl's hits
    on its own indexed versions excluded. A pass at the driver rule
    verifies on the driver; one past it verifies with verify_pairs in
    Spark: the same edge rows (one per passing version pair, re-crawled
    docs included) and the same clusters as the driver verify."""
    import hsearch_spark.streaming.incremental as inc_mod
    from hsearch_spark.functions.signatures import add_signature_columns, explode_bands
    from hsearch_spark.functions.text import extract_pages

    b0, b1 = _recrawl_batches(spark)
    driver = IncrementalDedup(spark, str(tmp_path / "driver"))
    driver.process_batch(b0, 0)

    def bands(df, col):
        return explode_bands(df, driver.config).select(
            F.col("doc_id").alias(col), "band_hash"
        )

    new = add_signature_columns(extract_pages(b1), driver.config)
    raw = bands(driver._read_state("docs"), "o").join(bands(new, "n"), "band_hash")
    n_raw = raw.where(F.col("n") != F.col("o")).count()
    assert raw.count() > n_raw > 0  # the re-crawls hit their own versions

    c_driver = driver.process_batch(b1, 1)
    assert c_driver["probe_hits"] == n_raw
    assert c_driver["old_docs"] > 0

    monkeypatch.setattr(inc_mod, "_DRIVER_MAX_HITS", n_raw)
    at_rule = IncrementalDedup(spark, str(tmp_path / "at_rule"))
    at_rule.process_batch(b0, 0)
    c_at_rule = at_rule.process_batch(b1, 1)
    assert c_at_rule == c_driver  # on the driver side of the rule

    monkeypatch.setattr(inc_mod, "_DRIVER_MAX_HITS", n_raw - 1)
    spark_side = IncrementalDedup(spark, str(tmp_path / "spark"))
    spark_side.process_batch(b0, 0)
    c_spark = spark_side.process_batch(b1, 1)
    assert c_spark["probe_hits"] == n_raw
    assert c_spark["old_docs"] == 0  # nothing indexed reached the driver
    assert c_spark["edges"] == c_driver["edges"] > 0
    for inc in (at_rule, spark_side):
        assert _rows(inc) == _rows(driver)
        assert sorted(map(tuple, inc.current_clusters().collect())) == sorted(
            map(tuple, driver.current_clusters().collect())
        )
