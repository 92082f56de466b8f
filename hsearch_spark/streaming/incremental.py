"""Incremental dedup: Structured Streaming over newly-crawled pages.

The reference is batch-only (SURVEY.md §2.11); this module is the
forward-looking increment path a production crawl needs: new pages
arrive continuously, and each micro-batch must be deduplicated against
BOTH itself and the already-indexed corpus without recomputing the
corpus.

Design (foreachBatch — the right tool when a batch needs arbitrary
DataFrame ops + idempotent sink writes):

1. persisted state = the `sigs` and `docs` tables of all docs indexed
   so far (parquet locally, Iceberg in production; appends only, one
   `batch_id=N/` directory per micro-batch, each read whole), PLUS a
   bounded `clusters` snapshot (non-singleton assignments only). Band
   keys are a function of `sig`, so none are stored (a `bands/` table
   older state left is never read). The tables are not hash-partitioned:
   a batch of n docs carries 21·n band keys, so it touches nearly every
   bucket of any bucket count a corpus would use (8 of 8, and 58-64 of
   64, at 100-doc batches), and pruning reads would skip almost nothing.
   Only the cluster snapshot stays doc-hash bucketed: its rewrite touches
   a strict subset of buckets (step e).
2. per micro-batch:
   a. extract + signature the new pages (same seeded config — signatures
      are append-compatible forever),
   b. candidates = new-batch self-join  ∪  (new bands ⋈ indexed bands,
      the latter exploded from the indexed sigs) — the probe join is the
      reference's center-probe pattern (kmer_search.cpp:100-121): small
      new side against the whole indexed side, shuffle on band_hash,
   c. exact-verify (sigs and texts semi-joined down to the candidate
      ids), append verified edges to the edge table,
   d. MERGE-ONLY incremental CC: new edges are contracted through the
      existing assignment snapshot (endpoint → its cluster root); edges
      whose endpoints already share a root drop out; connected
      components runs on the tiny contracted remainder only, and the
      resulting root-remap is applied to the snapshot. New edges can
      only ever MERGE clusters, never split them, so this is exact —
      the O(all-edges-ever) CC recompute of the naive design never runs.
   e. append the new sigs/docs to state; rewrite ONLY the cluster-
      snapshot buckets the merge changed (bucket-wise copy-on-write,
      layout clusters/state_bucket=K/batch_id=N — the logical snapshot
      is each bucket's latest version, so a batch whose merges touch 3
      buckets writes 3 bucket versions, not the whole assignment table;
      a batch with no new merges writes nothing).
3. `compact_state()` rewrites the many small per-batch files into one
   batch directory (what Iceberg's rewrite_data_files maintenance
   action does) — run it on whatever cadence file counts demand. A crash
   mid-swap is finished when the state directory is next opened.

Determinism: cluster_id = min(doc_id) of the component is preserved
inductively — old roots are component minima, new docs enter as their
own id, and a merge takes the min of the merged roots.

Watermarks/late data: dedup state is keyed by content, not event time —
a "late" page is just a new page; no watermark needed. Exactly-once:
batch_id-keyed append directories make retried batches idempotent, and
a batch's cluster snapshot is derived from snapshots with batch_id
strictly below its own, so a retry rebuilds the identical snapshot.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hsearch_spark.config import DedupConfig
from hsearch_spark.functions.signatures import add_signature_columns, explode_bands
from hsearch_spark.functions.text import extract_pages
from hsearch_spark.operators.candidates import candidate_pairs
from hsearch_spark.operators.verify import verify_pairs

_COMPACTED = ("sigs", "docs", "edges")  # the per-batch append tables


class IncrementalDedup:
    """State + the foreachBatch body. Testable without a streaming query
    (process_batch is a pure batch function, as foreachBatch bodies are).
    `n_state_buckets` is the doc-hash bucket count of the cluster
    snapshot, the only bucketed state (module docstring, item 1)."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        config: DedupConfig | None = None,
        n_state_buckets: int = 64,
    ) -> None:
        self.spark = spark
        self.state_dir = state_dir
        self.config = config or DedupConfig()
        self.n_state_buckets = n_state_buckets
        os.makedirs(state_dir, exist_ok=True)
        self._finish_swaps()

    # ---------------- state layout ----------------

    def _path(self, name: str) -> str:
        return os.path.join(self.state_dir, name)

    def _doc_bucket(self):
        return F.pmod(F.xxhash64("doc_id"), F.lit(self.n_state_buckets)).cast("int")

    def _has_parquet(self, name: str) -> bool:
        """Whether a state table holds any parquet part file. A table
        that was never written is absent; every other read error is real
        and must propagate — reading a corrupt table as empty would
        silently skip the probe against the indexed corpus."""
        return any(
            f.endswith(".parquet")
            for _, _, files in os.walk(self._path(name))
            for f in files
        )

    def _read_state(self, name: str) -> DataFrame | None:
        """Read a whole state table, or None when it holds no part file
        yet. recursiveFileLookup reads every part file below the table
        without partition discovery, so the `batch_id=N/` directories
        add no column, and state written in the older bucketed layout
        (`batch_id=N/state_bucket=K/`) loads next to plain batches."""
        if not self._has_parquet(name):
            return None
        return self.spark.read.option("recursiveFileLookup", "true").parquet(
            self._path(name)
        )

    def _append(self, name: str, df: DataFrame, batch_id: int) -> None:
        # batch_id-keyed subdir → idempotent on micro-batch retry
        df.write.mode("overwrite").parquet(
            os.path.join(self._path(name), f"batch_id={batch_id}")
        )

    def _swap_in(self, name: str, df: DataFrame, *partition_by: str) -> None:
        """Replace table `name` with `df`: written in full to
        `<name>__compacting`, then moved in by atomic renames, the table
        moving aside to `<name>__old` first (_finish_swaps)."""
        path = self._path(name)
        df.write.partitionBy(*partition_by).parquet(path + "__compacting")
        os.rename(path, path + "__old")
        os.rename(path + "__compacting", path)
        shutil.rmtree(path + "__old")

    def _finish_swaps(self) -> None:
        """Finish every _swap_in a crash interrupted. A table is missing
        only once its rewrite is complete, so the rewrite moves in; any
        other rewrite may be partial and is dropped, as is `__old`."""
        for name in (*_COMPACTED, "clusters"):
            path = self._path(name)
            new, old = path + "__compacting", path + "__old"
            if not os.path.exists(path) and os.path.exists(new):
                os.rename(new, path)
            for leftover in (new, old):
                if os.path.exists(leftover):
                    shutil.rmtree(leftover)

    def compact_state(self) -> None:
        """Rewrite each state table's many small per-batch files into one
        batch directory (`batch_id=-1`). The Iceberg analog is the
        rewrite_data_files maintenance action; here it is read → rewrite
        → crash-safe swap (_swap_in). Snapshot-read semantics make this
        safe between batches. The clusters snapshot compacts bucket-wise
        (compact_clusters): each bucket keeps only its latest version."""
        self._finish_swaps()
        for name in _COMPACTED:
            df = self._read_state(name)
            if df is not None:
                self._swap_in(name, df.withColumn("batch_id", F.lit(-1)), "batch_id")
        self.compact_clusters()

    # ---------------- clusters snapshot ----------------
    #
    # The snapshot is BUCKET-WISE COPY-ON-WRITE: layout
    # clusters/state_bucket=K/batch_id=N/ where each bucket dir holds
    # versioned full copies of ONLY that doc-hash bucket's rows, and the
    # logical snapshot is "each bucket's highest batch_id". A micro-batch
    # rewrites only the buckets its merge actually changes — at a crawl's
    # steady state (small batch, huge corpus) that is a handful of
    # buckets, not the whole assignment table (the Iceberg analog is a
    # partition-granular copy-on-write MERGE). Older bucket versions stay
    # until compact_state() collapses them (retry of batch N derives from
    # versions strictly below N).

    def _snapshot_bucket_paths(
        self, below_batch: int | None = None, buckets: list[int] | None = None
    ) -> list[str]:
        root = self._path("clusters")
        if not os.path.isdir(root):
            return []
        want = None if buckets is None else {int(b) for b in buckets}
        paths = []
        for d in sorted(os.listdir(root)):
            if not d.startswith("state_bucket="):
                continue
            k = int(d.split("=", 1)[1])
            if want is not None and k not in want:
                continue
            ids = [
                int(b.split("=", 1)[1])
                for b in os.listdir(os.path.join(root, d))
                if b.startswith("batch_id=")
            ]
            ids = [i for i in ids if below_batch is None or i < below_batch]
            if ids:
                paths.append(os.path.join(root, d, f"batch_id={max(ids)}"))
        return paths

    def _latest_snapshot(
        self, below_batch: int | None = None, buckets: list[int] | None = None
    ):
        """(doc_id, cluster_id) assignments | None — the union of each
        bucket's latest version, optionally restricted to versions
        strictly below `below_batch` (retry idempotence: batch N derives
        from state before N) and/or to the named doc-hash `buckets` (the
        snapshot rewrite reads only the buckets it versions)."""
        paths = self._snapshot_bucket_paths(below_batch, buckets)
        if not paths:
            return None
        return self.spark.read.parquet(*paths).select("doc_id", "cluster_id")

    def _write_snapshot_buckets(self, df: DataFrame, batch_id: int) -> None:
        """Write (doc_id, cluster_id) rows as new versions of exactly the
        buckets they hash into: one partitioned Spark write to a staging
        dir, then per-bucket directory moves into the versioned layout."""
        root = self._path("clusters")
        staging = self._path(f"clusters__staging_{batch_id}")
        if os.path.exists(staging):
            shutil.rmtree(staging)
        df.withColumn("state_bucket", self._doc_bucket()).write.partitionBy(
            "state_bucket"
        ).parquet(staging)
        for d in os.listdir(staging):
            if not d.startswith("state_bucket="):
                continue
            target_parent = os.path.join(root, d)
            os.makedirs(target_parent, exist_ok=True)
            target = os.path.join(target_parent, f"batch_id={batch_id}")
            if os.path.exists(target):  # micro-batch retry
                shutil.rmtree(target)
            os.rename(os.path.join(staging, d), target)
        shutil.rmtree(staging)

    def compact_clusters(self) -> None:
        """Collapse each snapshot bucket to a single batch_id=-1 version
        (its current latest). Run between batches, like compact_state:
        a later retry of an already-folded batch re-derives the identical
        snapshot because merges are idempotent (re-contracting an edge
        through roots that already reflect it yields no remap)."""
        latest = self._latest_snapshot()
        if latest is not None:
            self._swap_in(
                "clusters",
                latest.withColumn("state_bucket", self._doc_bucket())
                .withColumn("batch_id", F.lit(-1)),
                "state_bucket",
                "batch_id",
            )

    def _merge_clusters(self, edges: DataFrame, batch_id: int) -> None:
        """Merge-only incremental CC with bucket-granular writes.
        Snapshot rows are (doc_id, cluster_id) for NON-singleton members
        only (member != root); root(x) = coalesce(lookup(x), x). New
        edges are contracted through the roots; same-root edges vanish;
        CC runs on the tiny remainder; and only the buckets the remap
        actually touches — buckets holding members of a remapped
        cluster, plus buckets receiving brand-new rows — are rewritten.
        A batch whose edges are all already-known writes NOTHING."""
        from hsearch_spark.operators.components import connected_components

        e = edges.select("a", "b")
        prev = self._latest_snapshot(below_batch=batch_id)
        if prev is not None:
            ra = prev.select(
                F.col("doc_id").alias("a"), F.col("cluster_id").alias("_ra")
            )
            rb = prev.select(
                F.col("doc_id").alias("b"), F.col("cluster_id").alias("_rb")
            )
            e = (
                e.join(ra, "a", "left")
                .join(rb, "b", "left")
                .select(
                    F.coalesce("_ra", "a").alias("a"),
                    F.coalesce("_rb", "b").alias("b"),
                )
            )
        contracted = e.where(F.col("a") != F.col("b")).dropDuplicates(["a", "b"])
        remap = connected_components(contracted)  # (doc_id=old root, cluster_id=new)
        new_rows = remap.where(
            F.col("doc_id") != F.col("cluster_id")
        ).localCheckpoint()
        if new_rows.isEmpty():
            return  # every edge was already known — zero snapshot I/O
        if prev is None:
            self._write_snapshot_buckets(new_rows, batch_id)
            return
        rm = new_rows.select(
            F.col("doc_id").alias("cluster_id"),
            F.col("cluster_id").alias("_new"),
        )
        # members of remapped clusters: a column-pruned scan of the
        # snapshot's cluster_id column (at 10^12-doc scale a persisted
        # root→bucket index would prune this too; the rewrite itself is
        # already bucket-granular)
        changed_prev = prev.join(
            F.broadcast(rm.select("cluster_id")), "cluster_id", "left_semi"
        )
        touched = [
            r[0]
            for r in changed_prev.select(self._doc_bucket().alias("db"))
            .union(new_rows.select(self._doc_bucket().alias("db")))
            .distinct()
            .collect()
        ]
        in_touched = self._latest_snapshot(below_batch=batch_id, buckets=touched)
        if in_touched is None:  # new rows land only in never-written buckets
            content = new_rows
        else:
            updated = in_touched.join(F.broadcast(rm), "cluster_id", "left").select(
                "doc_id",
                F.coalesce("_new", "cluster_id").alias("cluster_id"),
            )
            content = updated.unionByName(new_rows).dropDuplicates(["doc_id"])
        self._write_snapshot_buckets(content, batch_id)

    # ---------------- the micro-batch body ----------------

    def process_batch(self, new_pages: DataFrame, batch_id: int) -> None:
        cfg = self.config
        docs = extract_pages(new_pages)
        sigs = add_signature_columns(docs, cfg).localCheckpoint()
        bands = explode_bands(sigs, cfg).select("doc_id", "band_hash")  # salted key

        # within-batch candidates (new × new)
        cands = candidate_pairs(bands, cfg)

        # probe join against the indexed corpus (new × old): the small
        # new side streams against the big state side on the band key,
        # hashed JVM-side from the stored sigs (selected by name: older
        # state carries two more columns)
        old_sigs = self._read_state("sigs")
        if old_sigs is not None:
            old_sigs = old_sigs.select("doc_id", "sig", "anchors")
            probe = (
                bands.alias("n")
                .join(
                    explode_bands(old_sigs, cfg).alias("o"),
                    on=[
                        F.col("n.band_hash") == F.col("o.band_hash"),
                        F.col("n.doc_id") != F.col("o.doc_id"),
                    ],
                )
                .select(
                    F.least("n.doc_id", "o.doc_id").alias("a"),
                    F.greatest("n.doc_id", "o.doc_id").alias("b"),
                )
                .dropDuplicates(["a", "b"])
            )
            cands = cands.union(probe).dropDuplicates(["a", "b"])
        cands = cands.localCheckpoint()

        # verify needs sigs + texts of BOTH sides — but only for docs
        # that actually appear in candidate pairs: semi-join the state
        # down to the exact id set (texts never travel for untouched
        # corpus docs)
        needed = cands.select(
            F.explode(F.array("a", "b")).alias("doc_id")
        ).distinct()
        if old_sigs is not None:
            old_sigs = old_sigs.join(needed, "doc_id", "left_semi")
        all_sigs = sigs if old_sigs is None else sigs.unionByName(old_sigs)
        old_docs = self._read_state("docs")
        slim_docs = docs.select("doc_id", "text")
        if old_docs is not None:
            old_docs = old_docs.join(needed, "doc_id", "left_semi")
        all_docs = (
            slim_docs if old_docs is None else slim_docs.unionByName(old_docs)
        )
        edges = verify_pairs(cands, all_sigs, all_docs, cfg).localCheckpoint()

        self._append("edges", edges, batch_id)
        self._append("sigs", sigs, batch_id)
        self._append("docs", slim_docs, batch_id)
        self._merge_clusters(edges, batch_id)

    def current_clusters(self) -> DataFrame:
        """Full assignment table from the maintained snapshot — NO CC
        recompute over the cumulative edge table (merge-only CC already
        folded every batch's edges in). Singletons map to themselves."""
        sigs = self._read_state("sigs")
        if sigs is None:
            raise ValueError("no state yet")
        docs = sigs.select("doc_id")
        snap = self._latest_snapshot()
        if snap is None:
            return docs.select("doc_id", F.col("doc_id").alias("cluster_id"))
        return (
            docs.join(snap, "doc_id", "left")
            .select(
                "doc_id", F.coalesce("cluster_id", "doc_id").alias("cluster_id")
            )
        )

    def start_stream(self, pages_stream: DataFrame, checkpoint_dir: str):
        """Wire process_batch into a real streaming query (file/Kafka
        source upstream). availableNow triggers drain-and-stop batches."""
        return (
            pages_stream.writeStream.foreachBatch(
                lambda df, bid: self.process_batch(df, bid)
            )
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
