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
   `clusters` log (non-singleton assignments only). Band keys are a
   function of `sig`, so none are stored (`compact_state` deletes the
   `bands/` table older state holds). No table is hash-partitioned: a
   batch of n docs carries 21·n band keys, so it touches nearly every
   bucket of any bucket count a corpus would use (8 of 8, and 58-64 of
   64, at 100-doc batches), and pruning reads would skip almost nothing.
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
   e. append the new sigs/docs to state, and append to `clusters` only
      the (doc_id, cluster_id) rows the merge changed. A merge only ever
      lowers a doc's cluster_id, so the snapshot is the min cluster_id
      per doc over all versions: the append-only form of a union-find
      root map (pcluster/src/pcluster/union_find.hpp:16). Older state's
      `clusters/state_bucket=K/batch_id=N/` full bucket copies read
      correctly under the same rule. A batch with no new merges writes
      nothing.
3. `compact_state()` rewrites the many small per-batch files into one
   batch directory (what Iceberg's rewrite_data_files maintenance
   action does), `clusters` folded to one row per doc — run it on
   whatever cadence file counts demand. A crash mid-swap is finished
   when the state directory is next opened.

Determinism: cluster_id = min(doc_id) of the component is preserved
inductively — old roots are component minima, new docs enter as their
own id, and a merge takes the min of the merged roots.

Watermarks/late data: dedup state is keyed by content, not event time —
a "late" page is just a new page; no watermark needed. Exactly-once:
batch_id-keyed append directories make retried batches idempotent, and
a batch's cluster delta is derived from versions with batch_id strictly
below its own, so a retry rewrites the identical delta.
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

_COMPACTED = ("sigs", "docs", "edges", "clusters")  # the per-batch append tables


class IncrementalDedup:
    """State + the foreachBatch body. Testable without a streaming query
    (process_batch is a pure batch function, as foreachBatch bodies are).
    `n_state_buckets` is accepted and ignored: no state is bucketed."""

    def __init__(
        self,
        spark: SparkSession,
        state_dir: str,
        config: DedupConfig | None = None,
        n_state_buckets: int | None = None,
    ) -> None:
        self.spark = spark
        self.state_dir = state_dir
        self.config = config or DedupConfig()
        os.makedirs(state_dir, exist_ok=True)
        self._finish_swaps()

    # ---------------- state layout ----------------

    def _path(self, name: str) -> str:
        return os.path.join(self.state_dir, name)

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

    def _swap_in(self, name: str, df: DataFrame) -> None:
        """Replace table `name` with `df` as its one batch `batch_id=-1`:
        written in full to `<name>__compacting`, then moved in by atomic
        renames, the table moving aside to `<name>__old` first
        (_finish_swaps)."""
        path = self._path(name)
        df.write.parquet(os.path.join(path + "__compacting", "batch_id=-1"))
        os.rename(path, path + "__old")
        os.rename(path + "__compacting", path)
        shutil.rmtree(path + "__old")

    def _finish_swaps(self) -> None:
        """Finish every _swap_in a crash interrupted. A table is missing
        only once its rewrite is complete, so the rewrite moves in; any
        other rewrite may be partial and is dropped, as is `__old`."""
        for name in _COMPACTED:
            path = self._path(name)
            new, old = path + "__compacting", path + "__old"
            if not os.path.exists(path) and os.path.exists(new):
                os.rename(new, path)
            for leftover in (new, old):
                if os.path.exists(leftover):
                    shutil.rmtree(leftover)

    def compact_state(self) -> None:
        """Rewrite each state table's many small per-batch files into one
        batch directory (`batch_id=-1`), `clusters` folded to its latest
        row per doc. The Iceberg analog is the rewrite_data_files
        maintenance action; here it is read → rewrite → crash-safe swap
        (_swap_in). Snapshot-read semantics make this safe between
        batches. The `bands/` table older state holds is deleted."""
        self._finish_swaps()
        for name in _COMPACTED:
            if name == "clusters":
                df = self._latest_snapshot()
            else:
                df = self._read_state(name)
            if df is not None:
                self._swap_in(name, df)
        shutil.rmtree(self._path("bands"), ignore_errors=True)

    # ---------------- clusters log ----------------

    def _latest_snapshot(self, below_batch: int | None = None):
        """(doc_id, cluster_id) assignments | None: the min cluster_id per
        doc over the `batch_id=M/` versions at any depth under `clusters/`,
        optionally only those with M strictly below `below_batch` (retry
        idempotence: batch N derives from state before N)."""
        paths = [
            d
            for d, _, _ in os.walk(self._path("clusters"))
            if os.path.basename(d).startswith("batch_id=")
            and (below_batch is None or int(d.rsplit("=", 1)[1]) < below_batch)
        ]
        if not paths:
            return None
        return (
            self.spark.read.parquet(*paths)
            .groupBy("doc_id")
            .agg(F.min("cluster_id").alias("cluster_id"))
        )

    def _merge_clusters(self, edges: DataFrame, batch_id: int) -> None:
        """Merge-only incremental CC. Snapshot rows are (doc_id,
        cluster_id) for NON-singleton members only (member != root);
        root(x) = coalesce(lookup(x), x). New edges are contracted
        through the roots; same-root edges vanish; CC runs on the tiny
        remainder; and `clusters/batch_id=N` receives only the changed
        rows: each merged old root, and each member of a remapped
        cluster, under its new root. A batch whose edges are all
        already-known writes NOTHING."""
        from hsearch_spark.operators.components import connected_components

        e = edges.select("a", "b")
        prev = self._latest_snapshot(below_batch=batch_id)
        if prev is not None:
            prev = prev.localCheckpoint()  # read three times below
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
        delta = new_rows
        if prev is not None:
            rm = new_rows.select(
                F.col("doc_id").alias("cluster_id"),
                F.col("cluster_id").alias("_new"),
            )
            moved = prev.join(F.broadcast(rm), "cluster_id").select(
                "doc_id", F.col("_new").alias("cluster_id")
            )
            delta = moved.unionByName(new_rows)
        self._append("clusters", delta, batch_id)

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
