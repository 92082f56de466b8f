"""Incremental dedup: Structured Streaming over newly-crawled pages.

The reference is batch-only (SURVEY.md §2.11); this module is the
forward-looking increment path a production crawl needs: new pages
arrive continuously, and each micro-batch must be deduplicated against
BOTH itself and the already-indexed corpus without recomputing the
corpus.

Design (foreachBatch — the right tool when a batch needs arbitrary
DataFrame ops + idempotent sink writes):

1. persisted state = `docs(doc_id, text, sig)`, one row per doc version
   indexed so far, the `edges` verified, and a `clusters` log
   (non-singleton assignments only): parquet locally, Iceberg in
   production; appends only, one flat `batch_id=N/` directory per
   micro-batch. Band keys are a function of `sig`, and no stream reader
   uses substring anchors, so neither is stored. No table is
   hash-partitioned: a batch of n docs carries 21·n band keys, so it
   touches nearly every bucket of any bucket count a corpus would use
   (8 of 8, and 58-64 of 64, at 100-doc batches). Opening the state
   converts an older layout once (_convert).
2. per micro-batch. A micro-batch is small next to the corpus, so the
   new side runs on the driver, with the same numpy kernels the
   pipeline's Arrow stages wrap; Spark runs only what needs the corpus.
   Every Spark job is labelled `hsearch:stream/<phase>`. A batch first
   drops whatever an earlier attempt of it wrote, then runs as driver
   passes over doc_id ranges of at most _DRIVER_MAX_DOCS docs (several
   only for a backfill, or a first trigger over a file source with no
   rate limit), each reading the state and the passes before it (the
   `docs` table once, for its probe, fetch and verify). A pass:
   a. `extract`: one Arrow collect of the extracted (doc_id, text);
      the signature kernel (signatures.signature_batch) runs on the
      driver (same seeded config — signatures are append-compatible
      forever),
   b. `probe`: one collect returns the new side's (doc_id, band_hash)
      rows, exploded from its uploaded sigs, and every indexed version's
      rows sharing one of those keys: the band keys exploded from the
      indexed `sig`s, left-semi joined to broadcast(new band keys) — the
      reference's center-probe pattern (kmer_search.cpp:100-121): a
      small query side against the whole index, each index entry it
      hits fetched once. With no state, the query is the new side alone,
   c. candidates on the driver: the new rows feed the bucket kernel
      candidate_pairs runs (candidates.bucket_runs), star-R branch
      included, on the same xxhash64 band keys — the within-batch
      pairs. The driver counts the raw (new, indexed) hits from the
      per-key multiplicities, less a re-crawl's hits on its own indexed
      versions, and only then expands the (new, indexed) pairs by
      searchsorted over the new keys and deduplicates them,
   d. `fetch`: the (doc_id, sig, text) rows of every candidate
      endpoint's indexed versions, by one broadcast semi-join. Verify
      then runs on the driver: the est_prefilter gate and exact Jaccard
      >= τ with verify's kernels, one edge row per passing version
      pair, as verify_pairs' joins emit them. A pass with more than
      _DRIVER_MAX_HITS hits expands none of them: `verify` uploads the
      probe's rows, joins them on band_hash in Spark and runs
      verify_pairs over that raw probe join, and only the edges come
      back,
   e. `merge`: MERGE-ONLY incremental CC. One Arrow collect returns the
      snapshot rows of a set of endpoints and of the members of their
      roots. On the driver-verify path it reads the candidates'
      endpoints (a superset of the edges') on the instance's one
      `stream/merge` worker thread, while `fetch` and verify run; the
      Spark-verify path reads the edges' endpoints. New edges are
      contracted through those roots, edges whose endpoints already
      share a root drop out, union-find runs on the contracted
      remainder, and the delta holds each merged old root and each
      member of a remapped cluster under its new root. New edges can
      only ever MERGE clusters, never split them, so this is exact —
      the O(all-edges-ever) CC recompute of the naive design never
      runs. A merge only ever lowers a doc's cluster_id, so the
      snapshot is the min cluster_id per doc over all versions: the
      append-only form of a union-find root map
      (pcluster/src/pcluster/union_find.hpp:16). The full bucket copies
      an older layout wrote, converted into `clusters/batch_id=N/`, read
      correctly under the same rule,
   f. the driver writes `edges`, `docs` and the cluster delta with
      pyarrow, one part file per table per pass (_append). A table with
      no rows writes no file.
   What the driver holds per pass: at most _DRIVER_MAX_DOCS new docs;
   the probe's rows, at most b (21) per new doc and per indexed version
   its keys touch, never the product of the two sides; at most
   _DRIVER_MAX_HITS expanded probe hits, the docs rows of the indexed
   versions those hits touch, and the pass's edges. The edges are not
   capped: a new doc in a hot indexed bucket verifies against every
   member, on either verify path (no star-R cap or ledger applies to
   the probe).
3. `compact_state()` rewrites the small per-batch files of every batch
   but the newest (the one Structured Streaming may re-run) into one
   batch directory, `clusters` folded to one row per doc, as Iceberg's
   rewrite_data_files does — run it on whatever cadence file counts
   demand. A crash mid-swap is finished when the state is next opened.

Determinism: cluster_id = min(doc_id) of the component is preserved
inductively — old roots are component minima, new docs enter as their
own id, and a merge takes the min of the merged roots.

Watermarks/late data: dedup state is keyed by content, not event time —
a "late" page is just a new page; no watermark needed. Exactly-once:
batch N first deletes its own `batch_id=N/` directories, so it reads
only state below N (plus its own earlier passes), and a retried batch
rewrites identical tables whatever an earlier attempt left behind —
also after a compaction, which never folds the newest batch. A crash
mid-batch leaves it partly written until the retry; a reader never
sees a partial part file (each is renamed into place).
"""

from __future__ import annotations

import glob
import os
import shutil
from collections import Counter
from concurrent.futures import ThreadPoolExecutor, wait

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from hsearch_spark.config import DedupConfig
from hsearch_spark.functions.signatures import explode_bands, signature_batch
from hsearch_spark.functions.text import extract_pages
from hsearch_spark.operators.candidates import bucket_runs
from hsearch_spark.operators.components import _arrow_bulk, _uf_min_labels
from hsearch_spark.operators.verify import (
    VERIFY_SCHEMA,
    exact_jaccard,
    signature_agreement,
    verify_pairs,
)
from hsearch_spark.utils import job_label

# The driver path's size rule. A batch of more docs runs as several
# driver passes of at most this many distinct doc_ids each (their texts,
# signatures and band keys are what a pass holds).
_DRIVER_MAX_DOCS = 10_000
# A pass expands at most this many raw probe hits into doc_id pairs (16
# bytes each, about 64 MB); above it, the pass verifies its candidates in
# Spark.
_DRIVER_MAX_HITS = 4_000_000

_NOT_NULL_LONG = T.StructField("doc_id", T.LongType(), False)
# each state table's columns: the driver writes them, and every read uses
# this schema, which skips Spark's parquet schema-inference job
_TABLES = {
    "docs": T.StructType([
        _NOT_NULL_LONG,
        T.StructField("text", T.StringType()),
        T.StructField("sig", T.BinaryType(), False),
    ]),
    "edges": T.StructType(
        VERIFY_SCHEMA.fields + [T.StructField("method", T.StringType(), False)]
    ),
    "clusters": T.StructType(
        [_NOT_NULL_LONG, T.StructField("cluster_id", T.LongType(), False)]
    ),
}


def _expand(lo: np.ndarray, cnt: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(owner, index) for every index in the ranges [lo[k], lo[k]+cnt[k])."""
    owner = np.repeat(np.arange(cnt.size), cnt)
    start = np.repeat(np.cumsum(cnt) - cnt, cnt)
    return owner, lo[owner] + np.arange(owner.size) - start


def _unique_pairs(a: np.ndarray, b: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    pairs = np.unique(np.stack([a, b], 1), axis=0)
    return pairs[:, 0], pairs[:, 1]


def _version_pairs(
    ids: np.ndarray, a: np.ndarray, b: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(pair, i, j) for every version i of a[pair] and j of b[pair] in
    the sorted id array `ids`: the rows the doc_id equi-joins on both
    pair sides produce."""
    lo_a = np.searchsorted(ids, a, "left")
    n_a = np.searchsorted(ids, a, "right") - lo_a
    lo_b = np.searchsorted(ids, b, "left")
    n_b = np.searchsorted(ids, b, "right") - lo_b
    pair, off = _expand(np.zeros(a.size, np.int64), n_a * n_b)
    return pair, lo_a[pair] + off // n_b[pair], lo_b[pair] + off % n_b[pair]


def _key_ranges(
    n_key: np.ndarray, o_key: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(order, lo, cnt): the new rows' order by key, and each indexed
    row's range [lo, lo + cnt) of new rows with its key in that order."""
    order = np.argsort(n_key, kind="stable")
    keys = n_key[order]
    lo = np.searchsorted(keys, o_key, "left")
    return order, lo, np.searchsorted(keys, o_key, "right") - lo


def _doc_keys(doc: np.ndarray, key: np.ndarray) -> np.ndarray:
    out = np.empty(doc.size, [("key", np.int64), ("doc", np.int64)])
    out["key"], out["doc"] = key, doc
    return out


def probe_hits(
    n_doc: np.ndarray, n_key: np.ndarray, o_doc: np.ndarray, o_key: np.ndarray
) -> int:
    """The row count of the raw probe join (new (n_doc, n_key) rows ⋈
    indexed (o_doc, o_key) rows on the key, n != o), from the rows alone:
    the new rows sharing each indexed row's key, less those of the same
    doc_id (a re-crawl meets its own indexed versions). Builds no pair."""
    _, _, cnt = _key_ranges(n_key, o_key)
    new, old = np.sort(_doc_keys(n_doc, n_key)), _doc_keys(o_doc, o_key)
    own = np.searchsorted(new, old, "right") - np.searchsorted(new, old, "left")
    return int(cnt.sum() - own.sum())


def probe_pairs(
    n_doc: np.ndarray, n_key: np.ndarray, o_doc: np.ndarray, o_key: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """The raw probe join's rows as (min, max) doc_id pairs, one per
    probe hit (duplicates kept)."""
    order, lo, cnt = _key_ranges(n_key, o_key)
    owner, j = _expand(lo, cnt)
    n, o = n_doc[order[j]], o_doc[owner]
    hit = n != o
    return np.minimum(n, o)[hit], np.maximum(n, o)[hit]


def batch_pairs(
    doc: np.ndarray, key: np.ndarray, config: DedupConfig
) -> tuple[np.ndarray, np.ndarray]:
    """The within-batch candidate pairs (a, b), a <= b, distinct, of the
    band rows (doc[i], key[i]) — what candidate_pairs returns for them,
    computed on the driver: the shared bucket kernel
    (candidates.bucket_runs), each hot bucket's reps paired with its
    full membership (rep < member), as bucket_pairs_grouped's star-R
    join does."""
    order = np.lexsort((doc, key))
    key, doc = key[order], doc[order]
    pa_, pb_, rep, rep_key = bucket_runs(
        key, doc, config.max_bucket_all_pairs, config.star_representatives
    )
    lo = np.searchsorted(key, rep_key, "left")
    owner, member = _expand(lo, np.searchsorted(key, rep_key, "right") - lo)
    ra, mb = rep[owner], doc[member]
    star = ra < mb
    return _unique_pairs(np.append(pa_, ra[star]), np.append(pb_, mb[star]))


def verify_versions(
    a: np.ndarray,
    b: np.ndarray,
    ids: np.ndarray,
    sigs: list,
    texts: list,
    config: DedupConfig,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Distinct candidate pairs (a, b) -> edge rows (a, b, jaccard), as
    verify_pairs emits them over doc versions (ids[x], sigs[x],
    texts[x]), several per re-crawled doc_id: the estimate gate keeps a
    pair once per passing (sig, sig) version pair, and each kept row
    yields one edge per (text, text) version pair passing the threshold."""
    order = np.argsort(ids, kind="stable")
    pair, i, j = _version_pairs(ids[order], a, b)
    i, j = order[i], order[j]
    if config.est_prefilter is None:
        n_est = np.ones(a.size, np.int64)
    else:
        est = signature_agreement([sigs[x] for x in i], [sigs[x] for x in j])
        n_est = np.bincount(pair[est >= config.est_prefilter], minlength=a.size)
    keep = n_est[pair] > 0
    pair, i, j = pair[keep], i[keep], j[keep]
    jac = exact_jaccard(  # keyed by version: texts[x] is one text
        [texts[x] for x in i], [texts[x] for x in j], i, j, config.shingle_k, {}
    )
    ok = jac >= config.jaccard_threshold
    pair, jac = pair[ok], jac[ok]
    times = n_est[pair]
    return (
        np.repeat(a[pair], times),
        np.repeat(b[pair], times),
        np.repeat(jac, times),
    )


class IncrementalDedup:
    """State + the foreachBatch body. Testable without a streaming query
    (process_batch is a pure batch function, as foreachBatch bodies are).
    Opening a state directory finishes an interrupted compaction and
    converts an older layout. `n_state_buckets` is accepted and ignored:
    no state is bucketed."""

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
        # reads the cluster snapshot while the driver verifies
        self._merge_worker = ThreadPoolExecutor(1, thread_name_prefix="stream/merge")
        os.makedirs(state_dir, exist_ok=True)
        self._finish_swaps()
        self._convert()

    # ---------------- state layout ----------------

    def _path(self, name: str) -> str:
        return os.path.join(self.state_dir, name)

    def _batch_dirs(self, name: str, below_batch: int | None = None) -> list[str]:
        """The `batch_id=M/` directories of table `name` holding a part
        file (only M < `below_batch`, if given). A table never written
        has none; any other read error propagates — a corrupt table read
        as empty would silently skip the probe against the corpus."""
        top = self._path(name)
        if not os.path.isdir(top):
            return []
        return [
            os.path.join(top, d)
            for d in sorted(os.listdir(top))
            if d.startswith("batch_id=")
            and (below_batch is None or int(d[9:]) < below_batch)
            and any(f.endswith(".parquet") for f in os.listdir(os.path.join(top, d)))
        ]

    def _read_state(
        self, name: str, below_batch: int | None = None
    ) -> DataFrame | None:
        """Read a state table's _TABLES columns, or None when it holds no
        part file yet (optionally only its batches below `below_batch`).
        The explicit schema skips Spark's schema-inference job."""
        dirs = self._batch_dirs(name, below_batch)
        if not dirs:
            return None
        return self.spark.read.schema(_TABLES[name]).parquet(*dirs)

    def _append(
        self, name: str, table: pa.Table, batch_id: int, part: int = 0
    ) -> None:
        """Write `table` as part file `part` of `<name>/batch_id=N`, one
        parquet file written by the driver under a dot name (which
        Spark's listing skips) and then renamed, so a reader never sees
        a partial file. No rows → no file."""
        if not table.num_rows:
            return
        final = os.path.join(self._path(name), f"batch_id={batch_id}")
        os.makedirs(final, exist_ok=True)
        tmp = os.path.join(final, f".part-{part:05d}.parquet.tmp")
        pq.write_table(table.cast(to_arrow_schema(_TABLES[name])), tmp)
        os.rename(tmp, os.path.join(final, f"part-{part:05d}.parquet"))

    def _swap_in(self, name: str, df: DataFrame, keep: int | None = None) -> None:
        """Replace table `name` with `df`, partitioned by its `batch_id`
        column, plus batch `keep`'s part files, hard-linked: written in
        full to `<name>__compacting`, then moved in by atomic renames,
        the table moving aside to `<name>__old` first (_finish_swaps)."""
        path = self._path(name)
        new = path + "__compacting"
        df.write.partitionBy("batch_id").parquet(new)
        for f in glob.glob(os.path.join(path, f"batch_id={keep}", "*.parquet")):
            linked = os.path.join(new, f"batch_id={keep}")
            os.makedirs(linked, exist_ok=True)
            os.link(f, os.path.join(linked, os.path.basename(f)))
        os.rename(path, path + "__old")
        os.rename(new, path)
        shutil.rmtree(path + "__old")

    def _finish_swaps(self) -> None:
        """Finish every _swap_in a crash interrupted. A table is missing
        only once its rewrite is complete, so the rewrite moves in; any
        other rewrite may be partial and is dropped, as is `__old`."""
        for name in _TABLES:
            path = self._path(name)
            new, old = path + "__compacting", path + "__old"
            if not os.path.exists(path) and os.path.exists(new):
                os.rename(new, path)
            for leftover in (new, old):
                if os.path.exists(leftover):
                    shutil.rmtree(leftover)

    def _convert(self) -> None:
        """Convert state an older layout wrote, once. A table with a
        `state_bucket=K/` directory is rewritten flat, each row under the
        batch id of its old path; while `sigs` (or a swap of it) exists,
        `docs` is rewritten with each version's `sig` recomputed from its
        text, which needs no version pairing. Then `sigs` and `bands` are
        deleted. A crash at any step leaves state the next open converts
        again, to the same result."""
        legacy = [  # the tables before one doc table, swaps included
            p for n in ("sigs", "bands")
            for p in glob.glob(glob.escape(self._path(n)) + "*")
        ]
        stale = [
            name for name in _TABLES
            if (name == "docs" and legacy)
            or glob.glob(
                os.path.join(glob.escape(self._path(name)), "**", "state_bucket=*"),
                recursive=True,
            )
        ]
        cfg = self.config

        def sign(batches):  # (doc_id, text, batch_id) -> docs' columns too
            for batch in batches:
                text = batch.column("text")
                sig = signature_batch(batch.column(0), text.fill_null(""), cfg)
                yield pa.RecordBatch.from_arrays(
                    [batch.column(0), text, sig.column("sig"), batch.column(2)],
                    names=[*_TABLES["docs"].names, "batch_id"],
                )

        with job_label(self.spark, "stream/convert"):
            for name in stale:
                df = (
                    self.spark.read.option("recursiveFileLookup", "true")
                    .schema(_TABLES[name])
                    .parquet(self._path(name))
                    .withColumn(
                        "batch_id",
                        F.regexp_extract(
                            "_metadata.file_path", r".*batch_id=(-?\d+)", 1
                        ).cast("long"),
                    )
                )
                if name == "docs":  # an older docs table holds no sig
                    df = df.select("doc_id", "text", "batch_id").mapInArrow(
                        sign, df.schema
                    )
                self._swap_in(name, df)
        for p in legacy:
            shutil.rmtree(p)

    def compact_state(self) -> None:
        """Rewrite each state table's batches but the newest into one,
        `batch_id=-1`, `clusters` folded to its latest row per doc, and
        swap it in (_swap_in), the newest batch's files hard-linked. A
        re-run of the newest batch, after a crash, first deletes its own
        `batch_id=N/`; a fold would have made its rows indexed state.
        Snapshot-read semantics make this safe between batches."""
        self._finish_swaps()
        newest = max(
            (int(d[d.rindex("=") + 1 :]) for n in _TABLES for d in self._batch_dirs(n)),
            default=-1,
        )
        with job_label(self.spark, "stream/compact"):
            for name in _TABLES:
                if name == "clusters":
                    df = self._latest_snapshot(below_batch=newest)
                else:
                    df = self._read_state(name, below_batch=newest)
                if df is not None:
                    self._swap_in(name, df.withColumn("batch_id", F.lit(-1)), newest)

    # ---------------- driver transfers ----------------

    def _upload(self, **columns) -> DataFrame:
        with _arrow_bulk(self.spark):
            return self.spark.createDataFrame(pa.table(columns))

    def _collect(self, df: DataFrame) -> pa.Table:
        with _arrow_bulk(self.spark):
            return df.toArrow()

    # ---------------- clusters log ----------------

    def _latest_snapshot(self, below_batch: int | None = None) -> DataFrame | None:
        """(doc_id, cluster_id) assignments | None: the min cluster_id per
        doc over the `clusters/batch_id=M/` versions (M < below_batch)."""
        df = self._read_state("clusters", below_batch)
        if df is None:
            return None
        return df.groupBy("doc_id").agg(F.min("cluster_id").alias("cluster_id"))

    def _snapshot_rows(
        self, ids: np.ndarray, batch_id: int
    ) -> tuple[np.ndarray, np.ndarray]:
        """(doc_id, cluster_id) arrays, sorted by doc_id: the latest
        snapshot row of each doc in `ids` and of every member of their
        roots, in one collect. The read includes batch N's earlier parts.
        Its transfers run under the caller's _arrow_bulk, entered once:
        that conf is session-global, and this runs on the merge worker
        while the driver's own transfers run (_process_pass)."""
        empty = np.empty(0, np.int64)
        if not ids.size:
            return empty, empty
        raw = self._read_state("clusters", below_batch=batch_id + 1)
        if raw is None:
            return empty, empty
        with job_label(self.spark, "stream/merge"):
            ends = self.spark.createDataFrame(pa.table({"doc_id": ids}))
            own = raw.join(F.broadcast(ends), "doc_id", "left_semi")
            roots = own.select("cluster_id").union(
                ends.select(F.col("doc_id").alias("cluster_id"))
            )
            rows = own.unionByName(
                raw.join(F.broadcast(roots), "cluster_id", "left_semi")
            ).toArrow()
        d = rows.column("doc_id").to_numpy()
        c = rows.column("cluster_id").to_numpy()
        order = np.lexsort((c, d))
        d, c = d[order], c[order]
        first = np.append(True, d[1:] != d[:-1])
        return d[first], c[first]  # latest row per doc

    def _merge_clusters(
        self,
        a: np.ndarray,
        b: np.ndarray,
        batch_id: int,
        part: int = 0,
        snapshot: tuple[np.ndarray, np.ndarray] | None = None,
    ) -> tuple[int, int]:
        """Merge-only incremental CC over edges (a[i], b[i]); returns
        (merged roots, cluster rows appended). Snapshot rows are
        (doc_id, cluster_id) for NON-singleton members only (member !=
        root); root(x) = the snapshot's x, else x. `snapshot` is what
        _snapshot_rows returned for a superset of the endpoints; by
        default it is read here for the endpoints. The edges are
        contracted through the roots, same-root edges vanish, union-find
        runs on the remainder, and part `part` of `clusters/batch_id=N`
        receives only the changed rows: each merged old root, and each
        member of a remapped cluster, under its new root. A pass whose
        edges are all already known writes NOTHING."""
        real = a != b
        a, b = a[real], b[real]
        if snapshot is None:
            with _arrow_bulk(self.spark):
                snapshot = self._snapshot_rows(np.unique(np.append(a, b)), batch_id)
        prev_d, prev_c = snapshot

        def root(x: np.ndarray) -> np.ndarray:
            if not prev_d.size:
                return x
            i = np.minimum(np.searchsorted(prev_d, x), prev_d.size - 1)
            return np.where(prev_d[i] == x, prev_c[i], x)

        ra, rb = root(a), root(b)
        new = ra != rb
        nodes, label = _uf_min_labels(ra[new], rb[new])
        moved = label != nodes  # old roots that merged into a lower one
        members = np.isin(prev_c, nodes[moved])
        doc = np.concatenate([prev_d[members], nodes[moved]])
        cluster = np.concatenate([
            label[np.searchsorted(nodes, prev_c[members])], label[moved]
        ])
        self._append(
            "clusters",
            pa.table({"doc_id": doc, "cluster_id": cluster}),
            batch_id,
            part,
        )
        return int(moved.sum()), int(doc.size)

    # ---------------- the micro-batch body ----------------

    def _bands(self, docs: DataFrame) -> DataFrame:
        return explode_bands(docs.select("doc_id", "sig"), self.config).select(
            "doc_id", "band_hash"
        )

    def _probe_rows(self, old: DataFrame | None, new: DataFrame) -> DataFrame:
        """(doc_id, band_hash, new): each indexed version's band keys that
        a new doc shares (the indexed keys, left-semi joined to the new
        ones, broadcast), then the new side's own keys — every row the
        raw probe join pairs up, each once. With no state, only the new
        side's keys."""
        new_bands = self._bands(new).withColumn("new", F.lit(True))
        if old is None:
            return new_bands
        return (
            self._bands(old)
            .join(F.broadcast(new_bands.select("band_hash")), "band_hash", "left_semi")
            .withColumn("new", F.lit(False))
            .unionByName(new_bands)
        )

    def _verify_in_spark(
        self, probed: pa.Table, a: np.ndarray, b: np.ndarray, docs: DataFrame
    ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """Edge rows (a, b, jaccard) of the raw probe hits and (a, b):
        the probe's rows, uploaded, joined on band_hash (new against
        indexed, self-hits excluded), then verify_pairs over the indexed
        and new versions `docs`, passed as both its sigs and its docs,
        for a pass whose probe hits are too many to collect. Only the
        edges reach the driver."""
        with job_label(self.spark, "stream/verify"):
            rows = self._upload(**dict(zip(probed.column_names, probed.columns)))
            n = rows.where(F.col("new")).select(F.col("doc_id").alias("n"), "band_hash")
            o = rows.where(~F.col("new")).select(F.col("doc_id").alias("o"), "band_hash")
            cands = (
                o.join(n, "band_hash")
                .where(F.col("n") != F.col("o"))
                .select(F.least("n", "o").alias("a"), F.greatest("n", "o").alias("b"))
                .unionByName(self._upload(a=a, b=b))
                .distinct()
            )
            # not _collect: the session's Arrow batch size bounds the
            # rows (two texts each) of verify's Arrow batches
            edges = (
                verify_pairs(cands, docs, docs, self.config)
                .select("a", "b", "jaccard")
                .toArrow()
            )
        return tuple(edges.column(c).to_numpy() for c in ("a", "b", "jaccard"))

    def process_batch(self, new_pages: DataFrame, batch_id: int) -> dict[str, int]:
        """Dedup one micro-batch against itself and the state before
        `batch_id`, and append it to the state, first dropping whatever
        an earlier attempt of `batch_id` wrote. Returns its counts:
        `batch_pairs` (within-batch candidate pairs), `probe_hits` (raw
        (new, indexed) band-key hits), `old_docs` (indexed doc versions
        fetched to the driver), `edges`, `merges` (old roots merged into
        a lower one) and `cluster_rows` (rows appended to the cluster
        log).

        The size rule, read from one collect of the batch's doc_ids: the
        batch runs as passes over doc_id ranges of at most
        _DRIVER_MAX_DOCS distinct docs, in turn; each pass dedups against
        the state and the passes before it, and writes its own part file
        of `batch_id=N`. The counts are summed over the passes (an empty
        batch runs none and returns no counts). A pass's probe hits are
        counted on the driver from the probe's one collect, before any
        pair is expanded; past _DRIVER_MAX_HITS the pass verifies in
        Spark. On the driver-verify path the cluster snapshot is read
        on the `stream/merge` worker while the driver fetches and
        verifies; an error of that read is raised here."""
        for name in _TABLES:
            shutil.rmtree(
                os.path.join(self._path(name), f"batch_id={batch_id}"),
                ignore_errors=True,
            )
        docs = extract_pages(new_pages).select("doc_id", "text")
        with job_label(self.spark, "stream/extract"):
            # no text: xxhash64(url) only, one stage, 8 bytes a row
            ids = self._collect(docs.select("doc_id")).column("doc_id")
        ids = np.unique(ids.to_numpy())
        counts: Counter[str] = Counter()
        docs = docs.persist()
        try:
            for part, lo in enumerate(range(0, ids.size, _DRIVER_MAX_DOCS)):
                r = ids[lo : lo + _DRIVER_MAX_DOCS]
                ranged = docs.where(F.col("doc_id").between(int(r[0]), int(r[-1])))
                counts.update(self._process_pass(ranged, batch_id, part))
        finally:
            docs.unpersist()
        return dict(counts)

    def _process_pass(
        self, docs: DataFrame, batch_id: int, part: int
    ) -> dict[str, int]:
        """One driver pass over extracted (doc_id, text) rows: their
        counts, and part file `part` of each table's `batch_id=N`. The
        state read holds every batch below N and N's earlier parts."""
        cfg = self.config
        with job_label(self.spark, "stream/extract"):
            new = self._collect(docs)
        ids = new.column("doc_id").to_numpy()
        text = new.column("text").combine_chunks()
        sig = signature_batch(pa.array(ids), text.fill_null(""), cfg).column("sig")
        old = self._read_state("docs", below_batch=batch_id + 1)
        with job_label(self.spark, "stream/probe"):
            probed = self._collect(
                self._probe_rows(old, self._upload(doc_id=ids, sig=sig))
            )
        is_new = probed.column("new").to_numpy()
        doc = probed.column("doc_id").to_numpy()
        key = probed.column("band_hash").to_numpy()
        a, b = batch_pairs(doc[is_new], key[is_new], cfg)
        counts = {"batch_pairs": int(a.size), "probe_hits": 0, "old_docs": 0}
        edges = snapshot = None
        if old is not None:
            probe = (doc[is_new], key[is_new], doc[~is_new], key[~is_new])
            counts["probe_hits"] = probe_hits(*probe)
            if counts["probe_hits"] > _DRIVER_MAX_HITS:
                new = self._upload(doc_id=ids, text=text, sig=sig)
                edges = self._verify_in_spark(probed, a, b, old.unionByName(new))
            else:
                pa_, pb_ = probe_pairs(*probe)
                a, b = _unique_pairs(np.append(a, pa_), np.append(b, pb_))
        if edges is None:
            ends = np.unique(np.append(a, b))
            # the snapshot read overlaps fetch and verify; the bulk conf
            # stays set until it is done
            with _arrow_bulk(self.spark):
                read = self._merge_worker.submit(self._snapshot_rows, ends, batch_id)
                try:
                    # every version verify reads: the pass's, then the indexed
                    v_ids, v_sigs, v_texts = ids, sig.to_pylist(), text.to_pylist()
                    if old is not None and a.size:
                        # the indexed versions of the endpoints: one
                        # semi-join to a broadcast id list, one collect
                        with job_label(self.spark, "stream/fetch"):
                            want = F.broadcast(self._upload(doc_id=ends))
                            got = self._collect(old.join(want, "doc_id", "left_semi"))
                        counts["old_docs"] = got.num_rows
                        v_ids = np.append(v_ids, got.column("doc_id").to_numpy())
                        v_sigs += got.column("sig").to_pylist()
                        v_texts += got.column("text").to_pylist()
                    edges = verify_versions(a, b, v_ids, v_sigs, v_texts, cfg)
                finally:
                    wait([read])
            snapshot = read.result()
        ea, eb, jac = edges
        self._append(
            "edges",
            pa.table({
                "a": ea, "b": eb, "jaccard": jac,
                "method": pa.array(["minhash"] * ea.size, pa.string()),
            }),
            batch_id,
            part,
        )
        self._append(
            "docs", pa.table({"doc_id": ids, "text": text, "sig": sig}), batch_id, part
        )
        merges, rows = self._merge_clusters(ea, eb, batch_id, part, snapshot)
        counts.update(edges=int(ea.size), merges=merges, cluster_rows=rows)
        return counts

    def current_clusters(self) -> DataFrame:
        """Full assignment table from the maintained snapshot — NO CC
        recompute over the cumulative edge table (merge-only CC already
        folded every batch's edges in). Singletons map to themselves; a
        doc indexed in several versions (a re-crawled url) is one row."""
        docs = self._read_state("docs")
        if docs is None:
            raise ValueError("no state yet")
        docs = docs.select("doc_id").distinct()
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
        source upstream). availableNow triggers drain-and-stop batches;
        the source's rate limit (maxFilesPerTrigger, maxOffsetsPerTrigger)
        sizes them, and process_batch splits any batch past its driver
        size rule."""
        return (
            pages_stream.writeStream.foreachBatch(
                lambda df, bid: self.process_batch(df, bid)
            )
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
