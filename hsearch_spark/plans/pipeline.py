"""End-to-end dedup pipeline: pages → docs → sigs → bands → candidates →
edges → clusters. Every stage checkpointed + resumable (StageStore).

This is the Spark restatement of the reference's pcluster lifecycle
(SURVEY.md §3.1): FASTA scan → bag-of-kmers → KLSH bucket → per-bucket
exact search → union-find, re-planned as declarative DataFrame stages.

Edge sources feeding connected components:
- exact fingerprint pairs  (free; catches byte-identical docs even when
  MinHash banding would — belt and braces, both cost one shuffle)
- MinHash band candidates → exact-Jaccard verify  (near dups)
- anchor substring pairs   (long shared spans; marked method='substring'
  and NOT subject to the Jaccard gate — a 300-char span in two long
  otherwise-different docs is a dup-span edge, ref IGC suffix stage)
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hsearch_spark.config import DedupConfig
from hsearch_spark.functions.signatures import add_signature_columns, explode_bands
from hsearch_spark.functions.text import extract_pages
from hsearch_spark.operators.candidates import candidate_pairs, dropped_pairs_metrics
from hsearch_spark.operators.components import assign_clusters, connected_components
from hsearch_spark.operators.dedup import exact_duplicate_pairs
from hsearch_spark.operators.substring import substring_edges
from hsearch_spark.operators.verify import verify_pairs
from hsearch_spark.sources.io import StageStore, input_fingerprint
from hsearch_spark.utils import job_label


@dataclass
class DedupResult:
    clusters: DataFrame           # (doc_id, cluster_id)
    edges: DataFrame              # (a, b, jaccard, method)
    docs: DataFrame               # (doc_id, url, text, lang)
    # no-silent-truncation ledger: per hot bucket, how many all-pairs
    # candidates the star-R policy did NOT emit (channel, bucket_key,
    # bucket_size, dropped_pairs)
    dropped_pairs: DataFrame
    metrics: dict = field(default_factory=dict)


def run_dedup(
    spark: SparkSession,
    pages: DataFrame,
    config: DedupConfig | None = None,
    work_dir: str | None = None,
) -> DedupResult:
    """Full pipeline. If work_dir is set, stages checkpoint + resume there."""
    config = config or DedupConfig()
    # the fingerprint binds checkpoints to THIS input: same config +
    # work_dir over different data recomputes instead of silently
    # resuming stale stages (costs one agg scan, only when checkpointing)
    store = (
        StageStore(
            spark, work_dir, config.config_hash(),
            input_fingerprint=input_fingerprint(pages),
        )
        if work_dir
        else None
    )
    timings: dict[str, float] = {}

    def stage(name: str, build) -> DataFrame:
        t0 = time.monotonic()
        with job_label(spark, name):
            if store is not None:
                df = store.materialize(name, build)
            else:
                df = build().localCheckpoint()
        timings[name] = round(time.monotonic() - t0, 3)
        return df

    # A real run reads Iceberg/parquet whose scan splits already match the
    # cluster (spark.sql.files.maxPartitionBytes); a driver-created or
    # coalesced input can arrive with fewer partitions than cores, which
    # would starve every Arrow-UDF stage downstream. One-time fix here.
    parallelism = spark.sparkContext.defaultParallelism
    if pages.rdd.getNumPartitions() < parallelism:
        pages = pages.repartition(parallelism)

    docs = stage("docs", lambda: extract_pages(pages))
    # corpus size: free from the stage sidecar when checkpointing, one
    # trivial count over the cached checkpoint otherwise. Feeds the
    # candidate stage's broadcast guard (bands = b × n_docs exactly) so
    # the guard proves safety from the bound instead of running a count
    # job over the grouped buckets (candidates.bucket_pairs_grouped).
    n_docs = (
        int(store.metrics["docs"]["rows"]) if store is not None else docs.count()
    )
    sigs = stage("sigs", lambda: add_signature_columns(docs, config))
    # bands have exactly one consumer → fused into the candidates stage
    # (no materialization of the b×|docs| exploded table)
    cands = stage(
        "candidates",
        lambda: candidate_pairs(
            explode_bands(sigs, config), config, input_rows=config.bands * n_docs
        ),
    )

    # One edge plan, store or not: the three channels (minhash-verify,
    # exact pairs, substring) are lazy plans over the already-durable
    # cands/sigs/docs stages, unioned and reduced to the best edge per
    # pair, then materialized ONCE as the `edges` stage. The DAGScheduler
    # runs the channels' independent shuffle-map stages concurrently
    # inside that one job. A crash during `edges` reruns all three
    # channels from those durable inputs.
    def build_edges() -> DataFrame:
        e = (
            verify_pairs(cands, sigs, docs, config)
            .unionByName(
                exact_duplicate_pairs(docs).select(
                    "a",
                    "b",
                    F.lit(1.0).alias("jaccard"),
                    F.lit("exact").alias("method"),
                )
            )
            .unionByName(
                substring_edges(sigs, config).select(
                    "a",
                    "b",
                    F.lit(None).cast("double").alias("jaccard"),
                    F.lit("substring").alias("method"),
                )
            )
        )
        # one row per pair; keep the strongest evidence (min_by on method
        # rank — exact > minhash > substring)
        rank = F.when(F.col("method") == "exact", 0).when(
            F.col("method") == "minhash", 1
        ).otherwise(2)
        return (
            e.withColumn("_rank", rank)
            .groupBy("a", "b")
            .agg(
                F.min_by(F.struct("jaccard", "method"), F.col("_rank")).alias("best")
            )
            .select("a", "b", "best.jaccard", "best.method")
        )

    edges = stage("edges", build_edges)
    # CC's input is the durable edges stage, so a crash before `clusters`
    # completes reruns CC from parquet; only a graph above the driver
    # tier's bound also persists its star-loop iterations in the store
    assignments = stage(
        "clusters",
        lambda: assign_clusters(
            docs, connected_components(edges, store=store)
        ),
    )

    # no-silent-truncation ledger (north rule: per-partition lineage +
    # metrics): for every hot bucket the star-R policy bounded — and for
    # every template anchor the substring df-gate dropped — record how
    # many all-pairs candidates were NOT emitted: the auditable
    # counterpart of the reference's silent 500-hit cap
    # (pcluster.cpp:115-116). Checkpointed as its own stage when a
    # work_dir is set (row count lands in stage metrics for free);
    # otherwise left LAZY in the result so the hot path pays nothing
    # unless the caller consumes it.
    def build_ledger() -> DataFrame:
        def channel(name, df, key, cap, r):
            return dropped_pairs_metrics(df, key, cap, r).select(
                F.lit(name).alias("channel"),
                F.col(key).cast("string").alias("bucket_key"),
                F.col("n").alias("bucket_size"),
                "dropped_pairs",
            )

        anchors = sigs.select("doc_id", F.explode("anchors").alias("anchor"))
        return channel(
            "minhash_bands", explode_bands(sigs, config), "band_hash",
            config.max_bucket_all_pairs, config.star_representatives,
        ).unionByName(
            channel("substring_anchors", anchors, "anchor", config.anchor_df_max, 0)
        )

    dropped = (
        stage("dropped_pairs", build_ledger) if store is not None else build_ledger()
    )

    metrics = {"timings_sec": timings}
    if store is not None:
        metrics["stages"] = store.metrics
    return DedupResult(assignments, edges, docs, dropped, metrics)
