"""spark-submit entrypoint for the dedup pipeline (north rule:
"runs via spark-submit --py-files on a multi-executor cluster").

    python tools/build_pyfiles.py            # -> dist/hsearch_spark.zip
    spark-submit --master local[32] \
        --py-files dist/hsearch_spark.zip \
        jobs/dedup_job.py \
        --input /path/to/pages_parquet \
        --work-dir /tmp/dedup_work \
        --output /tmp/dedup_out

On a real cluster only --master and memory configs change. --input may
be a parquet directory with the pages schema (url, warc_ts, html, text,
lang) or `synthetic:<n_docs>` for the deterministic fixture corpus.
Re-running with the same --work-dir and config resumes from the last
completed stage (StageStore lineage).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description="hsearch_spark dedup pipeline")
    p.add_argument("--input", required=True,
                   help="pages parquet dir, or synthetic:<n_docs>")
    p.add_argument("--work-dir", default=None,
                   help="stage checkpoint dir (enables resume)")
    p.add_argument("--output", default=None,
                   help="write clusters parquet here (default: stdout stats only)")
    p.add_argument("--seed", type=int, default=42)
    p.add_argument(
        "--reps", type=int, default=1,
        help="run the full pipeline this many times in ONE JVM, printing "
        "one JSON line per rep. Rep 0 is the cold-start number (JIT, "
        "heap fault-in, Arrow/Python-worker spin-up all inside the "
        "measurement); later reps are the steady-state number — the "
        "honest estimator for a long-lived cluster where per-executor "
        "warmup amortizes over hours of input (at the north rule's "
        "10^12-doc scale the warm fraction is ~100%). Reps recompute "
        "from the raw input every time (no cross-rep reuse; --work-dir "
        "resume is disabled for reps>1) and must produce the identical "
        "assignment hash.")
    args = p.parse_args(argv)

    # spark-submit provides the session; plain python falls back to local
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("hsearch_dedup").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from hsearch_spark.config import DedupConfig
    from hsearch_spark.plans.pipeline import run_dedup
    from hsearch_spark.sources.io import input_fingerprint

    config = DedupConfig(seed=args.seed)

    if args.input.startswith("synthetic:"):
        from hsearch_spark.sources.pages import pages_dataframe

        n = int(args.input.split(":", 1)[1])
        pages, _ = pages_dataframe(spark, n_docs=n, seed=args.seed)
    else:
        pages = spark.read.parquet(args.input)

    work_dir = args.work_dir if args.reps == 1 else None
    prev_hash = None
    for rep in range(args.reps):
        t0 = time.monotonic()
        res = run_dedup(spark, pages, config=config, work_dir=work_dir)
        if args.output:
            res.clusters.write.mode("overwrite").parquet(args.output)
            n_docs = spark.read.parquet(args.output).count()
        else:
            n_docs = res.clusters.count()
        elapsed = time.monotonic() - t0
        n_clusters = res.clusters.select("cluster_id").distinct().count()
        # order-independent, count-sensitive assignment fingerprint — the
        # cross-cluster-size determinism invariant (north rule): identical
        # at N and 4N executors (and across reps within one JVM)
        assignment_hash = input_fingerprint(
            res.clusters.select("doc_id", "cluster_id")
        )
        if prev_hash is not None and assignment_hash != prev_hash:
            raise AssertionError(
                f"rep {rep} assignment hash {assignment_hash} != "
                f"rep {rep - 1} hash {prev_hash}"
            )
        prev_hash = assignment_hash
        print(
            json.dumps(
                {
                    "config_hash": config.config_hash(),
                    "assignment_hash": assignment_hash,
                    "n_docs": n_docs,
                    "n_clusters": n_clusters,
                    "docs_per_sec": round(n_docs / elapsed, 1),
                    "elapsed_sec": round(elapsed, 2),
                    "rep": rep,
                    "warm": rep > 0,
                    "stage_timings": res.metrics.get("timings_sec", {}),
                    "resumed_stages": [
                        s
                        for s, m in res.metrics.get("stages", {}).items()
                        if m.get("resumed")
                    ],
                }
            ),
            flush=True,
        )
        # Drop localCheckpoint refs and force the cleanup NOW rather than
        # whenever the async ContextCleaner gets around to it: rep N's
        # checkpoint blocks (~3 GB at 1.6M docs) otherwise linger into
        # rep N+1's measurement window, squeezing storage memory hardest
        # on the narrowest leg (1 executor holds ALL blocks) — a bias the
        # N-vs-4N efficiency comparison must not carry.
        res = None
        if rep + 1 < args.reps:
            import gc

            gc.collect()  # release py4j refs so the cleaner sees them
            spark.sparkContext._jvm.System.gc()
            time.sleep(1.0)  # let the ContextCleaner drain its queue
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
