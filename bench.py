"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Headline = the dedup pipeline (the engine's reason to exist) over a
deterministic synthetic pages corpus (the driver testdata carries no
Common-Crawl-style pages table), plus representative operator queries
over the driver's sf tables. The dedup metric also reports docs/sec,
and the host weather (steal share, GEMM yardstick) from perfbench.probes.
"""

from __future__ import annotations

import json
import os
import time

from hsearch_spark.plans.pipeline import run_dedup
from hsearch_spark.session import build_session
from hsearch_spark.sources.io import input_fingerprint
from hsearch_spark.sources.pages import pages_dataframe
from perfbench.probes import cpu_ticks, gemm_ms, steal_frac

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
# dedup corpus size for the headline number: sized so the full pipeline
# at local[32] finishes in a couple of minutes while still shuffling
# meaningfully (≈ 8k docs ≈ 6 MB text, 256k band rows)
N_DOCS = int(os.environ.get("BENCH_N_DOCS", "20000"))

BENCH_QUERIES = (
    "pricing_summary",
    "topk_orders_per_customer",
    "event_sessions",
    "exact_dup_groups",
    "repeated_windows",
    "ann_cosine_topk",
    "minhash_clusters",
    # round-2 operators (new keys; earlier keys unchanged for
    # cross-round comparability). IVF is benched in its approximate
    # operating regime; the exact full-probe config is contract-only.
    "ivf_cosine_topk_probe",
    "edit_similarity_pairs",
)


def _time_dedup(
    spark, n_docs: int, seed: int = 42, reps: int = 1
) -> tuple[float, int, str]:
    """Run the full pipeline `reps` times on the same input; report the
    fastest (steady-state throughput — single-JVM local mode has 30-50%
    run-to-run variance from JIT/GC that a real cluster amortizes).
    Also returns the order-independent, count-sensitive fingerprint of
    the cluster assignment for cross-parallelism invariance checks."""
    pages, _ = pages_dataframe(spark, n_docs=n_docs, seed=seed)
    pages = pages.localCheckpoint()  # exclude fixture generation from timing

    def _persistent_ids() -> set[int]:
        it = spark.sparkContext._jsc.sc().getPersistentRDDs().keysIterator()
        ids = set()
        while it.hasNext():
            ids.add(it.next())
        return ids

    keep = _persistent_ids()  # the input; must survive across reps
    best, n, h = float("inf"), 0, ""
    for _ in range(reps):
        t0 = time.monotonic()
        res = run_dedup(spark, pages)
        h = input_fingerprint(res.clusters.select("doc_id", "cluster_id"))
        best = min(best, time.monotonic() - t0)
        n = int(h.split("-", 1)[0])  # the fingerprint leads with the row count
        # drop this rep's checkpointed stages so repeated runs don't evict
        # each other out of block-manager memory (skews the next rep)
        jsc = spark.sparkContext._jsc.sc()
        m = jsc.getPersistentRDDs()
        it = m.keysIterator()
        while it.hasNext():
            rid = it.next()
            if rid not in keep:
                m.apply(rid).unpersist(False)
    return best, n, h


def main() -> None:
    import __spark_entry__ as entrymod

    spark = build_session(app_name="hsearch_bench", cores=CPUS)
    sf = os.path.basename(SF_DIR.rstrip("/")).replace("sf", "")
    ticks0 = cpu_ticks()

    queries: dict[str, float] = {}

    # headline: full dedup pipeline, docs/sec. Warm up first (JIT, Arrow
    # codepaths, shuffle dirs, Python worker pool); the target metric is
    # steady-state cluster throughput, not local JVM cold-start.
    _time_dedup(spark, 2000, seed=7)
    elapsed, n_docs, _ = _time_dedup(spark, N_DOCS, reps=2)
    queries["dedup_pipeline"] = round(elapsed, 3)
    docs_per_sec = round(n_docs / elapsed, 1)

    # per-query best-of-2, same steady-state rationale as the dedup
    # reps: a single local-mode sample swings with hypervisor steal
    # (±2.5x observed, see BENCH.md round-3 headline); the fastest of
    # two runs is the reproducible number. Recorded in the JSON as
    # query_reps so rounds are compared like-for-like.
    QUERY_REPS = 2
    qs = entrymod.queries()
    for name in BENCH_QUERIES:
        best = float("inf")
        for _ in range(QUERY_REPS):
            t0 = time.monotonic()
            qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
            best = min(best, time.monotonic() - t0)
        queries[name] = round(best, 3)

    # persisted-index amortization evidence: build the IVF index ONCE
    # outside the timer, then time only .search() — the production probe
    # path (ivf_cosine_topk_probe above retrains per call by contract;
    # the delta between the two keys is the amortized training cost)
    from hsearch_spark.operators.ann import build_ivf_index

    emb = entrymod._read(spark, SF_DIR, "embeddings")
    idx = build_ivf_index(emb, n_lists=64, seed=42)
    best = float("inf")
    for _ in range(QUERY_REPS):
        t0 = time.monotonic()
        idx.search(emb, k=5, n_probe=8, prune_partitions=False).write.format(
            "noop"
        ).mode("overwrite").save()
        best = min(best, time.monotonic() - t0)
    queries["ivf_index_probe"] = round(best, 3)

    total = round(sum(queries.values()), 3)
    # window-quality evidence: the sandbox is a shared-tenant VM whose
    # hypervisor steal has measured 9.7%-14.5% of CPU under load across
    # windows (BENCH.md round-3 headline) — a bad window inflates every
    # number uniformly by 2x+. steal_frac_busy = steal / non-idle ticks
    # over this run, so any single sample carries its own weather report.
    steal_busy = round(steal_frac(ticks0, cpu_ticks()), 4)
    print(
        json.dumps(
            {
                "metric": "dedup_pipeline_plus_operator_suite",
                "value": total,
                "unit": "sec",
                "queries": queries,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "docs_per_sec_dedup": docs_per_sec,
                "dedup_n_docs": n_docs,
                "cpus": CPUS,
                "query_reps": QUERY_REPS,
                "steal_frac_busy": steal_busy,
                # host-mode yardstick: fast ~59 ms / degraded ~114 ms on
                # this box (BENCH.md round 4) — the effective CPU speed
                # flips intraday with ZERO steal signal, and this is the
                # only in-guest indicator that catches it
                "gemm_2000_ms": round(gemm_ms(reps=3), 1),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
