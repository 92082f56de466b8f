"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Headline = the dedup pipeline (the engine's reason to exist) over a
deterministic synthetic pages corpus (the driver testdata carries no
Common-Crawl-style pages table), plus representative operator queries
over the driver's sf tables. The dedup metric also reports docs/sec.

Scaling evidence (north rule, N vs 4N executors): run
    python bench.py --scaling
to execute the identical dedup job at local[8] and local[32] and append
the throughput + efficiency table to BENCH.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

from hsearch_spark.plans.pipeline import run_dedup
from hsearch_spark.session import build_session
from hsearch_spark.sources.io import input_fingerprint
from hsearch_spark.sources.pages import pages_dataframe

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


def _cpu_ticks() -> list[int] | None:
    """/proc/stat first line [user nice sys idle iowait irq softirq
    steal ...] or None off-Linux."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):  # pragma: no cover
        return None


def _gemm_mode_ms() -> float | None:
    """Best-of-3 2000×2000 GEMM ms (tools/window_probe.gemm_ms), or None
    if the tools package isn't importable (zip-only deployments)."""
    try:
        from tools.window_probe import gemm_ms

        return round(gemm_ms(reps=3), 1)
    except ImportError:  # pragma: no cover
        return None


def main() -> None:
    import __spark_entry__ as entrymod

    spark = build_session(app_name="hsearch_bench", cores=CPUS)
    sf = os.path.basename(SF_DIR.rstrip("/")).replace("sf", "")
    ticks0 = _cpu_ticks()

    queries: dict[str, float] = {}

    # headline: full dedup pipeline, docs/sec. Warm up first (JIT, Arrow
    # codepaths, shuffle dirs, Python worker pool) — same as scaling();
    # the target metric is steady-state cluster throughput, not local JVM
    # cold-start.
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
    ticks1 = _cpu_ticks()
    steal_busy = None
    if ticks0 is not None and ticks1 is not None:
        d = [a - b for a, b in zip(ticks1, ticks0)]
        nonidle = sum(d) - d[3]
        if nonidle > 0:
            steal_busy = round(d[7] / nonidle, 4)
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
                "gemm_2000_ms": _gemm_mode_ms(),
            }
        )
    )
    spark.stop()


def scaling() -> None:
    """North-rule scaling evidence: same job at local[8] vs local[32]
    (N vs 4N stand-in), plus the determinism invariant: byte-identical
    cluster assignments at both parallelism levels."""
    n_docs = int(os.environ.get("SCALING_N_DOCS", "200000"))
    lo, hi = (
        int(c) for c in os.environ.get("SCALING_CORES", "8,32").split(",")
    )
    results = {}
    for cores in (lo, hi):
        spark = build_session(app_name=f"hsearch_scaling_{cores}", cores=cores)
        _time_dedup(spark, 2000)  # warmup (JIT, shuffle dirs)
        elapsed, n, h = _time_dedup(spark, n_docs, seed=43, reps=2)
        results[cores] = {"sec": elapsed, "docs_per_sec": n / elapsed, "hash": h}
        spark.stop()
        print(f"local[{cores}]: {elapsed:.1f}s  {n / elapsed:.1f} docs/sec")
    assert results[lo]["hash"] == results[hi]["hash"], (
        "cluster assignments differ across parallelism levels"
    )
    print(f"assignment hash identical at local[{lo}] and local[{hi}]")
    eff = (results[lo]["sec"] / results[hi]["sec"]) / (hi / lo)
    print(f"scaling efficiency ({lo}→{hi} cores): {eff:.3f}")
    stamp = time.strftime("%Y-%m-%d %H:%M UTC", time.gmtime())
    row = (
        f"| {stamp} | {n_docs} | local[{lo}]→local[{hi}] | "
        f"{results[lo]['docs_per_sec']:.1f} | {results[hi]['docs_per_sec']:.1f} | "
        f"{eff:.3f} |\n"
    )
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH.md")
    header = (
        "# BENCH — measured numbers\n\n"
        "## Scaling (north rule: efficiency >= 0.8 at N -> 4N)\n\n"
        "Same dedup job, same input, local[N] vs local[4N]\n"
        "(sandbox stand-in for N vs 4N executors); "
        "efficiency = (T_N/T_4N)/4.\n\n"
        "| run (UTC) | docs | cores | docs/sec @N | docs/sec @4N | efficiency |\n"
        "|---|---|---|---|---|---|\n"
    )
    if not os.path.exists(path):
        with open(path, "w") as f:
            f.write(header)
    with open(path, "a") as f:
        f.write(row)


if __name__ == "__main__":
    if "--scaling" in sys.argv:
        scaling()
    else:
        main()
