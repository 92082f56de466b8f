"""Repo benchmark: end-to-end and per-layer cost of the dedup pipeline.

    python3 perfbench/run.py --workload web_mix --seed 1 --seconds 15 --trace 0

Run from the repository root. Workloads: web_mix, dup_dense_store,
stream_recrawl (see perfbench/README.md for why each exists). The last
stdout line is one JSON object {correct, attempted, failed, metrics};
`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer
ones. The line before it, prefixed "perfbench-meta", carries run
metadata (host weather, fingerprints, sample counts). Everything the
run writes goes under .perfbench/ in the working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench")
# one vCPU of a 4-vCPU host is left to the JVM's JIT and GC threads and
# the driver process; with local[4] they contend with the task threads
# and pass walls spread more (README.md)
CORES = 3
SETUP_REPS = 3     # input set-ups per run; setup_s takes their median
# timed passes (run_dedup calls, or micro-batches) per run, at least; a
# run keeps passing until --seconds have gone by. Sized so one run ends
# in about a minute on a 4-vCPU host (README.md).
MIN_PASSES = {"web_mix": 3, "dup_dense_store": 2, "stream_recrawl": 3}
WEB_MIX_DOCS = 4000
DUP_DENSE_DOCS = 2000
WARM_DOCS = 200    # batch warm-up input: same generator and seed, fewer docs
STREAM_BASE_DOCS = 600
STREAM_SEED_PARTS = 3  # seeding batches; all but the first probe the state
STREAM_BATCH_DOCS = 100
STREAM_STATE_BUCKETS = 8
COMPACT_EVERY = 2  # micro-batches between compact_state calls

STAGES = (
    "docs", "sigs", "candidates", "edges", "edges_minhash", "edges_exact",
    "edges_substring", "clusters", "dropped_pairs", "unlabeled",
)
STAGE_FIELDS = (
    "wall_s", "run_s", "jvm_cpu_s", "gc_s", "shuffle_read_mb",
    "shuffle_write_mb", "spill_mb", "jobs",
)
UNITS = {
    "setup_s": "s", "docs_per_s": "docs/s", "batch_s_p50": "s",
    "cpu_s_per_kdoc": "s/kdoc", "shuffle_write_mb": "MB",
    "peak_rss_mb": "MB", "pair_recall": "ratio", "pair_precision": "ratio",
}


def _isolate_scratch() -> None:
    """Keep Spark's shuffle files, the JVM's and Python's temp files
    inside .perfbench/ (this must run before the JVM starts)."""
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # the session's default heap is half of host RAM; pin it so memory
    # and GC figures do not depend on the host's size
    os.environ["SPARK_DRIVER_MEM"] = "2g"


def _fresh_dir(*parts: str) -> str:
    d = os.path.join(WORK, *parts)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


def _dir_size(path: str) -> tuple[float, int]:
    """(MB, files) under path."""
    size, files = 0, 0
    for d, _, names in os.walk(path):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            files += 1
    return size / 1e6, files


def _median(xs) -> float:
    return float(statistics.median(xs))


class Trace:
    """In-memory spans (name, start, end, parent), written at the end."""

    def __init__(self) -> None:
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None, **kw) -> int:
        self.spans.append(
            {"id": len(self.spans), "name": name, "start": start, "end": end,
             "parent": parent, **kw}
        )
        return len(self.spans) - 1

    def add_jobs(self, jobs: list[dict], parent: int) -> None:
        from perfbench.probes import job_label

        for j in jobs:
            if j.get("submissionTime") and j.get("completionTime"):
                self.add(
                    f"job:{job_label(j)}", j["submissionTime"] / 1e3,
                    j["completionTime"] / 1e3, parent, job_id=j["jobId"],
                )

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class Cached:
    """Unpersists the blocks a pass cached (run_dedup localCheckpoints
    every stage), so passes do not evict one another."""

    def __init__(self, spark) -> None:
        self._jsc = spark.sparkContext._jsc.sc()
        self.keep = self._ids()

    def _ids(self) -> set[int]:
        it = self._jsc.getPersistentRDDs().keysIterator()
        ids = set()
        while it.hasNext():
            ids.add(it.next())
        return ids

    def mark(self) -> None:
        self.keep = self._ids()

    def drop_new(self) -> None:
        m = self._jsc.getPersistentRDDs()
        for rid in self._ids() - self.keep:
            m.apply(rid).unpersist(False)


def _measured(store, fn) -> dict:
    """Run fn() as one pass and record its wall, its process-tree CPU,
    its epoch start/end and the status-store jobs it submitted. An
    exception is recorded under "error" (a failed pass), not raised."""
    from perfbench import probes

    job0 = store.max_job_id()
    cpu0, t0, start = probes.tree_cpu_s(), time.monotonic(), time.time()
    p = {"error": None, "value": None}
    try:
        p["value"] = fn()
    except Exception as e:
        p["error"] = repr(e)
        print(f"perfbench: pass failed: {e!r}", file=sys.stderr)
    p.update(wall=time.monotonic() - t0, cpu=probes.tree_cpu_s() - cpu0,
             start=start, end=time.time())
    p["jobs"] = store.jobs_after(job0)
    return p


def _input_setups(make) -> tuple[float, object]:
    """Run the input set-up `make()` SETUP_REPS times; (median s, last)."""
    walls, out = [], None
    for _ in range(SETUP_REPS):
        t0 = time.monotonic()
        out = make()
        walls.append(time.monotonic() - t0)
    return _median(walls), out


# ---------------- batch workloads (run_dedup) ----------------


def run_batch(spark, args, session_s: float, trace: Trace | None) -> dict:
    from hsearch_spark.config import DedupConfig
    from hsearch_spark.plans.pipeline import run_dedup
    from perfbench import probes, workloads

    config = DedupConfig()
    uses_store = args.workload == "dup_dense_store"
    gen, n_docs = {
        "web_mix": (workloads.web_mix, WEB_MIX_DOCS),
        "dup_dense_store": (workloads.dup_dense_store, DUP_DENSE_DOCS),
    }[args.workload]
    store = probes.StatusStore(spark)

    def make():
        inp, warm_pdf = gen(args.seed, n_docs), gen(args.seed, WARM_DOCS).pages
        return inp, len(warm_pdf), [
            spark.createDataFrame(pdf, schema=workloads.PAGES_SCHEMA).localCheckpoint()
            for pdf in (warm_pdf, inp.pages)
        ]

    input_s, (inp, n_warm, (warm_pages, pages)) = _input_setups(make)
    cached = Cached(spark)

    def one_pass(i: int, df) -> dict:
        work_dir = _fresh_dir("store", f"pass{i}") if uses_store else None
        p = _measured(store, lambda: run_dedup(spark, df, config=config, work_dir=work_dir))
        if p["error"] is None:
            p["fp"] = probes.assignment_fingerprint(p["value"].clusters)
        if work_dir is not None:
            p["store_mb"], p["store_files"] = _dir_size(work_dir)
        return p

    # warm-up: one untimed pass of the same shape on a small instance of
    # the workload. A pass is mostly per-job overhead, so the cold JVM,
    # JIT and worker pool cost about as much on 200 docs as on 2000, and
    # a full-size warm-up left the first timed pass no steadier
    # (README.md).
    warm = one_pass(0, warm_pages)
    cached.drop_new()
    if warm["error"] is not None or warm["fp"][0] != n_warm:
        raise RuntimeError(f"warm-up pass failed: {warm['error'] or warm['fp']}")

    passes, scores = [], None
    with probes.PeakRss() as rss:
        t_meas = time.monotonic()
        while (
            len(passes) < MIN_PASSES[args.workload]
            or time.monotonic() - t_meas < args.seconds
        ):
            p = one_pass(len(passes) + 1, pages)
            if scores is None and p["error"] is None:
                # scored outside the pass's span, on its clusters
                scores = probes.pair_scores(spark, p["value"].clusters, inp.truth_pairs)
            p["value"] = None  # keep no DataFrames of timed passes
            passes.append(p)
            cached.drop_new()
            if uses_store:
                shutil.rmtree(os.path.join(WORK, "store"))
        if trace is not None:
            passes.append(one_pass(len(passes) + 1, pages))
    if scores is None:
        raise RuntimeError("every timed pass raised")
    # a pass fails if it raised, if its count-sensitive fingerprint
    # differs from the first good pass's or misses rows, or if the
    # scored pass's recall < 0.99
    fp = next(p["fp"] for p in passes if p["error"] is None)
    for p in passes:
        p["ok"] = (
            p["error"] is None and p["fp"] == fp and fp[0] == n_docs
            and scores["recall"] >= 0.99
        )
    failed = sum(not p["ok"] for p in passes)
    traced = passes.pop() if trace is not None else None
    walls = [p["wall"] for p in passes if p["error"] is None]
    result = {
        "correct": failed == 0,
        "attempted": len(passes) + (traced is not None),
        "failed": failed,
        "meta": {
            "n_docs": n_docs, "passes": len(passes), "pass_walls_s": walls,
            "fingerprints": [
                f"{p['fp'][0]}-{p['fp'][1]}" for p in passes if "fp" in p
            ],
            "warmup_s": warm["wall"],
            "shuffle_write_mb_per_pass": [probes.shuffle_write_mb(p["jobs"]) for p in passes],
            "scores": scores, "input_setup_s": input_s, "session_s": session_s,
        },
    }
    if trace is None:
        result["metrics"] = {
            "setup_s": session_s + warm["wall"] + input_s,
            "docs_per_s": n_docs / _median(walls),
            "batch_s_p50": _median(walls),
            "cpu_s_per_kdoc": _median(p["cpu"] for p in passes if p["error"] is None)
            * 1000 / n_docs,
            "shuffle_write_mb": _median(
                probes.shuffle_write_mb(p["jobs"]) for p in passes if p["error"] is None
            ),
            "peak_rss_mb": rss.peak_mb,
            "pair_recall": scores["recall"],
            "pair_precision": scores["precision"],
        }
        return result

    # traced run: span tree of the traced pass, per-stage and per-layer
    root = trace.add("run_dedup", traced["start"], traced["end"], workload=args.workload)
    trace.add_jobs(traced["jobs"], root)
    if traced["error"] is not None:
        raise RuntimeError(f"traced pass failed: {traced['error']}")
    res = traced["value"]
    m = _stage_metrics(res.metrics["timings_sec"], traced["jobs"])
    m.update(_layer_counts(spark, res, config, n_docs))
    m["pipeline.jobs"] = len(traced["jobs"])
    m["store.write_mb"] = traced.get("store_mb", 0.0)
    m["store.files"] = traced.get("store_files", 0)
    m["trace.overhead_s"] = traced["wall"] - _median(walls)
    m.update(_kernels(trace, inp.pages, config))
    result["metrics"] = m
    return result


def _stage_metrics(timings: dict, jobs: list[dict]) -> dict:
    from perfbench.probes import rollup

    roll = rollup(jobs)
    out = {}
    for s in STAGES:
        r = roll.get(s, {})
        for f in STAGE_FIELDS:
            v = timings.get(s, 0.0) if f == "wall_s" else r.get(f, 0.0)
            out[f"stage.{s}.{f}"] = v
    return out


def _layer_counts(spark, res, config, n_docs: int) -> dict:
    """Counts of the candidates, verify, dedup, substring and components
    layers, recomputed outside the timed passes through their public
    functions on the traced pass's docs."""
    from pyspark.sql import functions as F

    from hsearch_spark.functions.signatures import add_signature_columns, explode_bands
    from hsearch_spark.operators.candidates import candidate_pairs
    from hsearch_spark.operators.dedup import exact_duplicate_pairs
    from hsearch_spark.operators.substring import substring_edges
    from hsearch_spark.operators.verify import minhash_estimate, verify_pairs

    docs = res.docs
    sigs = add_signature_columns(docs, config).localCheckpoint()
    cands = candidate_pairs(
        explode_bands(sigs, config), config, input_rows=config.bands * n_docs
    ).localCheckpoint()
    n_cands = cands.count()
    n_surv = (
        minhash_estimate(cands, sigs)
        .where(F.col("jaccard_est") >= config.est_prefilter)
        .count()
    )
    n_minhash = verify_pairs(cands, sigs, docs, config).count()
    led = (
        res.dropped_pairs.where(F.col("channel") == "minhash_bands")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("dropped_pairs").alias("d"))
        .collect()[0]
    )
    sizes = res.clusters.groupBy("cluster_id").count()
    cl = sizes.agg(F.count(F.lit(1)).alias("n"), F.max("count").alias("mx")).collect()[0]
    return {
        "candidates.pairs": n_cands,
        "ledger.dropped_pairs": int(led["d"] or 0),
        "ledger.hot_buckets": int(led["n"]),
        "verify.prefilter_survival": n_surv / n_cands if n_cands else 0.0,
        "verify.yield": n_minhash / n_cands if n_cands else 0.0,
        "edges.minhash": n_minhash,
        "edges.exact": exact_duplicate_pairs(docs).count(),
        "edges.substring": substring_edges(sigs, config).count(),
        "clusters.n": int(cl["n"]),
        "clusters.max_size": int(cl["mx"]),
    }


def _kernels(trace: Trace, pages, config) -> dict:
    from perfbench.kernels import kernel_costs

    costs, spans = kernel_costs(pages, config)
    root = trace.add("kernels", spans[0][1], spans[-1][2])
    for name, start, end in spans:
        trace.add(name, start, end, root)
    return costs


# ---------------- stream workload (IncrementalDedup) ----------------


def run_stream(spark, args, session_s: float, trace: Trace | None) -> dict:
    from hsearch_spark.streaming.incremental import IncrementalDedup
    from perfbench import probes, workloads

    store = probes.StatusStore(spark)

    def make():
        inp = workloads.stream_recrawl(args.seed, STREAM_BASE_DOCS, STREAM_BATCH_DOCS)
        cuts = [len(inp.base) * k // STREAM_SEED_PARTS for k in range(STREAM_SEED_PARTS + 1)]
        return inp, [
            spark.createDataFrame(
                inp.base.iloc[a:b], schema=workloads.PAGES_SCHEMA
            ).localCheckpoint()
            for a, b in zip(cuts, cuts[1:])
        ]

    input_s, (inp, base_parts) = _input_setups(make)
    cached = Cached(spark)
    state_dir = _fresh_dir("state")
    inc = IncrementalDedup(spark, state_dir, n_state_buckets=STREAM_STATE_BUCKETS)
    # seeding, in several batches so the later ones (probes against
    # existing state, as every timed batch is) warm the JVM, JIT and
    # workers
    t0 = time.monotonic()
    for batch_id, part in enumerate(base_parts):
        inc.process_batch(part, batch_id)
    inc.compact_state()
    seed_s = time.monotonic() - t0
    cached.drop_new()

    batches, compactions = [], []
    with probes.PeakRss() as rss:
        t_meas = time.monotonic()
        # a traced run adds one micro-batch: the traced pass
        while (
            len(batches) < MIN_PASSES[args.workload] + (trace is not None)
            or time.monotonic() - t_meas < args.seconds
        ):
            i = len(batches)
            pdf, _ = inp.batch(i)
            df = spark.createDataFrame(pdf, schema=workloads.PAGES_SCHEMA).localCheckpoint()
            cached.mark()
            # batch ids below STREAM_SEED_PARTS seeded the state
            batch_id = i + STREAM_SEED_PARTS
            b = _measured(store, lambda: inc.process_batch(df, batch_id))
            if trace is not None and b["error"] is None:
                b["edges"] = spark.read.parquet(
                    os.path.join(state_dir, "edges", f"batch_id={batch_id}")
                ).count()
            batches.append(b)
            cached.drop_new()
            if (i + 1) % COMPACT_EVERY == 0:
                compactions.append(_measured(store, inc.compact_state))
    current = _measured(store, lambda: inc.current_clusters().localCheckpoint())
    clusters = current["value"]
    n_rows, h = probes.assignment_fingerprint(clusters)
    truth = inp.truth_pairs(len(batches))
    scores = probes.pair_scores(spark, clusters, truth)
    n_new = len(batches) * STREAM_BATCH_DOCS
    # every batch builds on the state of the ones before it, so a batch
    # that raised, or a wrong end state, fails them all
    spans = batches + compactions
    raised = any(s["error"] is not None for s in spans)
    end_ok = n_rows == len(inp.base) + n_new and scores["recall"] >= 0.99
    failed = 0 if end_ok and not raised else len(batches)
    walls = [b["wall"] for b in batches]
    compact_walls = [c["wall"] for c in compactions]
    result = {
        "correct": failed == 0,
        "attempted": len(batches),
        "failed": failed,
        "meta": {
            "n_base": len(inp.base), "batch_docs": STREAM_BATCH_DOCS,
            "batches": len(batches), "batch_walls_s": walls,
            "compact_walls_s": compact_walls,
            "fingerprint": f"{n_rows}-{h}", "scores": scores,
            "seed_state_s": seed_s, "input_setup_s": input_s, "session_s": session_s,
        },
    }
    state_mb, state_files = _dir_size(state_dir)
    if trace is None:
        result["metrics"] = {
            "setup_s": session_s + seed_s + input_s,
            # medians, so one stalled batch does not set the figure: a
            # batch plus its share of the compaction that follows it
            "docs_per_s": STREAM_BATCH_DOCS
            / (_median(walls) + _median(compact_walls) / COMPACT_EVERY),
            "batch_s_p50": _median(walls),
            "cpu_s_per_kdoc": sum(s["cpu"] for s in spans) * 1000 / n_new,
            "shuffle_write_mb": _median(probes.shuffle_write_mb(b["jobs"]) for b in batches),
            "peak_rss_mb": rss.peak_mb,
            "pair_recall": scores["recall"],
            "pair_precision": scores["precision"],
        }
        return result

    # traced run: every micro-batch and compaction is a root span; the
    # last micro-batch is the traced pass for the per-stage breakdown
    for name, group in (("process_batch", batches), ("compact_state", compactions)):
        for s in group:
            trace.add_jobs(s["jobs"], trace.add(name, s["start"], s["end"]))
    trace.add_jobs(current["jobs"], trace.add("current_clusters", current["start"], current["end"]))
    last = batches[-1]
    half = len(walls) // 2
    m = _stage_metrics({"unlabeled": last["wall"]}, last["jobs"])
    m.update({
        "stream.batch_s": _median(walls),
        "stream.batch_s_growth": _median(walls[half:]) / _median(walls[:half]),
        "stream.jvm_cpu_s_per_batch": _median(
            sum(j["stages"]["executorCpuTime"] for j in b["jobs"]) / 1e9 for b in batches
        ),
        "stream.shuffle_write_mb_per_batch": _median(
            probes.shuffle_write_mb(b["jobs"]) for b in batches
        ),
        "stream.edges_per_batch": _median(b["edges"] for b in batches),
        "stream.state_mb": state_mb,
        "stream.state_files": state_files,
        "stream.compact_s": _median(compact_walls),
        "stream.current_clusters_s": current["wall"],
        "pipeline.jobs": len(last["jobs"]),
        "trace.overhead_s": last["wall"] - _median(walls[:-1]),
    })
    m.update(_kernels(trace, inp.base, inc.config))
    result["metrics"] = m
    return result


RUNNERS = {
    "web_mix": run_batch,
    "dup_dense_store": run_batch,
    "stream_recrawl": run_stream,
}


def _per_layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(RUNNERS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "hsearch_spark")):
        print(
            "perfbench: run from the repository root (no hsearch_spark/ here)",
            file=sys.stderr,
        )
        return 2

    t_start = time.monotonic()
    _isolate_scratch()
    sys.path.insert(0, ROOT)
    from pyspark import SparkContext

    from hsearch_spark.session import build_session
    from perfbench import probes

    ticks0 = probes.cpu_ticks()
    spark = build_session(app_name=f"perfbench_{args.workload}", cores=CORES)
    gateway = SparkContext._gateway
    trace = Trace() if args.trace else None
    try:
        session_s = time.monotonic() - t_start
        result = RUNNERS[args.workload](spark, args, session_s, trace)
    finally:
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
    meta = result.pop("meta")
    meta["steal_frac"] = probes.steal_frac(ticks0, probes.cpu_ticks())
    meta["gemm_2000_ms"] = probes.gemm_ms(reps=2)
    meta.update(workload=args.workload, seed=args.seed, trace=args.trace)
    if trace is not None:
        path = os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json")
        trace.write(path)
        meta["trace_file"] = os.path.relpath(path, ROOT)
        layers = _per_layer_units()
        unknown = sorted(set(result["metrics"]) - set(layers))
        if unknown:
            raise RuntimeError(f"metrics missing from BENCHMARK.json: {unknown}")
        # a layer this workload does not run reads 0 (listed in the meta line)
        meta["not_exercised"] = sorted(set(layers) - set(result["metrics"]))
        result["metrics"] = {
            n: {"value": float(result["metrics"].get(n, 0.0)), "unit": u}
            for n, u in layers.items()
        }
    else:
        result["metrics"] = {
            n: {"value": float(v), "unit": UNITS[n]} for n, v in result["metrics"].items()
        }
    print("perfbench-meta " + json.dumps(meta, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
