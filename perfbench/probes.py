"""Measurements taken from outside the program: /proc process-tree CPU
and memory, host weather, the Spark status store, and the count-
sensitive assignment fingerprint."""

from __future__ import annotations

import json
import os
import threading
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _tree(root: int) -> dict[int, int]:
    """{pid: parent pid} of `root` and every live descendant, from one
    scan of /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # exited mid-scan
        children.setdefault(ppid, []).append(int(d))
    out, todo = {root: 0}, [root]
    while todo:
        p = todo.pop()
        for c in children.get(p, ()):
            out[c] = p
            todo.append(c)
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + sys) of the process tree under `root`,
    including reaped children (cutime/cstime), so Python workers that
    exited still count."""
    total = 0
    for p in _tree(root or os.getpid()):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is state (stat field 3): utime..cstime are fields 14-17
        total += sum(int(x) for x in fields[11:15])
    return total / _CLK_TCK


def tree_rss_mb(root: int | None = None) -> float:
    """Summed RSS of the process tree. A child that still runs its
    parent's command with the parent's resident size is a fork or spawn
    that has not exec'd yet (the JVM starts helper commands that way);
    it shares the parent's pages, so it is not counted twice."""
    tree = _tree(root or os.getpid())
    seen: dict[int, tuple[bytes, int]] = {}
    for p in tree:
        try:
            with open(f"/proc/{p}/cmdline", "rb") as f:
                cmd = f.read()
            with open(f"/proc/{p}/statm") as f:
                seen[p] = (cmd, int(f.read().split()[1]))
        except (OSError, IndexError, ValueError):
            continue  # exited mid-scan
    pages = 0
    for p, (cmd, rss) in seen.items():
        parent = seen.get(tree[p])
        if parent is None or parent[0] != cmd or abs(parent[1] - rss) > parent[1] // 50:
            pages += rss
    return pages * _PAGE / (1 << 20)


class PeakRss:
    """Samples the process tree's summed RSS on a background thread."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_rss_mb())


# ---------------- host weather (metadata, not metrics) ----------------


def cpu_ticks() -> list[int]:
    """/proc/stat aggregate line: user nice system idle iowait irq
    softirq steal ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_frac(t0: list[int], t1: list[int]) -> float:
    """Steal ticks as a share of non-idle ticks between two samples."""
    d = [b - a for a, b in zip(t0, t1)]
    busy = sum(d) - d[3]
    return d[7] / busy if busy > 0 else 0.0


def gemm_ms(reps: int = 3, n: int = 2000) -> float:
    """Best-of-`reps` wall ms of a seeded n×n float64 GEMM after one
    warm call: a host-speed yardstick that moves when the VM is in a
    degraded window even with zero steal."""
    import numpy as np

    a = np.random.default_rng(1).standard_normal((n, n))
    b = np.random.default_rng(2).standard_normal((n, n))
    a @ b
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        a @ b
        best = min(best, time.perf_counter() - t0)
    return best * 1000


# ---------------- Spark status store ----------------

# reported name: (status-store stage counter, divisor to the reported unit)
ROLLUP = {
    "run_s": ("executorRunTime", 1e3),     # ms
    "jvm_cpu_s": ("executorCpuTime", 1e9),  # ns
    "gc_s": ("jvmGcTime", 1e3),            # ms
    "shuffle_read_mb": ("shuffleReadBytes", 1e6),
    "shuffle_write_mb": ("shuffleWriteBytes", 1e6),
    "spill_mb": ("diskBytesSpilled", 1e6),
}
STAGE_COUNTERS = tuple(counter for counter, _ in ROLLUP.values())


class StatusStore:
    """Reads jobs and stages from the live application's status store
    (works with spark.ui.enabled=false) as JSON, one call per listing."""

    def __init__(self, spark) -> None:
        jvm = spark._jvm
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(
            jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"
        ).__getattr__("MODULE$")
        self._mapper.registerModule(scala_mod)

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def drain(self) -> None:
        """Block until the listener bus has delivered every event, so
        the store holds the final state of jobs that already returned."""
        self._sc.listenerBus().waitUntilEmpty()

    def max_job_id(self) -> int:
        self.drain()
        jobs = self._json(self._store.jobsList(None))
        return max((j["jobId"] for j in jobs), default=-1)

    def jobs_after(self, job_id: int) -> list[dict]:
        """Jobs with id > job_id, each with its non-skipped stages'
        metrics summed under "stages" (a stage shared by several jobs
        counts once, under the lowest job id)."""
        self.drain()
        jobs = sorted(
            (j for j in self._json(self._store.jobsList(None)) if j["jobId"] > job_id),
            key=lambda j: j["jobId"],
        )
        want = {s for j in jobs for s in j["stageIds"]}
        stages = {}
        st = self._store
        listing = st.stageList(
            None, *(getattr(st, f"stageList$default${i}")() for i in range(2, 6))
        )
        for s in self._json(listing):
            if s["stageId"] in want and s["status"] != "SKIPPED":
                prev = stages.get(s["stageId"])
                if prev is None or s["attemptId"] > prev["attemptId"]:
                    stages[s["stageId"]] = s
        seen: set[int] = set()
        for j in jobs:
            sums = dict.fromkeys(STAGE_COUNTERS, 0)
            for sid in j["stageIds"]:
                if sid in seen or sid not in stages:
                    continue
                seen.add(sid)
                for k in STAGE_COUNTERS:
                    sums[k] += stages[sid][k] or 0
            j["stages"] = sums
        return jobs


def job_label(job: dict) -> str:
    """Stage name from an `hsearch:<stage>` job description, else
    "unlabeled" (jobs a pass runs outside run_dedup's stage())."""
    d = job.get("description") or ""
    return d.split(":", 1)[1] if d.startswith("hsearch:") else "unlabeled"


def rollup(jobs: list[dict]) -> dict[str, dict[str, float]]:
    """Per-label totals in reporting units (s, MB, job count)."""
    out: dict[str, dict[str, float]] = {}
    for j in jobs:
        r = out.setdefault(job_label(j), dict.fromkeys([*ROLLUP, "jobs"], 0.0))
        for name, (counter, div) in ROLLUP.items():
            r[name] += j["stages"][counter] / div
        r["jobs"] += 1
    return out


def shuffle_write_mb(jobs: list[dict]) -> float:
    return sum(j["stages"]["shuffleWriteBytes"] for j in jobs) / 1e6


# ---------------- correctness ----------------


def assignment_fingerprint(clusters) -> tuple[int, int]:
    """(rows, decimal sum of xxhash64(doc_id, cluster_id)) of a
    (doc_id, cluster_id) table. Unlike an XOR fold, the sum changes when
    a row is duplicated any number of times; the row count catches rows
    that hash to zero."""
    from pyspark.sql import functions as F

    row = clusters.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("doc_id", "cluster_id").cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


def truth_id_pairs(spark, truth_pairs):
    """(a_url, b_url) pandas pairs → Spark (a, b) doc-id pairs, a < b,
    with doc_id = xxhash64(url) as extract_pages assigns it."""
    from pyspark.sql import functions as F

    t = spark.createDataFrame(truth_pairs, schema="a_url string, b_url string")
    a, b = F.xxhash64("a_url"), F.xxhash64("b_url")
    return t.select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))


def pair_scores(spark, clusters, truth_pairs) -> dict[str, float]:
    """Recall/precision of the clusters' implied pairs against the
    planted truth, via operators.evaluate."""
    from hsearch_spark.operators.evaluate import cluster_all_pairs, recall_metrics

    return recall_metrics(cluster_all_pairs(clusters), truth_id_pairs(spark, truth_pairs))
