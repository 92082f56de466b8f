"""N-vs-4N EXECUTOR scaling sweep on a real local standalone cluster.

The north rule asks for throughput scaling efficiency >= 0.8 from N to
4N EXECUTORS via spark-submit --py-files on a multi-executor cluster.
The local[N] -> local[4N] stand-in conflates that with something a real
scale-out never pays: growing ONE JVM from N to 4N task threads. The
round-4 event-log profile measured that confound directly — the same
400k-doc pipeline burns 543s of JVM CPU at local[2] but 1043s at
local[8] (tools/profile_eventlog.py; allocation-rate/bandwidth/GC
contention inside the one heap) — while four fully independent JVMs
scale at 0.872 of ideal on this socket (BENCH.md round 4).

This tool runs the faithful analog instead: a real standalone master,
K workers, each worker ONE executor with a FIXED shape (cores, heap) —
scaling K from 1 to 4 multiplies executors exactly like adding
machines, per-executor thread count and heap CONSTANT. The job is the
actual deployment artifact: spark-submit --py-files dist/hsearch_spark
.zip jobs/dedup_job.py over a shared parquet fixture. What this still
cannot remove (sandbox): all executors share one physical socket, so
the measured efficiency is FLOORED by the 0.872 same-socket hardware
ceiling; on separate machines that confound is absent.

Usage:
    python tools/standalone_sweep.py <n_docs> [out.json]
        [--legs 1 4] [--cores-per 2] [--mem-per 10g] [--reps 2]

Per leg: cold-JVM spark-submit runs `reps` times, fastest kept (both
legs pay identical per-executor JIT; a real production run is equally
cold). Asserts the assignment hash is identical across legs.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import socket
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SPARK_HOME = os.environ.get("SPARK_HOME", "/opt/spark")
MASTER_URL = "spark://127.0.0.1:7077"


def _spark_class() -> str:
    return os.path.join(SPARK_HOME, "bin", "spark-class")


def _spark_submit() -> str:
    return os.path.join(SPARK_HOME, "bin", "spark-submit")


def _wait_port(port: int, timeout: float = 30.0) -> None:
    t0 = time.monotonic()
    while time.monotonic() - t0 < timeout:
        with socket.socket() as s:
            s.settimeout(0.5)
            try:
                s.connect(("127.0.0.1", port))
                return
            except OSError:
                time.sleep(0.3)
    raise TimeoutError(f"port {port} not listening after {timeout}s")


def _wait_workers(n: int, ui_port: int = 8090, timeout: float = 60.0) -> None:
    """Block until the master reports n ALIVE workers. Without this a
    --reps 1 wide leg can start its single measured rep before every
    executor has registered, under-reading throughput (ADVICE r4)."""
    import urllib.request

    t0 = time.monotonic()
    while time.monotonic() - t0 < timeout:
        try:
            with urllib.request.urlopen(
                f"http://127.0.0.1:{ui_port}/json/", timeout=2
            ) as resp:
                state = json.loads(resp.read())
            alive = [
                w for w in state.get("workers", [])
                if w.get("state") == "ALIVE"
            ]
            if len(alive) >= n:
                return
        except Exception:
            pass
        time.sleep(0.5)
    raise TimeoutError(f"{n} ALIVE workers not registered after {timeout}s")


def _spawn(args: list[str], log: str, env: dict) -> subprocess.Popen:
    f = open(log, "w")
    return subprocess.Popen(
        args, stdout=f, stderr=subprocess.STDOUT, env=env,
        start_new_session=True,
    )


def _kill(p: subprocess.Popen) -> None:
    try:
        os.killpg(os.getpgid(p.pid), signal.SIGTERM)
        p.wait(timeout=10)
    except Exception:
        try:
            os.killpg(os.getpgid(p.pid), signal.SIGKILL)
        except Exception:
            pass


def make_fixture(n_docs: int, path: str) -> None:
    """Generate the deterministic pages fixture once, as parquet both
    legs read — generation excluded from every timed leg."""
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return
    from hsearch_spark.session import build_session
    from hsearch_spark.sources.pages import pages_dataframe

    spark = build_session(app_name="fixture_gen", cores=8)
    pages, _ = pages_dataframe(spark, n_docs=n_docs, seed=43)
    # ~32 files so any executor count up to 32 cores gets parallel splits
    pages.repartition(32).write.mode("overwrite").parquet(path)
    spark.stop()


def run_leg(
    n_workers: int,
    cores_per: int,
    mem_per: str,
    fixture: str,
    reps: int,
    scratch: str,
    local_dir: str | None = None,
    shuffle_buffer: str = "1m",
    codec: str = "lz4",
    event_log_dir: str | None = None,
    shuffle_partitions: int | None = None,
    java_opts: str | None = None,
    job_reps: int = 1,
    extra_confs: list[str] | None = None,
) -> dict:
    env = dict(os.environ)
    env["SPARK_NO_DAEMONIZE"] = "1"
    env.pop("SPARK_MASTER_OPTS", None)
    # CRITICAL (round-5 finding): in standalone mode the WORKER creates
    # each executor's local dirs from ITS OWN env (SPARK_LOCAL_DIRS →
    # passed down as SPARK_EXECUTOR_DIRS); the application's
    # spark.local.dir conf is ignored for executor shuffle/spill files.
    # Every pre-fix sweep therefore wrote shuffle files to /tmp (ext4
    # disk) despite --local-dir tmpfs — the event-log profile showed the
    # same ~500MB map stage paying 0.4s of shuffle-write time at 1
    # executor vs 20.7s at 4 (four processes contending on one disk).
    # Exporting the dir through the worker env is what a real cluster
    # does per node (SPARK_LOCAL_DIRS=/mnt/nvme in spark-env.sh).
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        env["SPARK_LOCAL_DIRS"] = local_dir
    procs: list[subprocess.Popen] = []
    try:
        os.makedirs(scratch, exist_ok=True)
        master = _spawn(
            [
                _spark_class(), "org.apache.spark.deploy.master.Master",
                "--host", "127.0.0.1", "--port", "7077",
                "--webui-port", "8090",
            ],
            f"{scratch}/master.log", env,
        )
        procs.append(master)
        _wait_port(7077)
        for i in range(n_workers):
            wdir = f"{scratch}/worker{i}"
            os.makedirs(wdir, exist_ok=True)
            w = _spawn(
                [
                    _spark_class(), "org.apache.spark.deploy.worker.Worker",
                    MASTER_URL,
                    "--cores", str(cores_per),
                    "--memory", mem_per,
                    "--work-dir", wdir,
                    "--webui-port", str(8100 + i),
                ],
                f"{scratch}/worker{i}.log", env,
            )
            procs.append(w)
        _wait_workers(n_workers)
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        best = None
        total_cores = n_workers * cores_per
        # shuffle-write levers (the round-4 event-log profile attributed
        # the wide leg's dominant stage time to shuffle WRITE): spill and
        # shuffle files on fast local storage (tmpfs here — the sandbox
        # stand-in for the local NVMe a real cluster node provisions for
        # spark.local.dir), a 1m file buffer instead of the 32k default
        # (fewer, larger write() calls per shuffle file), and a pluggable
        # codec (the band exchange is uniformly-mixed 64-bit hashes —
        # near-incompressible, so codec choice is measurable, not free).
        shuffle_confs = [
            "--conf", f"spark.shuffle.file.buffer={shuffle_buffer}",
            "--conf", f"spark.io.compression.codec={codec}",
        ]
        if local_dir:
            # for the DRIVER's own disk blocks (executors get theirs from
            # the worker env above)
            shuffle_confs += ["--conf", f"spark.local.dir={local_dir}"]
        if event_log_dir:
            os.makedirs(event_log_dir, exist_ok=True)
            shuffle_confs += [
                "--conf", "spark.eventLog.enabled=true",
                "--conf", f"spark.eventLog.dir={event_log_dir}",
                "--conf", "spark.eventLog.compress=false",
            ]
        if java_opts:
            shuffle_confs += [
                "--conf", f"spark.executor.extraJavaOptions={java_opts}",
            ]
        for c in extra_confs or []:
            shuffle_confs += ["--conf", c]
        for rep in range(reps):
            cmd = [
                _spark_submit(),
                "--master", MASTER_URL,
                "--deploy-mode", "client",
                "--py-files", f"{repo}/dist/hsearch_spark.zip",
                "--driver-memory", "4g",
                "--conf", f"spark.executor.cores={cores_per}",
                "--conf", f"spark.executor.memory={mem_per}",
                "--conf", f"spark.cores.max={total_cores}",
                # sized to the LEG's cores, as a cluster operator would:
                # shuffle partitions at 4 waves/core, scan splits small
                # enough that total_cores tasks exist (the fixture is
                # ~640MB; the 128m default yields ~5 splits, starving any
                # leg wider than 5 cores), AQE advisory small enough that
                # coalescing doesn't collapse below one task per core at
                # this corpus size. None of these change results — the
                # assignment hash is asserted identical across legs.
                "--conf",
                "spark.sql.shuffle.partitions="
                f"{shuffle_partitions or max(8, 4 * total_cores)}",
                "--conf", "spark.sql.files.maxPartitionBytes=16m",
                "--conf", "spark.sql.adaptive.enabled=true",
                "--conf", "spark.sql.adaptive.coalescePartitions.enabled=true",
                "--conf",
                "spark.sql.adaptive.advisoryPartitionSizeInBytes=8m",
                "--conf", "spark.sql.adaptive.skewJoin.enabled=true",
                "--conf", "spark.locality.wait=0s",
                "--conf", "spark.sql.execution.arrow.pyspark.enabled=true",
                "--conf", "spark.sql.execution.arrow.maxRecordsPerBatch=2048",
                "--conf", "spark.sql.autoBroadcastJoinThreshold=67108864",
                "--conf", "spark.sql.session.timeZone=UTC",
                "--conf", "spark.ui.enabled=false",
                "--conf", "spark.ui.showConsoleProgress=false",
                *shuffle_confs,
                f"{repo}/jobs/dedup_job.py",
                "--input", fixture,
                "--reps", str(job_reps),
            ]
            out = subprocess.run(
                cmd, capture_output=True, text=True, env=env, timeout=3600
            )
            line = None
            rep_lines = []
            for ln in out.stdout.splitlines():
                if ln.startswith("{"):
                    try:
                        parsed = json.loads(ln)
                    except json.JSONDecodeError:
                        continue  # log4j noise that happens to start with {
                    if isinstance(parsed, dict) and "elapsed_sec" in parsed:
                        rep_lines.append(parsed)
                        line = parsed  # last = warm rep when job_reps > 1
            if line is not None and len(rep_lines) > 1:
                # keep the cold-start number alongside the measured warm one
                line["cold_elapsed_sec"] = rep_lines[0]["elapsed_sec"]
                line["rep_elapsed_sec"] = [
                    r["elapsed_sec"] for r in rep_lines
                ]
            if line is None:
                sys.stderr.write(out.stdout[-3000:] + "\n")
                sys.stderr.write(out.stderr[-3000:] + "\n")
                raise RuntimeError(
                    f"leg {n_workers}w rep {rep}: no JSON report from job"
                )
            print(
                f"  {n_workers} executor(s) rep{rep}: "
                f"{line['elapsed_sec']}s {line['docs_per_sec']} docs/s",
                flush=True,
            )
            if best is None or line["elapsed_sec"] < best["elapsed_sec"]:
                best = line
        best["n_workers"] = n_workers
        return best
    finally:
        for p in reversed(procs):
            _kill(p)
        shutil.rmtree(scratch, ignore_errors=True)
        if local_dir:
            shutil.rmtree(local_dir, ignore_errors=True)  # tmpfs = RAM


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("n_docs", type=int)
    ap.add_argument("out", nargs="?", default=None)
    ap.add_argument("--legs", type=int, nargs="+", default=[1, 4],
                    help="executor counts; one value = single-leg probe "
                    "(no efficiency), two = N-vs-4N pair")
    ap.add_argument("--cores-per", type=int, default=2)
    ap.add_argument("--mem-per", default="10g")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument(
        "--local-dir",
        default="/dev/shm/hsearch_localdir"
        if os.path.isdir("/dev/shm")
        else None,
        help="spark.local.dir for shuffle/spill files (default: tmpfs — "
        "the sandbox stand-in for per-node NVMe; pass '' for Spark's "
        "default java.io.tmpdir)",
    )
    ap.add_argument("--shuffle-buffer", default="1m")
    ap.add_argument("--codec", default="lz4",
                    help="spark.io.compression.codec (lz4|zstd|snappy)")
    ap.add_argument("--event-logs", default=None,
                    help="keep per-leg Spark event logs under this dir "
                    "(profile with tools/profile_eventlog.py --parse)")
    ap.add_argument("--shuffle-partitions", type=int, default=None,
                    help="override the 4-waves/core shuffle-partition "
                    "sizing (A/B lever: reducer count drives shuffle "
                    "block count = mappers × reducers)")
    ap.add_argument("--java-opts", default=None,
                    help="spark.executor.extraJavaOptions (JIT/GC A/B)")
    ap.add_argument("--extra-conf", action="append", default=[],
                    help="additional spark conf key=value (repeatable; "
                    "A/B lever for arbitrary shuffle/memory confs)")
    ap.add_argument("--job-reps", type=int, default=1,
                    help="pipeline reps INSIDE each spark-submit (see "
                    "jobs/dedup_job.py --reps); >1 measures the warm "
                    "steady-state rep — the per-executor warmup (JIT, "
                    "heap fault-in) that a 67s sandbox job pays on ~30%% "
                    "of its wall amortizes to ~0 over a real cluster's "
                    "long-lived executors. Cold rep kept in the report.")
    args = ap.parse_args()

    from perfbench.probes import cpu_ticks, gemm_ms, steal_frac

    fixture = f"/tmp/standalone_fixture_{args.n_docs}"
    make_fixture(args.n_docs, fixture)

    results = []
    for k in args.legs:
        gemm = gemm_ms(reps=3)
        t0 = cpu_ticks()
        r = run_leg(
            k, args.cores_per, args.mem_per, fixture, args.reps,
            scratch=f"/tmp/standalone_scratch_{k}",
            local_dir=(args.local_dir or None)
            and f"{args.local_dir}_{k}w",
            shuffle_buffer=args.shuffle_buffer,
            codec=args.codec,
            event_log_dir=args.event_logs and f"{args.event_logs}/{k}w",
            shuffle_partitions=args.shuffle_partitions,
            java_opts=args.java_opts,
            job_reps=args.job_reps,
            extra_confs=args.extra_conf,
        )
        steal_busy = round(steal_frac(t0, cpu_ticks()), 4)
        r["steal_frac_busy"] = steal_busy
        r["gemm_2000_ms"] = round(gemm, 1)
        results.append(r)
        print(
            f"{k} executor(s) x {args.cores_per} cores: "
            f"{r['elapsed_sec']}s  {r['docs_per_sec']} docs/s  "
            f"(steal {steal_busy}, gemm {r['gemm_2000_ms']}ms)",
            flush=True,
        )

    if len(results) == 1:
        if args.out:
            with open(args.out, "w") as f:
                json.dump({"n_docs": args.n_docs, "legs": results}, f, indent=1)
        return
    lo, hi = results
    assert lo["assignment_hash"] == hi["assignment_hash"], (
        "cluster assignments differ across executor counts: "
        f"{lo['assignment_hash']} vs {hi['assignment_hash']}"
    )
    for field in ("n_docs", "n_clusters"):
        assert lo[field] == hi[field], (
            f"{field} differs across executor counts: "
            f"{lo[field]} vs {hi[field]}"
        )
    ratio = hi["n_workers"] / lo["n_workers"]
    eff = (lo["elapsed_sec"] / hi["elapsed_sec"]) / ratio
    print(
        f"assignment hash identical at {lo['n_workers']} and "
        f"{hi['n_workers']} executors: {lo['assignment_hash']}"
    )
    print(
        f"executor scaling efficiency "
        f"({lo['n_workers']}→{hi['n_workers']} executors, "
        f"{args.cores_per} cores / {args.mem_per} heap each): {eff:.3f}"
    )
    if args.out:
        with open(args.out, "w") as f:
            json.dump(
                {
                    "n_docs": args.n_docs,
                    "cores_per_executor": args.cores_per,
                    "mem_per_executor": args.mem_per,
                    "legs": results,
                    "efficiency": round(eff, 3),
                },
                f,
                indent=1,
            )


if __name__ == "__main__":
    main()
