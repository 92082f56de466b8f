"""StageStore: checkpointed stage tables with lineage + metrics + resume.

North-rule requirement: "every stage checkpoints signature and edge
tables back to Iceberg with per-partition lineage and metrics so runs
resume mid-pipeline". The reference keeps everything in RAM and has no
checkpointing at all (SURVEY.md §4) — this module is new design.

In-sandbox there is no iceberg-spark-runtime jar, so the store writes
parquet directories with the identical schema plus a `_LINEAGE.json`
sidecar carrying what Iceberg snapshot metadata would carry:
run-config hash, input fingerprint, stage name, row count,
per-partition row counts, and wall-clock.

Iceberg is wired BEHIND A FLAG, not just documented: when
`SPARK_GRAFT_ICEBERG=1` AND the Iceberg runtime classes are actually
loadable in the JVM, `write`/`read` go through `df.writeTo(
"<catalog>.<db>.<table>").createOrReplace()` / `spark.table(...)`
(catalog + namespace from `SPARK_GRAFT_ICEBERG_CATALOG`, default
`spark_catalog.hsearch`); stage names map to identifiers as
`s_<config_hash>_<stage with / → __>`. Everything else — the sidecar
resume contract, metrics, call sites — is identical, so the day the
jar is on the classpath the flag is the only change. Without the flag
(or without the jar) the store falls back to parquet silently.

Resume contract: a stage directory whose _LINEAGE.json matches the
current config hash is COMPLETE and is read back instead of recomputed;
a partial write (crash mid-stage) has no sidecar and is overwritten.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def iceberg_available(spark: SparkSession) -> bool:
    """True only when the operator opted in (SPARK_GRAFT_ICEBERG=1) AND
    the iceberg-spark-runtime classes are actually on the JVM classpath
    — so the flag can ship ON in a cluster deployment profile while the
    same code degrades to parquet anywhere the jar is absent."""
    if os.environ.get("SPARK_GRAFT_ICEBERG") != "1":
        return False
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def input_fingerprint(df: DataFrame) -> str:
    """Order-insensitive content fingerprint of a DataFrame: row count +
    the sum of xxhash64 over every column, accumulated in DECIMAL(38,0)
    so the sum never overflows (ANSI mode would raise on a long sum).
    One cheap columnar agg pass — the price of never resuming stale
    checkpoints against changed input. Commutative sum ⇒ partitioning-
    and order-independent, so the same data fingerprints identically at
    any parallelism."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return f"{int(row['n'])}-{int(row['h'] or 0) % (1 << 64):016x}"


@dataclass
class StageStore:
    spark: SparkSession
    work_dir: str
    config_hash: str
    # fingerprint of the INPUT DATA (row count + content-hash sum).
    # config_hash alone keys the directory layout, so without this a
    # re-run of the same config + work_dir against DIFFERENT input would
    # silently read back stale stages. When set, completeness requires
    # the sidecar to record the same fingerprint; sidecars written
    # before this field existed (or runs that opt out by passing None)
    # fall back to config-hash-only matching.
    input_fingerprint: str | None = None
    # None = auto-detect (flag + jar); tests may force False/True
    use_iceberg: bool | None = None
    metrics: dict[str, dict] = field(default_factory=dict)

    def __post_init__(self) -> None:
        if self.use_iceberg is None:
            self.use_iceberg = iceberg_available(self.spark)

    def _path(self, stage: str) -> str:
        return os.path.join(self.work_dir, self.config_hash, stage)

    def _sidecar(self, stage: str) -> str:
        return os.path.join(self._path(stage), "_LINEAGE.json")

    def is_complete(self, stage: str) -> bool:
        p = self._sidecar(stage)
        if not os.path.exists(p):
            return False
        with open(p) as f:
            meta = json.load(f)
        if meta.get("config_hash") != self.config_hash:
            return False
        if self.input_fingerprint is not None:
            return meta.get("input_fingerprint") == self.input_fingerprint
        return True

    def _table(self, stage: str) -> str:
        """Iceberg identifier for a stage: catalog.db from the env (the
        deployment profile owns naming), stage path flattened."""
        ns = os.environ.get("SPARK_GRAFT_ICEBERG_CATALOG", "spark_catalog.hsearch")
        return f"{ns}.s_{self.config_hash}_{stage.replace('/', '__')}"

    def read(self, stage: str) -> DataFrame:
        if self.use_iceberg:
            return self.spark.table(self._table(stage))
        return self.spark.read.parquet(self._path(stage))

    def write(self, stage: str, df: DataFrame) -> DataFrame:
        """Write + sidecar; returns the re-read DataFrame (lineage cut)."""
        path = self._path(stage)
        if os.path.exists(path):
            shutil.rmtree(path)
        t0 = time.monotonic()
        if self.use_iceberg:
            # replace = the Iceberg analog of overwrite-the-directory;
            # Iceberg keeps its own snapshot history underneath
            df.writeTo(self._table(stage)).createOrReplace()
            os.makedirs(path, exist_ok=True)  # sidecar home
        else:
            df.write.mode("overwrite").parquet(path)
        elapsed = time.monotonic() - t0
        per_file = self._rows_per_file(stage)
        meta = {
            "config_hash": self.config_hash,
            "input_fingerprint": self.input_fingerprint,
            "stage": stage,
            "rows": sum(per_file.values()),
            "files": per_file,
            "write_sec": round(elapsed, 3),
            "written_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        with open(self._sidecar(stage), "w") as f:
            json.dump(meta, f, indent=1)
        self.metrics[stage] = meta
        return self.read(stage)

    def _rows_per_file(self, stage: str) -> dict[str, int]:
        """Per-partition lineage: rows per non-empty written file (what
        Iceberg's manifest records per data file), read from the parquet
        footers on the driver, or from the Iceberg table's `files`
        metadata table (a branch no test runs: the suite has no Iceberg
        runtime jar). A 0-row parquet part file is deleted, since every
        reader would open it; only an all-empty stage keeps one, so its
        schema still reads."""
        if self.use_iceberg:
            rows = (
                self.spark.table(self._table(stage) + ".files")
                .select("file_path", "record_count")
                .collect()
            )
            counts = {p: int(n) for p, n in rows}
        else:
            counts = {
                os.path.join(d, f): pq.read_metadata(os.path.join(d, f)).num_rows
                for d, _, files in os.walk(self._path(stage))
                for f in files
                if f.endswith(".parquet")
            }
            keep = max(counts, key=counts.get, default=None)
            for p in [p for p, n in counts.items() if n == 0 and p != keep]:
                d, f = os.path.split(p)
                for q in (p, os.path.join(d, f".{f}.crc")):  # + Hadoop's checksum
                    if os.path.exists(q):
                        os.remove(q)
        return {os.path.basename(p): n for p, n in counts.items() if n > 0}

    def materialize(self, stage: str, build) -> DataFrame:
        """Resume-aware: read if complete, else build() → write."""
        if self.is_complete(stage):
            meta = json.load(open(self._sidecar(stage)))
            meta["resumed"] = True
            self.metrics[stage] = meta
            return self.read(stage)
        return self.write(stage, build())
