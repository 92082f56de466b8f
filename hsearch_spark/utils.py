"""Small shared runtime helpers."""

from __future__ import annotations

from collections import defaultdict
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

# Per-site registry of persisted DataFrames so repeated operator calls
# (e.g. one per run_dedup pass in a long-lived session) don't accumulate
# unbounded cache entries for the lifetime of the session.
_PERSISTED: dict[str, list[DataFrame]] = defaultdict(list)


def bounded_persist(df: DataFrame, site: str, keep: int = 2) -> DataFrame:
    """persist() with per-call-site cleanup: unpersists older cached
    frames from the same site beyond `keep` live entries.

    Unpersist only drops cached blocks — lineage remains, so a stale
    caller that still holds an older DataFrame just recomputes (slower,
    never wrong). keep=2 tolerates one in-flight consumer while the next
    call's cache builds.
    """
    entries = _PERSISTED[site]
    while len(entries) >= keep:
        try:
            entries.pop(0).unpersist(False)
        except Exception:  # session already stopped — nothing to free
            pass
    out = df.persist()
    entries.append(out)
    return out


@contextmanager
def job_label(spark: SparkSession, name: str) -> Iterator[None]:
    """Label every Spark job started inside the block `hsearch:<name>`:
    the phase name the Spark UI and event log show, and the handle
    tools/profile_eventlog.py and perfbench group task metrics by."""
    sc = spark.sparkContext
    sc.setJobDescription(f"hsearch:{name}")
    try:
        yield
    finally:
        sc.setJobDescription(None)
