"""Plan-shape regression tests: the physical plans we ship are the plans
we designed (SURVEY.md §4), not whatever happened to pass.

Guards:
- scans prune columns and push predicates (Parquet PushedFilters /
  ReadSchema) — a scan reading all columns for a 2-column projection is
  a bug at 100 TB even though it passes on 60k rows;
- the candidate/substring stages shuffle exactly as often as designed
  (one Exchange per groupBy, none accidental);
- small-dimension joins broadcast instead of shuffling both sides;
- verify is one plan whose one shuffle moves (a, b) pairs, not texts;
- hot expressions stay inside WholeStageCodegen.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hsearch_spark.config import DedupConfig
from hsearch_spark.functions.signatures import add_signature_columns, explode_bands
from hsearch_spark.functions.text import extract_pages
from hsearch_spark.operators.candidates import candidate_pairs
from hsearch_spark.operators.substring import repeated_window_counts, substring_edges
from hsearch_spark.operators.verify import verify_pairs
from hsearch_spark.sources.pages import pages_dataframe

SF_DIR = "/root/testdata/sf0.001"


def plan_str(df, mode: str = "formatted") -> str:
    jqe = df._jdf.queryExecution()
    return df.sparkSession._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        jqe, mode
    )


def n_exchanges(df) -> int:
    # Count Exchange nodes in the tree sketch, EXCLUDING "== Initial
    # Plan ==" sections: a materialized InMemoryRelation (e.g. after the
    # broadcast-guard count in bucket_pairs_grouped) prints both its
    # executed Final Plan and the never-executed Initial Plan, and
    # counting the latter would double-charge the cache's one shuffle.
    import re

    marks = " :+-|"
    skip_indents: list[int] = []
    ids: set[str] = set()
    tree = plan_str(df).split("\n\n")[0]
    for line in tree.splitlines():
        stripped = line.lstrip(marks)
        indent = len(line) - len(stripped)
        # children of the marker print at >= the marker's stripped indent
        # (the first child at exactly equal indent), so pop only when the
        # tree returns to a strictly shallower node
        while skip_indents and indent < skip_indents[-1]:
            skip_indents.pop()
        if "== Initial Plan ==" in line:
            skip_indents.append(indent)
            continue
        if skip_indents:
            continue
        m = re.match(r"Exchange \((\d+)\)", stripped)
        if m:
            # unique node ids: a shared InMemoryRelation prints its one
            # internal shuffle under every consumer branch
            ids.add(m.group(1))
    return len(ids)


def test_documents_scan_prunes_columns(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    q = docs.groupBy("lang").count()
    p = plan_str(q)
    assert "ReadSchema" in p
    read_schema = [l for l in p.splitlines() if "ReadSchema" in l][0]
    assert "lang" in read_schema
    assert "text" not in read_schema, "scan must not read text for a lang-only agg"


def test_documents_scan_pushes_predicates(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    q = docs.where(F.col("n_chars") > 1000).select("doc_id")
    p = plan_str(q)
    pushed = [l for l in p.splitlines() if "PushedFilters" in l][0]
    assert "GreaterThan(n_chars" in pushed


def test_candidate_pairs_shuffle_budget(spark):
    """Design: ONE shuffle for the rank-limit window (whose partitioning
    the bucket groupBy reuses) + ONE for the cross-band pair dedup. The
    rank limit must compile to WindowGroupLimit (bounded per-task state
    pre-shuffle); the grouped relation must be shared (InMemoryRelation)
    so the hot-bucket reps branch doesn't re-shuffle the input; the
    star join must broadcast."""
    bands = spark.createDataFrame(
        [(i, i % 3, i % 7) for i in range(100)],
        "doc_id long, band_id int, band_hash long",
    )
    pairs = candidate_pairs(bands, DedupConfig())
    assert n_exchanges(pairs) == 2
    p = plan_str(pairs)
    assert "hashpartitioning(band_hash" in p
    assert "WindowGroupLimit" in p
    assert "InMemoryRelation" in p or "InMemoryTableScan" in p
    assert "BroadcastHashJoin" in p


def test_substring_edges_shuffle_budget(spark):
    """anchor repartition + pair groupBy = exactly two Exchanges; the
    run detection must be the Arrow kernel (MapInArrow / ArrowEvalPython
    in the plan), with ZERO JVM Sort nodes — the sort lives in the numpy
    kernel, not in a per-group WindowExec (measured 10× CPU difference,
    see substring_edges docstring)."""
    import re

    sigs = spark.createDataFrame(
        [(i, [i % 5, (i + 1) % 5]) for i in range(50)],
        "doc_id long, anchors array<long>",
    )
    edges = substring_edges(sigs, DedupConfig())
    p = plan_str(edges)
    assert n_exchanges(edges) == 2
    assert "MapInArrow" in p or "ArrowEvalPython" in p
    assert len(re.findall(r"^\(\d+\) Sort", p, re.M)) == 0


def test_verify_pairs_shuffle_budget(spark):
    """One verify plan (the 250-doc fixture of test_verify.py): its only
    Exchange spreads the 16-byte (a, b) pairs, the sigs and texts reach
    them by broadcast joins, and the est_prefilter gate and the exact
    check run in one Python node. Texts never cross a shuffle."""
    import re

    config = DedupConfig()
    pages, _ = pages_dataframe(spark, n_docs=250, seed=17)
    docs = extract_pages(pages).localCheckpoint()
    sigs = add_signature_columns(docs, config).localCheckpoint()
    cands = candidate_pairs(explode_bands(sigs, config), config).localCheckpoint()
    edges = verify_pairs(cands, sigs, docs, config)
    p = plan_str(edges)
    assert n_exchanges(edges) == 1
    (moved,) = re.findall(r"^\(\d+\) Exchange\nInput \[\d+\]: \[(.*)\]$", p, re.M)
    assert [c.split("#")[0] for c in moved.split(", ")] == ["a", "b"]
    python = re.findall(
        r"^\(\d+\) (MapInArrow|MapInPandas|ArrowEvalPython|BatchEvalPython)$",
        p,
        re.M,
    )
    assert len(python) == 1


def test_small_dim_join_broadcasts(spark):
    """supplier ⋈ nation: the 25-row dim side must broadcast, not shuffle."""
    sup = spark.read.parquet(f"{SF_DIR}/supplier.parquet")
    nat = spark.read.parquet(f"{SF_DIR}/nation.parquet")
    q = sup.join(nat, sup.s_nationkey == nat.n_nationkey).select(
        "s_name", "n_name"
    )
    p = plan_str(q)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_repeated_windows_codegen_and_partial_agg(spark):
    """Window extraction + count must stay in WholeStageCodegen with a
    map-side partial aggregate before the single shuffle."""
    docs = spark.createDataFrame(
        [(1, "abcabcabc" * 10)], "doc_id long, text string"
    )
    q = repeated_window_counts(docs, window=6, stride=3)
    # AQE finalizes (and codegen-compiles) the plan only on execution;
    # run the tiny query, then read the final plan's "*(n)" markers
    q.collect()
    # the executed plan prints final + initial sections; check the final only
    final = plan_str(q, "simple").split("== Initial Plan ==")[0]
    assert "isFinalPlan=true" in final
    assert "*(" in final
    assert final.count("Exchange") == 1
    # partial_count before the Exchange (two HashAggregate nodes)
    assert final.count("HashAggregate") >= 2
