"""Recall evaluation harness: predicted pairs vs. brute-force truth.

Reference parity: `evaulate()` sorted-merge-joins the LSH output against
the brute-force pair list and reports weighted recall tp/(tp+fn)
(hclust/src/hclust/motif_both_points.cpp:100-165; standalone
evaluate2.cpp:88-153). In Spark the sorted-merge is just a full-outer
join on the pair key; the reference's manual two-pointer walk is the
physical strategy Catalyst picks (SMJ) anyway.

This module IS the correctness gate: north rule pins dup-pair recall
≥ 0.99 vs the oracle at the pinned shingle/signature config.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pair_confusion(
    pred: DataFrame, truth: DataFrame, carry_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Full-outer join of pred(a,b) vs truth(a,b) → per-pair tp/fp/fn flags.

    `carry_cols` names extra truth columns (e.g. a pair weight) to carry
    through the join — NULL on predicted-only rows."""
    p = pred.select("a", "b", F.lit(True).alias("predicted")).dropDuplicates(
        ["a", "b"]
    )
    t = truth.select(
        "a", "b", *carry_cols, F.lit(True).alias("actual")
    ).dropDuplicates(["a", "b"])
    return p.join(t, ["a", "b"], "full_outer").select(
        "a",
        "b",
        *carry_cols,
        F.coalesce("predicted", F.lit(False)).alias("predicted"),
        F.coalesce("actual", F.lit(False)).alias("actual"),
    )


def recall_metrics(
    pred: DataFrame, truth: DataFrame, weight_col: str | None = None
) -> dict[str, float]:
    """{'tp', 'fp', 'fn', 'recall', 'precision'} — driver-side scalars.

    With `weight_col` (a column of `truth`), tp/fn are WEIGHTED sums —
    the reference's weighted recall, which scales each truth pair's
    contribution by its distance weight so small near-dup families
    aren't drowned out by one giant family
    (hclust/src/hclust/motif_both_points.cpp:67-87, 100-165). fp stays
    a plain count (false positives have no truth weight by definition);
    precision is therefore only defined on the unweighted path and is
    reported from counts in both cases.
    """
    w = (
        F.coalesce(F.col(weight_col), F.lit(1.0))
        if weight_col is not None
        else F.lit(1.0)
    )
    conf = pair_confusion(
        pred, truth, carry_cols=(weight_col,) if weight_col else ()
    )
    pred_f = F.col("predicted")
    act_f = F.col("actual")
    row = conf.agg(
        F.sum(F.when(pred_f & act_f, w).otherwise(F.lit(0.0))).alias("tp_w"),
        F.sum(F.when(~pred_f & act_f, w).otherwise(F.lit(0.0))).alias("fn_w"),
        F.sum(F.when(pred_f & act_f, 1).otherwise(0)).alias("tp"),
        F.sum(F.when(pred_f & ~act_f, 1).otherwise(0)).alias("fp"),
        F.sum(F.when(~pred_f & act_f, 1).otherwise(0)).alias("fn"),
    ).collect()[0]
    tp, fp, fn = int(row["tp"] or 0), int(row["fp"] or 0), int(row["fn"] or 0)
    tp_w, fn_w = float(row["tp_w"] or 0.0), float(row["fn_w"] or 0.0)
    return {
        "tp": tp,
        "fp": fp,
        "fn": fn,
        "recall": tp_w / (tp_w + fn_w) if tp_w + fn_w else 1.0,
        "precision": tp / (tp + fp) if tp + fp else 1.0,
    }


def recall_by_bin(
    pred: DataFrame,
    truth: DataFrame,
    score_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Recall binned by similarity score: (bin, bin_lo, tp, fn, recall).

    The reference's evaluator reports accuracy per distance decile
    (`tp_map[int(dis*10)]++`, hclust/src/hclust/motif_both_points.cpp:
    154-162) so you can see WHERE on the S-curve the sketch loses pairs
    — a scalar recall hides a channel that is perfect at J=0.9 but
    blind at J=0.55. `score_col` is a column of `truth` in [0, 1];
    scores of exactly 1.0 fold into the top bin. Predicted-only rows
    (false positives) carry no truth score and are excluded — this is a
    recall breakdown, precision stays global (recall_metrics)."""
    conf = pair_confusion(pred, truth, carry_cols=(score_col,))
    bin_col = F.least(
        F.floor(F.col(score_col) * n_bins).cast("int"), F.lit(n_bins - 1)
    )
    pred_f = F.col("predicted")
    return (
        conf.where(F.col("actual"))
        .groupBy(bin_col.alias("bin"))
        .agg(
            F.sum(F.when(pred_f, 1).otherwise(0)).alias("tp"),
            F.sum(F.when(~pred_f, 1).otherwise(0)).alias("fn"),
        )
        .select(
            "bin",
            (F.col("bin").cast("double") / n_bins).alias("bin_lo"),
            "tp",
            "fn",
            (F.col("tp") / (F.col("tp") + F.col("fn"))).alias("recall"),
        )
        .orderBy("bin")
    )


def cluster_all_pairs(assignments: DataFrame) -> DataFrame:
    """Transitive closure of cluster membership: every within-cluster
    (a,b), a<b. Used for honest recall vs the brute-force truth pair
    list (truth is all-pairs); oracle scales only — O(n²) per cluster."""
    x = assignments.select("cluster_id", F.col("doc_id").alias("a"))
    y = assignments.select("cluster_id", F.col("doc_id").alias("b"))
    return (
        x.join(y, "cluster_id")
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
    )
