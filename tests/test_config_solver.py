"""(b, r) solver + config validation + weighted recall."""

from __future__ import annotations

import pytest

from hsearch_spark.config import (
    DedupConfig,
    bands_rows_for,
    catch_probability,
)


def test_solver_reproduces_pinned_default():
    assert bands_rows_for(0.8, 126) == (21, 6)


def test_solver_scurve_selection():
    # the chosen (b, r) catches threshold pairs at >= min_catch, and the
    # next-steeper r would not (maximal-r selection)
    for tau in (0.5, 0.6, 0.7, 0.8, 0.9):
        b, r = bands_rows_for(tau, 126, min_catch=0.99)
        assert catch_probability(tau, b, r) >= 0.99
        nb = 126 // (r + 1)
        if nb >= 1:
            assert catch_probability(tau, nb, r + 1) < 0.99


def test_solver_monotone_threshold():
    # lower thresholds need shallower curves (smaller r)
    r_by_tau = [bands_rows_for(t, 126)[1] for t in (0.5, 0.7, 0.9)]
    assert r_by_tau == sorted(r_by_tau)


def test_tuned_rederives_banding():
    cfg = DedupConfig.tuned(jaccard_threshold=0.5, num_perm=128)
    assert cfg.bands * cfg.rows_per_band == cfg.num_perm
    assert catch_probability(0.5, cfg.bands, cfg.rows_per_band) >= 0.99
    assert (cfg.bands, cfg.rows_per_band) != (21, 6)


def test_mistuned_banding_raises():
    # default (21, 6) banding at tau=0.5 catches with p < 0.95 → error
    with pytest.raises(ValueError, match="mis-tuned"):
        DedupConfig(jaccard_threshold=0.5)


def test_simhash_blocks_validated():
    with pytest.raises(ValueError, match="pigeonhole"):
        DedupConfig(simhash_blocks=3)


def test_weighted_recall(spark):
    from hsearch_spark.operators.evaluate import recall_metrics

    pred = spark.createDataFrame([(1, 2)], "a long, b long")
    truth = spark.createDataFrame(
        [(1, 2, 3.0), (3, 4, 1.0)], "a long, b long, w double"
    )
    m_u = recall_metrics(pred, truth.select("a", "b"))
    assert m_u["recall"] == pytest.approx(0.5)
    m_w = recall_metrics(pred, truth, weight_col="w")
    assert m_w["recall"] == pytest.approx(3.0 / 4.0)
    assert m_w["tp"] == 1 and m_w["fn"] == 1


def test_validate_banding_escape_hatch():
    import warnings

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        cfg = DedupConfig(jaccard_threshold=0.5, validate_banding=False)
    assert any("mis-tuned" in str(x.message) for x in w)
    assert cfg.jaccard_threshold == 0.5


def test_config_hash_ignores_physical_knobs():
    base = DedupConfig()
    assert (
        DedupConfig(validate_banding=True).config_hash()
        == DedupConfig(max_broadcast_reps=123).config_hash()
        == base.config_hash()
    )
    # pinned: existing checkpoint directories are keyed by this value, so
    # a change here silently orphans them
    assert base.config_hash() == "568ec05e04e3"
    # semantic knobs DO change the hash
    assert DedupConfig(shingle_k=7).config_hash() != base.config_hash()
