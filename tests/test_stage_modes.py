"""Size-gated MatrixStage behavior: small (broadcast) vs staged (parquet)
mode equivalence, eager stage cleanup, and TuRF's stage-once contract."""

from __future__ import annotations

import glob
import os
import tempfile

import numpy as np
import pandas as pd
import pytest

from fastselect_spark.selection import (
    MDRClassifier,
    MultiSURFSelector,
    ReliefFSelector,
    TuRFSelector,
)
from fastselect_spark.runtime import gates
from fastselect_spark.selection._stage import make_stage


def _df(spark, n=60, p=6, seed=0):
    rng = np.random.RandomState(seed)
    X = rng.rand(n, p)
    y = rng.randint(0, 2, n)
    cols = [f"f{i}" for i in range(p)]
    pdf = pd.DataFrame(X, columns=cols)
    pdf["label"] = y
    return spark.createDataFrame(pdf).coalesce(2), cols


def test_small_vs_staged_identical_scores(spark):
    """The size gate is a physical choice only: both modes present the same
    deterministic row order, so Relief scores agree to float64 epsilon (the
    probe partitioning differs, so cross-task partial-sum ORDER may)."""
    df, cols = _df(spark)
    df = df.persist()
    df.count()
    try:
        small = make_stage(df, cols, "label", force="small")
        staged = make_stage(df, cols, "label", force="staged")
        try:
            s1 = ReliefFSelector(n_features_to_select=2).fit(
                df, cols, "label", _stage=small
            )
            s2 = ReliefFSelector(n_features_to_select=2).fit(
                df, cols, "label", _stage=staged
            )
            np.testing.assert_allclose(
                s1.feature_importances_, s2.feature_importances_, rtol=1e-12
            )
            m1 = MultiSURFSelector(n_features_to_select=2).fit(
                df, cols, "label", _stage=small
            )
            m2 = MultiSURFSelector(n_features_to_select=2).fit(
                df, cols, "label", _stage=staged
            )
            np.testing.assert_allclose(
                m1.feature_importances_, m2.feature_importances_, rtol=1e-12
            )
        finally:
            small.cleanup()
            staged.cleanup()
    finally:
        df.unpersist()


def test_size_gate_thresholds(spark):
    df, cols = _df(spark, n=50, p=4)
    st = make_stage(df, cols, "label")
    assert st.mode == "small"  # 50*6*8 bytes << the stage budget
    st.cleanup()
    assert 50 * (4 + 2) * 8 <= gates.BUDGETS["stage"]


def test_stage_dirs_removed_eagerly(spark):
    """Every fit that creates a parquet stage must remove it when the fit
    returns — atexit-only cleanup accumulates an input copy per fit."""
    scratch = tempfile.mkdtemp(prefix="fs_scratch_probe_")
    os.environ["FS_SCRATCH_DIR"] = scratch
    try:
        df, cols = _df(spark, n=80, p=5, seed=3)
        for _ in range(2):
            st = make_stage(df, cols, "label", force="staged")
            sel = ReliefFSelector(n_features_to_select=2)
            # owned-stage path: fit creates AND cleans its own stage
            sel.fit(df, cols, "label")
            st.cleanup()
        assert glob.glob(os.path.join(scratch, "fs_stage_*")) == []
    finally:
        os.environ.pop("FS_SCRATCH_DIR", None)


def test_turf_stages_once(spark, monkeypatch):
    """TuRF must materialize the matrix exactly once regardless of the
    number of elimination rounds."""
    import fastselect_spark.selection._stage as stage_mod

    calls = {"n": 0}
    orig = stage_mod.make_stage

    def counting(*a, **kw):
        calls["n"] += 1
        return orig(*a, **kw)

    monkeypatch.setattr(stage_mod, "make_stage", counting)
    # turf.py imports make_stage inside fit, so the module attr patch is seen
    df, cols = _df(spark, n=40, p=12, seed=7)
    t = TuRFSelector(
        ReliefFSelector(n_features_to_select=2),
        n_features_to_select=3,
        pct_remove=0.25,
    ).fit(df, cols, "label")
    assert len(t.top_features_) == 3
    assert calls["n"] == 1


def test_turf_subset_matches_full_refit(spark):
    """Column-sliced kernels over the shared stage must equal a fresh fit
    on the projected frame (the pre-refactor behavior)."""
    df, cols = _df(spark, n=50, p=8, seed=11)
    subset = cols[::2]
    full_stage = make_stage(df, cols, "label", force="staged")
    try:
        via_slice = ReliefFSelector(n_features_to_select=2).fit(
            df, subset, "label", _stage=full_stage
        )
        fresh = ReliefFSelector(n_features_to_select=2).fit(
            df.select(*subset, "label"), subset, "label"
        )
        np.testing.assert_allclose(
            via_slice.feature_importances_, fresh.feature_importances_
        )
    finally:
        full_stage.cleanup()


def test_mdr_small_and_staged_agree(spark):
    rng = np.random.RandomState(5)
    n = 90
    pdf = pd.DataFrame(
        {f"g{i}": rng.randint(0, 3, n) for i in range(4)}
    )
    pdf["label"] = ((pdf["g0"] + pdf["g1"]) % 2).astype(int)
    pdf["fold"] = np.arange(n) % 3
    df = spark.createDataFrame(pdf)
    cols = [f"g{i}" for i in range(4)]
    st_small = make_stage(df, cols, "label", extra_cols=("fold",), force="small")
    st_big = make_stage(df, cols, "label", extra_cols=("fold",), force="staged")
    try:
        a = MDRClassifier(k=2, cv=3)
        a.feature_cols_ = cols
        a._fit_on_stage(st_small, "fold")
        b = MDRClassifier(k=2, cv=3)
        b.feature_cols_ = cols
        b._fit_on_stage(st_big, "fold")
        assert a.best_interaction_ == b.best_interaction_
        assert a.best_cvc_ == b.best_cvc_
        assert a.best_mean_testing_ba_ == pytest.approx(b.best_mean_testing_ba_)
    finally:
        st_small.cleanup()
        st_big.cleanup()


def test_wide_packed_stage_subset_slicing(spark):
    """Above WIDE_P the staged layout packs features into one binary
    column; column-subset loaders must slice the unpacked matrix correctly
    (TuRF over a wide matrix exercises exactly this)."""
    df, cols = _df(spark, n=40, p=70, seed=13)
    subset = cols[::3]
    st = make_stage(df, cols, "label", force="staged")
    try:
        via_slice = ReliefFSelector(n_features_to_select=3).fit(
            df, subset, "label", _stage=st
        )
        fresh = ReliefFSelector(n_features_to_select=3).fit(
            df.select(*subset, "label"), subset, "label"
        )
        np.testing.assert_allclose(
            via_slice.feature_importances_, fresh.feature_importances_
        )
    finally:
        st.cleanup()


def test_stage_mode_contract(spark):
    """The reference's backend contract analogue: invalid stage_mode raises
    ValueError at construction; the resolved mode is recorded on the fitted
    estimator (effective_backend_ analogue, ReliefF.py:302-303, 369)."""
    with pytest.raises(ValueError, match="stage_mode"):
        ReliefFSelector(stage_mode="gpu")
    df, cols = _df(spark, n=40, p=4)
    sel = ReliefFSelector(n_features_to_select=2, stage_mode="auto").fit(
        df, cols, "label"
    )
    assert sel.effective_stage_mode_ == "small"  # tiny matrix -> fast path
    forced = ReliefFSelector(n_features_to_select=2, stage_mode="staged").fit(
        df, cols, "label"
    )
    assert forced.effective_stage_mode_ == "staged"
    np.testing.assert_allclose(
        sel.feature_importances_, forced.feature_importances_, rtol=1e-12
    )
