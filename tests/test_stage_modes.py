"""Size-gated MatrixStage behavior: small (broadcast) vs staged (parquet)
mode equivalence, the same input errors in both modes, jobs per fit, eager
stage cleanup, and TuRF's stage-once contract."""

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
    SURFSelector,
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


@pytest.fixture(scope="module")
def both_stages(spark):
    """One frame staged both ways, shared by the per-variant comparisons."""
    df, cols = _df(spark)
    df = df.persist()
    df.count()
    small = make_stage(df, cols, "label", force="small")
    staged = make_stage(df, cols, "label", force="staged")
    yield df, cols, small, staged
    small.cleanup()
    staged.cleanup()
    df.unpersist()


@pytest.mark.parametrize(
    "make",
    [
        lambda: ReliefFSelector(n_features_to_select=2),
        lambda: SURFSelector(n_features_to_select=2),
        lambda: SURFSelector(n_features_to_select=2, use_star=True),
        lambda: MultiSURFSelector(n_features_to_select=2),
        lambda: MultiSURFSelector(n_features_to_select=2, use_star=True),
    ],
    ids=["ReliefF", "SURF", "SURFstar", "MultiSURF", "MultiSURFstar"],
)
def test_small_vs_staged_identical_scores(both_stages, make):
    """The size gate is a physical choice only: both modes present the same
    row order and the same probe partitioning, so every Relief variant's
    scores are bit-identical."""
    df, cols, small, staged = both_stages
    s1 = make().fit(df, cols, "label", _stage=small)
    s2 = make().fit(df, cols, "label", _stage=staged)
    np.testing.assert_array_equal(s1.feature_importances_, s2.feature_importances_)
    np.testing.assert_array_equal(s1.is_discrete_, s2.is_discrete_)


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
    """The staged layout packs features into one binary column;
    column-subset loaders must slice the unpacked matrix correctly (TuRF
    over a wide matrix exercises exactly this)."""
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
    np.testing.assert_array_equal(sel.feature_importances_, forced.feature_importances_)


@pytest.mark.parametrize("path", ["driver", "distributed"])
@pytest.mark.parametrize(
    "bad, match",
    [
        (("g0", 3), "genotype features coded 0/1/2"),
        (("label", 2), "binary labels coded 0/1"),
        (("fold", 7), r"fold_col values must be in \[0, 3\)"),
    ],
    ids=["genotype3", "label2", "fold7"],
)
def test_mdr_input_errors_raise_on_driver(spark, force_path, path, bad, match):
    """MDR's input contract is checked in one whole-matrix pass and raised
    on the driver, so both stage modes raise the same ValueError."""
    pdf = pd.DataFrame({f"g{i}": np.arange(12) % 3 for i in range(3)})
    pdf["label"] = np.arange(12) % 2
    pdf["fold"] = np.arange(12) % 3
    col, value = bad
    pdf.loc[5, col] = value
    decisions = force_path(path)
    with pytest.raises(ValueError, match=match):
        MDRClassifier(k=2, cv=3).fit(
            spark.createDataFrame(pdf), ["g0", "g1", "g2"], "label", fold_col="fold"
        )
    assert decisions == [path == "driver"]


@pytest.mark.parametrize("stage_mode", ["small", "staged"])
@pytest.mark.parametrize(
    "col, match",
    [
        ("f0", r"feature columns \['f0'\] have NULL or NaN"),
        ("label", "label column 'label' has NULL or NaN"),
    ],
    ids=["feature", "label"],
)
def test_relief_rejects_null_inputs(spark, stage_mode, col, match):
    """A NULL feature or label raises the same ValueError in both modes
    instead of scoring differently per mode."""
    rng = np.random.RandomState(1)
    rows = [[float(v) for v in rng.randint(0, 5, 4)] + [i % 2.0] for i in range(60)]
    rows[7][0 if col == "f0" else 4] = None
    df = spark.createDataFrame(
        rows, "f0 double, f1 double, f2 double, f3 double, label double"
    )
    with pytest.raises(ValueError, match=match):
        ReliefFSelector(n_features_to_select=2, stage_mode=stage_mode).fit(
            df, ["f0", "f1", "f2", "f3"], "label"
        )


@pytest.mark.parametrize(
    "make",
    [
        lambda: ReliefFSelector(n_features_to_select=2),
        lambda: SURFSelector(n_features_to_select=2),
        lambda: MultiSURFSelector(n_features_to_select=2, use_star=True),
    ],
    ids=["ReliefF", "SURF", "MultiSURFstar"],
)
def test_relief_in_process_matches_job(both_stages, force_path, driver_calls, make):
    """The id-scoring kernel in-process iterates the job's own partitions,
    batches and chunks, so the scores are bit-identical to the job's."""
    import fastselect_spark.selection._stage as stage_mod

    df, cols, small, _ = both_stages
    combine = driver_calls(stage_mod, "_combine")
    force_path("distributed")
    job = make().fit(df, cols, "label", _stage=small)
    in_job = len(combine)
    force_path("driver")
    local = make().fit(df, cols, "label", _stage=small)
    assert len(combine) > in_job + 1, "the kernel did not run in-process"
    np.testing.assert_array_equal(job.feature_importances_, local.feature_importances_)


def test_mdr_in_process_matches_job(spark, force_path):
    rng = np.random.RandomState(5)
    pdf = pd.DataFrame({f"g{i}": rng.randint(0, 3, 90) for i in range(5)})
    pdf["label"] = ((pdf["g0"] + pdf["g1"]) % 2).astype(int)
    cols = [f"g{i}" for i in range(5)]
    df = spark.createDataFrame(pdf)
    st = make_stage(df, cols, "label", force="small")
    try:
        fits = []
        for path in ("distributed", "driver"):
            force_path(path)
            m = MDRClassifier(k=2, cv=3)
            m.feature_cols_ = cols
            fits.append(m._fit_on_stage(st, None))
        a, b = fits
        assert a.best_interaction_ == b.best_interaction_
        assert a.best_cvc_ == b.best_cvc_
        assert a.best_mean_testing_ba_ == b.best_mean_testing_ba_
        np.testing.assert_array_equal(
            a.best_model_lookup_table_, b.best_model_lookup_table_
        )
    finally:
        st.cleanup()


def _fit_mdr(df, cols):
    return MDRClassifier(k=2, cv=3).fit(df, cols, "label", fold_col="fold")


_relieff_small = lambda df, cols: ReliefFSelector(2, stage_mode="small").fit(df, cols)  # noqa: E731


@pytest.mark.parametrize(
    "fit, path, jobs",
    [
        (_fit_mdr, "distributed", 2),
        (_relieff_small, "distributed", 2),
        (
            lambda df, cols: ReliefFSelector(2, stage_mode="staged").fit(df, cols),
            "auto",
            4,
        ),
        (_fit_mdr, "driver", 1),
        (_relieff_small, "driver", 1),
    ],
    ids=[
        "mdr_small",
        "relieff_small",
        "relieff_staged",
        "mdr_small_in_process",
        "relieff_small_in_process",
    ],
)
def test_jobs_per_fit(spark, monkeypatch, fit, path, jobs):
    """Stage, whole-matrix reads and the id-scoring kernel: a small fit
    runs its reads on the driver and its kernel in one job, or in-process
    within its gate (``relief`` or ``pairs``); a staged one runs each in
    one task."""
    real = gates.use_driver

    def gate(df, op, **kwargs):
        if op in ("relief", "pairs") and path != "auto":
            return path == "driver"
        return real(df, op, **kwargs)

    monkeypatch.setattr(gates, "use_driver", gate)
    pdf = pd.DataFrame({f"g{i}": np.arange(30) * (i + 1) % 3 for i in range(4)})
    pdf["label"] = np.arange(30) % 2
    pdf["fold"] = np.arange(30) % 3
    df = spark.createDataFrame(pdf).persist()
    df.count()
    sc = spark.sparkContext
    group = f"jobs-per-fit-{id(fit)}-{path}"
    sc.setJobGroup(group, group)
    try:
        fit(df, ["g0", "g1", "g2", "g3"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        df.unpersist()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == jobs
