"""Relief family, CFS, MDR, TuRF, Fisher — reference-fixture parity tests
(FIXTURES.md B1–B3, B8–B10)."""

from __future__ import annotations

import warnings

import numpy as np
import pandas as pd
import pytest

from fastselect_spark.selection import (
    CFSSelector,
    MDRClassifier,
    MultiSURFSelector,
    ReliefFSelector,
    SURFSelector,
    TuRFSelector,
    fisher_score,
)
from fastselect_spark.selection.mdr import stratified_kfold_assign


def _to_df(spark, X, y, partitions=4):
    cols = [f"f{i}" for i in range(X.shape[1])]
    pdf = pd.DataFrame(X, columns=cols)
    pdf["label"] = y
    return spark.createDataFrame(pdf).repartition(partitions), cols


@pytest.fixture(scope="module")
def b1(spark):
    """FIXTURES.md B1 (reference tests/test_relieff.py:21-32)."""
    X = np.array(
        [
            [0.1, 5.0, 10, 3.0],
            [0.2, 4.0, 10, 3.0],
            [0.3, 6.0, 10, 3.0],
            [10.8, 5.0, 20, 3.0],
            [10.9, 4.0, 20, 3.0],
            [11.0, 6.0, 20, 3.0],
        ]
    )
    y = np.array([0, 0, 0, 1, 1, 1])
    df, cols = _to_df(spark, X, y)
    return df, cols


def test_relieff_ranking_b1(b1):
    df, cols = b1
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", UserWarning)
        m = ReliefFSelector(n_features_to_select=2, discrete_limit=3).fit(df, cols)
    s = m.feature_importances_
    assert s[0] > s[1] and s[2] > s[1]
    np.testing.assert_allclose(s[3], 0.0, atol=1e-7)
    assert set(m.top_features_.tolist()) == {0, 2}
    assert m.is_discrete_.tolist() == [False, True, True, True]


def test_relieff_warns_small_class(b1):
    df, cols = b1
    with pytest.warns(UserWarning, match="n_neighbors"):
        ReliefFSelector(n_features_to_select=2, n_neighbors=3).fit(df, cols)


def test_relieff_single_class(spark, b1):
    X = np.random.RandomState(0).rand(10, 4)
    df, cols = _to_df(spark, X, np.zeros(10, dtype=int))
    m = ReliefFSelector(n_features_to_select=2).fit(df, cols)
    assert (m.feature_importances_ == 0).all()
    assert m.top_features_.tolist() == [0, 1]


def test_surf_ranking_b1(b1):
    df, cols = b1
    m = SURFSelector(n_features_to_select=2, discrete_limit=3).fit(df, cols)
    s = m.feature_importances_
    assert s[0] > s[1] and s[2] > s[1]
    np.testing.assert_allclose(s[3], 0.0, atol=1e-7)
    assert set(m.top_features_.tolist()) == {0, 2}


def test_surf_single_class_nonpositive(spark):
    X = np.random.RandomState(1).rand(12, 3)
    df, cols = _to_df(spark, X, np.zeros(12, dtype=int))
    m = SURFSelector(n_features_to_select=1).fit(df, cols)
    assert (m.feature_importances_ <= 1e-12).all()


def test_multisurf_ranking_b2(spark):
    """FIXTURES.md B2 (reference tests/test_multisurf.py:19-45)."""
    X = np.array(
        [
            [1.1, 5.0, 10, 3.0],
            [1.2, 4.0, 10, 3.0],
            [2.3, 6.0, 10, 3.0],
            [2.5, 5.5, 10, 3.0],
            [1.5, 4.5, 20, 3.0],
            [8.8, 5.0, 20, 3.0],
            [8.9, 4.0, 20, 3.0],
            [9.5, 6.0, 20, 3.0],
            [10.5, 4.5, 20, 3.0],
            [10.5, 4.5, 10, 3.0],
        ]
    )
    y = np.array([0] * 5 + [1] * 5)
    df, cols = _to_df(spark, X, y)
    m = MultiSURFSelector(n_features_to_select=1, discrete_limit=3).fit(df, cols)
    assert m.top_features_.tolist() == [0]
    np.testing.assert_allclose(m.feature_importances_[3], 0.0, atol=1e-7)


# ---------- Relief numeric parity (allclose vs loop-kernel oracles) ----------

from tests.oracle_numpy import multisurf_oracle, relieff_oracle, surf_oracle

# the reference's own CPU-vs-GPU tolerances (tests/test_surf.py:74-80)
_RTOL, _ATOL = 1e-5, 1e-7


@pytest.fixture(scope="module")
def relief_mixed(spark):
    """Mixed discrete/continuous matrix with label noise — large enough that
    neighbor sets are non-trivial, small enough for the O(n^2) oracle."""
    rng = np.random.default_rng(7)
    n = 120
    y = rng.integers(0, 3, n)
    X = np.column_stack(
        [
            y * 2.0 + rng.normal(0, 0.8, n),          # continuous, informative
            rng.normal(0, 1.0, n),                     # continuous noise
            (y + rng.integers(0, 2, n)) % 3,           # discrete, informative
            rng.integers(0, 4, n).astype(float),       # discrete noise
            np.full(n, 3.0),                           # constant
        ]
    )
    df, cols = _to_df(spark, X, y)
    return X, y, df, cols


def test_relieff_allclose_oracle(relief_mixed):
    X, y, df, cols = relief_mixed
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", UserWarning)
        m = ReliefFSelector(n_features_to_select=2, n_neighbors=3).fit(df, cols)
    exp = relieff_oracle(X, y, n_neighbors=3)
    np.testing.assert_allclose(m.feature_importances_, exp, rtol=_RTOL, atol=_ATOL)


def test_surf_allclose_oracle(relief_mixed):
    X, y, df, cols = relief_mixed
    m = SURFSelector(n_features_to_select=2).fit(df, cols)
    np.testing.assert_allclose(
        m.feature_importances_, surf_oracle(X, y), rtol=_RTOL, atol=_ATOL
    )


def test_surf_star_allclose_oracle(relief_mixed):
    X, y, df, cols = relief_mixed
    m = SURFSelector(n_features_to_select=2, use_star=True).fit(df, cols)
    np.testing.assert_allclose(
        m.feature_importances_, surf_oracle(X, y, use_star=True),
        rtol=_RTOL, atol=_ATOL,
    )


def test_multisurf_allclose_oracle(relief_mixed):
    X, y, df, cols = relief_mixed
    m = MultiSURFSelector(n_features_to_select=2).fit(df, cols)
    np.testing.assert_allclose(
        m.feature_importances_, multisurf_oracle(X, y), rtol=_RTOL, atol=_ATOL
    )


def test_multisurf_star_allclose_oracle(relief_mixed):
    X, y, df, cols = relief_mixed
    m = MultiSURFSelector(n_features_to_select=2, use_star=True).fit(df, cols)
    np.testing.assert_allclose(
        m.feature_importances_, multisurf_oracle(X, y, use_star=True),
        rtol=_RTOL, atol=_ATOL,
    )


def test_relieff_allclose_oracle_b1(b1):
    """Golden fixture B1 under allclose, not just ranking."""
    df, cols = b1
    X = np.array(
        [
            [0.1, 5.0, 10, 3.0], [0.2, 4.0, 10, 3.0], [0.3, 6.0, 10, 3.0],
            [10.8, 5.0, 20, 3.0], [10.9, 4.0, 20, 3.0], [11.0, 6.0, 20, 3.0],
        ]
    )
    y = np.array([0, 0, 0, 1, 1, 1])
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", UserWarning)
        m = ReliefFSelector(n_features_to_select=2, discrete_limit=3).fit(df, cols)
    exp = relieff_oracle(X, y, n_neighbors=3, discrete_limit=3)
    np.testing.assert_allclose(m.feature_importances_, exp, rtol=_RTOL, atol=_ATOL)


def test_discrete_limit_grid_b3(spark):
    """FIXTURES.md B3: is_discrete_ thresholds at discrete_limit."""
    X = np.array([[i, i % 3] for i in range(11)] * 2, dtype=float)
    y = np.array([0] * 11 + [1] * 11)
    df, cols = _to_df(spark, X, y)
    m10 = ReliefFSelector(n_features_to_select=1, discrete_limit=10).fit(df, cols)
    assert m10.is_discrete_.tolist() == [False, True]
    m12 = ReliefFSelector(n_features_to_select=1, discrete_limit=12).fit(df, cols)
    assert m12.is_discrete_.tolist() == [True, True]


# ---------- CFS ----------

@pytest.fixture(scope="module")
def cfs_recipe():
    """FIXTURES.md B8 (reference tests/test_cfs.py:8-55)."""
    np.random.seed(42)
    n = 200
    y = np.random.randint(0, 2, n)
    f0 = y + np.random.normal(0, 0.1, n)
    f1 = f0 + np.random.normal(0, 0.05, n)
    f2 = y + np.random.normal(0, 0.5, n)
    f2[y == 0] -= 0.5
    f3 = np.random.rand(n) * 10
    f4 = np.full(n, 5.0)
    X = np.vstack([f0, f1, f2, f3, f4]).T
    return X, y


def test_cfs_selects_expected(spark, cfs_recipe):
    X, y = cfs_recipe
    df, cols = _to_df(spark, X, y)
    m = CFSSelector(n_bins=10, strategy="uniform").fit(df, cols)
    assert m.selected_indices_.tolist() == [0, 2]
    assert m.merit_ > 0
    assert m.support_mask_.tolist() == [True, False, True, False, False]
    assert len(m.transform(df).columns) == 2


def test_cfs_noise_only_selects_nothing(spark, cfs_recipe):
    X, y = cfs_recipe
    df, cols = _to_df(spark, X[:, 3:5], y)
    m = CFSSelector().fit(df, cols[:2])
    assert len(m.selected_indices_) == 0
    assert m.merit_ == 0.0


def test_cfs_invalid_strategy():
    with pytest.raises(ValueError, match="strategy"):
        CFSSelector(strategy="entropy")


@pytest.mark.parametrize("strategy", ["uniform", "kmeans", "quantile"])
def test_cfs_stage_modes_identical(spark, cfs_recipe, strategy):
    """The small path (collected matrix + broadcast pair job) and the staged
    path (one-pass cube) build the same integer tables, so every SU value
    and the selection are exactly equal."""
    X, y = cfs_recipe
    cols = [f"f{i}" for i in range(X.shape[1])] + ["d"]
    pdf = pd.DataFrame(X, columns=cols[:-1])
    pdf["d"] = ((np.arange(len(y)) * 7) % 5 + y).astype(np.int64)  # discrete
    pdf["label"] = y
    df = spark.createDataFrame(pdf).repartition(4)
    fits = [
        CFSSelector(n_bins=10, strategy=strategy, stage_mode=mode).fit(df, cols)
        for mode in ("small", "staged")
    ]
    assert [m.effective_stage_mode_ for m in fits] == ["small", "staged"]
    small, staged = fits
    np.testing.assert_array_equal(small.r_cf_, staged.r_cf_)
    np.testing.assert_array_equal(small.r_ff_, staged.r_ff_)
    np.testing.assert_array_equal(small.selected_indices_, staged.selected_indices_)
    assert small.merit_ == staged.merit_



def _local_kmeans_edges(x, n_bins):
    """Faithful local replica of kmeans_bin_edges: nearest-center argmin
    assignment + sklearn-style empty-cluster relocation (desc distance,
    value tie-break), tol = 1e-4 * var, edges = midpoints of sorted final
    centers bracketed by [min, max]."""
    mn, mx = float(x.min()), float(x.max())
    e = np.linspace(mn, mx, n_bins + 1)
    centers = (e[:-1] + e[1:]) / 2.0
    tol_abs = 1e-4 * x.var()
    for _ in range(300):
        a = np.abs(x[:, None] - centers[None, :]).argmin(axis=1)
        cnt = np.bincount(a, minlength=n_bins).astype(float)
        s = np.bincount(a, weights=x, minlength=n_bins)
        empty = np.where(cnt == 0)[0]
        reloc = {}
        if len(empty):
            d = (x - centers[a]) ** 2
            order = np.lexsort((-x, -d))[: len(empty)]
            for cid, idx in zip(empty, order):
                cnt[a[idx]] -= 1
                s[a[idx]] -= x[idx]
                reloc[cid] = x[idx]
        new = np.where(cnt > 0, s / np.maximum(cnt, 1), centers)
        for cid, v in reloc.items():
            new[cid] = v
        shift = ((new - centers) ** 2).sum()
        centers = new
        if shift <= tol_abs:
            break
    ctr = np.sort(centers)
    return np.concatenate([[mn], (ctr[:-1] + ctr[1:]) / 2.0, [mx]])

def test_cfs_kmeans_strategy(spark, cfs_recipe):
    """kmeans binning (KBinsDiscretizer semantics incl. empty-cluster
    relocation) recovers one of the near-duplicate informative twins
    {f0, f1} plus f2. Under the round-4 no-relocation variant f0 won;
    the relocation (which fires once on f0's bimodal column) nudges
    f0's binning so its SU lands a hair below f1's — f1 and f2 are the
    faithful-sklearn selection."""
    X, y = cfs_recipe
    df, cols = _to_df(spark, X, y)
    m = CFSSelector(n_bins=10, strategy="kmeans").fit(df, cols)
    assert m.selected_indices_.tolist() == [1, 2]


def test_kmeans_bin_edges_matches_local_lloyd(spark):
    """Distributed 1-D Lloyd == the same algorithm run locally in NumPy."""
    from fastselect_spark.selection.cfs import kmeans_bin_edges

    rng = np.random.RandomState(11)
    x = np.concatenate([rng.normal(0, 1, 150), rng.normal(8, 0.5, 100)])
    df = spark.createDataFrame(pd.DataFrame({"x": x})).repartition(4)
    n_bins = 4
    mn, mx = float(x.min()), float(x.max())
    got = kmeans_bin_edges(df, ["x"], n_bins, {"x": mn}, {"x": mx})["x"]
    np.testing.assert_allclose(got, _local_kmeans_edges(x, n_bins), rtol=1e-9)


# ---------- MDR ----------

def test_mdr_toy(spark):
    """FIXTURES.md B9 (reference tests/test_mdr.py:21-65): k=2, cv=2."""
    X = np.array(
        [[2, 2], [2, 2], [2, 0], [0, 2], [0, 0], [1, 1], [1, 0], [0, 1]]
    )
    y = np.array([1, 1, 0, 0, 0, 0, 0, 0])
    df, cols = _to_df(spark, X, y, partitions=2)
    clf = MDRClassifier(k=2, cv=2).fit(df, cols)
    assert clf.best_interaction_ == (0, 1)
    assert clf.best_cvc_ == 2
    assert abs(clf.best_mean_testing_ba_ - 1.0) < 1e-6
    pred = clf.predict(df).toPandas().sort_values("f0")
    src = pd.DataFrame({"f0": X[:, 0], "f1": X[:, 1], "label": y})
    merged = clf.predict(df).toPandas()
    assert (merged["prediction"] == merged["label"]).all()


def test_mdr_recovers_planted_interaction(spark):
    rng = np.random.default_rng(0)
    X = rng.integers(0, 3, size=(60, 4))
    y = ((X[:, 0] + X[:, 1]) % 2).astype(int)
    df, cols = _to_df(spark, X, y)
    clf = MDRClassifier(k=2, cv=3).fit(df, cols)
    assert clf.best_interaction_ == (0, 1)
    out = clf.predict(df).toPandas()
    assert (out["prediction"] == out["label"]).mean() == 1.0


def test_mdr_invalid_genotypes(spark):
    X = np.array([[3, 1], [0, 2]])
    df, cols = _to_df(spark, X, np.array([0, 1]))
    with pytest.raises(ValueError, match="0/1/2"):
        MDRClassifier(k=2, cv=2).fit(df, cols)


def test_stratified_kfold_properties():
    y = np.array([0] * 30 + [1] * 20)
    folds = stratified_kfold_assign(y, 5, seed=42)
    assert set(folds) == set(range(5))
    for f in range(5):
        assert (y[folds == f] == 0).sum() == 6
        assert (y[folds == f] == 1).sum() == 4
    # deterministic
    assert (folds == stratified_kfold_assign(y, 5, seed=42)).all()


# ---------- TuRF ----------

class MockScorer:
    """feature_importances_ = linspace(1, 0, p) (reference tests/test_turf.py)."""

    def fit(self, df, feature_cols, label_col="label"):
        self.feature_importances_ = np.linspace(1, 0, len(feature_cols))
        return self


def test_turf_iteration_accounting(spark):
    """B10: n_iterations=1, pct_remove=0.1, p=20 -> 18 survivors."""
    X = np.random.RandomState(3).rand(50, 20)
    y = np.random.RandomState(4).randint(0, 2, 50)
    df, cols = _to_df(spark, X, y)
    t = TuRFSelector(MockScorer(), n_features_to_select=10, n_iterations=1, pct_remove=0.1)
    t.fit(df, cols)
    assert len(t.top_features_) == 18
    assert (t.top_features_ == np.sort(t.top_features_)).all()


def test_turf_runs_to_target(spark):
    X = np.random.RandomState(5).rand(50, 20)
    y = np.random.RandomState(6).randint(0, 2, 50)
    df, cols = _to_df(spark, X, y)
    t = TuRFSelector(MockScorer(), n_features_to_select=5)
    t.fit(df, cols)
    assert len(t.top_features_) == 5
    # mock keeps early features ranked highest at each iteration
    assert t.top_features_.tolist() == [0, 1, 2, 3, 4]
    assert t.feature_importances_.shape == (20,)
    assert len(t.transform(df).columns) == 5


def test_turf_invalid_pct():
    with pytest.raises(ValueError, match="pct_remove"):
        TuRFSelector(MockScorer(), pct_remove=1.5).fit(None, ["a"])


# ---------- Fisher ----------

def test_fisher_score_separated_feature(spark):
    rng = np.random.default_rng(8)
    n = 300
    y = rng.integers(0, 2, n)
    X = np.column_stack(
        [
            y * 10 + rng.normal(0, 0.5, n),  # strongly separated
            rng.normal(0, 1, n),  # noise
            np.full(n, 3.0),  # constant -> 0
        ]
    )
    df, cols = _to_df(spark, X, y)
    s = fisher_score(df, cols, "label")
    assert s[0] > 10 * s[1]
    assert s[2] == 0.0
    # NumPy oracle cross-check
    between = within = None
    exp = []
    for f in range(3):
        num, den = 0.0, 0.0
        mu = X[:, f].mean()
        for c in (0, 1):
            xc = X[y == c, f]
            num += len(xc) * (xc.mean() - mu) ** 2
            den += len(xc) * xc.var()
        exp.append(num / den if den > 0 else (np.inf if num > 0 else 0.0))
    np.testing.assert_allclose(s, exp, rtol=1e-9)


def test_kmeans_bin_edges_empty_cluster_relocation(spark):
    """sklearn KMeans empty-cluster semantics: the uniform-midpoint init
    leaves clusters 1 and 2 empty on this bimodal fixture; each empty
    center must relocate to a farthest-from-assigned-center sample
    (desc distance, value tie-break), the donors losing those samples —
    matching a local NumPy replica of sklearn's relocation."""
    from fastselect_spark.selection.cfs import kmeans_bin_edges

    x = np.array([0.1, 0.7, 1.1, 8.6, 10.0])
    n_bins = 4
    mn, mx = float(x.min()), float(x.max())
    df = spark.createDataFrame(pd.DataFrame({"x": x})).repartition(3)
    got = kmeans_bin_edges(df, ["x"], n_bins, {"x": mn}, {"x": mx})["x"]
    exp = _local_kmeans_edges(x, n_bins)
    np.testing.assert_allclose(got, exp, rtol=1e-9)
    # all four bins are non-degenerate: the two relocated centers landed
    # on samples, so no edge collapses onto another
    assert len(np.unique(np.round(exp, 9))) == n_bins + 1


def test_leakage_audit_flags_planted_lookahead(spark):
    """A feature that copies the NEXT turn's label is flagged; an honest
    contemporaneous feature is not; MI values match a hand replica."""
    import math

    from pyspark.sql import functions as F
    from pyspark.sql import Window

    from fastselect_spark.selection import leakage_audit

    import numpy as np
    rng = np.random.default_rng(23)
    rows = []
    for c in range(20):
        labels = rng.integers(0, 2, size=30)
        for i in range(30):
            honest = int(labels[i]) if rng.random() < 0.8 else int(rng.integers(0, 2))
            leaky = int(labels[i + 1]) if i + 1 < 30 else 0
            rows.append((f"c{c}", i, int(labels[i]), honest, leaky))
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, y int, f_honest int, f_leaky int"
    )
    out = {r["feature"]: r for r in leakage_audit(df, ["f_honest", "f_leaky"], "y")}
    assert out["f_leaky"]["flagged"] == 1
    assert out["f_honest"]["flagged"] == 0
    # the leaky feature literally IS label_{t+1}: future-MI ~ H(y) >> now-MI
    assert out["f_leaky"]["mi_future_bits"] > 0.9
    assert out["f_leaky"]["mi_now_bits"] < 0.1
    # honest feature: now-MI strong, future-MI near zero (iid labels)
    assert out["f_honest"]["mi_now_bits"] > 0.5
    assert out["f_honest"]["mi_future_bits"] < 0.1
