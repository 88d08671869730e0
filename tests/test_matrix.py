"""Wide-matrix (array-column) scorer mode vs the NumPy reference oracles:
row-parallel chi2/MI-relevance and pair-parallel broadcast MI matrices must
match the narrow-column scorers and the transliterated reference math."""

from __future__ import annotations

import numpy as np
import pytest

from fastselect_spark.selection import (
    chi2_matrix,
    encode_shared,
    fisher_matrix,
    matrix_table,
    mi_matrices_broadcast,
    mi_relevance_matrix,
    mrmr_select_matrix,
)
from fastselect_spark.selection import fisher_score
from fastselect_spark.selection.mrmr import mrmr_greedy

from oracle_numpy import chi2_oracle, mi_matrices_oracle


@pytest.fixture(scope="module")
def coded(spark):
    rng = np.random.default_rng(7)
    n, p, k = 400, 12, 5
    X = rng.integers(0, k, (n, p)).astype(np.float64)
    y = ((X[:, 0] + X[:, 3]) % 2 + rng.integers(0, 2, n) * (rng.random(n) < 0.2)).astype(
        np.float64
    ) % 2
    return X, y, matrix_table(spark, X, y, n_partitions=6)


@pytest.fixture(scope="module")
def wide_real(spark):
    """Real-valued wide rows over six partitions: the job's Arrow batches
    (capped in bytes) and the collect's differ, so float sums can too."""
    rng = np.random.default_rng(5)
    n, p = 400, 2000
    X = rng.random((n, p)) * 4
    y = rng.integers(0, 3, n).astype(np.float64)
    return X, y, matrix_table(spark, X, y, n_partitions=6)


@pytest.fixture(scope="module")
def odd_labels(spark):
    """Non-integer and negative labels, one class in a single partition:
    the per-partition class keying must merge and order classes a task
    never saw."""
    from pyspark.sql import functions as F

    rng = np.random.default_rng(11)
    n, p = 300, 6
    X = rng.integers(0, 5, (n, p)).astype(np.float64)
    y = np.where(rng.random(n) < 0.5, -1.0, 2.5)
    y[200:] = np.where(X[200:, 1] > 1, 7.0, y[200:])
    X[:, 0] += y == 7.0
    df = (
        matrix_table(spark, X, y, n_partitions=3)
        .withColumn("part", (F.col("id") >= 200).cast("int"))
        .repartition(3, "part")
        .drop("part")
    )
    parts = {
        r["y"]: r["n"]
        for r in df.withColumn("pid", F.spark_partition_id())
        .groupBy("y")
        .agg(F.countDistinct("pid").alias("n"))
        .collect()
    }
    assert parts[7.0] == 1 and max(parts.values()) > 1
    return X, y, df


@pytest.mark.parametrize("data", ["coded", "odd_labels"])
def test_chi2_matrix_matches_oracle(spark, data, request):
    X, y, df = request.getfixturevalue(data)
    stats, pvals = chi2_matrix(df)
    np.testing.assert_allclose(stats, chi2_oracle(X, y), rtol=1e-10, atol=1e-12)
    assert np.all((pvals >= 0) & (pvals <= 1))


def test_chi2_matrix_rejects_negative(spark):
    X = np.array([[1.0, -1.0], [2.0, 3.0]])
    y = np.array([0.0, 1.0])
    df = matrix_table(spark, X, y, n_partitions=2)
    with pytest.raises(Exception, match="non-negative"):
        chi2_matrix(df)


def test_mi_relevance_matrix_matches_oracle(spark, coded):
    X, y, df = coded
    rel_oracle, _ = mi_matrices_oracle(X.astype(np.int64), y.astype(np.int64))
    rel = mi_relevance_matrix(df, n_states=5)
    np.testing.assert_allclose(rel, rel_oracle, rtol=1e-10, atol=1e-12)


def test_mi_matrices_broadcast_matches_oracle(spark, coded):
    X, y, _ = coded
    Xc, yc, _ = encode_shared(X, y)
    rel, red = mi_matrices_broadcast(spark, Xc, yc)
    rel_o, red_o = mi_matrices_oracle(X.astype(np.int64), y.astype(np.int64))
    np.testing.assert_allclose(rel, rel_o, rtol=1e-10, atol=1e-12)
    np.testing.assert_allclose(red, red_o, rtol=1e-10, atol=1e-12)
    assert np.allclose(red, red.T) and np.all(np.diag(red) == 0)


@pytest.mark.parametrize("data", ["coded", "odd_labels"])
def test_fisher_matrix_matches_column_mode(spark, data, request):
    X, y, df = request.getfixturevalue(data)
    got = fisher_matrix(df)
    cols = [f"f{i}" for i in range(X.shape[1])]
    import pandas as pd

    pdf = pd.DataFrame(X, columns=cols)
    pdf["label"] = y
    ndf = spark.createDataFrame(pdf)
    want = fisher_score(ndf, cols, "label")
    np.testing.assert_allclose(got, want, rtol=1e-10, atol=1e-12)


_MOMENT_SCORERS = [
    chi2_matrix,
    fisher_matrix,
    lambda df: mi_relevance_matrix(df, n_states=5),
]
_MOMENT_IDS = ["chi2_matrix", "fisher_matrix", "mi_relevance_matrix"]


def _jobs_of(spark, df, scorer, path: str) -> int:
    sc = spark.sparkContext
    df = df.persist()
    df.count()
    group = f"one-job-{path}-{id(scorer)}"
    sc.setJobGroup(group, group)
    try:
        scorer(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        df.unpersist()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("scorer", _MOMENT_SCORERS, ids=_MOMENT_IDS)
def test_wide_scorers_run_one_job(spark, coded, scorer):
    """One Spark job per call: no class scan, no batch-size probe."""
    assert _jobs_of(spark, coded[2], scorer, "auto") == 1


@pytest.mark.parametrize("scorer", _MOMENT_SCORERS, ids=_MOMENT_IDS)
def test_wide_scorers_distributed_run_one_job(spark, coded, force_path, scorer):
    """Beyond the ``moments`` gate the kernel is one mapInArrow job."""
    force_path("distributed")
    assert _jobs_of(spark, coded[2], scorer, "distributed") == 1


@pytest.mark.parametrize(
    "scorer, data",
    [
        ("chi2_matrix", "coded"),
        ("chi2_matrix", "odd_labels"),
        ("fisher_matrix", "coded"),
        ("fisher_matrix", "odd_labels"),
        ("mi_relevance_matrix", "coded"),
        ("chi2_matrix", "wide_real"),
        ("fisher_matrix", "wide_real"),
    ],
)
def test_moments_paths_agree(request, force_path, driver_calls, scorer, data):
    """The in-process twin runs the job's own partial per partition and
    merges in partition order. Integer-coded inputs match bit for bit; on
    real-valued wide rows the two paths batch the rows differently and the
    sums differ in the last bits (measured up to 4.6e-13 relative at
    2000 x 2000, local[4]), so the bound is 1e-12."""
    import fastselect_spark.selection._agg as aggmod

    fn = dict(zip(_MOMENT_IDS, _MOMENT_SCORERS))[scorer]
    df = request.getfixturevalue(data)[2]
    local = driver_calls(aggmod, "_reduce_local")
    out = {}
    for path in ("distributed", "driver"):
        force_path(path)
        res = fn(df)
        out[path] = res[0] if isinstance(res, tuple) else res
        assert len(local) == (path == "driver"), f"{path} ran the wrong kernel"
    np.testing.assert_allclose(out["driver"], out["distributed"], rtol=1e-12, atol=0)


@pytest.mark.parametrize("path", ["driver", "distributed"])
@pytest.mark.parametrize(
    "scorer, bad",
    [(s, b) for s in _MOMENT_IDS for b in ("null", "nan", "empty")]
    + [("chi2_matrix", "negative")],
)
def test_moments_bad_input_raises_on_both_paths(spark, force_path, scorer, bad, path):
    """NULL/NaN labels, an empty frame and (chi2) a negative value raise
    the same ValueError in and beyond the ``moments`` gate."""
    labels = [0.0, 1.0, 2.0, 0.0, 1.0, 2.0]
    if bad in ("null", "nan"):
        labels[2] = None if bad == "null" else float("nan")
    rows = [
        (i, [float(i % 3), float(-1 if bad == "negative" else i % 2)], lab)
        for i, lab in enumerate(labels)
    ]
    df = spark.createDataFrame(
        [] if bad == "empty" else rows, "id long, features array<double>, y double"
    )
    match = {
        "null": "label column 'y' has NULL or NaN",
        "nan": "label column 'y' has NULL or NaN",
        "empty": "input DataFrame is empty",
        "negative": "non-negative",
    }[bad]
    force_path(path)
    fn = dict(zip(_MOMENT_IDS, _MOMENT_SCORERS))[scorer]
    with pytest.raises(ValueError, match=match):
        fn(df)


def test_session_caps_wide_arrow_batches(spark):
    """get_spark's byte cap splits a ~20 MB partition of wide rows into
    Arrow batches of at most ~8 MB, with no per-call configuration."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    def sizes(batches):
        for b in batches:
            yield pa.RecordBatch.from_pylist(
                [{"rows": b.num_rows, "bytes": b.nbytes}],
                schema=pa.schema([("rows", pa.int64()), ("bytes", pa.int64())]),
            )

    df = spark.range(0, 1300, 1, 1).select(
        F.array_repeat(F.col("id").cast("double"), 2000).alias("features")
    )
    got = df.mapInArrow(sizes, "rows long, bytes long").collect()
    assert sum(r["rows"] for r in got) == 1300
    assert len(got) > 1
    assert max(r["bytes"] for r in got) <= 9 << 20


@pytest.mark.parametrize("bad", [None, float("nan")], ids=["null", "nan"])
@pytest.mark.parametrize(
    "scorer",
    [
        "chi2",
        "fisher_score",
        "anova_f_score",
        "chi2_matrix",
        "fisher_matrix",
        "mi_relevance_matrix",
    ],
)
def test_per_class_scorers_reject_null_labels(spark, scorer, bad):
    from fastselect_spark import selection

    labels = [0.0, 1.0, bad, 0.0, 1.0, bad, 0.0, 1.0]
    rows = [(i, [float(i % 3), float(i % 2)], lab) for i, lab in enumerate(labels)]
    if scorer.endswith("_matrix"):
        df = spark.createDataFrame(rows, "id long, features array<double>, cls double")
        args, kwargs = (df,), {"label_col": "cls"}
        if scorer == "mi_relevance_matrix":
            kwargs["n_states"] = 3
    else:
        df = spark.createDataFrame(
            [(a, b, lab) for _, (a, b), lab in rows], "f0 double, f1 double, cls double"
        )
        args, kwargs = (df, ["f0", "f1"], "cls"), {}
    with pytest.raises(ValueError, match="label column 'cls' has NULL or NaN"):
        getattr(selection, scorer)(*args, **kwargs)


def test_mrmr_matrix_matches_oracle_greedy(spark, coded):
    X, y, _ = coded
    picked, rel, red = mrmr_select_matrix(spark, X, y, n_select=5)
    rel_o, red_o = mi_matrices_oracle(X.astype(np.int64), y.astype(np.int64))
    expected = mrmr_greedy(rel_o, red_o, 5, "MID")
    np.testing.assert_array_equal(picked, expected)


# ---------- staged-matrix layout roundtrip ----------

def test_stage_roundtrip_packed(spark):
    """stage_matrix packs the features into one binary block at any width;
    load_staged must reconstruct the identical (X, y) in mid order, narrow
    (p=4) or wide (p=69)."""
    import pandas as pd

    from fastselect_spark.selection._stage import load_staged, stage_matrix

    rng = np.random.default_rng(3)
    for p in (4, 69):
        n = 50
        X = rng.standard_normal((n, p))
        y = rng.integers(0, 3, n)
        cols = [f"f{i}" for i in range(p)]
        pdf = pd.DataFrame(X, columns=cols)
        pdf["label"] = y
        df = spark.createDataFrame(pdf).repartition(4).persist()
        path = stage_matrix(df, cols, "label")
        Xs, ys, extras = load_staged(path, cols)
        assert Xs.shape == (n, p)
        # mid order is the frame's partition order, as an Arrow collect sees it
        np.testing.assert_array_equal(Xs, df.toPandas()[cols].to_numpy())
        df.unpersist()
        # same multiset of rows (order differs: partition order vs input)
        got = np.concatenate([Xs, ys[:, None]], axis=1)
        exp = np.concatenate([X, y[:, None].astype(float)], axis=1)
        got_sorted = got[np.lexsort(got.T[::-1])]
        exp_sorted = exp[np.lexsort(exp.T[::-1])]
        np.testing.assert_allclose(got_sorted, exp_sorted, rtol=1e-12)


def test_stage_extra_cols_preserved(spark):
    import pandas as pd

    from fastselect_spark.selection._stage import load_staged, stage_matrix

    pdf = pd.DataFrame(
        {"f0": [1.0, 2.0, 3.0], "label": [0, 1, 0], "fold": [2, 0, 1]}
    )
    df = spark.createDataFrame(pdf)
    path = stage_matrix(df, ["f0"], "label", extra_cols=("fold",))
    X, y, extras = load_staged(path, ["f0"])
    by_val = dict(zip(X[:, 0], extras["fold"]))
    assert by_val == {1.0: 2, 2.0: 0, 3.0: 1}


# ---------- step-wise broadcast greedy engine ----------

def test_joint_mi_block_matches_contingency_oracle(coded):
    """_joint_mi_block's fused-triple-code MI must equal mi_from_contingency
    over the explicit (pair-state × label) count table, pair by pair."""
    from fastselect_spark.selection._stats import mi_from_contingency
    from fastselect_spark.selection.matrix import _joint_mi_block

    X, y, _ = coded
    Xc, yc, _ = encode_shared(X, y)
    k = int(max(Xc.max(), yc.max())) + 1
    Xt = np.ascontiguousarray(Xc.T)
    pairs = np.array([[0, 3], [1, 2], [5, 11], [7, 0]], dtype=np.int64)
    got = _joint_mi_block(Xt, yc, pairs, k, np.log(2.0))
    for m, (i, j) in enumerate(pairs):
        fused = Xc[:, i] * k + Xc[:, j]
        table = np.zeros((k * k, k), dtype=np.int64)
        np.add.at(table, (fused, yc), 1)
        want = mi_from_contingency(table, unit="bit")
        np.testing.assert_allclose(got[m], want, rtol=1e-10, atol=1e-12)


def test_mrmr_stepwise_matches_full(spark, coded):
    """strategy='stepwise' must pick the identical features (same kernel,
    same tie-breaks) and its partial redundancy columns must equal the full
    matrix's on every computed (candidate, selected) entry."""
    X, y, _ = coded
    full_pick, full_rel, full_red = mrmr_select_matrix(
        spark, X, y, n_select=5, strategy="full"
    )
    step_pick, step_rel, step_red = mrmr_select_matrix(
        spark, X, y, n_select=5, strategy="stepwise"
    )
    np.testing.assert_array_equal(step_pick, full_pick)
    np.testing.assert_allclose(step_rel, full_rel, rtol=0, atol=0)
    filled = step_red != 0
    np.testing.assert_allclose(step_red[filled], full_red[filled], rtol=0, atol=0)


def test_jmi_matrix_matches_dataframe_path(spark, coded):
    """Step-wise joint-MI columns reproduce the DataFrame cube path's
    greedy JMI selection (separate-vocab cube vs shared-space kernel —
    equal in exact arithmetic; selection must agree)."""
    import pandas as pd

    from fastselect_spark.selection import jmi_select
    from fastselect_spark.selection.matrix import jmi_select_matrix

    X, y, _ = coded
    cols = [f"f{i}" for i in range(X.shape[1])]
    pdf = pd.DataFrame(X, columns=cols)
    pdf["label"] = y
    ndf = spark.createDataFrame(pdf)
    want = jmi_select(ndf, cols, "label", n_select=5)
    got, rel = jmi_select_matrix(spark, X, y, n_select=5)
    assert got == want
    rel_o, _ = mi_matrices_oracle(X.astype(np.int64), y.astype(np.int64))
    np.testing.assert_allclose(rel, rel_o, rtol=1e-10, atol=1e-12)


def test_cmim_matrix_matches_dataframe_path(spark, coded):
    import pandas as pd

    from fastselect_spark.selection import cmim_select
    from fastselect_spark.selection.matrix import cmim_select_matrix

    X, y, _ = coded
    cols = [f"f{i}" for i in range(X.shape[1])]
    pdf = pd.DataFrame(X, columns=cols)
    pdf["label"] = y
    ndf = spark.createDataFrame(pdf)
    want = cmim_select(ndf, cols, "label", n_select=5)
    got, _ = cmim_select_matrix(spark, X, y, n_select=5)
    assert got == want


def test_stepwise_engine_rejects_bad_n_select(spark, coded):
    from fastselect_spark.selection.matrix import jmi_select_matrix

    X, y, _ = coded
    with pytest.raises(ValueError, match="n_select"):
        jmi_select_matrix(spark, X, y, n_select=0)


def test_stepwise_engine_rejects_oversize_broadcast(spark, monkeypatch):
    """The engine must refuse (clear contract error, not a JVM OOM) when
    the coded matrix exceeds the broadcast budget."""
    from fastselect_spark.selection import matrix as matrix_mod

    monkeypatch.setattr(matrix_mod, "MAX_BROADCAST_BYTES", 64)
    with pytest.raises(ValueError, match="wide-matrix"):
        matrix_mod.BroadcastMIEngine(
            spark, np.zeros((8, 4), dtype=np.int64), np.zeros(8, dtype=np.int64)
        )


# ---------- shared pair-job pieces ----------

def test_triu_pair_matches_triu_indices():
    """The pair-id decoder walks np.triu_indices(p, 1) order exactly; at
    large p the row starts ±1 and the last id exercise the float-sqrt
    fixups. symmetric_from_triu fills a matrix from a vector in that
    order, mirrored, with a zero diagonal."""
    from fastselect_spark.selection._agg import symmetric_from_triu, triu_pair

    for p in range(2, 301):
        iu, ju = np.triu_indices(p, k=1)
        i, j = triu_pair(np.arange(len(iu)), p)
        np.testing.assert_array_equal(i, iu)
        np.testing.assert_array_equal(j, ju)
    for p in (1, 2, 7):
        vals = np.arange(1.0, p * (p - 1) // 2 + 1)
        m = symmetric_from_triu(vals, p)
        i, j = triu_pair(np.arange(len(vals)), p)
        np.testing.assert_array_equal(m[i, j], vals)
        np.testing.assert_array_equal(m, m.T)
        assert m.dtype == np.float64 and not np.diag(m).any()
    for p in (5_000, 100_003, 1_000_003):
        rows = np.arange(p - 1, dtype=np.int64)
        starts = rows * (2 * p - rows - 1) // 2
        n_pairs = p * (p - 1) // 2
        ids = np.unique(
            np.concatenate([starts - 1, starts, starts + 1, [n_pairs - 1]])
        )
        ids = ids[(ids >= 0) & (ids < n_pairs)]
        # expected (i, j): the row whose start is the last one <= id
        want_i = np.searchsorted(starts, ids, side="right") - 1
        want_j = ids - starts[want_i] + want_i + 1
        i, j = triu_pair(ids, p)
        np.testing.assert_array_equal(i, want_i)
        np.testing.assert_array_equal(j, want_j)
        assert (i[-1], j[-1]) == (p - 2, p - 1)


@pytest.mark.parametrize("scorer", ["mi_matrices", "gain_ratio", "mrmr_select_matrix"])
def test_unknown_unit_raises(spark, coded, scorer):
    """A unit typo must raise, not silently return nats."""
    import pandas as pd

    from fastselect_spark.selection import gain_ratio, mi_matrices

    X, y, _ = coded
    cols = [f"f{i}" for i in range(X.shape[1])]
    pdf = pd.DataFrame(X, columns=cols)
    pdf["label"] = y
    ndf = spark.createDataFrame(pdf)
    with pytest.raises(ValueError, match="unit"):
        if scorer == "mi_matrices":
            mi_matrices(ndf, cols, "label", unit="bits")
        elif scorer == "gain_ratio":
            gain_ratio(ndf, cols, "label", unit="bits")
        else:
            mrmr_select_matrix(spark, X, y, n_select=3, unit="bits")
