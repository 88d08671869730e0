"""Correlation matrix tests: np.corrcoef parity, agg==arrow bit-identity
on integer-valued features, the zero-variance NULL convention, and the
Kendall tau-b matrix."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

import fastselect_spark.selection.correlation as corrmod
from fastselect_spark.selection.correlation import (
    correlation_matrix,
    correlation_table,
)

COLS = ["a", "b", "c", "d"]


@pytest.fixture(scope="module")
def corr_df(spark):
    rng = np.random.default_rng(11)
    a = rng.integers(0, 50, 400).astype(float)
    b = a * 2 + rng.integers(0, 3, 400)  # strongly correlated with a
    c = rng.integers(-20, 20, 400).astype(float)
    d = rng.integers(0, 2, 400).astype(float)
    pdf = pd.DataFrame({"a": a, "b": b, "c": c, "d": d})
    return spark.createDataFrame(pdf), pdf


def test_matches_numpy_corrcoef(corr_df):
    df, pdf = corr_df
    r = correlation_matrix(df, COLS)
    expect = np.corrcoef(pdf[COLS].to_numpy().T)
    assert np.allclose(r, expect, atol=1e-12)
    assert r[0, 1] > 0.99  # planted


def test_agg_and_arrow_bit_identical(corr_df, monkeypatch):
    """Integer-valued features make every sufficient statistic exact, so
    the two physical strategies must agree to the last bit. AGG_P = 0
    sends the p = 4 input down the Arrow X^T X path."""
    df, _ = corr_df
    ra = correlation_matrix(df, COLS)
    monkeypatch.setattr(corrmod, "AGG_P", 0)
    rw = correlation_matrix(df.repartition(7), COLS)
    assert (ra == rw).all()


def test_zero_variance_is_null(spark):
    pdf = pd.DataFrame({"x": [1.0, 2.0, 3.0], "k": [5.0, 5.0, 5.0]})
    df = spark.createDataFrame(pdf)
    r = correlation_matrix(df, ["x", "k"])
    assert np.isnan(r[0, 1])
    tbl = correlation_table(spark, r, ["x", "k"]).collect()
    assert len(tbl) == 1 and tbl[0]["corr"] is None


def test_empty_input_raises(corr_df, monkeypatch):
    """Both paths reject an empty frame with the same error."""
    df, _ = corr_df
    empty = df.where("a < -1")
    with pytest.raises(ValueError, match="empty"):
        correlation_matrix(empty, COLS)
    monkeypatch.setattr(corrmod, "AGG_P", 0)
    with pytest.raises(ValueError, match="empty"):
        correlation_matrix(empty, COLS)


# ------------------------------------------------------------- kendall --


def _kendall_tau_b_brute(x: np.ndarray, y: np.ndarray) -> float:
    """O(n²) literal tau-b definition — the independent test oracle."""
    n = len(x)
    p = q = tx = ty = 0
    for i in range(n):
        for j in range(i + 1, n):
            dx = np.sign(x[j] - x[i])
            dy = np.sign(y[j] - y[i])
            if dx == 0 and dy == 0:
                tx += 1
                ty += 1
            elif dx == 0:
                tx += 1
            elif dy == 0:
                ty += 1
            elif dx == dy:
                p += 1
            else:
                q += 1
    n0 = n * (n - 1) // 2
    return (p - q) / np.sqrt(float(n0 - tx) * float(n0 - ty))


def test_kendall_matches_brute_force(spark):
    from fastselect_spark.selection.correlation import kendall_tau_matrix

    rng = np.random.default_rng(7)
    x = rng.integers(0, 5, 200)
    y = (x + rng.integers(0, 3, 200)) % 6  # partly dependent
    z = rng.integers(0, 4, 200)
    pdf = pd.DataFrame({"x": x, "y": y, "z": z})
    out = kendall_tau_matrix(spark.createDataFrame(pdf), ["x", "y", "z"])
    got = {(r["feature_a"], r["feature_b"]): r["tau_b"] for r in out.collect()}
    assert set(got) == {("x", "y"), ("x", "z"), ("y", "z")}
    for a, b in got:
        expect = _kendall_tau_b_brute(
            pdf[a].to_numpy().astype(float), pdf[b].to_numpy().astype(float)
        )
        assert got[(a, b)] == pytest.approx(expect, abs=1e-12), (a, b)


def test_kendall_perfect_and_constant(spark):
    from fastselect_spark.selection.correlation import kendall_tau_matrix

    pdf = pd.DataFrame(
        {
            "a": [0, 1, 2, 3, 4, 5],
            "asc": [10, 11, 12, 13, 14, 15],  # perfectly concordant
            "desc": [5, 4, 3, 2, 1, 0],  # perfectly discordant
            "const": [7, 7, 7, 7, 7, 7],  # no variation -> NULL tau
        }
    )
    out = kendall_tau_matrix(
        spark.createDataFrame(pdf), ["a", "asc", "desc", "const"]
    )
    got = {(r["feature_a"], r["feature_b"]): r["tau_b"] for r in out.collect()}
    assert got[("a", "asc")] == pytest.approx(1.0)
    assert got[("a", "desc")] == pytest.approx(-1.0)
    assert got[("a", "const")] is None
    assert got[("asc", "desc")] == pytest.approx(-1.0)


def test_kendall_null_rows_listwise_dropped(spark):
    from fastselect_spark.selection.correlation import kendall_tau_matrix

    pdf = pd.DataFrame(
        {
            "a": [0.0, 1.0, 2.0, 3.0, np.nan],
            "b": [0.0, 1.0, 2.0, 3.0, 0.0],
        }
    )
    out = kendall_tau_matrix(spark.createDataFrame(pdf), ["a", "b"])
    row = out.collect()[0]
    assert row["tau_b"] == pytest.approx(1.0)  # the NaN row is excluded
