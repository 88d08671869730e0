"""Single-pass cube scoring must reproduce the separate chi2 pass and the
NumPy MI oracle (same sufficient statistics, one aggregation), and every
fallback above the cube's cell cap must build the cube path's tables."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from fastselect_spark.selection import chi2, gain_ratio, mi_matrices, scores_from_cube
from fastselect_spark.selection import jmi, mi

from oracle_numpy import mi_matrices_oracle


@pytest.fixture(scope="module")
def frame(spark):
    rng = np.random.default_rng(11)
    n = 3000
    rows = [
        (
            int(rng.integers(0, 6)),
            int(rng.integers(0, 4)),
            int(rng.integers(0, 11)),
            int(rng.integers(0, 2)),
        )
        for _ in range(n)
    ]
    return spark.createDataFrame(rows, schema="a int, b int, c int, label int")


def test_cube_scores_match_separate_passes(spark, frame):
    cols = ["a", "b", "c"]
    out = scores_from_cube(frame, cols, "label")
    stats, pvals = chi2(frame, cols, "label")
    pdf = frame.toPandas()
    rel, red = mi_matrices_oracle(pdf[cols].to_numpy(), pdf["label"].to_numpy())
    np.testing.assert_allclose(out["chi2"], stats, rtol=1e-12)
    np.testing.assert_allclose(out["p_values"], pvals, rtol=1e-12)
    np.testing.assert_allclose(out["relevance"], rel, rtol=1e-12)
    np.testing.assert_allclose(out["redundancy"], red, rtol=1e-12)
    assert out["n"] == 3000


def test_cube_scores_single_class(spark):
    df = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 0)], schema="a int, label int"
    )
    out = scores_from_cube(df, ["a"], "label")
    assert out["chi2"][0] == 0.0 and out["p_values"][0] == 1.0


def test_cube_scores_rejects_negative(spark):
    df = spark.createDataFrame(
        [(-1, 0), (2, 1)], schema="a int, label int"
    )
    with pytest.raises(ValueError, match="non-negative"):
        scores_from_cube(df, ["a"], "label")


@pytest.mark.parametrize("vocab", [[0, 1, 2, 3], [3, 7, 11]])
def test_fallbacks_above_cube_cap(spark, monkeypatch, vocab):
    """With the cell cap at 0 no cube fits: mi_matrices must take the Arrow
    kernel and jmi._joint_tables the melt, each reproducing the cube path
    exactly (contiguous and sparse vocabularies); the cube-only scorers
    must refuse."""
    rng = np.random.default_rng(3)
    n = 500
    pdf = pd.DataFrame(
        {c: rng.choice(vocab, n) for c in ["a", "b", "c"]}
        | {"label": rng.integers(0, 2, n)}
    )
    df = spark.createDataFrame(pdf).repartition(3)
    cols = ["a", "b", "c"]
    cube_rel, cube_red = mi_matrices(df, cols, "label")
    cube_tables = jmi._joint_tables(df, cols, "label")

    monkeypatch.setattr(mi, "_CUBE_CELL_CAP", 0)
    assert mi.value_cube(df, cols + ["label"]) is None
    rel, red = mi_matrices(df, cols, "label")
    np.testing.assert_array_equal(rel, cube_rel)
    np.testing.assert_array_equal(red, cube_red)
    melt_tables = jmi._joint_tables(df, cols, "label")
    for got, want in zip(melt_tables, cube_tables):
        np.testing.assert_array_equal(got, want)
    with pytest.raises(ValueError, match="cap"):
        scores_from_cube(df, cols, "label")
    with pytest.raises(ValueError, match="cap"):
        gain_ratio(df, cols, "label")
