"""Distributed average-rank + Spearman tests: pandas rank(method=
'average') parity under heavy ties and many partitions, tie-group
carry across Arrow batch boundaries, and the Spearman replica."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

import fastselect_spark.featurize.drift as driftmod
import fastselect_spark.selection.rank as rankmod
from fastselect_spark.featurize import ks_statistics
from fastselect_spark.selection.correlation import spearman_matrix
from fastselect_spark.selection.rank import average_ranks_long

def _both_rank_paths(melted, force_path, driver_calls):
    """average_ranks_long's driver and distributed results (sorted rows),
    failing unless each call took its own path."""
    calls = driver_calls(rankmod, "_rank_block")
    rows = []
    for forced in (False, True):
        if forced:
            force_path("distributed")
        ranks = average_ranks_long(melted, num_partitions=8 if forced else None)
        rows.append(
            sorted(((r["feature"] or "", r["id"]), r["rank"]) for r in ranks.collect())
        )
        # the driver path ranks in this process; the distributed one never
        assert bool(calls) != forced
        calls.clear()
    return rows


def test_average_ranks_driver_path_matches_distributed(
    spark, force_path, driver_calls
):
    """The small-input driver ranking must equal the range-partitioned
    two-pass kernel row-for-row, ties and all. The input is built from
    pandas (a LocalRelation with exact size stats), so the un-forced call
    takes the driver path."""
    rng = np.random.default_rng(23)
    melted = spark.createDataFrame(
        pd.DataFrame(
            {
                "feature": [f"f{j}" for j in rng.integers(0, 3, 500)],
                "value": rng.integers(0, 20, 500).astype(float),
                "id": [str(i) for i in range(500)],
            }
        )
    )
    fast, slow = _both_rank_paths(melted, force_path, driver_calls)
    assert fast == slow


def test_average_ranks_null_keys_both_paths(spark, force_path, driver_calls):
    """NULL keys rank as one key, ordered first as Spark orders them, and
    both paths return the same ranks — also when the NULL-key rows span
    several range partitions."""
    rng = np.random.default_rng(31)
    keys = rng.choice(np.array(["a", "b", None], dtype=object), 600)
    melted = spark.createDataFrame(
        pd.DataFrame(
            {
                "feature": keys,
                "value": rng.integers(0, 40, 600).astype(float),
                "id": [str(i) for i in range(600)],
            }
        ),
        "feature string, value double, id string",
    )
    fast, slow = _both_rank_paths(melted, force_path, driver_calls)
    assert fast == slow
    got = dict(fast)
    vals = pd.Series(melted.toPandas()["value"].to_numpy())
    null_rows = [str(i) for i in range(600) if keys[i] is None]
    exp = vals[[int(i) for i in null_rows]].rank(method="average")
    assert [got[("", i)] for i in null_rows] == exp.tolist()


def test_ks_driver_path_matches_distributed(spark, force_path, driver_calls):
    """ks_statistics' small-input path must equal the two-pass kernel; the
    pandas-built inputs report exact size stats, so it takes the driver
    path un-forced."""
    rng = np.random.default_rng(29)
    v0 = rng.integers(0, 50, 400).astype(float)
    v1 = rng.integers(0, 50, 300).astype(float)
    d0 = spark.createDataFrame(pd.DataFrame({"a": v0, "b": v0 * 2}))
    d1 = spark.createDataFrame(pd.DataFrame({"a": v1 + 3.0, "b": v1}))
    calls = driver_calls(driftmod, "_ks_block")
    fast = sorted(
        (r["feature"], r["ks"])
        for r in ks_statistics(d0, d1, ["a", "b"]).collect()
    )
    assert calls, "the driver path did not run"
    calls.clear()
    force_path("distributed")
    slow = sorted(
        (r["feature"], r["ks"])
        for r in ks_statistics(d0, d1, ["a", "b"], num_partitions=8).collect()
    )
    assert not calls, "the distributed path ran its kernel on the driver"
    assert fast == slow


COLS = ["a", "b", "c"]


@pytest.fixture(scope="module")
def rank_pdf():
    rng = np.random.default_rng(3)
    n = 2000
    pdf = pd.DataFrame(
        {
            "id": [str(i) for i in range(n)],
            "a": rng.integers(0, 20, n).astype(float),  # heavy ties
            "b": rng.normal(size=n),
        }
    )
    pdf["c"] = pdf["a"] * 3 + rng.integers(0, 2, n)
    return pdf


def _melt(df, cols):
    return df.select(
        "id",
        F.stack(
            F.lit(len(cols)),
            *[x for c in cols for x in (F.lit(c), F.col(c))],
        ).alias("feature", "value"),
    )


def test_ranks_match_pandas_average(spark, rank_pdf):
    df = spark.createDataFrame(rank_pdf)
    got = average_ranks_long(
        _melt(df, ["a", "b"]), num_partitions=7
    ).toPandas()
    for feat in ("a", "b"):
        g = got[got.feature == feat].set_index("id")["rank"]
        exp = rank_pdf.set_index("id")[feat].rank(method="average")
        assert np.allclose(g.reindex(exp.index).values, exp.values)


def test_ranks_partition_invariant(spark, rank_pdf):
    """Same ranks at 2 and 13 range partitions — the per-(partition, key)
    offset bookkeeping must be layout-independent."""
    df = spark.createDataFrame(rank_pdf)
    a = (
        average_ranks_long(_melt(df, ["a"]), num_partitions=2)
        .toPandas()
        .set_index("id")["rank"]
    )
    b = (
        average_ranks_long(_melt(df, ["a"]), num_partitions=13)
        .toPandas()
        .set_index("id")["rank"]
    )
    assert (a.sort_index() == b.sort_index()).all()


def test_single_giant_tie_group(spark):
    """A constant column is one tie group spanning every batch/partition —
    every row gets rank (n+1)/2 via the cross-batch carry path."""
    n = 500
    pdf = pd.DataFrame({"id": [str(i) for i in range(n)], "k": [7.0] * n})
    df = spark.createDataFrame(pdf)
    out = average_ranks_long(_melt(df, ["k"]), num_partitions=5).toPandas()
    assert len(out) == n
    assert (out["rank"] == (n + 1) / 2.0).all()


def test_null_values_excluded(spark):
    pdf = pd.DataFrame(
        {"id": ["0", "1", "2", "3"], "x": [3.0, None, 1.0, 2.0]}
    )
    df = spark.createDataFrame(pdf)
    out = average_ranks_long(_melt(df, ["x"])).toPandas()
    assert len(out) == 3
    got = out.set_index("id")["rank"]
    assert got["2"] == 1.0 and got["3"] == 2.0 and got["0"] == 3.0


def test_spearman_matches_replica(spark, rank_pdf):
    df = spark.createDataFrame(rank_pdf)
    S = spearman_matrix(df, COLS, ["id"])
    R = np.corrcoef(
        np.vstack(
            [rank_pdf[c].rank(method="average").to_numpy() for c in COLS]
        )
    )
    assert np.allclose(S, R, atol=1e-12)
    assert S[0, 2] > 0.99  # planted monotone relation
