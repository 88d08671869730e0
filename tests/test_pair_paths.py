"""Both paths of the one pair kernel (``_agg.pair_job``): the in-process
driver twin within the ``pairs`` gate and the broadcast ``mapInPandas``
job beyond it give identical results for every caller, the step-wise
selectors launch no job on small inputs, and a failing job still releases
its broadcast."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from fastselect_spark.selection import _agg
from fastselect_spark.selection.cfs import CFSSelector
from fastselect_spark.selection.matrix import (
    BroadcastMIEngine,
    cmim_select_matrix,
    encode_shared,
    jmi_select_matrix,
    mi_matrices_broadcast,
    mrmr_select_matrix,
)


def _Xy(n: int = 80, p: int = 7, seed: int = 3):
    """Codes 0..2 with the label a noisy function of the first two."""
    rng = np.random.default_rng(seed)
    X = rng.integers(0, 3, size=(n, p))
    y = (X[:, 0] + X[:, 1] + (rng.random(n) < 0.2)) % 3
    return X, y


def _cfs_fit(spark, pdf, y):
    cols = list(pdf.columns)
    pdf = pdf.assign(label=y)
    # stage_mode="small" pins the CFS stage so only the pairs gate decides
    m = CFSSelector(stage_mode="small").fit(spark.createDataFrame(pdf), cols, "label")
    return m.support_mask_, m.r_cf_, m.r_ff_, m.merit_


def _cfs(spark, X, y):
    return _cfs_fit(spark, pd.DataFrame(X, columns=[f"f{i}" for i in range(X.shape[1])]), y)


def _cfs_mixed(spark, X, y):
    """CFS over mixed table shapes: a float column binned to n_bins (10)
    and discrete columns with 2, 3 and 5 states, so the pair kernel
    stacks several (k_i, k_j) shapes in one call."""
    noise = np.random.default_rng(5).normal(0, 0.4, len(y))
    pdf = pd.DataFrame(
        {
            "x": X[:, 0] + noise,
            "b2": X[:, 1] % 2,
            "c3": X[:, 2],
            "c5": (X[:, 3] + 2 * X[:, 4]) % 5,
        }
    )
    return _cfs_fit(spark, pdf, y)


CALLS = {
    "mi_matrices": lambda spark, X, y: mi_matrices_broadcast(
        spark, *encode_shared(X, y)[:2]
    ),
    "mrmr_full": lambda spark, X, y: mrmr_select_matrix(
        spark, X, y, 3, strategy="full"
    ),
    "mrmr_stepwise": lambda spark, X, y: mrmr_select_matrix(
        spark, X, y, 3, strategy="stepwise"
    ),
    "jmi": lambda spark, X, y: jmi_select_matrix(spark, X, y, 3),
    "cmim": lambda spark, X, y: cmim_select_matrix(spark, X, y, 3),
    "cfs": _cfs,
    "cfs_mixed": _cfs_mixed,
}


@pytest.mark.parametrize("call", list(CALLS))
def test_pair_paths_identical(spark, force_path, driver_calls, call):
    """Each caller under both forced paths: exactly equal outputs, every
    pairs decision taken as forced, and the executor job built only on the
    distributed path."""
    X, y = _Xy()
    outs = {}
    for path in ("driver", "distributed"):
        decisions = force_path(path)
        frames = driver_calls(_agg, "pair_frame")
        outs[path] = CALLS[call](spark, X, y)
        assert decisions and all(d == (path == "driver") for d in decisions)
        assert bool(frames) == (path == "distributed")
    for got, want in zip(outs["driver"], outs["distributed"]):
        np.testing.assert_array_equal(np.asarray(got), np.asarray(want))


def _jobs(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("path, jobs", [("auto", 0), ("distributed", 3)])
@pytest.mark.parametrize(
    "select",
    [
        lambda spark, X, y: mrmr_select_matrix(spark, X, y, 3, strategy="stepwise"),
        lambda spark, X, y: jmi_select_matrix(spark, X, y, 3),
    ],
    ids=["mrmr_stepwise", "jmi"],
)
def test_stepwise_jobs_per_call(spark, force_path, select, path, jobs):
    """K=3 is relevance plus two greedy columns: three pair jobs beyond
    the gate, none within it."""
    X, y = _Xy()
    decisions = force_path(path)
    group = f"pairs-{path}-{id(select)}"
    assert _jobs(spark, group, lambda: select(spark, X, y)) == jobs
    assert decisions == [path == "auto"] * 3


def _engine_relevance(spark, X, y):
    with BroadcastMIEngine(spark, *encode_shared(X, y)[:2]) as engine:
        engine.relevance()


@pytest.mark.parametrize(
    "call",
    [_engine_relevance, _cfs],
    ids=["engine", "cfs"],
)
def test_failed_pair_job_releases_broadcast(spark, force_path, monkeypatch, call):
    """A distributed pair kernel that raises must not leak the broadcast
    it was given."""
    force_path("distributed")
    sc = spark.sparkContext
    made = []
    real_broadcast, real_frame = sc.broadcast, _agg.pair_frame

    def broadcast(value):
        made.append(real_broadcast(value))
        return made[-1]

    def failing_frame(spark, n_pairs, score, tasks_per_core):
        def boom(ids):
            raise RuntimeError("pair kernel failed")

        return real_frame(spark, n_pairs, boom, tasks_per_core)

    monkeypatch.setattr(sc, "broadcast", broadcast)
    monkeypatch.setattr(_agg, "pair_frame", failing_frame)
    X, y = _Xy()
    with pytest.raises(Exception, match="pair kernel failed"):
        call(spark, X, y)
    assert made
    assert not any(b._jbroadcast.isValid() for b in made)
