"""Output oracles: independent NumPy and DuckDB recomputations, built once at
set-up and compared against every pass.

chi2, ReliefF and every mutual information use the repository's test
oracle (``tests/oracle_numpy.py``); the greedy selectors, Fisher and MDR are
written here from the scorers' documented semantics.
"""

from __future__ import annotations

import importlib.util
import os
from collections import Counter
from itertools import combinations

import numpy as np


def test_oracle(root: str):
    """The repository's NumPy oracle module, loaded by path."""
    path = os.path.join(root, "tests", "oracle_numpy.py")
    spec = importlib.util.spec_from_file_location("perfbench_oracle_numpy", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def pit_codes(feat):
    """The pit_features code matrix from a featurized pandas frame: each
    turn joined as of its timestamp to the latest session summary (last ts,
    mean tokens) of its conversation, then binned. Spark's ``least`` skips
    nulls, hence ``fmin``."""
    import pandas as pd

    sess = feat.groupby(["conv_id", "session_id"], as_index=False).agg(
        ts=("ts", "max"), sess_avg_tokens=("n_tokens", "mean")
    )
    m = pd.merge_asof(
        feat.sort_values("ts"),
        sess[["conv_id", "ts", "sess_avg_tokens"]].sort_values("ts"),
        on="ts",
        by="conv_id",
        direction="backward",
        allow_exact_matches=True,
    )
    X = np.stack(
        [
            np.fmin(m["session_id"], 7),
            np.fmin(m["role_run_len"], 5),
            np.fmin(np.floor(m["turn_gap_s"] / 60.0), 10),
            np.fmin(np.floor(m["sess_avg_tokens"]), 10),
            np.fmin(m["n_tokens"], 60),
        ],
        axis=1,
    ).astype(np.int64)
    return X, m["label"].to_numpy(np.int64)


def mrmr_mid(rel: np.ndarray, column, n_select: int) -> list[int]:
    """Greedy MID: relevance minus mean redundancy to the selected set;
    near-ties go to the candidate with the least redundancy. ``column(s)``
    gives I(X_f; X_s) for every f; only the selected features' columns are
    asked for, as in the engine's step-wise path."""
    selected = [int(np.argmax(rel))]
    red_sum = np.array(column(selected[0]), dtype=np.float64)
    while len(selected) < n_select:
        rem = np.setdiff1d(np.arange(len(rel)), selected)
        score = rel[rem] - red_sum[rem] / len(selected)
        top = rem[np.isclose(score, score.max(), atol=1e-12)]
        best = int(top[np.argmin(red_sum[top])]) if len(top) > 1 else int(top[0])
        selected.append(best)
        if len(selected) < n_select:
            red_sum += column(best)
    return selected


def jmi_select(mi, rel: np.ndarray, X: np.ndarray, y: np.ndarray, n_select: int) -> list[int]:
    """JMI: seed argmax I(X_f;y), then argmax of sum_s I((X_f, X_s); y),
    first index on ties. ``mi(a, b)`` is the pairwise MI oracle and ``rel``
    the relevance I(X_f;y) it gives."""
    p, k = X.shape[1], int(X.max()) + 1
    selected = [int(np.argmax(rel))]
    acc = np.zeros(p)
    while len(selected) < n_select:
        joint = X * k + X[:, [selected[-1]]]
        rem = np.setdiff1d(np.arange(p), selected)
        acc[rem] += [mi(joint[:, f], y) for f in rem]
        selected.append(int(rem[np.argmax(acc[rem])]))
    return selected


def fisher(X: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Between-class over pooled within-class population variance."""
    classes = np.unique(y)
    n_c = np.array([(y == c).sum() for c in classes], dtype=np.float64)
    mu_c = np.stack([X[y == c].mean(axis=0) for c in classes])
    var_c = np.stack([X[y == c].var(axis=0) for c in classes])
    between = (n_c[:, None] * (mu_c - X.mean(axis=0)) ** 2).sum(axis=0)
    within = (n_c[:, None] * var_c).sum(axis=0)
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(within > 0, between / within, np.where(between > 0, np.inf, 0.0))


def _risk_ba(case: np.ndarray, ctrl: np.ndarray) -> np.ndarray:
    """Balanced accuracy of the high-risk rule per table on the last axis:
    a cell is high risk when it has no controls or case/control exceeds the
    overall case/control ratio; 0 when cases or controls are missing."""
    tc, tn = case.sum(-1).astype(np.float64), ctrl.sum(-1).astype(np.float64)
    thr = np.divide(tc, tn, out=np.zeros_like(tc), where=tn > 0)
    with np.errstate(divide="ignore", invalid="ignore"):
        ratio = np.where(ctrl > 0, case / np.where(ctrl > 0, ctrl, 1), np.inf)
        high = (ctrl == 0) | (ratio > thr[..., None])
        ba = 0.5 * ((case * high).sum(-1) / tc + (ctrl * ~high).sum(-1) / tn)
    return np.where((tc > 0) & (tn > 0), ba, 0.0)


def _lookup(case: np.ndarray, ctrl: np.ndarray) -> np.ndarray:
    tn = ctrl.sum()
    thr = np.inf if tn == 0 else case.sum() / tn
    return (case / (ctrl + 1e-9) > thr).astype(np.uint8)


def mdr(X: np.ndarray, y: np.ndarray, folds: np.ndarray, cv: int = 10) -> dict:
    """Two-locus MDR model search with cross-validation consistency vote."""
    combos = list(combinations(range(X.shape[1]), 2))
    ca = np.array(combos)
    cells = X[:, ca[:, 0]] * 3 + X[:, ca[:, 1]]  # (n, C)
    flat = (np.arange(len(combos))[None, :] * cv + folds[:, None]) * 9 + cells
    shape = (len(combos), cv, 9)
    case = np.bincount(flat[y == 1].ravel(), minlength=np.prod(shape)).reshape(shape)
    ctrl = np.bincount(flat[y == 0].ravel(), minlength=np.prod(shape)).reshape(shape)
    train_ba = _risk_ba(case.sum(1, keepdims=True) - case, ctrl.sum(1, keepdims=True) - ctrl)
    best = np.argmax(train_ba, axis=0)  # (cv,) first index on ties
    models, test_ba = [], []
    for f in range(cv):
        c = best[f]
        lut = _lookup(case[c].sum(0) - case[c, f], ctrl[c].sum(0) - ctrl[c, f])
        n_pos, n_neg = case[c, f].sum(), ctrl[c, f].sum()
        sens = case[c, f][lut == 1].sum() / n_pos if n_pos else 0
        spec = ctrl[c, f][lut == 0].sum() / n_neg if n_neg else 0
        models.append(combos[c])
        test_ba.append((sens + spec) / 2.0)
    votes = Counter(models)
    cvc = max(votes.values())
    winner, winner_ba = None, -1.0
    for m, v in votes.items():
        if v == cvc:
            mean_ba = float(np.mean([b for mm, b in zip(models, test_ba) if mm == m]))
            if mean_ba > winner_ba:
                winner, winner_ba = m, mean_ba
    c = combos.index(winner)
    return {
        "interaction": tuple(int(i) for i in winner),
        "cvc": cvc,
        "mean_test_ba": winner_ba,
        "lookup": _lookup(case[c].sum(0), ctrl[c].sum(0)),
    }


def dedup_kept(documents, oracle_sql: str) -> set[tuple[int, str]]:
    """Kept (doc_id, source) rows of the dedup chain, recomputed in DuckDB."""
    import duckdb

    con = duckdb.connect()
    try:
        con.register("documents", documents)
        return {(int(d), s) for d, s in con.execute(oracle_sql).fetchall()}
    finally:
        con.close()
