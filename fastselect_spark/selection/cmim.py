"""Conditional Mutual Information Maximization (CMIM) greedy selection
(graft-added: the reference implements mRMR only; CMIM is the standard
conditional-MI sibling — Fleuret 2004, Brown et al. 2012 framework).

Criterion:

    J(f) = min_{s in S} I(X_f ; Y | X_s)

i.e. a candidate is worth what it still tells you about the label after
conditioning on its most-redundant already-selected partner. By the chain
rule  I(f;Y|s) = I((f,s);Y) - I(s;Y),  so the whole selection runs off the
SAME joint-MI statistics JMI uses (``jmi.joint_mi_matrices`` over
``jmi._joint_tables``: one value cube, or the melt fallback above the cell
cap) — zero extra cluster work. The greedy loop (:func:`cmim_loop`) is
shared with the wide-matrix ``cmim_select_matrix``. Seed = argmax
I(X_f; Y); ties break to the lowest feature index, matching the mRMR
tie-break convention.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
from pyspark.sql import DataFrame

from fastselect_spark.selection._validate import validate_transform_input
from fastselect_spark.selection.jmi import joint_mi_matrices


def cmim_loop(
    relevance: np.ndarray,
    column: Callable[[int, np.ndarray], np.ndarray],
    n_select: int,
) -> list[int]:
    """The CMIM greedy loop. ``column(s, cand)`` returns I((X_f, X_s); Y)
    for every f in ``cand``, the candidates still unselected after s was
    picked; the running min needs exactly one new column per step."""
    p = len(relevance)
    if not (0 < n_select <= p):
        raise ValueError("n_select out of range")
    selected = [int(np.argmax(relevance))]
    remaining = np.ones(p, dtype=bool)
    remaining[selected[0]] = False
    score = np.full(p, np.inf, dtype=np.float64)
    while len(selected) < n_select:
        s = selected[-1]
        cand = np.where(remaining)[0]
        # I(f;Y|s) = I((f,s);Y) - I(s;Y)
        col = column(s, cand) - relevance[s]
        score[cand] = np.minimum(score[cand], col)
        best = int(cand[np.argmax(score[cand])])
        selected.append(best)
        remaining[best] = False
    return selected


def cmim_select(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str = "label",
    n_select: int = 5,
    unit: str = "bit",
) -> list[int]:
    """Greedy CMIM selection; returns selected feature INDICES in pick
    order. One distributed pass (shared with JMI), then a driver loop."""
    relevance, joint_mi = joint_mi_matrices(df, feature_cols, label_col, unit)
    return cmim_loop(relevance, lambda s, cand: joint_mi[cand, s], n_select)


class CMIMSelector:
    def __init__(self, n_features_to_select: int = 5) -> None:
        self.n_features_to_select = n_features_to_select

    def fit(
        self, df: DataFrame, feature_cols: list[str], label_col: str = "label"
    ) -> "CMIMSelector":
        self.feature_cols_ = list(feature_cols)
        idx = cmim_select(df, feature_cols, label_col, self.n_features_to_select)
        self.top_features_ = np.array(idx, dtype=np.int32)
        self.selected_cols_ = [feature_cols[i] for i in idx]
        return self

    def transform(self, df: DataFrame) -> DataFrame:
        if not hasattr(self, "top_features_"):
            raise RuntimeError("CMIMSelector is not fitted")
        validate_transform_input(df, self.feature_cols_, type(self).__name__)
        return df.select(*self.selected_cols_)
