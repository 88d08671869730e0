"""mRMR greedy feature selection (reference O8,
/root/reference/src/fast_select/mRMR.py:30-152).

The data-touching work is exactly one distributed MI pass (``mi.mi_matrices``,
shared X∪y vocabulary, bits); the greedy argmax loop runs on the driver over
the small (p, p×p) arrays — the reference does the same (mRMR.py:102-131),
and no cluster round-trips happen after the MI job.

Exact semantics reproduced:
- seed = argmax relevance;
- MID score = rel - red_sum/i, MIQ = rel / (red_sum/i + 1e-9) where i is the
  number of already-selected features (mRMR.py:114-117);
- ties: np.isclose(scores, max, atol=1e-12) candidates, pick the one with
  minimum average redundancy (mRMR.py:120-126);
- feature_importances_ = relevance.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
from pyspark.sql import DataFrame

from fastselect_spark.selection.mi import mi_matrices
from fastselect_spark.selection._validate import validate_transform_input


def mrmr_greedy(
    relevance: np.ndarray,
    redundancy: np.ndarray,
    n_select: int,
    method: str = "MID",
) -> np.ndarray:
    """Driver-side greedy loop over precomputed MI matrices."""
    return mrmr_loop(
        relevance, lambda s, cand: redundancy[cand, s], n_select, method
    )


def mrmr_loop(
    relevance: np.ndarray,
    column: Callable[[int, np.ndarray], np.ndarray],
    n_select: int,
    method: str = "MID",
) -> np.ndarray:
    """The mRMR greedy loop. ``column(s, cand)`` returns I(X_f; X_s) for
    every f in ``cand``, the candidates still unselected after s was picked.

    Only the redundancy sums of remaining candidates are ever read, so a
    callback that computes just those entries (the step-wise engine) picks
    exactly what the full matrix picks; no column is requested after the
    last pick."""
    p = len(relevance)
    if not (0 < n_select <= p):
        raise ValueError(
            "n_features_to_select must be a positive integer less "
            "than or equal to the number of features."
        )
    selected = np.zeros(n_select, dtype=np.int32)
    remaining = np.ones(p, dtype=bool)
    red_sum = np.zeros(p, dtype=np.float64)

    selected[0] = np.argmax(relevance)
    remaining[selected[0]] = False
    for i in range(1, n_select):
        rem_idx = np.where(remaining)[0]
        red_sum[rem_idx] += column(int(selected[i - 1]), rem_idx)
        if method == "MID":
            scores = relevance[rem_idx] - red_sum[rem_idx] / i
        else:  # MIQ
            scores = relevance[rem_idx] / (red_sum[rem_idx] / i + 1e-9)
        max_score = np.max(scores)
        top = rem_idx[np.isclose(scores, max_score, atol=1e-12)]
        best = int(top[np.argmin(red_sum[top] / i)])
        selected[i] = best
        remaining[best] = False
    return selected


class MRMRSelector:
    """DataFrame-native mRMR selector mirroring the reference estimator
    contract (fit -> top_features_/feature_importances_; transform = column
    projection)."""

    def __init__(
        self, n_features_to_select: int, method: str = "MID"
    ) -> None:
        if method not in ("MID", "MIQ"):
            raise ValueError("Method must be either 'MID' or 'MIQ'.")
        self.n_features_to_select = n_features_to_select
        self.method = method

    def fit(
        self, df: DataFrame, feature_cols: list[str], label_col: str = "label"
    ) -> "MRMRSelector":
        self.feature_cols_ = list(feature_cols)
        self.n_features_in_ = len(feature_cols)
        relevance, redundancy = mi_matrices(df, feature_cols, label_col, unit="bit")
        self.relevance_scores_ = relevance
        self.redundancy_matrix_ = redundancy
        self.top_features_ = mrmr_greedy(
            relevance, redundancy, self.n_features_to_select, self.method
        )
        self.feature_importances_ = relevance
        self.selected_cols_ = [feature_cols[i] for i in self.top_features_]
        return self

    def transform(self, df: DataFrame) -> DataFrame:
        if not hasattr(self, "top_features_"):
            raise RuntimeError("MRMRSelector is not fitted")
        validate_transform_input(df, self.feature_cols_, type(self).__name__)
        return df.select(*self.selected_cols_)

    def fit_transform(
        self, df: DataFrame, feature_cols: list[str], label_col: str = "label"
    ) -> DataFrame:
        return self.fit(df, feature_cols, label_col).transform(df)


def mrmr_select(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str = "label",
    n_select: int = 5,
    method: str = "MID",
) -> list[str]:
    """Functional wrapper: returns the selected column names in pick order."""
    sel = MRMRSelector(n_select, method).fit(df, feature_cols, label_col)
    return sel.selected_cols_
