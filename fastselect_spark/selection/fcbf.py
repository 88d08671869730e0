"""FCBF — Fast Correlation-Based Filter (Yu & Liu, ICML 2003).
Graft-added: the reference's CFS (CFS.py) uses the same symmetrical-
uncertainty correlation; FCBF is its linear-time sibling — rank features by
SU(f; Y), then remove every feature that has a *predominant* selected
feature more correlated with it than it is with the label.

Distributed strategy: ONE pass builds the joint tables (reusing
``jmi._joint_tables`` — one value cube, or the melt fallback above the cell
cap). SU(f;Y) comes from each feature's class contingency and SU(fi;fj)
from the pair tables marginalized over the label; each is one stacked
``_stats.su_tables`` call, the same SU finalizer CFS's oracle-verified
merit uses, so the two filters are bit-identical on shared inputs by
construction. The fit keeps SU(f;Y) as ``FCBFSelector.su_y_``. The
rank/eliminate loop is driver-side (p×p table, same scale as the
reference's CFS search).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from fastselect_spark.selection._agg import symmetric_from_triu
from fastselect_spark.selection._stats import su_tables
from fastselect_spark.selection._validate import validate_transform_input
from fastselect_spark.selection.jmi import _joint_tables


def _fcbf(
    df: DataFrame, feature_cols: list[str], label_col: str, delta: float
) -> tuple[list[int], np.ndarray]:
    """(surviving feature indices, SU(f;Y) for every feature): see
    :func:`fcbf_select`."""
    p = len(feature_cols)
    rel_t, pair_t, k, _ = _joint_tables(df, feature_cols, label_col)
    su_y = su_tables(rel_t)
    # pair table is (k*k, ky); marginalize the label, refold to (k, k)
    su_ff = symmetric_from_triu(
        su_tables(pair_t.sum(axis=2).reshape(len(pair_t), k, k)), p
    )

    order = sorted(
        (f for f in range(p) if su_y[f] > delta), key=lambda f: (-su_y[f], f)
    )
    selected: list[int] = []
    removed: set[int] = set()
    for f in order:
        if f in removed:
            continue
        selected.append(f)
        for q in order:
            if q in removed or q in selected:
                continue
            if su_ff[f, q] >= su_y[q]:
                removed.add(q)
    return selected, su_y


def fcbf_select(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str = "label",
    delta: float = 0.0,
) -> list[int]:
    """FCBF selection; returns surviving feature INDICES in descending
    SU(f;Y) order (the paper's S_best list order).

    1. relevance: keep features with SU(f;Y) > ``delta``;
    2. rank the survivors by SU(f;Y) descending (ties: lowest index);
    3. walk the ranking: the head is selected; every later feature q with
       SU(p;q) >= SU(q;Y) for a selected predecessor p is removed
       (predominance test, Yu & Liu Alg. 1 lines 11-18).
    """
    return _fcbf(df, feature_cols, label_col, delta)[0]


class FCBFSelector:
    def __init__(self, delta: float = 0.0) -> None:
        self.delta = delta

    def fit(
        self, df: DataFrame, feature_cols: list[str], label_col: str = "label"
    ) -> "FCBFSelector":
        self.feature_cols_ = list(feature_cols)
        idx, self.su_y_ = _fcbf(df, feature_cols, label_col, self.delta)
        self.top_features_ = np.array(idx, dtype=np.int32)
        self.selected_cols_ = [feature_cols[i] for i in idx]
        return self

    def transform(self, df: DataFrame) -> DataFrame:
        if not hasattr(self, "top_features_"):
            raise RuntimeError("FCBFSelector is not fitted")
        validate_transform_input(df, self.feature_cols_, type(self).__name__)
        return df.select(*self.selected_cols_)
