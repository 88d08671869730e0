"""Fisher score (graft-added: listed in the north_star scoring suite but not
present in the reference — documented as an addition, SURVEY.md §7.2 step 7).

S_f = sum_c n_c * (mu_cf - mu_f)^2 / sum_c n_c * var_cf

with per-class population variance. The whole computation is ONE
``groupBy(label).agg`` of count/sum/sum-of-squares per feature
(:func:`class_moments`, also behind ``univariate.anova_f_score``) — the same
partial+final hash aggregation shape as chi2 — finalized on the driver by
``_stats.fisher_from_moments``, the finalizer ``matrix.fisher_matrix``
shares. Features with zero pooled within-class variance score +inf when
their class means differ, 0 when constant overall (documented convention).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fastselect_spark.selection._stats import fisher_from_moments
from fastselect_spark.selection._validate import class_rows


def class_moments(
    df: DataFrame, feature_cols: list[str], label_col: str
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Per-class ``(count (K,), sum (K, p), sum-of-squares (K, p))`` in
    ascending label order from one aggregation; NULL/NaN labels raise."""
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in feature_cols:
        d = F.col(c).cast("double")
        aggs += [F.sum(d).alias(f"__s_{c}"), F.sum(d * d).alias(f"__q_{c}")]
    rows = class_rows(df, label_col, aggs)
    shape = (len(rows), len(feature_cols))
    n_c = np.array([r["__n"] for r in rows], dtype=np.float64)
    s = np.array([[r[f"__s_{c}"] or 0.0 for c in feature_cols] for r in rows])
    q = np.array([[r[f"__q_{c}"] or 0.0 for c in feature_cols] for r in rows])
    return n_c, s.reshape(shape), q.reshape(shape)


def fisher_score(
    df: DataFrame, feature_cols: list[str], label_col: str = "label"
) -> np.ndarray:
    return fisher_from_moments(*class_moments(df, feature_cols, label_col))
