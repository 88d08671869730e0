"""Distributed chi-square feature scoring (reference O5,
/root/reference/src/fast_select/Chi2.py:49-91).

The whole data pass is ONE hash aggregation —
``df.groupBy(label).agg(count, sum(f) for f in features, min(f)...)`` —
which Catalyst executes as partial (map-side) + final aggregation with
whole-stage codegen: the canonical scalable form of the reference's
single-pass observed-matrix kernel (Chi2.py:7-22). Only a (K, p) matrix
reaches the driver; chi2 math + p-values are driver-side NumPy.

Semantics reproduced exactly:
- value-weighted observed counts (not occurrence counts);
- negative feature values raise ValueError (Chi2.py:71-72);
- single-class y returns (zeros, ones) (Chi2.py:78-79); NULL/NaN labels
  raise ValueError (``_validate.check_labels``);
- zero-sum features score 0 (skip), expected cells <= 1e-12 skipped;
- dof = n_classes - 1; p-values via the chi-square survival function.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fastselect_spark.selection._stats import chi2_sf, chi2_stats_from_observed
from fastselect_spark.selection._validate import class_rows


def chi2(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str = "label",
    validate: bool = True,
) -> tuple[np.ndarray, np.ndarray]:
    """Return (chi2_stats[p], p_values[p]) for each feature vs the label."""
    aggs = [F.count(F.lit(1)).alias("__n")]
    aggs += [F.sum(F.col(c).cast("double")).alias(f"__s_{c}") for c in feature_cols]
    if validate:
        aggs += [F.min(F.col(c).cast("double")).alias(f"__m_{c}") for c in feature_cols]
    rows = class_rows(df, label_col, aggs)

    if validate:
        for r in rows:
            for c in feature_cols:
                m = r[f"__m_{c}"]
                if m is not None and m < 0:
                    raise ValueError("Input matrix X must contain non-negative values.")

    p = len(feature_cols)
    n_classes = len(rows)
    if n_classes < 2:
        return np.zeros(p, dtype=np.float64), np.ones(p, dtype=np.float64)

    class_freqs = np.array([r["__n"] for r in rows], dtype=np.float64)
    n_samples = float(class_freqs.sum())
    observed = np.array(
        [[r[f"__s_{c}"] or 0.0 for c in feature_cols] for r in rows], dtype=np.float64
    )
    stats = chi2_stats_from_observed(observed, class_freqs, n_samples)
    pvals = chi2_sf(stats, dof=n_classes - 1)
    return stats, pvals

