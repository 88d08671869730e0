"""Single-pass scoring: chi2 + MI/mRMR from ONE contingency cube.

The flagship pipeline's scorers all consume sufficient statistics that are
marginalizations of the SAME joint value cube ``groupBy(all code columns)
.count()``:

- chi2's value-weighted observed matrix: ``obs[c, f] = Σ_cells
  count(cell) · cell_code_f`` over cells with ``cell_y = c`` (the codes ARE
  the values — Chi2.py:7-22 semantics exactly);
- class frequencies / priors: cube counts grouped by the y code;
- every MI relevance / redundancy table: cube-count-weighted
  ``contingency_tables`` stacks finalized by ``mi_tables``
  (mutual_information.py:25-63 semantics via the shared X∪y vocabulary).

So one hash aggregation over the data (partial+final, whole-stage codegen)
replaces a cached code matrix + two scan jobs. At 10^12-turn scale this is
the only sane shape: the cube is bounded by the code-space product, not by
the row count, and nothing row-sized is ever persisted.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from fastselect_spark.selection._stats import chi2_sf, chi2_stats_from_observed
from fastselect_spark.selection.mi import cube_mi, value_cube


def scores_from_cube(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str = "label",
    unit: str = "bit",
    compute_redundancy: bool = True,
    validate: bool = True,
) -> dict:
    """Returns {'chi2', 'p_values', 'relevance', 'redundancy', 'n'} from one
    aggregation pass. Feature/label values must be discrete (the cube must
    stay under ~2M cells)."""
    p = len(feature_cols)
    cube = value_cube(df, list(feature_cols) + [label_col])
    if cube is None:
        raise ValueError("joint value cube exceeds the cap; bin features first")
    raw, counts = cube
    n = int(counts.sum())

    # --- chi2 (value-weighted observed, Chi2.py:49-91 semantics) ---
    if validate and len(raw) and raw[:, :p].min() < 0:
        raise ValueError("Input matrix X must contain non-negative values.")
    y_raw = raw[:, p]
    y_vals = np.unique(y_raw)
    K = len(y_vals)
    if K < 2:
        chi2_stats = np.zeros(p, dtype=np.float64)
        p_values = np.ones(p, dtype=np.float64)
    else:
        obs = np.zeros((K, p), dtype=np.float64)
        class_freqs = np.zeros(K, dtype=np.float64)
        y_idx = np.searchsorted(y_vals, y_raw)
        for c in range(K):
            m = y_idx == c
            obs[c] = (raw[m, :p] * counts[m, None]).sum(axis=0)
            class_freqs[c] = counts[m].sum()
        chi2_stats = chi2_stats_from_observed(obs, class_freqs, float(n))
        p_values = chi2_sf(chi2_stats, dof=K - 1)

    # --- MI relevance/redundancy (shared X∪y vocabulary, mRMR.py:90) ---
    relevance, redundancy = cube_mi(raw, counts, unit, compute_redundancy)
    return {
        "chi2": chi2_stats,
        "p_values": p_values,
        "relevance": relevance,
        "redundancy": redundancy,
        "n": n,
    }
