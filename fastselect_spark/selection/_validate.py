"""Transform-time input-contract validation shared by every selector.

Reference parity: the reference's ``transform`` funnels through sklearn's
``validate_data(self, x, reset=False)`` (ReliefF.py:425-429), which raises
``ValueError("X has N features, but <Est> is expecting M features as
input.")`` on width mismatch (asserted by the reference's
tests/test_mrmr.py:183-186). The Spark analogue of "width" is the set of
fitted feature COLUMNS: a frame missing any of them gets the same
contract error (with the missing names appended) instead of an opaque
UNRESOLVED_COLUMN analysis exception deep inside a select.

The per-class scorers (chi2, Fisher, ANOVA, both layouts) share one label
contract, :func:`check_labels`: NULL and NaN labels raise.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def validate_transform_input(
    df: DataFrame, feature_cols: Sequence[str], estimator_name: str
) -> None:
    """Raise the reference-format ValueError when ``df`` lacks fitted
    feature columns. N counts the fitted features present, mirroring the
    reference's positional width check on a pure matrix."""
    have = set(df.columns)
    missing = [c for c in feature_cols if c not in have]
    if missing:
        n = len(feature_cols) - len(missing)
        raise ValueError(
            f"X has {n} features, but {estimator_name} is expecting "
            f"{len(feature_cols)} features as input. Missing columns: "
            f"{missing}"
        )


def check_labels(labels, label_col: str) -> None:
    """The per-class scorers' label contract: a NULL or NaN label is no
    class, so it raises instead of being scored as one (or crashing the
    class sort)."""
    if any(v is None or v != v for v in labels):
        raise ValueError(f"label column {label_col!r} has NULL or NaN labels")


def class_rows(df: DataFrame, label_col: str, aggs: list) -> list:
    """``aggs`` per class of ``label_col`` as collected rows keyed ``__y``,
    in ascending label order (np.unique's class order) — the one
    ``groupBy(label)`` pass of every narrow per-class scorer."""
    rows = df.groupBy(F.col(label_col).alias("__y")).agg(*aggs).collect()
    check_labels([r["__y"] for r in rows], label_col)
    return sorted(rows, key=lambda r: r["__y"])
