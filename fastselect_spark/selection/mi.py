"""Distributed discrete mutual information (reference O6/O7/O12,
/root/reference/src/fast_select/mutual_information.py:117-196, mRMR.py:9-27).

Every MI scorer here is a function of ONE joint-count table: the value cube
``groupBy(all code columns).count()`` (:func:`value_cube`), a single
partial+final hash aggregation bounded by the code-space product, not by
the row count. Every relevance/redundancy table is a weighted-bincount
marginalization of that cube on the driver (:func:`cube_mi`), and the MI
arithmetic runs over the tiny tables with the reference's exact eps
placement.

Encoding mirrors the reference's shared X∪y vocabulary
(mRMR.py:90, ``np.searchsorted``). The cube holds every distinct value, so
the vocabulary is derived from it and the cube path makes exactly one pass
over the data.

Above the cube's cell cap, :func:`mi_matrices` falls back to ONE vectorized
treeAggregate pass: per partition, integer joint-count histograms for every
(feature, label) pair and every (feature_i, feature_j) i<j pair —
``np.bincount`` on fused codes inside Arrow batches — merged by the tree
reduction in ``_agg.py``. Its vocabulary is a global distinct-union
(``collect_set`` per column, bounded by cardinality, not rows) broadcast
into the kernel closure. Both paths count exact integers, so their tables
(and therefore the MI values) are identical regardless of partitioning.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fastselect_spark.selection._agg import tree_reduce_ndarrays
from fastselect_spark.selection._stats import log_base, mi_from_contingency

MAX_STATES = 512
# cells of the joint value cube collected to the driver; above it a caller
# falls back to a distributed contingency build or asks for binned features
_CUBE_CELL_CAP = 2_000_000


def shared_vocabulary(
    df: DataFrame, cols: list[str]
) -> np.ndarray:
    """Sorted global distinct-union of all values in ``cols`` (the
    reference's ``np.unique(concat(unique(X), unique(y)))``, mRMR.py:90)."""
    row = df.agg(
        *[F.collect_set(F.col(c).cast("double")).alias(c) for c in cols]
    ).collect()[0]
    vals = np.unique(np.concatenate([np.asarray(row[c], dtype=np.float64) for c in cols]))
    return vals


def _pair_index(p: int) -> list[tuple[int, int]]:
    return [(i, j) for i in range(p) for j in range(i + 1, p)]


def check_states(k: int) -> None:
    """Refuse a vocabulary too large for dense k×k contingency tables."""
    if k > MAX_STATES:
        raise ValueError(
            f"vocabulary has {k} states (> {MAX_STATES}); "
            "discretize/bin continuous features before MI scoring"
        )


def value_cube(
    df: DataFrame, cols: list[str]
) -> tuple[np.ndarray, np.ndarray] | None:
    """The joint value cube: ONE ``groupBy(cols).count()`` over the
    double-cast values, returned as (raw[cells, len(cols)], counts[cells]).
    Returns None when the cube exceeds the cell cap.

    Arrow toPandas, not collect(): Row materialization + a Python listcomp
    over a large cube is a driver-serial hit that caps scaling efficiency.
    """
    pdf = (
        df.groupBy(*[F.col(c).cast("double").alias(c) for c in cols])
        .count()
        .limit(_CUBE_CELL_CAP + 1)
        .toPandas()
    )
    if len(pdf) > _CUBE_CELL_CAP:
        return None
    raw = pdf[cols].to_numpy(dtype=np.float64)
    # the cube groups on double-cast codes: integers above 2^53 are not
    # exactly representable and would SILENTLY collide in the groupBy —
    # refuse rather than mis-count
    if len(raw) and np.nanmax(np.abs(raw)) >= 2.0**53:
        raise ValueError(
            "feature/label codes with |value| >= 2^53 lose integer "
            "precision in the double-cast cube groupBy and can collide; "
            "re-encode codes into a smaller domain first"
        )
    return raw, pdf["count"].to_numpy(dtype=np.int64)


def _shared_codes(raw: np.ndarray) -> tuple[np.ndarray, int]:
    """Cube values as codes in their sorted shared X∪y vocabulary
    (mRMR.py:90), and the vocabulary size."""
    vocab = np.unique(raw)
    check_states(len(vocab))
    return np.searchsorted(vocab, raw), len(vocab)


def _cube_table(
    codes: np.ndarray, counts: np.ndarray, k: int, a: int, b: int
) -> np.ndarray:
    """(k, k) joint count table of cube columns ``a`` and ``b``."""
    return np.bincount(
        codes[:, a] * k + codes[:, b], weights=counts, minlength=k * k
    ).reshape(k, k)


def _mi_from_tables(
    table: Callable[[int, int], np.ndarray],
    p: int,
    unit: str,
    pairs: list[tuple[int, int]],
) -> tuple[np.ndarray, np.ndarray]:
    """(relevance[p], redundancy[p, p]) from ``table(a, b)``, the contingency
    of features a and b, where b == p names the label."""
    relevance = np.array(
        [mi_from_contingency(table(f, p), unit=unit) for f in range(p)]
    )
    redundancy = np.zeros((p, p), dtype=np.float64)
    for i, j in pairs:
        mi = mi_from_contingency(table(i, j), unit=unit)
        redundancy[i, j] = mi
        redundancy[j, i] = mi
    return relevance, redundancy


def cube_mi(
    raw: np.ndarray,
    counts: np.ndarray,
    unit: str = "bit",
    compute_redundancy: bool = True,
) -> tuple[np.ndarray, np.ndarray]:
    """(relevance[p], redundancy[p, p]) marginalized from a value cube whose
    last column is the label."""
    p = raw.shape[1] - 1
    codes, k = _shared_codes(raw)
    return _mi_from_tables(
        lambda a, b: _cube_table(codes, counts, k, a, b),
        p,
        unit,
        _pair_index(p) if compute_redundancy else [],
    )


def mi_matrices(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str = "label",
    unit: str = "bit",
    compute_redundancy: bool = True,
) -> tuple[np.ndarray, np.ndarray]:
    """Return (relevance[p], redundancy[p, p]) in the requested unit.

    relevance[f] = I(X_f; y); redundancy[i, j] = I(X_i; X_j), symmetric,
    zero diagonal — matching ``calculate_mi_matrices``
    (mutual_information.py:158-196).

    ONE value cube over the data, marginalized on the driver; it works for
    any value domain. When the cube exceeds the cell cap, the Arrow
    treeAggregate kernel builds the same integer contingency tables in one
    pass (after a collect_set vocabulary scan), for any vocabulary.
    """
    p = len(feature_cols)
    cols = list(feature_cols) + [label_col]
    cube = value_cube(df, cols)
    if cube is not None:
        return cube_mi(*cube, unit=unit, compute_redundancy=compute_redundancy)

    pairs = _pair_index(p) if compute_redundancy else []
    vocab = shared_vocabulary(df, cols)
    k = len(vocab)
    check_states(k)
    # Fast path: a contiguous 0..k-1 integer vocabulary means the values ARE
    # the codes — skip the float64 conversion + searchsorted per batch.
    already_coded = bool(
        k > 0 and vocab[0] == 0.0 and vocab[-1] == k - 1 and np.all(np.diff(vocab) == 1.0)
    )
    cast_type = "long" if already_coded else "double"
    proj = df.select(*[F.col(c).cast(cast_type) for c in cols])

    def partial(batches: Iterator[pd.DataFrame]) -> dict[str, np.ndarray]:
        rel = np.zeros((p, k, k), dtype=np.int64)
        red = np.zeros((len(pairs), k, k), dtype=np.int64) if pairs else None
        for pdf in batches:
            if pdf.empty:
                continue
            if already_coded:
                codes = pdf.to_numpy(dtype=np.int64)
            else:
                codes = np.searchsorted(vocab, pdf.to_numpy(dtype=np.float64))
            y = codes[:, p]
            kk = k * k
            # np.bincount on fused codes is ~10x faster than np.add.at
            for f in range(p):
                rel[f] += np.bincount(
                    codes[:, f] * k + y, minlength=kk
                ).reshape(k, k)
            for idx, (i, j) in enumerate(pairs):
                red[idx] += np.bincount(
                    codes[:, i] * k + codes[:, j], minlength=kk
                ).reshape(k, k)
        out = {"rel": rel}
        if red is not None:
            out["red"] = red
        return out

    merged = tree_reduce_ndarrays(proj, partial)
    slot = {pair: idx for idx, pair in enumerate(pairs)}
    return _mi_from_tables(
        lambda a, b: merged["rel"][a] if b == p else merged["red"][slot[a, b]],
        p,
        unit,
        pairs,
    )


def mi_pair(
    df: DataFrame, col_a: str, col_b: str, unit: str = "bit"
) -> float:
    """I(a;b) for two discrete columns via one ``groupBy(a, b).count()`` —
    the pure-relational form of ``calculate_mi_single_pair``
    (mutual_information.py:117-155)."""
    rows = (
        df.groupBy(
            F.col(col_a).cast("double").alias("__a"),
            F.col(col_b).cast("double").alias("__b"),
        )
        .count()
        .collect()
    )
    a_vals = sorted({r["__a"] for r in rows})
    b_vals = sorted({r["__b"] for r in rows})
    ai = {v: i for i, v in enumerate(a_vals)}
    bi = {v: i for i, v in enumerate(b_vals)}
    table = np.zeros((len(a_vals), len(b_vals)), dtype=np.float64)
    for r in rows:
        table[ai[r["__a"]], bi[r["__b"]]] = r["count"]
    return mi_from_contingency(table, unit=unit)


def gain_ratio(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str = "label",
    unit: str = "bit",
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(ig[p], split_info[p], ratio[p]) — Quinlan's C4.5 gain ratio.

    IG(f) = I(X_f; Y) (identical semantics to the :func:`mi_matrices`
    relevance column); split information = H(X_f) over the feature's
    value marginal; ratio = IG / H(X_f), with Quinlan's guard ratio = 0
    for constant features (H == 0). ONE ``groupBy(all code columns)
    .count()`` cube marginalized driver-side — the scores_from_cube
    shape: the aggregation is bounded by the code-space product, never
    the row count, so no extra cluster work beyond the cube every other
    information scorer already shares."""
    p = len(feature_cols)
    base = log_base(unit)
    cube = value_cube(df, list(feature_cols) + [label_col])
    if cube is None:
        raise ValueError("joint value cube exceeds the cap; bin features first")
    raw, counts = cube
    n = float(counts.sum())
    codes, k = _shared_codes(raw)
    ig = np.empty(p, dtype=np.float64)
    si = np.empty(p, dtype=np.float64)
    for f in range(p):
        table = _cube_table(codes, counts, k, f, p)
        ig[f] = mi_from_contingency(table, unit=unit)
        marg = table.sum(axis=1)
        px = marg[marg > 0] / n
        si[f] = float(-(px * np.log(px)).sum() / base)
    ratio = np.where(si > 0, ig / np.where(si > 0, si, 1.0), 0.0)
    return ig, si, ratio


def oner_scores(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str = "label",
) -> DataFrame:
    """OneR (Holte 1993) univariate rule accuracy — the simplest honest
    baseline filter: each feature's score is the training accuracy of the
    one-feature majority-class rule ``predict(x) = argmax_y n(x, y)``.
    Classic sanity check next to the information scorers (a feature with
    high MI but OneR accuracy at the class prior is interaction-only).

    The shared-cube discipline (scores_from_cube / gain_ratio): ONE
    ``groupBy(all code columns).count()`` cube, marginalized driver-side —
    per feature, n_correct = Σ_x max_y n(x, y). Counts are exact
    integers; the single float op is the accuracy quotient
    ``n_correct / n``, so the SQL oracle (per-feature GROUP BY + MAX +
    SUM) is bit-identical before engine-side rounding.

    Returns (feature, n_correct:bigint, n:bigint, oner_accuracy:double).
    NULL codes participate as their own level (cast to string keys
    driver-side), matching categorical_associations."""
    spark = df.sparkSession
    cols = list(feature_cols) + [label_col]
    cube = (
        df.groupBy(*[F.col(c).cast("long").alias(c) for c in cols])
        .count()
        .collect()
    )
    n = sum(int(r["count"]) for r in cube)
    out = []
    for f in feature_cols:
        best: dict = {}
        for r in cube:
            k = (r[f], r[label_col])
            best[k] = best.get(k, 0) + int(r["count"])
        per_value: dict = {}
        for (vx, _vy), c in best.items():
            per_value[vx] = max(per_value.get(vx, 0), c)
        n_correct = sum(per_value.values())
        out.append((f, n_correct, n, n_correct / float(n) if n else None))
    return spark.createDataFrame(
        out,
        schema=(
            "feature string, n_correct bigint, n bigint, "
            "oner_accuracy double"
        ),
    )
