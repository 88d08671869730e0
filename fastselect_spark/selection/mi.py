"""Distributed discrete mutual information (reference O6/O7/O12,
/root/reference/src/fast_select/mutual_information.py:117-196, mRMR.py:9-27).

Every MI scorer here is a function of ONE joint-count table: the value cube
``groupBy(all code columns).count()`` (:func:`value_cube`), a single
partial+final hash aggregation bounded by the code-space product, not by
the row count. The relevance/redundancy tables are cube-count-weighted
stacks of ``_stats.contingency_tables`` on the driver (:func:`cube_mi`),
and ``_stats.mi_tables`` finalizes each stack with the reference's exact
eps placement.

Encoding mirrors the reference's shared X∪y vocabulary
(mRMR.py:90, ``np.searchsorted``). The cube holds every distinct value, so
the vocabulary is derived from it and the cube path makes exactly one pass
over the data.

Above the cube's cell cap, :func:`mi_matrices` falls back to ONE vectorized
treeAggregate pass: per partition, integer joint-count histograms for every
(feature, label) pair and every (feature_i, feature_j) i<j pair —
stacked ``contingency_tables`` blocks inside Arrow batches — merged by the tree
reduction in ``_agg.py``. Its vocabulary is a global distinct-union
(``collect_set`` per column, bounded by cardinality, not rows) broadcast
into the kernel closure. Both paths count exact integers, so their tables
(and therefore the MI values) are identical regardless of partitioning.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fastselect_spark.selection._agg import symmetric_from_triu, tree_reduce_ndarrays
from fastselect_spark.selection._stats import (
    contingency_tables,
    log_base,
    mi_tables,
    table_blocks,
)

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


def _label_and_pairs(p: int, redundancy: bool) -> tuple[np.ndarray, np.ndarray]:
    """(I, J) rows of a (p+1)-row code matrix whose last row is the label:
    the p relevance pairs (f, label), then, with ``redundancy``, the
    feature pairs i < j in ``np.triu_indices(p, 1)`` order."""
    iu, ju = np.triu_indices(p, 1) if redundancy else (np.empty(0, np.int64),) * 2
    return np.concatenate([np.arange(p), iu]), np.concatenate([np.full(p, p), ju])


def _split_pairs(mi: np.ndarray, p: int, redundancy: bool) -> tuple[np.ndarray, np.ndarray]:
    """(relevance[p], redundancy[p, p]) from MI in :func:`_label_and_pairs`
    order; the redundancy is all zeros when it was not asked for."""
    if not redundancy:
        return mi[:p], np.zeros((p, p), dtype=np.float64)
    return mi[:p], symmetric_from_triu(mi[p:], p)


def cube_mi(
    raw: np.ndarray,
    counts: np.ndarray,
    unit: str = "bit",
    compute_redundancy: bool = True,
) -> tuple[np.ndarray, np.ndarray]:
    """(relevance[p], redundancy[p, p]) marginalized from a value cube whose
    last column is the label: every table is a cube-count-weighted
    :func:`contingency_tables` stack, finalized block by block."""
    p = raw.shape[1] - 1
    codes, k = _shared_codes(raw)
    Ct = np.ascontiguousarray(codes.T)
    I, J = _label_and_pairs(p, compute_redundancy)
    mi = np.empty(len(I), dtype=np.float64)
    for b in table_blocks(len(I), k * k, len(counts)):
        T = contingency_tables(Ct[I[b]], Ct[J[b]], k, k, weights=counts)
        mi[b] = mi_tables(T, unit)
    return _split_pairs(mi, p, compute_redundancy)


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

    I, J = _label_and_pairs(p, compute_redundancy)
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
        tables = np.zeros((len(I), k, k), dtype=np.int64)
        for pdf in batches:
            if pdf.empty:
                continue
            if already_coded:
                codes = pdf.to_numpy(dtype=np.int64)
            else:
                codes = np.searchsorted(vocab, pdf.to_numpy(dtype=np.float64))
            Ct = np.ascontiguousarray(codes.T)
            for b in table_blocks(len(I), k * k, len(codes)):
                tables[b] += contingency_tables(Ct[I[b]], Ct[J[b]], k, k)
        return {"tables": tables}

    merged = tree_reduce_ndarrays(proj, partial)
    return _split_pairs(mi_tables(merged["tables"], unit), p, compute_redundancy)


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
    table = np.zeros((1, len(a_vals), len(b_vals)), dtype=np.float64)
    for r in rows:
        table[0, ai[r["__a"]], bi[r["__b"]]] = r["count"]
    return float(mi_tables(table, unit)[0])


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
    codes, k = _shared_codes(raw)
    Ct = np.ascontiguousarray(codes.T)
    T = np.empty((p, k, k), dtype=np.float64)
    for b in table_blocks(p, k * k, len(counts)):
        T[b] = contingency_tables(Ct[:p][b], Ct[p], k, k, weights=counts)
    ig = mi_tables(T, unit)
    px = T.sum(axis=2) / counts.sum()
    lg = np.zeros_like(px)
    np.log(px, out=lg, where=px > 0)
    si = -(px * lg).sum(axis=1) / base
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
