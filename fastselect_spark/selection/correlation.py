"""Pearson correlation matrix as one sufficient-statistics pass.

The reference scores feature redundancy with discrete MI/SU over coded
columns (mRMR.py, CFS.py); for CONTINUOUS features the standard cheap
redundancy screen is |Pearson r| — this module provides it as one
sufficient-statistics pass, never a p² set of per-pair jobs.

Two physical paths share the same closure math, chosen by p alone:

- p <= AGG_P: ONE JVM aggregation with p sums, p sums-of-squares, and
  p(p-1)/2 cross sums — all inside whole-stage codegen, one scan, no
  Python. The expression count grows O(p²), so past AGG_P the codegen
  cost dominates and we switch to:
- p > AGG_P: the tree-reduced X^T X pass shared with PCA training
  (similarity/pca.py) — per-partition (p, p) partials, driver ingress
  bounded by the fan-in, one scan at any p.

Closure (driver-side, documented op order — the DuckDB gate mirrors it
term for term): r_ij = (n·S_ij − S_i·S_j) / (√(n·S_ii − S_i²)·√(n·S_jj
− S_j²)). For integer-valued features every sum is exact in float64
(< 2^53), so partition order cannot perturb the result and the closure
is bit-identical across Spark, NumPy and DuckDB. Zero-variance features
yield r = NaN (both engines), surfaced as NULL in the table form.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fastselect_spark.selection._agg import tree_reduce_ndarrays

AGG_P = 64


def _corr_from_stats(
    n: float, s: np.ndarray, xtx: np.ndarray
) -> np.ndarray:
    num = n * xtx - np.outer(s, s)
    d = n * np.diag(xtx) - s * s
    with np.errstate(invalid="ignore", divide="ignore"):
        denom = np.sqrt(d)[:, None] * np.sqrt(d)[None, :]
        r = num / denom
    np.fill_diagonal(r, 1.0)
    return r


def correlation_matrix(df: DataFrame, feature_cols: list[str]) -> np.ndarray:
    """(p, p) Pearson correlation matrix from one pass over ``df``."""
    p = len(feature_cols)
    if p <= AGG_P:
        aggs = [F.count(F.lit(1)).alias("__n")]
        cols = [F.col(c).cast("double") for c in feature_cols]
        for i, c in enumerate(feature_cols):
            aggs.append(F.sum(cols[i]).alias(f"__s_{i}"))
        for i in range(p):
            for j in range(i, p):
                aggs.append(F.sum(cols[i] * cols[j]).alias(f"__x_{i}_{j}"))
        r = df.agg(*aggs).collect()[0]
        if r["__n"] == 0:
            raise ValueError("correlation_matrix: input DataFrame is empty")
        n = float(r["__n"])
        s = np.array([float(r[f"__s_{i}"]) for i in range(p)])
        xtx = np.zeros((p, p))
        for i in range(p):
            for j in range(i, p):
                xtx[i, j] = xtx[j, i] = float(r[f"__x_{i}_{j}"])
    else:

        def partial(batches: Iterator[pd.DataFrame]) -> dict[str, np.ndarray]:
            cnt, s, xtx = 0, None, None
            for pdf in batches:
                if pdf.empty:
                    continue
                M = pdf[feature_cols].to_numpy(dtype=np.float64)
                cnt += len(M)
                if s is None:
                    s = M.sum(axis=0)
                    xtx = M.T @ M
                else:
                    s += M.sum(axis=0)
                    xtx += M.T @ M
            if s is None:
                return {}
            return {"cnt": np.array([cnt], dtype=np.int64), "s": s, "xtx": xtx}

        merged = tree_reduce_ndarrays(df.select(*feature_cols), partial)
        if "cnt" not in merged:
            raise ValueError("correlation_matrix: input DataFrame is empty")
        n, s, xtx = float(merged["cnt"][0]), merged["s"], merged["xtx"]
    return _corr_from_stats(n, s, xtx)


def correlation_table(
    spark: SparkSession,
    corr: np.ndarray,
    feature_cols: list[str],
    round_to: int | None = 6,
) -> DataFrame:
    """Long-form (feature_a, feature_b, corr) for a < b — the contract/
    report shape. NaN (zero-variance feature) surfaces as NULL."""
    rows = []
    for i in range(len(feature_cols)):
        for j in range(i + 1, len(feature_cols)):
            v = corr[i, j]
            if np.isnan(v):
                v = None
            elif round_to is not None:
                v = round(float(v), round_to)
            else:
                v = float(v)
            rows.append((feature_cols[i], feature_cols[j], v))
    return spark.createDataFrame(
        rows, schema="feature_a string, feature_b string, corr double"
    )


def spearman_matrix(
    df: DataFrame,
    feature_cols: list[str],
    id_cols: list[str],
) -> np.ndarray:
    """(p, p) Spearman rank correlation: distributed average ranks
    (selection/rank.py — range-partitioned two-pass, no single-partition
    window), reassembled wide by the row id, then the SAME Pearson
    sufficient-statistics closure over the ranks. Ranks are integers or
    half-integers, so the closure stays bit-identical cross-engine.

    Cost: one melt scan + one range exchange (x2 passes) + one id
    exchange (pivot) + the correlation pass — independent of p beyond
    the melted row count n·p."""
    from fastselect_spark.selection.rank import average_ranks_long

    rid = F.concat_ws(":", *[F.col(c).cast("string") for c in id_cols])
    melted = df.select(
        rid.alias("id"),
        F.stack(
            F.lit(len(feature_cols)),
            *[
                x
                for c in feature_cols
                for x in (F.lit(c), F.col(c).cast("double"))
            ],
        ).alias("feature", "value"),
    )
    ranks = average_ranks_long(melted, "feature", "value", "id")
    wide = (
        ranks.groupBy("id")
        .pivot("feature", feature_cols)
        .agg(F.first("rank"))
    )
    return correlation_matrix(wide, feature_cols)


def partial_correlation_matrix(df: DataFrame, feature_cols: list[str]) -> np.ndarray:
    """(p, p) partial correlation matrix: the correlation between every
    feature pair CONTROLLING for all other features — the standard way to
    separate direct linear relationships from ones routed through a
    confounder (a pair with high Pearson r but near-zero partial r is
    explained away by the rest of the matrix).

    Derivation: invert the Pearson matrix (driver NumPy over the p×p
    closure — the same fit-is-a-pure-function-of-sufficient-stats
    discipline as multivariate.py), then

        partial_ij = -P_ij / sqrt(P_ii * P_jj),   diag = 1.

    Cost: identical to :func:`correlation_matrix` (one sufficient-stats
    pass); the inverse is O(p³) driver work. Raises the multivariate
    singularity contract error on exactly collinear features."""
    corr = correlation_matrix(df, feature_cols)
    # explicit conditioning guard: LAPACK only raises on an exactly-zero
    # pivot, which is environment-dependent for collinear inputs (observed:
    # the same [[1,1],[1,1]] raises in one process and "inverts" to garbage
    # in another) — test the condition number instead
    if not np.all(np.isfinite(corr)) or np.linalg.cond(corr) > 1e12:
        raise ValueError(
            "singular correlation matrix — exactly collinear or constant "
            "features; prune them (prune_correlated / variance_threshold) "
            "before partial correlations"
        )
    prec = np.linalg.inv(corr)
    d = np.sqrt(np.diag(prec))
    out = -prec / np.outer(d, d)
    np.fill_diagonal(out, 1.0)
    return out


def kendall_tau_matrix(df: DataFrame, feature_cols: list[str]) -> DataFrame:
    """Kendall tau-b rank correlation between every pair of DISCRETE
    (ordinal-coded) features — the concordance-based member of the
    correlation family (Pearson = linear, Spearman = monotone-rank,
    Kendall = pairwise concordance), preferred when the features are
    small-domain ordinal codes because tau-b's tie correction is exact
    there. Completes the reference's correlation/redundancy toolkit
    (FastSelect's mRMR/CFS redundancy uses MI; tau-b is the standard
    nonparametric alternative for ordinal matrices).

    Spark-first shape: ONE ``groupBy(all code columns).count()`` cube and
    every pairwise concordance table falls out by driver marginalization —
    the shared-cube discipline (selection/pipeline.py scores_from_cube,
    selection/categorical.py). NO O(n²) pair pass and NO per-pair jobs:
    for a K_a × K_b contingency table (counts n_ij, row totals r_i,
    column totals c_j, n rows):

        P  = Σ_ij n_ij · Σ_{k>i, l>j} n_kl      (concordant pairs)
        Q  = Σ_ij n_ij · Σ_{k>i, l<j} n_kl      (discordant pairs)
        n0 = n(n−1)/2,  n1 = Σ_i C(r_i,2),  n2 = Σ_j C(c_j,2)
        tau_b = (P − Q) / sqrt((n0−n1) · (n0−n2))

    All terms are exact integers (Python ints on the driver — overflow-
    proof at any n); the single float op is the final quotient, mirrored
    term-for-term by the SQL oracle, so results are bit-identical
    cross-engine before engine-side rounding.

    Rows with a NULL in any of ``feature_cols`` are dropped first
    (listwise-complete, the same population for every pair). Constant
    columns (n0 == n1) yield NULL tau. Cube size is the product of the
    alphabets — this is for ordinal CODES, not raw high-cardinality
    values (discretize first: univariate.quantile_discretize /
    uniform_discretize)."""
    import math

    spark = df.sparkSession
    cube = (
        df.dropna(subset=feature_cols)
        .groupBy(*[F.col(c).cast("long").alias(c) for c in feature_cols])
        .count()
        .collect()
    )
    n = sum(int(r["count"]) for r in cube)
    n0 = n * (n - 1) // 2
    out: list[tuple[str, str, float | None]] = []
    for ai in range(len(feature_cols)):
        for bi in range(ai + 1, len(feature_cols)):
            a, b = feature_cols[ai], feature_cols[bi]
            cells: dict[tuple[int, int], int] = {}
            for r in cube:
                k = (r[a], r[b])
                cells[k] = cells.get(k, 0) + int(r["count"])
            ra: dict[int, int] = {}
            cb: dict[int, int] = {}
            for (va, vb), c in cells.items():
                ra[va] = ra.get(va, 0) + c
                cb[vb] = cb.get(vb, 0) + c
            n1 = sum(v * (v - 1) // 2 for v in ra.values())
            n2 = sum(v * (v - 1) // 2 for v in cb.values())
            p_conc = 0
            q_disc = 0
            items = list(cells.items())
            for (x1, y1), c1 in items:
                for (x2, y2), c2 in items:
                    if x2 > x1 and y2 > y1:
                        p_conc += c1 * c2
                    elif x2 > x1 and y2 < y1:
                        q_disc += c1 * c2
            da, db = n0 - n1, n0 - n2
            tau = None
            if da > 0 and db > 0:
                tau = (p_conc - q_disc) / math.sqrt(float(da) * float(db))
            out.append((a, b, tau))
    return spark.createDataFrame(
        out, schema="feature_a string, feature_b string, tau_b double"
    )
