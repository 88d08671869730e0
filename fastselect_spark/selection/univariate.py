"""Univariate filters (graft-added: not in the reference, which starts at
chi2/MI — these are the standard cheap pre-filters a selection pipeline runs
before the expensive scorers; sklearn ``f_classif`` / ``VarianceThreshold``
semantics are the documented oracle).

Both are ONE ``agg`` over the frame — count/sum/sum-of-squares sufficient
statistics with map-side partial aggregation, finalized on the driver. No
shuffle beyond the single aggregation exchange; scales linearly in rows and
is embarrassingly partition-parallel, the same shape as ``fisher.py``.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fastselect_spark.selection.fisher import class_moments


def anova_f_score(
    df: DataFrame, feature_cols: list[str], label_col: str = "label"
) -> np.ndarray:
    """One-way ANOVA F statistic per feature (sklearn ``f_classif`` without
    the p-values — no scipy in this environment; see CLAUDE.md).

        F = (SS_between / (k-1)) / (SS_within / (n-k))

    The per-class count/sum/sumsq aggregation is ``fisher.class_moments``;
    only the degrees-of-freedom scaling differs. Zero within-class variance
    scores +inf when class means differ, 0 when the feature is constant.
    """
    n_c, s, q = class_moments(df, feature_cols, label_col)
    p = len(feature_cols)
    k = len(n_c)
    if k < 2:
        return np.zeros(p, dtype=np.float64)
    n = n_c.sum()
    if n <= k:
        return np.zeros(p, dtype=np.float64)
    # st**2 / n (not n * mu**2): the exact op order the SQL oracle mirrors
    st = s.sum(axis=0)
    ss_between = (s**2 / n_c[:, None]).sum(axis=0) - st**2 / n
    ss_total = q.sum(axis=0) - st**2 / n
    ss_within = np.maximum(ss_total - ss_between, 0.0)
    ss_between = np.maximum(ss_between, 0.0)
    ms_between = ss_between / (k - 1)
    ms_within = ss_within / (n - k)
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(
            ms_within > 0,
            ms_between / ms_within,
            np.where(ms_between > 0, np.inf, 0.0),
        )


def feature_variances(df: DataFrame, feature_cols: list[str]) -> np.ndarray:
    """Population variance per feature from one sufficient-stats agg."""
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in feature_cols:
        d = F.col(c).cast("double")
        aggs += [F.sum(d).alias(f"__s_{c}"), F.sum(d * d).alias(f"__q_{c}")]
    r = df.agg(*aggs).collect()[0]
    n = float(r["__n"])
    if n == 0:
        return np.zeros(len(feature_cols), dtype=np.float64)
    s = np.array([r[f"__s_{c}"] or 0.0 for c in feature_cols])
    q = np.array([r[f"__q_{c}"] or 0.0 for c in feature_cols])
    return np.maximum(q / n - (s / n) ** 2, 0.0)


def standard_scaler_stats(
    df: DataFrame, feature_cols: list[str]
) -> tuple[np.ndarray, np.ndarray]:
    """(mean, population std) per feature from one sufficient-stats agg —
    sklearn ``StandardScaler`` semantics (ddof=0; zero-variance features
    get scale 1.0 so transform leaves them centered, sklearn's
    ``_handle_zeros_in_scale``)."""
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in feature_cols:
        d = F.col(c).cast("double")
        aggs += [F.sum(d).alias(f"__s_{c}"), F.sum(d * d).alias(f"__q_{c}")]
    r = df.agg(*aggs).collect()[0]
    n = float(r["__n"])
    s = np.array([r[f"__s_{c}"] or 0.0 for c in feature_cols])
    q = np.array([r[f"__q_{c}"] or 0.0 for c in feature_cols])
    mean = s / n
    var = np.maximum(q / n - mean**2, 0.0)
    std = np.sqrt(var)
    std = np.where(std > 0.0, std, 1.0)
    return mean, std


def standard_scale(
    df: DataFrame,
    feature_cols: list[str],
    mean: np.ndarray,
    std: np.ndarray,
    suffix: str = "_z",
) -> DataFrame:
    """Apply fitted (mean, std) as a pure projection — fit stats travel as
    literals, so scaling a 100 TB frame is one shuffle-free scan."""
    for i, c in enumerate(feature_cols):
        df = df.withColumn(
            f"{c}{suffix}",
            (F.col(c).cast("double") - F.lit(float(mean[i])))
            / F.lit(float(std[i])),
        )
    return df


def quantile_stats(
    df: DataFrame, feature_cols: list[str], qs: list[float]
) -> dict[str, list[float]]:
    """Exact interpolated percentiles per feature in ONE aggregation
    (Spark's ``percentile`` = linear interpolation on the sorted values,
    the same definition as DuckDB ``quantile_cont`` and NumPy's default —
    the cross-engine-exact quantile family). Exact percentile sorts each
    column per partition then merges — fine for feature-matrix widths; use
    approx_percentile for sketch-sized budgets at extreme scale."""
    aggs = []
    for c in feature_cols:
        d = F.col(c).cast("double")
        for q in qs:
            aggs.append(F.percentile(d, F.lit(q)).alias(f"__q_{c}_{q}"))
    row = df.agg(*aggs).collect()[0]

    def _f(v) -> float:  # all-null column -> NaN, not a TypeError
        return float(v) if v is not None else float("nan")

    return {c: [_f(row[f"__q_{c}_{q}"]) for q in qs] for c in feature_cols}


def quantile_clip(
    df: DataFrame,
    feature_cols: list[str],
    lower: float = 0.01,
    upper: float = 0.99,
    suffix: str = "_w",
) -> DataFrame:
    """Winsorization: clip each feature to its [lower, upper] exact
    quantiles. One quantile agg, then a pure literal projection —
    shuffle-free on the scan side at any scale."""
    st = quantile_stats(df, feature_cols, [lower, upper])
    for c in feature_cols:
        lo, hi = st[c]
        df = df.withColumn(
            f"{c}{suffix}",
            F.least(
                F.greatest(F.col(c).cast("double"), F.lit(lo)), F.lit(hi)
            ),
        )
    return df


def robust_scaler_stats(
    df: DataFrame, feature_cols: list[str]
) -> tuple[np.ndarray, np.ndarray]:
    """(median, IQR) per feature — sklearn ``RobustScaler`` semantics
    (zero IQR gets scale 1.0). One percentile aggregation."""
    st = quantile_stats(df, feature_cols, [0.25, 0.5, 0.75])
    center = np.array([st[c][1] for c in feature_cols])
    iqr = np.array([st[c][2] - st[c][0] for c in feature_cols])
    scale = np.where(iqr > 0.0, iqr, 1.0)
    return center, scale


def robust_scale(
    df: DataFrame,
    feature_cols: list[str],
    center: np.ndarray,
    scale: np.ndarray,
    suffix: str = "_r",
) -> DataFrame:
    """Apply fitted (median, IQR) as a literal projection."""
    for i, c in enumerate(feature_cols):
        df = df.withColumn(
            f"{c}{suffix}",
            (F.col(c).cast("double") - F.lit(float(center[i])))
            / F.lit(float(scale[i])),
        )
    return df


def mad_stats(
    df: DataFrame, feature_cols: list[str]
) -> tuple[np.ndarray, np.ndarray]:
    """(median, MAD) per feature. Two exact-percentile aggregations — pass
    1 medians, pass 2 medians of |x - median| with pass-1 medians inlined
    as literals (so the deviation column never materializes). Both passes
    use the cross-engine-exact ``percentile`` == ``quantile_cont`` ==
    ``np.percentile(linear)`` family (see quantile_stats)."""
    st = quantile_stats(df, feature_cols, [0.5])
    med = np.array([st[c][0] for c in feature_cols])
    dev = df.select(
        *[
            F.abs(F.col(c).cast("double") - F.lit(float(med[i]))).alias(c)
            for i, c in enumerate(feature_cols)
        ]
    )
    st2 = quantile_stats(dev, feature_cols, [0.5])
    mad = np.array([st2[c][0] for c in feature_cols])
    return med, mad


def mad_outliers(
    df: DataFrame,
    feature_cols: list[str],
    median: np.ndarray,
    mad: np.ndarray,
    k: float = 3.5,
    consistency: float = 1.4826,
    suffix: str = "_out",
) -> DataFrame:
    """Robust outlier flags: ``|x - median| > k * consistency * MAD`` per
    feature (Iglewicz-Hoban modified z-score at the classic k=3.5;
    1.4826 ≈ 1/Φ⁻¹(3/4) makes MAD a consistent σ estimator for normal
    data). A zero-MAD (majority-constant) feature flags any deviation from
    the median. Fit stats travel as literals — the flagging scan is
    shuffle-free at any scale, and unlike mean/std z-scores the fit is not
    dragged by the outliers it is meant to find."""
    for i, c in enumerate(feature_cols):
        thr = float(k) * float(consistency) * float(mad[i])
        dev = F.abs(F.col(c).cast("double") - F.lit(float(median[i])))
        flag = dev > F.lit(thr) if thr > 0.0 else dev > F.lit(0.0)
        df = df.withColumn(f"{c}{suffix}", flag.cast("int"))
    return df


def variance_threshold(
    df: DataFrame, feature_cols: list[str], threshold: float = 0.0
) -> list[int]:
    """Indices of features whose population variance exceeds ``threshold``
    (sklearn ``VarianceThreshold`` keeps strictly-greater at the default
    0.0, i.e. drops constants; we match that: keep ``var > threshold``)."""
    var = feature_variances(df, feature_cols)
    return [i for i in range(len(feature_cols)) if var[i] > threshold]


def f_regression_scores(
    df: DataFrame, feature_cols: list[str], target_col: str
) -> DataFrame:
    """sklearn ``f_regression`` for CONTINUOUS targets: per feature
    ``F_j = r_j² / (1 - r_j²) · (n - 2)`` with ``r_j`` the Pearson
    correlation between feature j and the target — the regression
    counterpart of ANOVA-F/chi2/MI/AUC (which need a discrete label).

    ONE sufficient-statistics aggregation (n, Σx, Σx², Σxy per feature +
    Σy, Σy² once — map-side partials, p-bounded output); the closure is
    spelled in the same term order as the oracle SQL, so on
    integer-valued features (exact sums) the scores are IEEE-identical
    cross-engine. Returns (feature, r, f) rows; a constant feature or
    target yields NULL (0/0), mirroring the undefined correlation."""
    y = F.col(target_col).cast("double")
    aggs = [
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.sum(y).alias("__sy"),
        F.sum(y * y).alias("__syy"),
    ]
    for c in feature_cols:
        x = F.col(c).cast("double")
        aggs += [
            F.sum(x).alias(f"__sx_{c}"),
            F.sum(x * x).alias(f"__sxx_{c}"),
            F.sum(x * y).alias(f"__sxy_{c}"),
        ]
    row = df.agg(*aggs).collect()[0]
    n = float(row["__n"])
    sy, syy = float(row["__sy"]), float(row["__syy"])
    spark = df.sparkSession
    out = []
    for c in feature_cols:
        sx = float(row[f"__sx_{c}"])
        sxx = float(row[f"__sxx_{c}"])
        sxy = float(row[f"__sxy_{c}"])
        num = n * sxy - sx * sy
        den2 = (n * sxx - sx * sx) * (n * syy - sy * sy)
        if den2 <= 0.0:
            out.append((c, None, None))
            continue
        r = num / den2**0.5
        r2 = r * r
        f = (r2 / (1.0 - r2) * (n - 2.0)) if r2 < 1.0 else None
        out.append((c, r, f))
    return spark.createDataFrame(out, schema="feature string, r double, f double")


def quantile_discretize(
    df: DataFrame,
    feature_cols: list[str],
    bins: int = 4,
    suffix: str = "_q",
) -> tuple[DataFrame, dict[str, list[float]]]:
    """Equal-frequency discretization: bin = number of interior quantile
    edges STRICTLY BELOW x (edges at i/bins, i = 1..bins-1, from the exact
    cross-engine percentile family). The continuous-feature on-ramp to
    every discrete scorer (MI/chi2/mRMR/CFS want integer codes): one
    percentile agg fits the edges, the transform is a pure literal
    projection — shuffle-free at any scale. Duplicate edges (heavy ties)
    merge bins naturally. Returns (df_with_codes, edges)."""
    qs = [i / bins for i in range(1, bins)]
    edges = quantile_stats(df, feature_cols, qs)
    for c in feature_cols:
        x = F.col(c).cast("double")
        b: Column = F.lit(0)
        for e in edges[c]:
            b = b + (x > F.lit(float(e))).cast("int")
        df = df.withColumn(f"{c}{suffix}", b.cast("int"))
    return df, edges


def uniform_discretize(
    df: DataFrame,
    feature_cols: list[str],
    bins: int = 4,
    suffix: str = "_u",
) -> tuple[DataFrame, dict[str, tuple[float, float]]]:
    """Equal-WIDTH discretization (sklearn KBinsDiscretizer
    strategy='uniform' / the CFS default binning): ONE min/max agg fits
    (lo, width) per feature; codes are the clipped floor((x-lo)/width)
    literal projection (the drift module's bin rule — shared convention).
    Returns (df_with_codes, {col: (lo, width)}). Constant features get
    width 1.0 (single bin 0)."""
    aggs = []
    for c in feature_cols:
        d = F.col(c).cast("double")
        aggs += [F.min(d).alias(f"__lo_{c}"), F.max(d).alias(f"__hi_{c}")]
    r = df.agg(*aggs).collect()[0]
    fit: dict[str, tuple[float, float]] = {}
    for c in feature_cols:
        lo = float(r[f"__lo_{c}"]) if r[f"__lo_{c}"] is not None else 0.0
        hi = float(r[f"__hi_{c}"]) if r[f"__hi_{c}"] is not None else 0.0
        width = (hi - lo) / bins if hi > lo else 1.0
        fit[c] = (lo, width)
        raw = F.floor((F.col(c).cast("double") - F.lit(lo)) / F.lit(width))
        code = F.least(F.greatest(raw, F.lit(0)), F.lit(bins - 1)).cast("int")
        df = df.withColumn(f"{c}{suffix}", code)
    return df, fit


def dispersion_ratios(
    df: DataFrame, feature_cols: list[str], shift: float = 1.0
) -> DataFrame:
    """Unsupervised dispersion ratio per feature — arithmetic mean over
    geometric mean of the shifted values (Ferreira & Figueiredo 2012 use
    AM/GM as a label-free relevance filter: constants score exactly 1,
    spread-out features score higher). ``shift`` (default +1) keeps code
    features (0-based integers) strictly positive for the log.

    ONE melt + (feature, value) hash aggregation — output is bounded by
    total vocabulary size, never rows; the driver finalizes per feature,
    accumulating the log-sum in VALUE-ASCENDING order (the same ordered
    accumulation the SQL oracle's running window pins, per the
    cross-engine float-reduction rule). AM is an exact-rational quotient.
    Returns (feature, dispersion) rows; all-null features are omitted.
    """
    import math

    p = len(feature_cols)
    stack_expr = ", ".join(
        f"'{c}', CAST({c} AS DOUBLE)" for c in feature_cols
    )
    long = df.selectExpr(
        f"stack({p}, {stack_expr}) AS (feature, v)"
    ).where(F.col("v").isNotNull())
    counts = (
        long.groupBy("feature", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .collect()
    )
    by_feat: dict[str, list] = {}
    for r in counts:
        by_feat.setdefault(r["feature"], []).append((r["v"], r["cnt"]))
    out = []
    for c in feature_cols:
        vals = by_feat.get(c)
        if not vals:
            continue
        vals.sort()
        n = sum(cnt for _, cnt in vals)
        am_num = 0.0  # exact while integer-valued (sum of cnt*(v+shift))
        logsum = 0.0
        for v, cnt in vals:
            am_num += cnt * (v + shift)
            logsum += cnt * math.log(v + shift)
        am = am_num / n
        gm = math.exp(logsum / n)
        out.append((c, am / gm))
    return df.sparkSession.createDataFrame(
        out, schema="feature string, dispersion double"
    )
