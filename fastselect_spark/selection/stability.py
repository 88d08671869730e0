"""Feature-selection stability analysis — how much do the top-k features
agree across CV folds? (Kuncheva 2007 "A stability index for feature
selection"; Nogueira et al. 2018 JMLR survey.) An unstable selector's
ranking is an artifact of the sample, not the signal; a selection
pipeline at scale gates on this before trusting any top-k.

Graft-added: the reference scores one matrix and stops; this closes the
loop over the fold dimension its CV utilities (O17) already provide.

Two pieces:

- :func:`chi2_fold_scores` — per-fold chi2 in ONE ``groupBy(fold, label)``
  sufficient-statistics pass (the chi2.py observed-matrix semantics with
  a fold axis; a (F·K, p) matrix reaches the driver, never rows).
- :func:`stability_topk` — scorer-agnostic: takes any long-form
  ``(fold, feature, score)`` table, ranks per fold (score desc, feature
  asc — deterministic tie-break), keeps top-k, and emits every fold pair's
  overlap: ``n_common``, Jaccard ``|A∩B| / |A∪B|``, and Kuncheva's
  chance-corrected consistency ``(r - k²/p) / (k - k²/p)``.

Scale shape: the per-fold ranking is a Window partitioned BY FOLD — each
fold's score column sorts in one task, which is exactly right here
because folds (not features) are the parallelism axis and a fold's score
table is p rows of (feature, double). The overlap join runs on the k·F
surviving rows only and its F² intersection counts are collected. Small
score tables pick the top-k sets with a driver sort instead of the
Window; both paths then share one finalizer. All overlap counts are
exact integers; Jaccard/Kuncheva are single-expression quotients —
IEEE-identical cross-engine.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fastselect_spark.runtime import gates
from fastselect_spark.selection._stats import chi2_stats_from_observed


def chi2_fold_scores(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str = "label",
    fold_col: str = "fold",
) -> DataFrame:
    """(fold, feature, score): value-weighted chi2 per feature WITHIN each
    fold — one groupBy(fold, label) aggregation, driver finalize."""
    aggs = [F.count(F.lit(1)).alias("__n")]
    aggs += [
        F.sum(F.col(c).cast("double")).alias(f"__s_{c}") for c in feature_cols
    ]
    rows = (
        df.groupBy(F.col(fold_col).alias("__f"), F.col(label_col).alias("__y"))
        .agg(*aggs)
        .collect()
    )
    by_fold: dict[object, list] = {}
    for r in rows:
        by_fold.setdefault(r["__f"], []).append(r)
    out = []
    for fold, frs in sorted(by_fold.items(), key=lambda kv: str(kv[0])):
        frs.sort(key=lambda r: r["__y"])
        freqs = np.array([r["__n"] for r in frs], dtype=np.float64)
        obs = np.array(
            [[r[f"__s_{c}"] or 0.0 for c in feature_cols] for r in frs]
        )
        if len(frs) < 2:
            stats = np.zeros(len(feature_cols))
        else:
            stats = chi2_stats_from_observed(obs, freqs, float(freqs.sum()))
        out += [(fold, c, float(s)) for c, s in zip(feature_cols, stats)]
    # pandas (Arrow) createDataFrame yields a LocalRelation with EXACT
    # size stats, so stability_topk's driver gate reads the estimate
    # and sends it down the driver path without a limit+count probe job; a
    # plain list lands as a stats-less LogicalRDD. No None values here, so
    # the NaN-vs-NULL Arrow hazard does not apply.
    import pandas as pd_

    pdf_out = pd_.DataFrame(out, columns=[fold_col, "feature", "score"])
    return df.sparkSession.createDataFrame(
        pdf_out, schema=f"{fold_col} int, feature string, score double"
    )


_SCHEMA = "fold_a int, fold_b int, n_common long, jaccard double, kuncheva double"


def _overlap_rows(sizes: dict, common: dict, p_cnt: int) -> list[tuple]:
    """Output rows of both paths from each fold's ACTUAL top-k set size
    (a fold's score table can hold fewer than k features — the fixed
    2k−r / k denominators would overstate overlap), each fold pair's
    intersection count and the feature-universe size. r is an exact
    integer; Jaccard and Kuncheva are Python-float quotients."""
    folds = sorted(sizes)
    rows = []
    for i, a in enumerate(folds):
        for b in folds[i + 1 :]:
            ka, kb = float(sizes[a]), float(sizes[b])
            r_int = common.get((a, b), 0)
            r = float(r_int)
            exp_ab = ka * kb / p_cnt  # Kuncheva chance term ka·kb/p
            den = min(ka, kb) - exp_ab
            kunch = (r - exp_ab) / den if den != 0.0 else None
            jac = r / (float(sizes[a] + sizes[b]) - r)
            rows.append((int(a), int(b), r_int, jac, kunch))
    return rows


def stability_topk(
    scores: DataFrame,
    k: int,
    fold_col: str = "fold",
    feature_col: str = "feature",
    score_col: str = "score",
) -> DataFrame:
    """Pairwise top-k agreement between folds of a (fold, feature, score)
    table: (fold_a, fold_b, n_common, jaccard, kuncheva) for every
    unordered fold pair (fold_a < fold_b). ``p`` (the feature-universe
    size for Kuncheva's chance correction) is the table's distinct
    feature count; ``k == p`` makes Kuncheva undefined (NULL).

    Small score tables (fold-count × feature-count rows — usually tiny)
    run entirely on the driver: one collect sorted in Spark's order
    (score desc, feature asc) instead of the window/join/agg jobs, then
    the same finalizer (:func:`_overlap_rows`)."""
    spark = scores.sparkSession
    if gates.use_driver(scores, "stability"):
        pdf = scores.select(
            F.col(fold_col).alias("f"),
            F.col(feature_col).alias("x"),
            F.col(score_col).cast("double").alias("s"),
            F.col(score_col).isNull().alias("null"),
        ).toPandas()
        # Spark's desc(score): NaN is the greatest value, NULL sorts last
        pdf["o"] = np.select([pdf["null"], np.isnan(pdf["s"])], [2, 0], 1)
        pdf = pdf.sort_values(
            ["f", "o", "s", "x"], ascending=[True, True, False, True],
            kind="stable",
        )
        sets = {f: set(g["x"].head(k)) for f, g in pdf.groupby("f", sort=True)}
        sizes = {f: len(x) for f, x in sets.items() if x}
        common = {
            (a, b): len(sets[a] & sets[b]) for a in sizes for b in sizes if a < b
        }
        rows = _overlap_rows(sizes, common, pdf["x"].nunique())
        return spark.createDataFrame(rows, schema=_SCHEMA)
    p_cnt = scores.select(feature_col).distinct().count()
    w = Window.partitionBy(fold_col).orderBy(
        F.desc(score_col), F.asc(feature_col)
    )
    top = (
        scores.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= k)
        .select(F.col(fold_col).alias("__fold"), F.col(feature_col).alias("__feat"))
        .persist()
    )
    sizes = {
        r["__fold"]: int(r["__n"])
        for r in top.groupBy("__fold").agg(F.count(F.lit(1)).alias("__n")).collect()
    }
    common = {
        (r["a"], r["b"]): int(r["n"])
        for r in top.alias("a")
        .join(
            top.alias("b"),
            (F.col("a.__feat") == F.col("b.__feat"))
            & (F.col("a.__fold") < F.col("b.__fold")),
        )
        .groupBy(F.col("a.__fold").alias("a"), F.col("b.__fold").alias("b"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    top.unpersist()
    return spark.createDataFrame(_overlap_rows(sizes, common, p_cnt), schema=_SCHEMA)
