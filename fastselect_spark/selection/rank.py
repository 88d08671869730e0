"""Distributed average ranking — the building block for rank statistics
(Spearman correlation, rank-normalization) that Spark has no scalable
primitive for: a global ``Window.orderBy`` puts the ENTIRE column in one
partition (Spark even warns "No Partition Defined for Window operation"),
which is a single-task funnel at any real scale.

Ranking is the ``_agg`` prefix scan (``_agg.range_scan``; its driver twin
``_agg.local_scan`` for small inputs) in (key, value) order with the
per-key row count as the offset. Range partitioning keys on the value
too, so a (key, value) tie group never spans partitions, and the pass-B
kernel ranks it ``first_rn + (cnt - 1) / 2`` with NO further shuffle. Ranks are 1-based;
ties share the arithmetic mean of their positions (SQL: RANK() +
(cnt_eq - 1)/2 — the oracle form). Ranks are integers or half-integers,
exactly representable in float64, so downstream sufficient-statistics
closures stay bit-identical cross-engine."""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fastselect_spark.runtime import gates
from fastselect_spark.selection import _agg


def _tie_starts(keys: np.ndarray, vals: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Starts of the key runs and of the (key, value) tie groups of a
    sorted block. ``!=`` keeps NULL keys one run (None == None) and makes
    every NaN value its own group (NaN != NaN)."""
    kstart = np.ones(len(keys), dtype=bool)
    kstart[1:] = keys[1:] != keys[:-1]
    gstart = kstart.copy()
    gstart[1:] |= vals[1:] != vals[:-1]
    return kstart, gstart


def _rank_block(
    pdf: pd.DataFrame, key_col: str, value_col: str, id_col: str, pos: dict
) -> pd.DataFrame:
    """Average ranks of a sorted block of complete (key, value) tie groups.
    ``pos`` (updated in place) maps a key to its rows before this block —
    in earlier partitions and earlier blocks. A tie group ranks
    ``first_rn + (size-1)/2.0``."""
    keys = pdf[key_col].to_numpy()
    vals = pdf[value_col].to_numpy(dtype=np.float64)
    idx = np.arange(len(keys), dtype=np.int64)
    kstart, gstart = _tie_starts(keys, vals)
    run_keys, run_start = keys[kstart], idx[kstart]
    base = np.array([pos.get(k, 0) for k in run_keys], dtype=np.int64)
    for k, c in zip(run_keys, np.diff(np.append(run_start, len(keys))).tolist()):
        pos[k] = pos.get(k, 0) + c
    krun = np.cumsum(kstart) - 1
    rn = base[krun] + idx - run_start[krun] + 1  # 1-based global row number
    grp = np.cumsum(gstart) - 1
    rank = rn[gstart][grp] + (np.bincount(grp)[grp] - 1) / 2.0
    return pd.DataFrame(
        {key_col: pdf[key_col], id_col: pdf[id_col], "rank": rank}
    )


def average_ranks_long(
    melted: DataFrame,
    key_col: str = "feature",
    value_col: str = "value",
    id_col: str = "id",
    num_partitions: int | None = None,
) -> DataFrame:
    """(key, id, rank) for every non-null value row of the long-form
    input; rank is the 1-based average rank of the value within its key."""
    base = melted.select(key_col, value_col, id_col).where(
        F.col(value_col).isNotNull()
    )

    def kernel(batches: Iterator[pd.DataFrame], off: dict, _tot: dict):
        pos = {k: int(v[0]) for k, v in off.items()}
        # tie-group carry across Arrow batches within the sorted partition
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
            # hold back the final (key, value) group — it may continue in
            # the next batch
            _, gstart = _tie_starts(
                pdf[key_col].to_numpy(), pdf[value_col].to_numpy()
            )
            cut = int(np.flatnonzero(gstart)[-1]) if len(pdf) else 0
            carry = pdf.iloc[cut:]
            if cut:
                yield _rank_block(pdf.iloc[:cut], key_col, value_col, id_col, pos)
        if carry is not None:
            yield _rank_block(carry, key_col, value_col, id_col, pos)

    schema = f"{key_col} string, {id_col} string, rank double"
    order = [key_col, value_col]
    # Small inputs skip the range exchange and both passes (shared by
    # quantile_normalize, auc_scores and the correlation family)
    if gates.use_driver(base, "ranks", num_partitions=num_partitions):
        ranked, _ = _agg.local_scan(base, order, key_col, [], kernel)
        return base.sparkSession.createDataFrame(ranked, schema=schema)
    return _agg.range_scan(base, order, key_col, [], kernel, schema, num_partitions)[0]


def _row_key(id_cols: list[str]):
    """Unambiguous per-row join key from an id-column tuple: the JSON of
    the id struct. A plain ``concat_ws(':')`` both collides across
    components containing the delimiter and erases the NULL-vs-empty
    distinction; JSON encoding does neither."""
    from pyspark.sql import functions as F

    return F.to_json(F.struct(*[F.col(c) for c in id_cols]))


def quantile_normalize(
    df,
    feature_cols: list[str],
    id_cols: list[str],
    suffix: str = "_qn",
    num_partitions: int | None = None,
):
    """Rank-based quantile normalization: each value maps to its average
    rank scaled into (0, 1) by ``rank / (n_nonnull + 1)`` per feature —
    the classic monotone transform that makes downstream models immune to
    feature scale and outliers (ties share one quantile via the average
    rank). NULLs stay NULL.

    Built entirely on :func:`average_ranks_long` (one melt scan + the
    range-partition two-pass) plus one id-keyed pivot back to wide — the
    same shape as spearman_matrix's rank stage; no global Window at any
    scale. Quantiles are quotients of exact (half-)integers, so they are
    IEEE-identical cross-engine.

    Precondition: ``id_cols`` tuples must be UNIQUE per row — the pivot
    back to wide keys on them, so a duplicate id tuple would collapse to
    one arbitrary row. The row key is the JSON encoding of the id struct
    (unambiguous across multi-column ids and NULLs, unlike a ':' concat)."""
    from pyspark.sql import functions as F

    rid = _row_key(id_cols)
    melted = df.select(
        rid.alias("__rid"),
        F.stack(
            F.lit(len(feature_cols)),
            *[
                x
                for c in feature_cols
                for x in (F.lit(c), F.col(c).cast("double"))
            ],
        ).alias("feature", "value"),
    )
    ranks = average_ranks_long(
        melted, "feature", "value", "__rid", num_partitions=num_partitions
    )
    counts = {
        r["feature"]: int(r["n"])
        for r in ranks.groupBy("feature")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # per-feature divisor as a CASE chain (p-bounded, not row-bounded)
    div = None
    for c in feature_cols:
        branch = F.when(
            F.col("feature") == F.lit(c), F.lit(float(counts.get(c, 0) + 1))
        )
        div = branch if div is None else div.when(
            F.col("feature") == F.lit(c), F.lit(float(counts.get(c, 0) + 1))
        )
    wide = (
        ranks.select("__rid", "feature", (F.col("rank") / div).alias("q"))
        .groupBy("__rid")
        .pivot("feature", feature_cols)
        .agg(F.first("q"))
    )
    renamed = wide.select(
        "__rid", *[F.col(c).alias(f"{c}{suffix}") for c in feature_cols]
    )
    out = df.withColumn("__rid", rid).join(renamed, "__rid", "left")
    return out.drop("__rid")


def auc_scores(
    df,
    feature_cols: list[str],
    label_col: str = "label",
    id_cols: list[str] | None = None,
    num_partitions: int | None = None,
):
    """Univariate ROC-AUC per feature via the Mann-Whitney U statistic:

        AUC_j = (R_pos - n_pos(n_pos+1)/2) / (n_pos * n_neg)

    where ``R_pos`` is the sum of the positives' average ranks of feature
    j — the probability a random positive outranks a random negative,
    ties counted half. The threshold-free univariate screen (what a
    single-feature classifier's ROC area would be), complementing
    ANOVA-F (means), MI (dependence) and Fisher (separation).

    Shape: one melt scan + the range-partition two-pass ranking
    (selection/rank.py — no global Window) + one label join on the
    narrow id table + ONE per-feature aggregation. Ranks are exact
    (half-)integers and counts exact ints, so AUC is an exact-rational
    quotient — IEEE-identical cross-engine. Returns (feature, n_pos,
    n_neg, auc) with NULL-feature rows excluded per feature."""
    from pyspark.sql import functions as F

    id_cols = id_cols or ["id"]
    # NULL-label rows must not enter the RANKING either — a ranked-but-
    # unlabeled row shifts every higher value's rank and silently skews
    # R_pos, not just the n_pos/n_neg denominators
    df = df.where(F.col(label_col).isNotNull())
    rid = _row_key(id_cols)
    labels = df.select(
        rid.alias("__rid"), F.col(label_col).cast("int").alias("__y")
    )
    melted = df.select(
        rid.alias("__rid"),
        F.stack(
            F.lit(len(feature_cols)),
            *[
                x
                for c in feature_cols
                for x in (F.lit(c), F.col(c).cast("double"))
            ],
        ).alias("feature", "value"),
    )
    ranks = average_ranks_long(
        melted, "feature", "value", "__rid", num_partitions=num_partitions
    )
    j = ranks.join(labels, ranks["__rid"] == labels["__rid"], "inner")
    agg = j.groupBy("feature").agg(
        F.sum(F.when(F.col("__y") == 1, F.col("rank"))).alias("r_pos"),
        F.sum((F.col("__y") == 1).cast("long")).alias("n_pos"),
        F.sum((F.col("__y") == 0).cast("long")).alias("n_neg"),
    )
    npos = F.col("n_pos").cast("double")
    nneg = F.col("n_neg").cast("double")
    auc = (F.col("r_pos") - npos * (npos + F.lit(1.0)) / F.lit(2.0)) / (
        npos * nneg
    )
    return agg.select("feature", "n_pos", "n_neg", auc.alias("auc"))
