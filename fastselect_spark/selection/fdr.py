"""Multiple-testing correction over a distributed p-value table —
Benjamini-Hochberg step-up FDR control plus Bonferroni, the standard
post-processing of the univariate scorer family (chi2/ANOVA-F/
f_regression emit one p-value per feature; at p = 10^5..10^7 features
the raw 0.05 cutoff is meaningless and BH is what a selection pipeline
actually thresholds on).

Graft-added: the reference stops at raw p-values (Chi2.py returns
(chi2, p_values) and leaves thresholding to the caller); this module is
the distributed equivalent of ``statsmodels.stats.multitest.multipletests
(method='fdr_bh')`` semantics.

Scale design — the naive form is a global ``Window.orderBy(p)``: a
single-task funnel. Instead BH runs on the ``_agg`` prefix scan
(:func:`~fastselect_spark.selection._agg.range_scan`) in (p, feature)
order as one global group, so each partition's offset is the rank of its
first row and the totals give ``m``. The pass-B kernel computes the raw
BH quotient ``q = m*p/rank`` and its partition-local SUFFIX minimum (the
partition is buffered — a (feature, p) table, a few MB per task even at
10^7 features). The cross-partition suffix carry is a per-partition
MIN(q) table (P rows, driver-side suffix min over later partitions)
broadcast-joined back: ``p_adj = min(1, local_suffix_min, carry)`` — the
exact reverse-cummin of the step-up definition, with ONE range exchange
total and no global funnel. Small tables run the same kernel through
:func:`~fastselect_spark.selection._agg.local_scan` as the only partition,
so the carry is empty.

The BH selection threshold is ``thr = max{p_(i) : p_(i) <= alpha*i/m}``
(one filtered MAX aggregation); every feature with ``p <= thr`` is
selected — the step-up rule without materializing the walk.

Float determinism: rank and m are exact integers; ``q = m*p/rank`` and
``crit = alpha*rank/m`` are single-expression float ops in the same
operand order as the SQL oracle, so given bit-identical input p-values
the selection boundary and adjusted values are IEEE-identical
cross-engine (see CLAUDE.md cross-engine float rules).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fastselect_spark.runtime import gates
from fastselect_spark.selection import _agg

_SCHEMA = (
    "feature string, p_value double, rank long, "
    "p_adj double, p_bonf double, selected int"
)


def _bh_terms(p: np.ndarray, rank0: int, m: int, a: float):
    """(rank, q, suffix-min q, step-up candidate) of a sorted p block
    whose first row has global rank ``rank0 + 1`` — pass B's arithmetic."""
    rank = rank0 + np.arange(1, len(p) + 1, dtype=np.int64)
    q = m * p / rank  # same operand order as the SQL oracle
    sfx = np.minimum.accumulate(q[::-1])[::-1]
    return rank, q, sfx, p <= a * rank / m


def fdr_bh(
    df: DataFrame,
    p_col: str = "p_value",
    feature_col: str = "feature",
    alpha: float = 0.05,
    num_partitions: int | None = None,
) -> DataFrame:
    """Benjamini-Hochberg step-up over (feature, p) rows.

    Returns one row per non-null input p-value with columns
    ``(feature, p_value, rank, p_adj, p_bonf, selected)``:

    - ``rank``      1-based ascending rank of p (ties broken by feature
                    name, NULL first — deterministic cross-engine order);
    - ``p_adj``     BH adjusted p-value ``min(1, min_{j>=i} m*p_(j)/j)``;
    - ``p_bonf``    Bonferroni ``min(1, m*p)``;
    - ``selected``  1 iff p <= the BH step-up threshold at ``alpha``.
    """
    spark = df.sparkSession
    base = df.select(
        F.col(feature_col).cast("string").alias("feature"),
        F.col(p_col).cast("double").alias("p"),
    ).where(F.col(p_col).isNotNull())
    a = float(alpha)

    def kernel(batches: Iterator[pd.DataFrame], off: dict, tot: dict):
        parts = list(batches)
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
        p = pdf["p"].to_numpy(dtype=np.float64)
        rank0 = int(off[None][0]) if off else 0  # ranks in earlier partitions
        rank, q, sfx, cand = _bh_terms(p, rank0, int(tot[None][0]), a)
        yield pd.DataFrame(
            {
                "rank0": rank0,
                "feature": pdf["feature"],
                "p_value": p,
                "rank": rank,
                "q_raw": q,
                "sfx_local": sfx,
                "cand": cand,
            }
        )

    order = ["p", "feature"]
    # Small p-value tables: the per-partition suffix min + carry is an
    # exact min, so one partition gives bit-identical values.
    if gates.use_driver(base, "fdr", num_partitions=num_partitions):
        z, tot = _agg.local_scan(base, order, None, [], kernel)
        m = int(tot[None][0])
        p, cand = z["p_value"].to_numpy(), z["cand"].to_numpy(dtype=bool)
        sel = p <= p[cand].max() if cand.any() else np.zeros(m, dtype=bool)
        out = z[["feature", "p_value", "rank"]].assign(
            p_adj=np.minimum(1.0, z["sfx_local"].to_numpy()),
            p_bonf=np.minimum(1.0, float(m) * p),
            selected=sel.astype(np.int32),
        )
        return spark.createDataFrame(out, schema=_SCHEMA)
    z, tot = _agg.range_scan(
        base,
        order,
        None,
        [],
        kernel,
        "rank0 long, feature string, p_value double, rank long, "
        "q_raw double, sfx_local double, cand boolean",
        num_partitions,
    )
    m = int(tot.get(None, [0])[0])  # no None group: no partition had rows

    # Cross-partition suffix carry + step-up threshold: P-row driver work;
    # a non-empty partition is named by its rank offset.
    # (thr via when(): false-branch is NULL, which max() skips — never NaN,
    # which Spark's max would propagate as the largest double.)
    stats = sorted(
        z.groupBy("rank0")
        .agg(
            F.min("q_raw").alias("qmin"),
            F.max(F.when(F.col("cand"), F.col("p_value"))).alias("thr"),
        )
        .collect(),
        key=lambda r: r["rank0"],
    )
    carry: list[tuple[int, float]] = []
    run_min = float("inf")
    for r in reversed(stats):
        carry.append((r["rank0"], run_min))  # min q over strictly-later partitions
        if r["qmin"] is not None and r["qmin"] < run_min:
            run_min = float(r["qmin"])
    thr = max((r["thr"] for r in stats if r["thr"] is not None), default=None)

    carry_df = F.broadcast(
        spark.createDataFrame(carry, schema="rank0 long, carry double")
    )
    out = z.join(carry_df, "rank0")
    sel = (
        (F.col("p_value") <= F.lit(float(thr))).cast("int")
        if thr is not None
        else F.lit(0)
    )
    return out.select(
        "feature",
        "p_value",
        "rank",
        F.least(F.lit(1.0), F.least("sfx_local", "carry")).alias("p_adj"),
        F.least(F.lit(1.0), F.lit(float(m)) * F.col("p_value")).alias("p_bonf"),
        sel.alias("selected"),
    )
