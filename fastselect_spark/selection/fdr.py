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
single-task funnel. Instead the same two-pass range-partition scheme as
``rank.py``/``ks_statistics``:

1. ``repartitionByRange(p, feature)`` + ``sortWithinPartitions`` —
   partitions are globally ordered by p; the sorted frame is persisted
   and read by both passes.
2. Pass A: per-partition row counts -> driver exclusive prefix sums ->
   broadcast rank offsets (P integers).
3. Pass B: each task assigns global ranks (offset + local position,
   1-based), computes the raw BH quotient ``q = m*p/rank`` and its
   partition-local SUFFIX minimum (the partition is buffered — it is a
   (feature, p) table, a few MB per task even at 10^7 features).
4. The cross-partition suffix carry is a per-partition MIN(q) table (P
   rows, driver-side suffix min over later partitions) broadcast-joined
   back: ``p_adj = min(1, local_suffix_min, carry)`` — the exact
   reverse-cummin of the step-up definition, with ONE range exchange
   total and no global funnel.

Small tables take one collect instead: the driver sorts it and applies
pass B's arithmetic (:func:`_bh_terms`) to the whole array as the only
partition, so the carry is empty.

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
from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


_SCHEMA = (
    "feature string, p_value double, rank long, "
    "p_adj double, p_bonf double, selected int"
)


def _bh_terms(p: np.ndarray, rank0: int, m: int, a: float):
    """(rank, q, suffix-min q, step-up candidate) of a sorted p block
    whose first row has global rank ``rank0 + 1`` — pass B's arithmetic,
    shared by the driver path (the whole sorted array, ``rank0 = 0``)."""
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
                    name — deterministic cross-engine order);
    - ``p_adj``     BH adjusted p-value ``min(1, min_{j>=i} m*p_(j)/j)``;
    - ``p_bonf``    Bonferroni ``min(1, m*p)``;
    - ``selected``  1 iff p <= the BH step-up threshold at ``alpha``.
    """
    spark = df.sparkSession
    base = df.select(
        F.col(feature_col).cast("string").alias("feature"),
        F.col(p_col).cast("double").alias("p"),
    ).where(F.col(p_col).isNotNull())

    # Small p-value tables skip the two-pass range machinery entirely: one
    # Arrow collect, sorted on the driver, through pass B's own arithmetic
    # as the only partition — the per-partition suffix min + carry is an
    # exact min, so values are bit-identical to the distributed result.
    from fastselect_spark.selection._agg import small_frame

    a = float(alpha)
    if small_frame(base, 64 << 20):
        pdf = base.toPandas().sort_values(["p", "feature"], kind="stable")
        p = pdf["p"].to_numpy(dtype=np.float64)
        m = len(p)
        rank, _, sfx, cand = _bh_terms(p, 0, m, a)
        sel = p <= p[cand].max() if cand.any() else np.zeros(m, dtype=bool)
        out = pd.DataFrame(
            {
                "feature": pdf["feature"],
                "p_value": p,
                "rank": rank,
                "p_adj": np.minimum(1.0, sfx),
                "p_bonf": np.minimum(1.0, float(m) * p),
                "selected": sel.astype(np.int32),
            }
        )
        return spark.createDataFrame(out, schema=_SCHEMA)
    if num_partitions:
        base = base.repartitionByRange(num_partitions, "p", "feature")
    else:
        base = base.repartitionByRange("p", "feature")
    srt = base.sortWithinPartitions("p", "feature").persist()

    # Pass A: per-partition counts -> exclusive prefix offsets.
    def count_pass(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        n = 0
        for pdf in batches:
            n += len(pdf)
        yield pd.DataFrame({"pid": [pid], "cnt": [n]})

    counts = {
        r["pid"]: r["cnt"]
        for r in srt.mapInPandas(count_pass, schema="pid int, cnt long").collect()
    }
    m = int(sum(counts.values()))
    if m == 0:
        srt.unpersist()
        return spark.createDataFrame([], schema=_SCHEMA)
    offsets: dict[int, int] = {}
    run = 0
    for pid in sorted(counts):
        offsets[pid] = run
        run += counts[pid]
    bc = spark.sparkContext.broadcast(offsets)

    # Pass B: global ranks, raw BH quotient, partition-local suffix min.
    def bh_pass(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        parts = [pdf for pdf in batches if not pdf.empty]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True) if len(parts) > 1 else parts[0]
        p = pdf["p"].to_numpy(dtype=np.float64)
        rank, q, sfx, cand = _bh_terms(p, bc.value.get(pid, 0), m, a)
        yield pd.DataFrame(
            {
                "pid": pid,
                "feature": pdf["feature"],
                "p_value": p,
                "rank": rank,
                "q_raw": q,
                "sfx_local": sfx,
                "cand": cand,
            }
        )

    z = srt.mapInPandas(
        bh_pass,
        schema="pid int, feature string, p_value double, rank long, "
        "q_raw double, sfx_local double, cand boolean",
    ).localCheckpoint()
    srt.unpersist()

    # Cross-partition suffix carry + step-up threshold: P-row driver work.
    # (thr via when(): false-branch is NULL, which max() skips — never NaN,
    # which Spark's max would propagate as the largest double.)
    stats = (
        z.groupBy("pid")
        .agg(
            F.min("q_raw").alias("qmin"),
            F.max(F.when(F.col("cand"), F.col("p_value"))).alias("thr"),
        )
        .collect()
    )
    pids = sorted(r["pid"] for r in stats)
    qmin = {r["pid"]: r["qmin"] for r in stats}
    carry: dict[int, float] = {}
    run_min = float("inf")
    for pid in reversed(pids):
        carry[pid] = run_min  # min q over strictly-later partitions
        v = qmin[pid]
        if v is not None and v < run_min:
            run_min = float(v)
    thr_vals = [r["thr"] for r in stats if r["thr"] is not None]
    thr = max(thr_vals) if thr_vals else None

    carry_df = F.broadcast(
        spark.createDataFrame(
            [(pid, carry[pid]) for pid in pids], schema="pid int, carry double"
        )
    )
    out = z.join(carry_df, "pid")
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
