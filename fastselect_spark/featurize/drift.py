"""Feature-distribution drift detection (PSI) — the monitoring side of a
feature platform: compare the live feature distribution against a frozen
reference window and alarm when the population shifts.

Population Stability Index per feature:

    PSI = sum_b (p_b - q_b) * ln(p_b / q_b)

over ``bins`` uniform bins whose edges come from the REFERENCE frame's
min/max (the convention: the reference defines the binning; current-frame
outliers clip into the edge bins). Zero proportions are clipped to
``eps`` (1e-6) before the log — the standard PSI regularization,
documented so the oracle can mirror it exactly.

Distributed shape: ONE min/max agg on the reference + ONE fused
union-tagged histogram agg over both frames (map-side partials — counts
are exact integers), driver finalize over a (2 × bins × p) table. Linear
scans, no joins, no per-row Python; the 100 TB cost is two passes over
the reference and one over the current frame.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PSI_EPS = 1e-6


def _bin_expr(col: str, lo: float, width: float, bins: int):
    raw = F.floor((F.col(col).cast("double") - F.lit(lo)) / F.lit(width))
    return F.least(F.greatest(raw, F.lit(0)), F.lit(bins - 1)).cast("int")


def _hists_fused(
    ref: DataFrame, cur: DataFrame, cols: list[str], edges: dict, bins: int
) -> tuple[dict, dict]:
    """Both frames' histograms in ONE union-tagged aggregation scan (one
    job instead of two; counts identical by construction). 2·p·bins sum
    expressions — fine for monitoring-sized p; for very wide matrices
    switch to a melt + groupBy(bin) (the countDistinct-expansion lesson)."""
    proj = [F.col(c).cast("double").alias(c) for c in cols]
    u = (
        ref.select(*proj).withColumn("__g", F.lit(0))
        .unionByName(cur.select(*proj).withColumn("__g", F.lit(1)))
    )
    aggs = []
    for g in (0, 1):
        for c in cols:
            lo, width = edges[c]
            b = _bin_expr(c, lo, width, bins)
            for k in range(bins):
                aggs.append(
                    F.sum(((b == k) & (F.col("__g") == g)).cast("long")).alias(
                        f"__h_{g}_{c}_{k}"
                    )
                )
    row = u.agg(*aggs).collect()[0]

    def unpack(g: int) -> dict:
        return {
            c: np.array(
                [row[f"__h_{g}_{c}_{k}"] or 0 for k in range(bins)],
                dtype=np.float64,
            )
            for c in cols
        }

    return unpack(0), unpack(1)


def reference_histogram(
    ref: DataFrame, col: str, bins: int = 10
) -> tuple[float, float, np.ndarray]:
    """(lo, width, proportions) of the reference frame — the frozen
    baseline a streaming PSI monitor compares live windows against."""
    mm = ref.agg(
        F.min(F.col(col).cast("double")).alias("lo"),
        F.max(F.col(col).cast("double")).alias("hi"),
    ).collect()[0]
    lo, hi = float(mm["lo"]), float(mm["hi"])
    width = (hi - lo) / bins if hi > lo else 1.0
    b = _bin_expr(col, lo, width, bins)
    row = ref.agg(
        *[F.sum((b == k).cast("long")).alias(f"c{k}") for k in range(bins)]
    ).collect()[0]
    counts = np.array([row[f"c{k}"] or 0 for k in range(bins)], dtype=np.float64)
    return lo, width, counts / max(counts.sum(), 1.0)


def _melt_tagged(df: DataFrame, cols: list[str], g: int) -> DataFrame:
    pairs = F.array(
        *[
            F.struct(
                F.lit(c).alias("feature"), F.col(c).cast("double").alias("v")
            )
            for c in cols
        ]
    )
    return (
        df.select(F.explode(pairs).alias("p"))
        .select("p.feature", "p.v")
        .where(F.col("v").isNotNull())
        .withColumn("__g", F.lit(g))
    )


def _ks_block(pdf: pd.DataFrame, run: dict, tots: dict) -> pd.DataFrame:
    """(feature, d): each feature's max CDF gap over a block of the sorted
    (feature, v, c0, c1) table. ``run`` (updated in place) holds each
    feature's counts below the block — the driver path passes it empty
    with the whole sorted table as one block; ``tots`` its totals."""
    feats, ds = [], []
    for k, grp in pdf.groupby("feature", sort=False):
        k = str(k)
        st = run.setdefault(k, [0, 0])
        cum0 = grp["c0"].to_numpy().cumsum() + st[0]
        cum1 = grp["c1"].to_numpy().cumsum() + st[1]
        st[0] = int(cum0[-1])
        st[1] = int(cum1[-1])
        n0, n1 = tots[k]
        d = np.abs(cum0 / float(n0) - cum1 / float(n1))
        feats.append(k)
        ds.append(float(d.max()))
    return pd.DataFrame({"feature": feats, "d": ds})


def ks_statistics(
    ref: DataFrame,
    cur: DataFrame,
    cols: list[str],
    num_partitions: int | None = None,
) -> DataFrame:
    """EXACT two-sample Kolmogorov-Smirnov statistic per feature —
    ``max_v |F_ref(v) - F_cur(v)|`` over the pooled distinct values. The
    binning-free complement to :func:`psi_scores`: PSI answers "how much
    did the histogram move", KS answers "what is the worst-case CDF gap"
    with no bin-edge convention to tune.

    Distributed shape (the same two-pass range-partition prefix scheme as
    selection/rank.py — a global ``Window.orderBy(v)`` would funnel every
    row through ONE task):

    1. melt + ONE ``groupBy(feature, v)`` count agg (map-side partials;
       output is the DISTINCT-value table, orders smaller than the input).
    2. ``repartitionByRange(feature, v)`` + sort, persisted; pass A sums
       per-(partition, feature) counts — a (P × p) table collected to the
       driver for exclusive prefix offsets; pass B turns local cumsums +
       offsets into CDF gaps and emits one per-batch max per feature.

    Small inputs collect the count table once instead and run pass B's
    kernel (:func:`_ks_block`) over it as one block from zero offsets.

    CDF values are quotients of exact integer counts, so the gap and its
    max are IEEE-identical cross-engine. Returns (feature, ks) — one row
    per feature."""
    spark = ref.sparkSession
    u = _melt_tagged(ref, cols, 0).unionByName(_melt_tagged(cur, cols, 1))
    counts = u.groupBy("feature", "v").agg(
        F.sum((F.col("__g") == 0).cast("long")).alias("c0"),
        F.sum((F.col("__g") == 1).cast("long")).alias("c1"),
    )

    # Small inputs: collect the distinct-value count table once and run
    # pass B's kernel on the sorted table as one block from zero counts —
    # the same integer cumsums and quotients, so the ks values are
    # bit-identical to the two-pass kernel.
    from fastselect_spark.selection._agg import plan_size_bytes

    if (plan_size_bytes(ref) + plan_size_bytes(cur)) <= (64 << 20):
        pdf = counts.toPandas().sort_values(["feature", "v"], kind="stable")
        tots = {
            str(k): (max(int(s0), 1), max(int(s1), 1))
            for k, s0, s1 in pdf.groupby("feature")[["c0", "c1"]]
            .sum()
            .itertuples()
        }
        return spark.createDataFrame(
            _ks_block(pdf, {}, tots).rename(columns={"d": "ks"}),
            schema="feature string, ks double",
        )
    if num_partitions:
        rng = counts.repartitionByRange(num_partitions, "feature", "v")
    else:
        rng = counts.repartitionByRange("feature", "v")
    srt = rng.sortWithinPartitions("feature", "v").persist()

    def sums_pass(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        acc: dict[str, list[int]] = {}
        for pdf in batches:
            if pdf.empty:
                continue
            for k, grp in pdf.groupby("feature", sort=False):
                s = acc.setdefault(str(k), [0, 0])
                s[0] += int(grp["c0"].sum())
                s[1] += int(grp["c1"].sum())
        yield pd.DataFrame(
            {
                "pid": pid,
                "feature": list(acc),
                "s0": [v[0] for v in acc.values()],
                "s1": [v[1] for v in acc.values()],
            }
        ) if acc else pd.DataFrame(
            {"pid": [], "feature": [], "s0": [], "s1": []}
        ).astype({"pid": "int64", "feature": "string", "s0": "int64", "s1": "int64"})

    rows = srt.mapInPandas(
        sums_pass, schema="pid int, feature string, s0 long, s1 long"
    ).collect()
    by_feat: dict[str, list[tuple[int, int, int]]] = {}
    for r in rows:
        by_feat.setdefault(r["feature"], []).append((r["pid"], r["s0"], r["s1"]))
    # pass A's per-partition sums double as the per-feature TOTALS — no
    # separate totals job (which would re-run the whole melt + reduction
    # upstream of the persist point)
    offsets: dict[int, dict[str, tuple[int, int]]] = {}
    totals: dict[str, tuple[int, int]] = {}
    for k, lst in by_feat.items():
        run0 = run1 = 0
        for pid, s0, s1 in sorted(lst):
            offsets.setdefault(pid, {})[k] = (run0, run1)
            run0 += s0
            run1 += s1
        totals[k] = (max(run0, 1), max(run1, 1))
    bc = spark.sparkContext.broadcast((offsets, totals))

    def cdf_pass(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        offs, tots = bc.value
        # copied: a reused worker shares the broadcast value across tasks
        run = {k: list(v) for k, v in offs.get(pid, {}).items()}
        for pdf in batches:
            if not pdf.empty:
                yield _ks_block(pdf, run, tots)

    per_part = srt.mapInPandas(cdf_pass, schema="feature string, d double")
    out = per_part.groupBy("feature").agg(F.max("d").alias("ks"))
    # p-row result: materialize before unpersisting the sorted branch
    out = out.localCheckpoint()
    srt.unpersist()
    return out


def psi_scores(
    ref: DataFrame,
    cur: DataFrame,
    cols: list[str],
    bins: int = 10,
    eps: float = PSI_EPS,
) -> dict[str, float]:
    """PSI per feature column; reference frame defines the bin edges."""
    mm = ref.agg(
        *[F.min(F.col(c).cast("double")).alias(f"__lo_{c}") for c in cols],
        *[F.max(F.col(c).cast("double")).alias(f"__hi_{c}") for c in cols],
    ).collect()[0]
    edges = {}
    for c in cols:
        lo = float(mm[f"__lo_{c}"])
        hi = float(mm[f"__hi_{c}"])
        width = (hi - lo) / bins if hi > lo else 1.0
        edges[c] = (lo, width)
    h_ref, h_cur = _hists_fused(ref, cur, cols, edges, bins)
    out = {}
    for c in cols:
        p = h_ref[c] / max(h_ref[c].sum(), 1.0)
        q = h_cur[c] / max(h_cur[c].sum(), 1.0)
        p = np.maximum(p, eps)
        q = np.maximum(q, eps)
        out[c] = float(((p - q) * np.log(p / q)).sum())
    return out
