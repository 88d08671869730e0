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
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fastselect_spark.runtime import gates
from fastselect_spark.selection import _agg

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


def _ks_counts(ref: DataFrame, cur: DataFrame, cols: list[str]) -> DataFrame:
    """KS's scan input: the distinct (feature, v) table with each frame's
    row count (c0 = ref, c1 = cur) — one melt + ONE groupBy with map-side
    partials, orders smaller than the input."""
    u = _melt_tagged(ref, cols, 0).unionByName(_melt_tagged(cur, cols, 1))
    return u.groupBy("feature", "v").agg(
        F.sum((F.col("__g") == 0).cast("long")).alias("c0"),
        F.sum((F.col("__g") == 1).cast("long")).alias("c1"),
    )


def _ks_block(pdf: pd.DataFrame, run: dict, tot: dict) -> pd.DataFrame:
    """(feature, d): each feature's max CDF gap over a block of the sorted
    (feature, v, c0, c1) table. ``run`` (updated in place) maps a feature
    to its [c0, c1] counts below the block; ``tot`` is the scan's totals."""
    feats, ds = [], []
    for k, grp in pdf.groupby("feature", sort=False):
        st = run.setdefault(k, [0, 0])
        cum0 = grp["c0"].to_numpy().cumsum() + st[0]
        cum1 = grp["c1"].to_numpy().cumsum() + st[1]
        st[0] = int(cum0[-1])
        st[1] = int(cum1[-1])
        n0, n1 = (max(int(t), 1) for t in tot[k][1:])
        d = np.abs(cum0 / float(n0) - cum1 / float(n1))
        feats.append(str(k))
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

    Distributed shape: the distinct-value count table
    (:func:`_ks_counts`), then the ``_agg`` prefix scan
    (:func:`~fastselect_spark.selection._agg.range_scan` — a global
    ``Window.orderBy(v)`` would funnel every row through ONE task) in
    (feature, v) order with per-feature (c0, c1) sums as offsets. Pass A's
    totals double as the CDF denominators, so no separate totals job
    re-runs the melt. The pass-B kernel turns local cumsums + offsets into
    CDF gaps and emits one per-batch max per feature; small inputs run it
    through :func:`~fastselect_spark.selection._agg.local_scan` over the
    whole table as one block.

    CDF values are quotients of exact integer counts, so the gap and its
    max are IEEE-identical cross-engine. Returns (feature, ks) — one row
    per feature."""
    counts = _ks_counts(ref, cur, cols)

    def kernel(batches: Iterator[pd.DataFrame], off: dict, tot: dict):
        run = {k: [int(v[1]), int(v[2])] for k, v in off.items()}
        for pdf in batches:
            yield _ks_block(pdf, run, tot)

    order, sums = ["feature", "v"], ["c0", "c1"]
    # Small inputs: one block gives the same integer cumsums and quotients
    vals = [F.col(c).cast("double") for c in cols]
    pooled = ref.select(*vals).unionByName(cur.select(*vals))
    if gates.use_driver(pooled, "ks", num_partitions=num_partitions):
        ks, _ = _agg.local_scan(counts, order, "feature", sums, kernel)
        return ref.sparkSession.createDataFrame(
            ks.rename(columns={"d": "ks"}), schema="feature string, ks double"
        )
    per_part, _ = _agg.range_scan(
        counts, order, "feature", sums, kernel, "feature string, d double",
        num_partitions,
    )
    return per_part.groupBy("feature").agg(F.max("d").alias("ks"))


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
