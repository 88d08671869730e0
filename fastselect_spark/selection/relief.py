"""Relief-family scorers: ReliefF, SURF/SURF*, MultiSURF/MultiSURF*
(reference O1–O3, /root/reference/src/fast_select/{ReliefF,SURF,MultiSURF}.py).

Physical strategy (SURVEY.md §2.2 O1): these are all-pairs neighbor-margin
scores — O(n²·p) by definition, with no relational equivalent. The narrow
numeric projection is materialized behind a size-gated
:class:`~fastselect_spark.selection._stage.MatrixStage` (collect+broadcast
for kilobyte matrices, distributed parquet stage above — the driver never
materializes a row on the scale path); the PER-SAMPLE outer loop is then
distributed via ``mapInPandas`` over a ``spark.range`` of row indices,
with each task reading the full reference matrix executor-side (cached per
worker process) and emitting one per-feature partial score vector, merged by
summation (the distributed equivalent of the reference's thread-private
``temp[n, p]`` accumulator, ReliefF.py:141,219-220). Probe rows are
processed in row chunks sized so the distance block stays ~8 MB; the
per-feature inner loop keeps column temporaries at one (rows, n) block at a
time — memory is bounded in both axes regardless of p.

Numeric parity notes (the allclose traps, SURVEY.md §2.2):
- mixed distance: discrete -> indicator diff; continuous -> |xi-xj| * recip
  where recip = 1/(max-min), zero-range -> 1; ReliefF/SURF also force
  discrete ranges -> 1 but MultiSURF does NOT (MultiSURF.py:410-412) —
  reproduced as-is.
- ReliefF: per-miss-class weight P(c)/(1-P(class_i)) with single-class
  denom guard; hit term divides by hits FOUND, miss term always by k;
  distances float32; CPU kernel semantics (the documented one) is the oracle.
- SURF: neighborhood = dist < mean(dists)/(n-1) with self-distance 0
  included in the mean; strict <; SURF* adds far-zone with inverted sign.
- MultiSURF: threshold mu_i - 0.5*sigma_i (variance clamped >= 0); near
  hit/miss diffs averaged by their counts; star subtracts far-miss diffs
  but still normalizes by the NEAR miss count (MultiSURF.py:237-251).
- final scores divided by n_samples; top = argsort(scores)[::-1][:n_select].
"""

from __future__ import annotations

import warnings
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from fastselect_spark.selection._stage import MatrixStage, make_stage
from fastselect_spark.selection._validate import (
    check_labels,
    validate_transform_input,
)


def _dist_block(
    Xb: np.ndarray, X: np.ndarray, recip: np.ndarray, is_disc: np.ndarray
) -> np.ndarray:
    """Mixed-metric distances from each row of Xb to every row of X
    (float64 accumulation, like the kernels' scalar ``d``)."""
    D = np.zeros((Xb.shape[0], X.shape[0]), dtype=np.float64)
    for f in range(X.shape[1]):
        if is_disc[f]:
            D += (Xb[:, f : f + 1] != X[None, :, f]).astype(np.float64)
        else:
            D += np.abs(Xb[:, f : f + 1] - X[None, :, f]) * recip[f]
    return D


def _feature_diffs(
    Xi: np.ndarray, Xj: np.ndarray, recip: np.ndarray, is_disc: np.ndarray
) -> np.ndarray:
    """Per-feature mixed diffs between one row Xi (p,) and rows Xj (m, p)."""
    out = np.empty_like(Xj, dtype=np.float64)
    disc = is_disc
    out[:, disc] = (Xj[:, disc] != Xi[disc]).astype(np.float64)
    cont = ~disc
    out[:, cont] = np.abs(Xj[:, cont] - Xi[cont]) * recip[cont]
    return out


_TARGET_BLOCK_BYTES = 8 << 20


def _distribute_row_blocks(
    stage: MatrixStage, n: int, subset: list[str] | None, prep_fn, kernel
) -> np.ndarray:
    """Distribute the per-sample outer loop over a stream of the ``n`` row
    indices. Each task: loads the reference matrix executor-side (cached per
    worker, column-sliced to ``subset`` if given), runs
    ``prep_fn(X, y) -> ctx`` once, and streams ``kernel(idx_chunk, ctx)``
    partials over its probe row indices — chunked so the (chunk, n)
    distance block stays ~8 MB. The driver only ever receives per-task
    p-sized vectors."""
    load = stage.loader(subset)
    chunk = max(1, _TARGET_BLOCK_BYTES // (8 * max(n, 1)))

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        X, y, _ = load()
        ctx = prep_fn(X, y)
        total = None
        for pdf in batches:
            probe = pdf["id"].to_numpy(dtype=np.int64)
            for s in range(0, len(probe), chunk):
                part = kernel(probe[s : s + chunk], ctx)
                total = part if total is None else total + part
        if total is not None:
            yield pd.DataFrame({"data": [total.tobytes()]})

    # range is born partitioned — no Exchange needed
    parts = max(stage.spark.sparkContext.defaultParallelism, 4)
    probes = stage.spark.range(0, n, 1, parts)
    rows = probes.mapInPandas(mapper, schema="data binary").collect()
    out = None
    for r in rows:
        arr = np.frombuffer(r["data"], dtype=np.float64)
        out = arr.copy() if out is None else out + arr
    return out


def _resolve_n_select(n_features_to_select, p: int) -> int:
    """int = exact count; float in (0,1] = fraction -> max(1, int(frac*p))
    (ReliefF.py:319-333)."""
    v = n_features_to_select
    if isinstance(v, float):
        if not (0 < v <= 1):
            raise ValueError("n_features_to_select as float must be in (0, 1].")
        return max(1, int(v * p))
    if not (0 < int(v) <= p):
        raise ValueError("n_features_to_select out of range.")
    return int(v)


class _ReliefBase:
    def __init__(
        self,
        n_features_to_select=0.2,
        discrete_limit: int = 10,
        verbose: bool = False,
        stage_mode: str = "auto",
    ) -> None:
        """``stage_mode`` is the Spark analogue of the reference's
        ``backend={'auto','gpu','cpu'}`` contract (ReliefF.py:382-385,
        invalid -> ValueError): 'auto' size-gates between the broadcast
        fast path and the distributed parquet stage; 'small'/'staged'
        force one. The resolved choice lands in ``effective_stage_mode_``
        (the ``effective_backend_`` analogue)."""
        if stage_mode not in ("auto", "small", "staged"):
            raise ValueError(
                f"stage_mode must be 'auto', 'small' or 'staged', "
                f"got {stage_mode!r}"
            )
        self.n_features_to_select = n_features_to_select
        self.discrete_limit = discrete_limit
        self.verbose = verbose
        self.stage_mode = stage_mode

    def transform(self, df: DataFrame) -> DataFrame:
        if not hasattr(self, "top_features_"):
            raise RuntimeError("estimator is not fitted")
        validate_transform_input(df, self.feature_cols_, type(self).__name__)
        return df.select(*[self.feature_cols_[i] for i in self.top_features_])

    def fit_transform(
        self, df: DataFrame, feature_cols: list[str], label_col: str = "label"
    ) -> DataFrame:
        return self.fit(df, feature_cols, label_col).transform(df)

    def _finalize(self, scores: np.ndarray, n_select: int) -> None:
        self.feature_importances_ = scores
        self.top_features_ = np.argsort(scores, kind="stable")[::-1][:n_select]

    def _setup(
        self,
        df: DataFrame,
        feature_cols: list[str],
        label_col: str,
        _stage: MatrixStage | None,
    ):
        """Shared fit preamble: stage materialization + class stats (free on
        the small path — from the collected label vector); a NULL or NaN
        label raises. Returns (stage, owns, classes, counts, n)."""
        owns = _stage is None
        force = None if self.stage_mode == "auto" else self.stage_mode
        stage = (
            make_stage(df, feature_cols, label_col, force=force)
            if _stage is None
            else _stage
        )
        self.effective_stage_mode_ = stage.mode
        classes, counts = stage.class_stats()
        check_labels(classes, label_col)
        return stage, owns, classes, counts, int(counts.sum())


class ReliefFSelector(_ReliefBase):
    """Distributed ReliefF with the reference's CPU-kernel semantics
    (ReliefF.py:137-220; CPU is the documented oracle, SURVEY.md §2.2)."""

    def __init__(
        self,
        n_features_to_select=0.2,
        n_neighbors: int = 3,
        discrete_limit: int = 10,
        verbose: bool = False,
        stage_mode: str = "auto",
    ) -> None:
        super().__init__(n_features_to_select, discrete_limit, verbose, stage_mode)
        self.n_neighbors = n_neighbors

    def fit(
        self,
        df: DataFrame,
        feature_cols: list[str],
        label_col: str = "label",
        _stage: MatrixStage | None = None,
    ) -> "ReliefFSelector":
        self.feature_cols_ = list(feature_cols)
        p = len(feature_cols)
        self.n_features_in_ = p
        n_select = _resolve_n_select(self.n_features_to_select, p)

        stage, owns, classes, counts, n = self._setup(
            df, feature_cols, label_col, _stage
        )
        try:
            if len(classes) < 2:
                self.feature_importances_ = np.zeros(p, dtype=np.float64)
                self.top_features_ = np.arange(n_select)
                return self
            if self.n_neighbors >= counts.min():
                warnings.warn(
                    f"n_neighbors ({self.n_neighbors}) is greater than or "
                    f"equal to the smallest class size ({counts.min()}).",
                    UserWarning,
                )

            is_disc, ranges = stage.metadata(feature_cols, self.discrete_limit)
            self.is_discrete_ = is_disc
            ranges = ranges.copy()
            ranges[is_disc] = 1.0
            ranges[ranges == 0] = 1.0
            recip = 1.0 / ranges

            class_probs = counts / n
            k = self.n_neighbors
            K = len(classes)

            def prep(X: np.ndarray, y: np.ndarray):
                # ReliefF kernel operates on float32 data (ReliefF.py:398-401)
                Xq = X.astype(np.float32).astype(np.float64)
                y_enc = np.searchsorted(classes, y).astype(np.int32)
                return Xq, y_enc

            def kernel(idx: np.ndarray, ctx) -> np.ndarray:
                Xq, yb = ctx
                acc = np.zeros(p, dtype=np.float64)
                D = _dist_block(Xq[idx], Xq, recip, is_disc).astype(np.float32)
                for bi, i in enumerate(idx):
                    d = D[bi].copy()
                    d[i] = np.inf
                    order = np.argsort(d, kind="stable")
                    lbl = yb[i]
                    olab = yb[order]
                    hits = order[olab == lbl][:k]
                    h_found = len(hits)
                    denom = 1.0 - class_probs[lbl]
                    if denom == 0:
                        denom = 1.0
                    update = np.zeros(p, dtype=np.float64)
                    if h_found > 0:
                        hd = _feature_diffs(Xq[i], Xq[hits], recip, is_disc)
                        update -= hd.sum(axis=0) / h_found
                    miss_sum = np.zeros(p, dtype=np.float64)
                    for c in range(K):
                        if c == lbl:
                            continue
                        mc = order[olab == c][:k]
                        if len(mc):
                            md = _feature_diffs(Xq[i], Xq[mc], recip, is_disc)
                            miss_sum += (class_probs[c] / denom) * md.sum(axis=0)
                    update += miss_sum / k
                    acc += update
                return acc

            scores = _distribute_row_blocks(stage, n, feature_cols, prep, kernel) / n
            self._finalize(scores, n_select)
            return self
        finally:
            if owns:
                stage.cleanup()


class SURFSelector(_ReliefBase):
    """Distributed SURF / SURF* (SURF.py:131-218)."""

    def __init__(
        self,
        n_features_to_select=0.2,
        use_star: bool = False,
        discrete_limit: int = 10,
        verbose: bool = False,
        stage_mode: str = "auto",
    ) -> None:
        super().__init__(n_features_to_select, discrete_limit, verbose, stage_mode)
        self.use_star = use_star

    def fit(
        self,
        df: DataFrame,
        feature_cols: list[str],
        label_col: str = "label",
        _stage: MatrixStage | None = None,
    ) -> "SURFSelector":
        self.feature_cols_ = list(feature_cols)
        p = len(feature_cols)
        self.n_features_in_ = p
        n_select = _resolve_n_select(self.n_features_to_select, p)

        stage, owns, classes, counts, n = self._setup(
            df, feature_cols, label_col, _stage
        )
        try:
            is_disc, ranges = stage.metadata(feature_cols, self.discrete_limit)
            self.is_discrete_ = is_disc
            ranges = ranges.copy()
            ranges[is_disc] = 1.0
            ranges[ranges == 0] = 1.0
            recip = 1.0 / ranges
            use_star = self.use_star

            def prep(X: np.ndarray, y: np.ndarray):
                return X, y

            def kernel(idx: np.ndarray, ctx) -> np.ndarray:
                Xb, yb = ctx
                acc = np.zeros(p, dtype=np.float64)
                D = _dist_block(Xb[idx], Xb, recip, is_disc).astype(np.float32)
                for bi, i in enumerate(idx):
                    d = D[bi].copy()
                    d[i] = 0.0  # self-distance counted as 0 in the mean
                    avg = d.sum() / (len(yb) - 1)
                    diffs = _feature_diffs(Xb[i], Xb, recip, is_disc)
                    hit = yb == yb[i]
                    near = d < avg
                    near[i] = False
                    far = ~near
                    far[i] = False
                    upd = diffs[near & ~hit].sum(axis=0) - diffs[near & hit].sum(axis=0)
                    if use_star:
                        upd += diffs[far & hit].sum(axis=0) - diffs[far & ~hit].sum(axis=0)
                    acc += upd
                return acc

            scores = _distribute_row_blocks(stage, n, feature_cols, prep, kernel) / n
            self._finalize(scores, n_select)
            return self
        finally:
            if owns:
                stage.cleanup()


class MultiSURFSelector(_ReliefBase):
    """Distributed MultiSURF / MultiSURF* (MultiSURF.py:165-253).

    Note the reference divergence reproduced here: feature ranges are NOT
    forced to 1 for discrete features (only zero ranges are), and the data
    dtype is float32 (MultiSURF.py:384-386, 409-412)."""

    def __init__(
        self,
        n_features_to_select=0.2,
        use_star: bool = False,
        discrete_limit: int = 10,
        verbose: bool = False,
        stage_mode: str = "auto",
    ) -> None:
        super().__init__(n_features_to_select, discrete_limit, verbose, stage_mode)
        self.use_star = use_star

    def fit(
        self,
        df: DataFrame,
        feature_cols: list[str],
        label_col: str = "label",
        _stage: MatrixStage | None = None,
    ) -> "MultiSURFSelector":
        self.feature_cols_ = list(feature_cols)
        p = len(feature_cols)
        self.n_features_in_ = p
        n_select = _resolve_n_select(self.n_features_to_select, p)

        stage, owns, classes, counts, n = self._setup(
            df, feature_cols, label_col, _stage
        )
        try:
            is_disc, ranges = stage.metadata(feature_cols, self.discrete_limit)
            self.is_discrete_ = is_disc
            ranges = ranges.copy()
            ranges[ranges == 0] = 1.0  # no discrete override (MultiSURF.py:410-412)
            recip = 1.0 / ranges
            use_star = self.use_star

            def prep(X: np.ndarray, y: np.ndarray):
                # float32 data (MultiSURF.py:384-386)
                return X.astype(np.float32).astype(np.float64), y

            def kernel(idx: np.ndarray, ctx) -> np.ndarray:
                Xb, yb = ctx
                nn = len(yb)
                acc = np.zeros(p, dtype=np.float64)
                D = _dist_block(Xb[idx], Xb, recip, is_disc)
                for bi, i in enumerate(idx):
                    d = D[bi].copy()
                    d[i] = 0.0
                    sum_d = d.sum()
                    sum_d2 = (d * d).sum()
                    mu = sum_d / (nn - 1)
                    var = max(0.0, sum_d2 / (nn - 1) - mu * mu)
                    thresh = mu - 0.5 * np.sqrt(var)
                    diffs = _feature_diffs(Xb[i], Xb, recip, is_disc)
                    hit = yb == yb[i]
                    near = d < thresh
                    near[i] = False
                    nh = near & hit
                    nm = near & ~hit
                    n_hits = int(nh.sum())
                    n_miss = int(nm.sum())
                    hit_diffs = diffs[nh].sum(axis=0)
                    miss_diffs = diffs[nm].sum(axis=0)
                    if use_star:
                        fm = (~near) & (~hit)
                        fm[i] = False
                        miss_diffs -= diffs[fm].sum(axis=0)
                    if n_hits > 0:
                        hit_diffs = hit_diffs / n_hits
                    if n_miss > 0:
                        miss_diffs = miss_diffs / n_miss
                    acc += miss_diffs - hit_diffs
                return acc

            scores = _distribute_row_blocks(stage, n, feature_cols, prep, kernel) / n
            self._finalize(scores, n_select)
            return self
        finally:
            if owns:
                stage.cleanup()
