"""Wide-matrix (array-column) scorer mode.

The reference's published benchmarks run at feature counts no DataFrame
column layout can express (chi2 at p=200,000, benchmarking/testing.py:10-13;
mRMR at p=5,000, benchmarking_mrmr.py:15-18) — Catalyst analysis cost grows
with column count, so beyond a few hundred features the engine switches to
ONE ``array<double>`` column holding the feature vector. Two distribution
axes, matching how the work actually scales:

- **Row-parallel** (any n, p up to millions): sufficient statistics whose
  size is independent of n — the per-class moments ``(K, p)`` and the MI
  relevance histograms ``(p, k, k)`` — accumulated per partition in NumPy
  (vectorized scatter-adds over Arrow batches) and merged by the tree
  reduction in ``_agg.py``, each scorer ONE Spark job (within the
  ``moments`` gate, one Arrow collect with no Python task). This is the
  reference's single-pass kernel (Chi2.py:7-22, mutual_information.py:49-55)
  re-expressed as a partition-parallel reduction. chi2 and Fisher run one
  kernel, :func:`_class_moments` (per-class count and sum, plus the sum of
  squares for Fisher), keyed by label value so no class scan runs first;
  they differ only in their driver finalizer. Arrow batches of wide rows
  are capped at ~8 MB by the session's ``maxBytesPerBatch``
  (``runtime.session.get_spark``), not per call.
- **Pair-parallel** (the reference benchmark regime: n bounded, p large):
  the p×p MI redundancy matrix needs a contingency per feature PAIR —
  p(p−1)/2 of them. :class:`BroadcastMIEngine` holds the coded matrix and
  every request — the full matrix, a relevance vector, a step-wise greedy
  column — is one run of the package's single pair kernel
  (``_agg.pair_job``, also behind CFS redundancy). Within the ``pairs``
  gate (pairs × n pair-cells) it runs in-process over the whole pair
  range, as the reference's ``prange`` over pairs does
  (mutual_information.py:56-63), so a small greedy selection launches no
  job. Above it the matrix is broadcast once and one job's tasks own
  contiguous pair-id ranges (SURVEY.md §3.2 "pair-chunked job"),
  accumulator-free: each task emits only its pairs' MI floats.

Numeric semantics are identical to the narrow-column scorers (shared X∪y
vocabulary per mRMR.py:90, eps placement per mutual_information.py:40-45,
chi2 zero-sum/expected guards per Chi2.py:24-47).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fastselect_spark.selection._agg import (
    LazyBroadcast,
    list_matrix_view,
    pair_job,
    symmetric_from_triu,
    tree_reduce_ndarrays_arrow,
    triu_pair,
)
from fastselect_spark.selection._stats import (
    chi2_sf,
    chi2_stats_from_observed,
    contingency_tables,
    fisher_from_moments,
    log_base,
    mi_tables,
    table_blocks,
)
from fastselect_spark.selection._validate import check_labels
from fastselect_spark.selection.cmim import cmim_loop
from fastselect_spark.selection.jmi import jmi_loop
from fastselect_spark.selection.mi import check_states
from fastselect_spark.selection.mrmr import mrmr_greedy, mrmr_loop

# broadcast budget for the step-wise engine's executor-resident coded matrix
MAX_BROADCAST_BYTES = 4 << 30


def matrix_table(
    spark: SparkSession,
    X: np.ndarray,
    y: np.ndarray,
    n_partitions: int | None = None,
) -> DataFrame:
    """Distribute a NumPy (X, y) pair as ``(id long, features array<double>,
    y double)`` rows — the wide-matrix representation used by benches/tests."""
    n = len(y)
    if n_partitions is None:
        n_partitions = max(spark.sparkContext.defaultParallelism, 2)
    pdf = pd.DataFrame(
        {
            "id": np.arange(n, dtype=np.int64),
            "features": [row for row in np.asarray(X, dtype=np.float64)],
            "y": np.asarray(y, dtype=np.float64),
        }
    )
    return spark.createDataFrame(
        pdf, schema="id long, features array<double>, y double"
    ).repartition(n_partitions)


def _class_moments(
    df: DataFrame,
    features_col: str,
    label_col: str,
    name: str,
    squares: bool,
    validate: bool = False,
) -> tuple[np.ndarray, np.ndarray, np.ndarray | None]:
    """Per-class ``(count (K,), sum (K, p), sum-of-squares (K, p) or None)``
    over an array-column matrix in ONE row-parallel job, classes in
    ascending order — the kernel behind both chi2 and Fisher.

    No class scan: each task keys its partials by the label values it sees
    (``cnt:<label>`` and ``m:<label>``, the stacked sum[/sum-of-squares]
    rows), the tree reduction sums them by name, and the driver orders the
    classes; a NULL/NaN label raises. ``validate`` adds chi2's
    non-negativity flag count (min is not sum-mergeable)."""
    proj = df.select(
        F.col(features_col).alias("features"),
        F.col(label_col).cast("double").alias("y"),
    )

    def partial(batches) -> dict[str, np.ndarray]:
        # Arrow-flat kernel (round-5): X is a ZERO-COPY view over the list
        # column's values buffer — no np.stack 100 MB copy per batch (the
        # round-4 3x within-session drift was allocator churn from exactly
        # those temporaries). Per-class sums are one small one-hot gemm per
        # ~1 MB column chunk, and the sum of squares is taken while the
        # chunk is cache-hot — one effective memory pass (a second pass
        # made Fisher ~1.6x chi2 at p=200k; bandwidth, not flops).
        out: dict[str, np.ndarray] = {}
        neg = 0.0
        for batch in batches:
            if batch.num_rows == 0:
                continue
            Xb, yv = list_matrix_view(batch, "features", "y")
            # + 0.0 folds -0.0 into 0.0: one key per class, as Spark groups
            cls, yb = np.unique(
                np.asarray(yv, dtype=np.float64) + 0.0, return_inverse=True
            )
            nb, p_b = Xb.shape
            onehot = (yb[:, None] == np.arange(len(cls))[None, :]).astype(
                np.float64
            )
            cnt = onehot.sum(axis=0)
            accs = []  # per batch class: its (sum[, sum-of-squares]) rows
            for i, c in enumerate(cls):
                key = repr(float(c))
                if f"cnt:{key}" not in out:
                    out[f"cnt:{key}"] = np.zeros(1, dtype=np.float64)
                    out[f"m:{key}"] = np.zeros((1 + squares, p_b), dtype=np.float64)
                out[f"cnt:{key}"] += cnt[i]
                accs.append(out[f"m:{key}"])
            step = max(1, (1 << 17) // max(1, nb))
            for c0 in range(0, p_b, step):
                blk = Xb[:, c0 : c0 + step]
                g = [onehot.T @ blk]
                if squares:
                    g.append(onehot.T @ (blk * blk))
                for i, acc in enumerate(accs):
                    for j, gj in enumerate(g):
                        acc[j, c0 : c0 + step] += gj[i]
                if validate and blk.min() < 0:
                    neg += 1.0
        if validate and out:
            out["neg"] = np.array([neg])
        return out

    merged = tree_reduce_ndarrays_arrow(proj, partial)
    keys = [k[4:] for k in merged if k.startswith("cnt:")]
    if not keys:
        raise ValueError(f"{name}: input DataFrame is empty")
    check_labels([float(k) for k in keys], label_col)
    if validate and merged["neg"][0] > 0:
        raise ValueError("Input matrix X must contain non-negative values.")
    keys.sort(key=float)
    n_c = np.concatenate([merged[f"cnt:{k}"] for k in keys])
    m = np.stack([merged[f"m:{k}"] for k in keys])  # (K, 1 + squares, p)
    return n_c, m[:, 0], m[:, 1] if squares else None


def chi2_matrix(
    df: DataFrame,
    features_col: str = "features",
    label_col: str = "y",
    validate: bool = True,
) -> tuple[np.ndarray, np.ndarray]:
    """chi2 over an array-column feature matrix: ONE row-parallel pass
    (:func:`_class_moments`) accumulating the value-weighted observed
    matrix (K, p) + class counts; driver finalization identical to the
    narrow-column scorer."""
    class_freqs, obs, _ = _class_moments(
        df, features_col, label_col, "chi2_matrix", squares=False, validate=validate
    )
    p = obs.shape[1]
    n_classes = len(class_freqs)
    if n_classes < 2:
        return np.zeros(p, dtype=np.float64), np.ones(p, dtype=np.float64)
    stats = chi2_stats_from_observed(obs, class_freqs, class_freqs.sum())
    return stats, chi2_sf(stats, dof=n_classes - 1)


def fisher_matrix(
    df: DataFrame,
    features_col: str = "features",
    label_col: str = "y",
) -> np.ndarray:
    """Fisher score over an array-column matrix: the chi2 pass
    (:func:`_class_moments`) with per-class sums of squares, finalized by
    the narrow scorer's own ``_stats.fisher_from_moments`` (between-class
    variance over pooled within-class population variance; +inf on
    zero-within with differing means, 0 when constant)."""
    return fisher_from_moments(
        *_class_moments(df, features_col, label_col, "fisher_matrix", squares=True)
    )


def mi_relevance_matrix(
    df: DataFrame,
    n_states: int,
    features_col: str = "features",
    label_col: str = "y",
    unit: str = "bit",
) -> np.ndarray:
    """relevance[f] = I(X_f; y) for every feature of the array column, in one
    row-parallel pass. Input must already be integer codes in
    ``[0, n_states)`` (the reference's `_validate_discrete` contract,
    mutual_information.py:13-22); the accumulator is the full (p, k, k)
    joint-histogram tensor — independent of n, so this scales to any row
    count."""
    check_states(n_states)
    k = int(n_states)
    proj = df.select(
        F.col(features_col).alias("features"),
        F.col(label_col).cast("double").alias("y"),
    )

    def partial(batches) -> dict[str, np.ndarray]:
        # Arrow-flat kernel: the int64 cast happens per ~1 MB column chunk
        # of the zero-copy float64 view, never as a whole-batch copy.
        hist, bad = None, 0
        for batch in batches:
            if batch.num_rows == 0:
                continue
            Xv, yv = list_matrix_view(batch, "features", "y")
            yf = np.asarray(yv, dtype=np.float64)  # a NULL label arrives as NaN
            bad += int(np.isnan(yf).any())  # raised on the driver
            yb = np.nan_to_num(yf).astype(np.int64)  # truncates, as a cast to long
            if (yb < 0).any() or (yb >= k).any():
                raise ValueError("codes out of [0, n_states) for MI relevance")
            nb, p = Xv.shape
            if hist is None:
                hist = np.zeros((p, k, k), dtype=np.int64)
            step = max(1, (1 << 17) // max(1, nb))
            for c0 in range(0, p, step):
                Xb = Xv[:, c0 : c0 + step].astype(np.int64)
                if (Xb < 0).any() or (Xb >= k).any():
                    raise ValueError("codes out of [0, n_states) for MI relevance")
                hist[c0 : c0 + step] += contingency_tables(Xb.T, yb, k, k)
        return {"hist": hist, "bad": np.array([bad])} if hist is not None else {}

    merged = tree_reduce_ndarrays_arrow(proj, partial)
    if "hist" not in merged:
        raise ValueError("mi_relevance_matrix: input DataFrame is empty")
    if merged["bad"][0]:
        check_labels([None], label_col)
    return mi_tables(merged["hist"], unit)


def _pair_mi_block(Xt, P, k, unit):
    """I(X_i; X_j) for a block of pairs over the SHARED 0..k-1 code space.

    ``Xt`` is the transposed (p+1, n) coded matrix with the label as its
    last row, ``P`` an (m, 2) int64 pair array; a second index of p is a
    relevance pair (f, label). Returns the (m,) MI vector. The full p×p
    matrix and the step-wise columns are both jobs of
    :class:`BroadcastMIEngine` over this kernel, so lazy columns are
    bit-identical to full-matrix columns by construction."""
    return mi_tables(contingency_tables(Xt[P[:, 0]], Xt[P[:, 1]], k, k), unit)


def _joint_mi_block(Xt, P, k, unit):
    """Vectorized I((X_i, X_j); Y) for a block of pairs — the JMI/CMIM
    statistic (Yang & Moody 1999). The fused (x_i, x_j) pair state is one
    axis (k² states in the shared code space), the label the other."""
    fused = Xt[P[:, 0]] * k + Xt[P[:, 1]]
    return mi_tables(contingency_tables(fused, Xt[-1], k * k, k), unit)


def mi_matrices_broadcast(
    spark: SparkSession,
    X_codes: np.ndarray,
    y_codes: np.ndarray,
    unit: str = "bit",
    compute_redundancy: bool = True,
) -> tuple[np.ndarray, np.ndarray]:
    """(relevance[p], redundancy[p, p]) as ONE :func:`pair_job` of
    :class:`BroadcastMIEngine` — the reference-benchmark regime (n bounded,
    p large; p(p−1)/2 contingencies). Pair ids below p are the relevance
    pairs (f, label); the rest walk the upper triangle row-major through
    :func:`triu_pair`. Codes must be a shared 0..k-1 integer space (use
    :func:`encode_shared` first)."""
    with BroadcastMIEngine(spark, X_codes, y_codes, unit=unit) as engine:
        p = engine.p

        def pairs_of(ids: np.ndarray) -> np.ndarray:
            out = np.full((len(ids), 2), p, dtype=np.int64)
            rel = ids < p
            out[rel, 0] = ids[rel]
            out[~rel, 0], out[~rel, 1] = triu_pair(ids[~rel] - p, p)
            return out

        n_red = p * (p - 1) // 2 if compute_redundancy else 0
        mi = engine._run(p + n_red, pairs_of, joint=False, tasks_per_core=4)
    relevance = mi[:p].copy()
    if not compute_redundancy:
        return relevance, np.zeros((p, p), dtype=np.float64)
    return relevance, symmetric_from_triu(mi[p:], p)


def encode_shared(X: np.ndarray, y: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Dense-encode X and y against the sorted shared X∪y vocabulary —
    exactly the reference's `_encode_data_numba` + np.unique composition
    (mRMR.py:9-27, 90)."""
    vocab = np.unique(np.concatenate([np.unique(X), np.unique(y)]))
    return (
        np.searchsorted(vocab, X).astype(np.int64),
        np.searchsorted(vocab, y).astype(np.int64),
        vocab,
    )


class BroadcastMIEngine:
    """Score-on-demand MI engine: every request is one :func:`pair_job`
    over the block kernels (:func:`_pair_mi_block` /
    :func:`_joint_mi_block`) on the transposed coded matrix and the labels.
    A request within the ``pairs`` gate runs in-process on the driver's
    arrays; the first one beyond it broadcasts them ONCE (a
    :class:`LazyBroadcast`) for that and every later executor request.

    Greedy selectors (mRMR, JMI, CMIM) never need the full p×p pair
    statistics — each step only scores the remaining candidates against the
    feature just selected, so the whole selection touches O(p·K) pairs, not
    O(p²). At the reference's mRMR benchmark config (n=1000, p=5000, K=10)
    this replaces 12.5M pair contingencies with ~50k. The full matrix
    (:func:`mi_matrices_broadcast`) is one pair job of the same engine, so lazy
    columns are bit-identical to full-matrix columns."""

    def __init__(
        self,
        spark: SparkSession,
        X_codes: np.ndarray,
        y_codes: np.ndarray,
        unit: str = "bit",
    ) -> None:
        X_codes = np.ascontiguousarray(np.asarray(X_codes, dtype=np.int64))
        y_codes = np.asarray(y_codes, dtype=np.int64)
        self.n, self.p = X_codes.shape
        self.k = int(max(X_codes.max(initial=0), y_codes.max(initial=0))) + 1
        check_states(self.k)
        # wide-matrix regime contract: beyond the pairs gate the coded
        # matrix is broadcast once to every executor. Refuse clearly past
        # the budget instead of letting the JVM OOM mid-broadcast — at that
        # size the row-parallel path (mi_relevance_matrix) or the DataFrame
        # cube selectors are the right tool, not a driver-resident matrix.
        if X_codes.nbytes > MAX_BROADCAST_BYTES:
            raise ValueError(
                f"coded matrix is {X_codes.nbytes / (1 << 30):.1f} GiB "
                f"(> {MAX_BROADCAST_BYTES / (1 << 30):.0f} GiB); the "
                "broadcast step-wise engine is for the wide-matrix "
                "regime (n bounded). Use mi_relevance_matrix / the "
                "DataFrame selectors for row-scale inputs."
            )
        self.spark = spark
        log_base(unit)  # an unknown unit raises here, not in a task
        self.unit = unit
        # held TRANSPOSED (p+1, n), the label last: a pair gather is then
        # two contiguous row copies instead of a strided column walk (one
        # cache miss per element — measured ~10x slower at p=5000)
        self._data = LazyBroadcast(spark, np.vstack([X_codes.T, y_codes]))

    def _run(
        self, n_pairs: int, pairs_of, joint: bool, tasks_per_core: int
    ) -> np.ndarray:
        """MI of pair ids ``0..n_pairs-1`` in one :func:`pair_job`;
        ``pairs_of(ids)`` maps ids to (m, 2) pair rows wherever it runs."""
        k, unit, n = self.k, self.unit, self.n
        fn = _joint_mi_block if joint else _pair_mi_block
        # the joint contingency is k× larger (k²·k cells)
        cells = k * k * (k if joint else 1)

        def score(ids: np.ndarray, Xt) -> np.ndarray:
            out = np.empty(len(ids), dtype=np.float64)
            for b in table_blocks(len(ids), cells, n):
                out[b] = fn(Xt, pairs_of(ids[b]), k, unit)
            return out

        return pair_job(self.spark, n_pairs, score, self._data, self.n, tasks_per_core)

    def _column(self, s: int, cand: np.ndarray, joint: bool) -> np.ndarray:
        """One greedy-step :func:`pair_job` over (min, max)-oriented pairs;
        1 task per core when it runs distributed."""
        pairs = self._canonical(s, cand)
        return self._run(len(pairs), lambda ids: pairs[ids], joint, tasks_per_core=1)

    def relevance(self) -> np.ndarray:
        """I(X_f; Y) for every feature — one :func:`pair_job`, p pairs."""

        p = self.p

        def pairs_of(ids: np.ndarray) -> np.ndarray:
            return np.stack([ids, np.full(len(ids), p, np.int64)], axis=1)

        return self._run(p, pairs_of, joint=False, tasks_per_core=1)

    @staticmethod
    def _canonical(s: int, cand: np.ndarray) -> np.ndarray:
        """(min, max) pair orientation — MI is symmetric in exact math, but
        the full-matrix path builds every (i, j) table with i < j; matching
        the orientation keeps lazy columns BIT-identical to full columns
        (a transposed contingency sums in a different order: ~1 ulp)."""
        cand = np.asarray(cand, dtype=np.int64)
        other = np.full(len(cand), s, np.int64)
        return np.stack(
            [np.minimum(cand, other), np.maximum(cand, other)], axis=1
        )

    def mi_column(self, s: int, cand: np.ndarray) -> np.ndarray:
        """I(X_f; X_s) for f in ``cand`` (mRMR redundancy column)."""
        return self._column(s, cand, joint=False)

    def joint_mi_column(self, s: int, cand: np.ndarray) -> np.ndarray:
        """I((X_f, X_s); Y) for f in ``cand`` (JMI/CMIM column)."""
        return self._column(s, cand, joint=True)

    def close(self) -> None:
        self._data.destroy()

    def __enter__(self) -> "BroadcastMIEngine":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


# above this many feature pairs the full p×p redundancy matrix costs more
# kernel time than K step-wise columns: O(p²) contingencies against O(p·K).
# Beyond the "pairs" gate each column is also a job round-trip (~0.1-0.3 s
# on warm workers); within it no step launches one. The measured crossover
# is well below 2M pairs at the bench configs, but the full path keeps its
# exact-matrix return contract
_STEPWISE_PAIR_THRESHOLD = 2_000_000


def mrmr_select_matrix(
    spark: SparkSession,
    X: np.ndarray,
    y: np.ndarray,
    n_select: int,
    method: str = "MID",
    unit: str = "bit",
    strategy: str = "auto",
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """mRMR at the reference's benchmark scale: shared-vocabulary encode,
    pair-parallel MI, driver greedy loop (mRMR.py:102-131 exact semantics).
    Returns (selected_idx, relevance, redundancy).

    ``strategy``: ``'full'`` materializes the p×p redundancy matrix in one
    pair job; ``'stepwise'`` computes only the O(p·K) candidate-vs-selected
    columns (bit-identical selection — same kernel, and the greedy loop
    never reads any other entry); ``'auto'`` picks stepwise once p(p-1)/2
    exceeds 2M pairs. Stepwise returns a PARTIAL redundancy matrix: only
    the computed (candidate, selected) columns are filled, all other
    entries are 0."""
    p = X.shape[1]
    if strategy == "auto":
        strategy = (
            "stepwise" if p * (p - 1) // 2 > _STEPWISE_PAIR_THRESHOLD else "full"
        )
    if strategy not in ("full", "stepwise"):
        raise ValueError("strategy must be 'auto', 'full' or 'stepwise'")
    Xc, yc, _ = encode_shared(X, y)
    if strategy == "full":
        relevance, redundancy = mi_matrices_broadcast(spark, Xc, yc, unit=unit)
        picked = mrmr_greedy(relevance, redundancy, n_select, method)
        return picked, relevance, redundancy
    with BroadcastMIEngine(spark, Xc, yc, unit=unit) as engine:
        relevance = engine.relevance()
        redundancy = np.zeros((p, p), dtype=np.float64)

        def column(s: int, cand: np.ndarray) -> np.ndarray:
            col = engine.mi_column(s, cand)
            redundancy[cand, s] = col
            redundancy[s, cand] = col
            return col

        picked = mrmr_loop(relevance, column, n_select, method)
        return picked, relevance, redundancy


def jmi_select_matrix(
    spark: SparkSession,
    X: np.ndarray,
    y: np.ndarray,
    n_select: int,
    unit: str = "bit",
) -> tuple[list[int], np.ndarray]:
    """JMI greedy selection in the wide-matrix regime (n bounded, p large).

    Same criterion and loop as :func:`fastselect_spark.selection.jmi.jmi_select`
    (J(f) = Σ_{s∈S} I((X_f, X_s); Y), seed = argmax I(X_f; Y), first-max
    tie-break) but the cumulative score is built from step-wise broadcast
    joint-MI columns — O(p·K) pair contingencies instead of the DataFrame
    path's O(p²) cube/melt tables. Returns (selected_indices, relevance)."""
    Xc, yc, _ = encode_shared(X, y)
    with BroadcastMIEngine(spark, Xc, yc, unit=unit) as engine:
        relevance = engine.relevance()
        return jmi_loop(relevance, engine.joint_mi_column, n_select), relevance


def cmim_select_matrix(
    spark: SparkSession,
    X: np.ndarray,
    y: np.ndarray,
    n_select: int,
    unit: str = "bit",
) -> tuple[list[int], np.ndarray]:
    """CMIM greedy selection in the wide-matrix regime.

    Criterion, tie-breaks and loop match
    :func:`fastselect_spark.selection.cmim.cmim_select`
    (J(f) = min_{s∈S} I(X_f; Y | X_s) with the chain-rule identity
    I(f;Y|s) = I((f,s);Y) − I(s;Y)); the running min needs exactly one new
    joint-MI column per step. Returns (selected_indices, relevance)."""
    Xc, yc, _ = encode_shared(X, y)
    with BroadcastMIEngine(spark, Xc, yc, unit=unit) as engine:
        relevance = engine.relevance()
        return cmim_loop(relevance, engine.joint_mi_column, n_select), relevance
