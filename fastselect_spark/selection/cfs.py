"""Correlation-based Feature Selection (reference O9–O10,
/root/reference/src/fast_select/CFS.py:246-429).

Distributed part: discretize/encode columns (uniform binning from one
min/max agg; per-column distinct vocab for non-float columns) and build ALL
feature-class + feature-feature joint histograms in one vectorized pass
(one int64 ``_stats.contingency_tables`` stack per table shape, merged by
the tree reduction). Driver part: symmetrical uncertainty (one
``_stats.su_tables`` call per table shape, on both stages and both pair-job
paths), best-first search with the 0.1 relevance floor,
redundancy pruning, merit — exactly the reference's search semantics
(CFS.py:114-162, 106-112, 11-23).

Reference numeric details reproduced:
- continuous = "column dtype is floating", not cardinality (CFS.py:320);
- uniform binning = sklearn KBinsDiscretizer semantics: edges
  linspace(min, max, n_bins+1), zero-width bins (<=1e-8) removed, codes via
  searchsorted(edges[1:-1], x, side='right');
- n_states for binned columns is n_bins regardless of occupancy;
- CFS's MI variant uses log2 with p_x/p_y > eps guards and NO +eps in the
  denominator (CFS.py:44-64) — different from mutual_information.py;
- SU = 2*I/(H_x+H_y), 0 when H_x+H_y < 1e-12;
- selected indices sorted ascending; merit of the empty set = 0;
- 'quantile' strategy uses exact quantiles at test scale (approxQuantile
  with relativeError=0);
- 'kmeans' strategy reimplements sklearn KBinsDiscretizer(strategy='kmeans')
  semantics: deterministic uniform-midpoint init, n_init=1, 1-D Lloyd
  iterations until the squared center shift <= tol*var (tol=1e-4), edges =
  midpoints of the sorted final centers. Distributed: every Lloyd iteration
  is ONE pass computing per-cluster (count, sum) for ALL continuous columns
  simultaneously. Empty clusters relocate to the sample farthest from
  its assigned center (sklearn _relocate_empty_clusters semantics; ties
  in distance break deterministically by larger value) via one tiny
  TakeOrdered job per affected column — rare in 1-D sorted-init Lloyd.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fastselect_spark.runtime import gates
from fastselect_spark.selection._agg import (
    LazyBroadcast,
    pair_job,
    symmetric_from_triu,
    tree_reduce_ndarrays,
    triu_pair,
)
from fastselect_spark.selection._stats import (
    contingency_tables,
    su_tables,
    table_blocks,
)
from fastselect_spark.selection._validate import validate_transform_input
from fastselect_spark.selection.mi import _label_and_pairs, _split_pairs


def cfs_merit(sum_r_cf: float, k: int, sum_r_ff: float) -> float:
    if k == 0:
        return 0.0
    r_cf_avg = sum_r_cf / k
    r_ff_avg = (2.0 * sum_r_ff) / (k * (k - 1)) if k > 1 else 0.0
    denom = math.sqrt(k + k * (k - 1) * r_ff_avg)
    return (k * r_cf_avg / denom) if denom > 1e-12 else 0.0


def best_first_search(
    n_features: int, r_cf: np.ndarray, r_ff: np.ndarray, min_r_cf: float = 0.1
) -> list[int]:
    """Greedy forward hill-climb maximizing merit (CFS.py:114-162)."""
    first = int(np.argmax(r_cf))
    if r_cf[first] < min_r_cf:
        return []
    selected = [first]
    current_best = float(r_cf[first])
    while True:
        best_i, best_merit = -1, current_best
        for i in range(n_features):
            if i in selected or r_cf[i] < min_r_cf:
                continue
            k = len(selected) + 1
            sum_r_cf = float(r_cf[selected].sum() + r_cf[i])
            sum_r_ff = 0.0
            for ai, a in enumerate(selected):
                for b in selected[ai + 1 :]:
                    sum_r_ff += r_ff[a, b]
            for sel in selected:
                sum_r_ff += r_ff[i, sel]
            merit = cfs_merit(sum_r_cf, k, sum_r_ff)
            if merit > best_merit:
                best_merit, best_i = merit, i
        if best_i != -1:
            selected.append(best_i)
            current_best = best_merit
        else:
            break
    return selected


def prune_redundant(selected, r_cf, r_ff) -> list[int]:
    """Drop features whose correlation to a kept feature >= their own
    relevance, visiting in descending relevance (CFS.py:106-112)."""
    kept: list[int] = []
    for idx in sorted(selected, key=lambda i: -r_cf[i]):
        if not any(r_ff[idx, j] >= r_cf[idx] for j in kept):
            kept.append(idx)
    return kept


def kmeans_bin_edges(
    df: DataFrame,
    cols: list[str],
    n_bins: int,
    mins: dict[str, float],
    maxs: dict[str, float],
    tol: float = 1e-4,
    max_iter: int = 300,
) -> dict[str, np.ndarray]:
    """1-D k-means bin edges per column, sklearn KBinsDiscretizer
    (strategy='kmeans') semantics: init = midpoints of n_bins uniform-width
    intervals, Lloyd's updates until the summed squared center shift is
    <= tol * Var(col), edges = midpoints between sorted final centers
    bracketed by [min, max]. Each Lloyd iteration runs as ONE distributed
    pass accumulating per-cluster (count, sum) for every column at once."""
    proj = df.select(*[F.col(c).cast("double") for c in cols])
    stats = df.agg(
        *[F.var_pop(F.col(c).cast("double")).alias(c) for c in cols]
    ).collect()[0]
    tol_abs = {c: tol * float(stats[c] or 0.0) for c in cols}

    centers: dict[str, np.ndarray] = {}
    for c in cols:
        e = np.linspace(mins[c], maxs[c], n_bins + 1)
        centers[c] = (e[:-1] + e[1:]) / 2.0
    active = {c for c in cols if maxs[c] > mins[c]}

    for _ in range(max_iter):
        if not active:
            break
        cur = {c: centers[c].copy() for c in active}
        act = sorted(active)

        def partial(batches: Iterator[pd.DataFrame]) -> dict[str, np.ndarray]:
            cnt = np.zeros((len(act), n_bins), dtype=np.int64)
            s = np.zeros((len(act), n_bins), dtype=np.float64)
            for pdf in batches:
                if pdf.empty:
                    continue
                for ci, c in enumerate(act):
                    x = pdf[c].to_numpy(dtype=np.float64)
                    # nearest-CENTER assignment (first-min index on ties,
                    # matching sklearn's dense argmin): centers can be
                    # UNSORTED after an empty-cluster relocation, so the
                    # sorted-midpoint searchsorted shortcut is invalid here
                    a = np.abs(x[:, None] - cur[c][None, :]).argmin(axis=1)
                    cnt[ci] += np.bincount(a, minlength=n_bins)
                    s[ci] += np.bincount(a, weights=x, minlength=n_bins)
            return {"cnt": cnt, "s": s}

        merged = tree_reduce_ndarrays(proj.select(*act), partial)
        done = set()
        for ci, c in enumerate(act):
            cnt, s = merged["cnt"][ci].copy(), merged["s"][ci].copy()
            empty = np.where(cnt == 0)[0]
            reloc: dict[int, float] = {}
            if len(empty):
                # sklearn KMeans empty-cluster relocation (KBinsDiscretizer
                # strategy='kmeans' runs full KMeans): each empty cluster's
                # center moves to a sample FARTHEST from its assigned
                # center, and that sample leaves its donor cluster's stats
                # (sklearn _relocate_empty_clusters_dense). Ties in
                # distance break by larger value (sklearn's argpartition
                # order is arbitrary there; this pin is deterministic).
                # Empties are rare in 1-D sorted-init Lloyd, so the extra
                # top-E TakeOrdered job per affected column is off the
                # hot path.
                dexpr = F.least(
                    *[
                        (F.col(c) - F.lit(float(ct))) ** 2
                        for ct in cur[c]
                    ]
                )
                cand = (
                    proj.select(F.col(c).alias("x"), dexpr.alias("d"))
                    .orderBy(F.desc("d"), F.desc("x"))
                    .limit(int(len(empty)))
                    .collect()
                )
                for cluster_id, row in zip(empty, cand):
                    x = float(row["x"])
                    donor = int(np.abs(x - cur[c]).argmin())
                    cnt[donor] -= 1
                    s[donor] -= x
                    reloc[int(cluster_id)] = x
            new = np.where(cnt > 0, s / np.maximum(cnt, 1), cur[c])
            for cluster_id, x in reloc.items():
                new[cluster_id] = x
            shift = float(((new - cur[c]) ** 2).sum())
            centers[c] = new
            if shift <= tol_abs[c]:
                done.add(c)
        active -= done

    edges: dict[str, np.ndarray] = {}
    for c in cols:
        ctr = np.sort(centers[c])
        e = np.concatenate([[mins[c]], (ctr[:-1] + ctr[1:]) / 2.0, [maxs[c]]])
        edges[c] = e
    return edges


def _shape_groups(ns: np.ndarray, I: np.ndarray, J: np.ndarray) -> dict:
    """{(k_i, k_j): positions t} of the row pairs (I[t], J[t]) by the shape
    of their table, row r having ``ns[r]`` states. Each shape is stacked
    and finalized on its own: zero-padding a table to a larger shape
    changes its summation order, hence its SU bits."""
    ki, kj = ns[I], ns[J]
    return {
        (a, b): np.flatnonzero((ki == a) & (kj == b))
        for a, b in sorted(set(zip(ki.tolist(), kj.tolist())))
    }


def _count_tables(groups: dict, I: np.ndarray, J: np.ndarray, code_rows) -> dict:
    """(k_i, k_j) -> int64 count stack of the joint tables of the row
    pairs (I[t], J[t]) of ``groups``, summed over an iterable of (rows, n)
    code matrices: one :func:`contingency_tables` call per block of one
    shape."""
    acc = {
        (a, b): np.zeros((len(pos), a, b), dtype=np.int64)
        for (a, b), pos in groups.items()
    }
    for Xt in code_rows:
        for (a, b), pos in groups.items():
            for blk in table_blocks(len(pos), a * b, Xt.shape[1]):
                acc[a, b][blk] += contingency_tables(
                    Xt[I[pos[blk]]], Xt[J[pos[blk]]], a, b
                )
    return acc


def _su_of(groups: dict, tables: dict, m: int) -> np.ndarray:
    """SU of ``m`` pair tables from their per-shape stacks: one
    :func:`su_tables` call per shape."""
    su = np.empty(m, dtype=np.float64)
    for key, pos in groups.items():
        su[pos] = su_tables(tables[key])
    return su


def _su_pairs(Xt: np.ndarray, ns: np.ndarray, I: np.ndarray, J: np.ndarray):
    """SU of the code-row pairs (I[t], J[t]), row r having ``ns[r]``
    states."""
    groups = _shape_groups(ns, I, J)
    return _su_of(groups, _count_tables(groups, I, J, [Xt]), len(I))


def _su_redundancy_broadcast(spark, Xt: np.ndarray, ns: np.ndarray, p: int) -> np.ndarray:
    """(p, p) symmetrical-uncertainty redundancy of the first p rows of the
    (rows, n) code matrix ``Xt`` as one :func:`pair_job` over the upper
    triangle — the p-large diet for the redundancy pass (the one-pass
    cube's ff accumulator is Σ k_i·k_j over all p(p−1)/2 pairs: ~100 MB
    per partition at p=500, allocated AND tree-merged by every worker).
    Within the ``pairs`` gate the kernel runs in-process on the coded
    matrix; beyond it the matrix is broadcast once, each task decodes its
    pair ids with :func:`triu_pair` and ships back only their SU floats,
    and the broadcast is released even when the job raises. Each pair's
    integer table is identical to the cube path's (counts are
    partition-invariant) and both paths finalize it with :func:`su_tables`
    at its own shape, which gives a table the same bits at any position of
    any stack — so the selection cannot differ between the two stages or
    the two gate paths."""

    def score(ids: np.ndarray, data) -> np.ndarray:
        return _su_pairs(*data, *triu_pair(ids, p))

    with LazyBroadcast(spark, (Xt, ns)) as data:
        su = pair_job(spark, p * (p - 1) // 2, score, data, Xt.shape[1], tasks_per_core=4)
    return symmetric_from_triu(su, p)


class CFSSelector:
    def __init__(
        self, n_bins: int = 10, strategy: str = "uniform", stage_mode: str = "auto"
    ) -> None:
        if strategy not in ("uniform", "quantile", "kmeans"):
            raise ValueError(
                "strategy must be 'uniform', 'quantile', or 'kmeans'"
            )
        if stage_mode not in ("auto", "small", "staged"):
            raise ValueError(
                f"stage_mode must be 'auto', 'small' or 'staged', got {stage_mode!r}"
            )
        self.n_bins = n_bins
        self.strategy = strategy
        self.stage_mode = stage_mode

    def fit(
        self, df: DataFrame, feature_cols: list[str], label_col: str = "label"
    ) -> "CFSSelector":
        self.feature_cols_ = list(feature_cols)
        p = len(feature_cols)
        self.n_features_in_ = p

        # --- column typing: floating dtype => binned; else unique-coded ---
        is_cont = np.array(
            [
                isinstance(df.schema[c].dataType, (T.FloatType, T.DoubleType))
                for c in feature_cols
            ]
        )

        proj = df.select(
            *[F.col(c).cast("double") for c in feature_cols],
            F.col(label_col).cast("double"),
        )

        # --- stage gate (decided FIRST so metadata can come off the
        # collected matrix): a collected coded matrix scores pairs from a
        # broadcast, and its per-column metadata (min/max, vocabularies)
        # is free instead of a p-branch min/max agg plus a p-branch
        # collect_set agg (wide multi-branch aggs cost seconds of codegen
        # alone). Beyond the gate the n-independent one-pass cube is the
        # only row-scalable option; its pair-table stacks, Σ k_i·k_j cells
        # over p(p−1)/2 pairs, are the documented cost.
        use_small = (
            gates.use_driver(proj, "cfs")
            if self.stage_mode == "auto"
            else self.stage_mode == "small"
        )
        self.effective_stage_mode_ = "small" if use_small else "staged"
        arr: np.ndarray | None = None
        if use_small:
            tbl = proj.toArrow()
            arr = np.column_stack(
                [
                    tbl.column(i).to_numpy(zero_copy_only=False)
                    for i in range(p + 1)
                ]
            ).astype(np.float64)

        # bin edges for continuous columns
        edges: dict[int, np.ndarray] = {}
        cont_idx = np.where(is_cont)[0]
        if len(cont_idx):
            if self.strategy in ("uniform", "kmeans"):
                if arr is not None:
                    mns = {
                        feature_cols[i]: float(np.min(arr[:, i])) for i in cont_idx
                    }
                    mxs = {
                        feature_cols[i]: float(np.max(arr[:, i])) for i in cont_idx
                    }
                else:
                    aggs = []
                    for i in cont_idx:
                        c = feature_cols[i]
                        aggs += [
                            F.min(c).alias(f"__mn_{c}"),
                            F.max(c).alias(f"__mx_{c}"),
                        ]
                    row = df.agg(*aggs).collect()[0]
                    mns = {
                        feature_cols[i]: float(row[f"__mn_{feature_cols[i]}"])
                        for i in cont_idx
                    }
                    mxs = {
                        feature_cols[i]: float(row[f"__mx_{feature_cols[i]}"])
                        for i in cont_idx
                    }
                if self.strategy == "uniform":
                    for i in cont_idx:
                        c = feature_cols[i]
                        e = np.linspace(mns[c], mxs[c], self.n_bins + 1)
                        # sklearn removes zero-width bins (<=1e-8)
                        mask = np.ediff1d(e, to_begin=np.inf) > 1e-8
                        edges[i] = e[mask]
                else:
                    cols = [feature_cols[i] for i in cont_idx]
                    kme = kmeans_bin_edges(df, cols, self.n_bins, mns, mxs)
                    for i in cont_idx:
                        e = kme[feature_cols[i]]
                        mask = np.ediff1d(e, to_begin=np.inf) > 1e-8
                        edges[i] = e[mask]
            else:  # exact quantiles (relativeError=0) — parity-scale only
                for i in cont_idx:
                    c = feature_cols[i]
                    qs = df.stat.approxQuantile(
                        c, list(np.linspace(0, 1, self.n_bins + 1)), 0.0
                    )
                    e = np.array(qs)
                    mask = np.ediff1d(e, to_begin=np.inf) > 1e-8
                    edges[i] = e[mask]

        # vocab for discrete columns (np.unique of a collected column and
        # np.unique of a collect_set result are the same sorted doubles)
        vocabs: dict[int, np.ndarray] = {}
        disc_idx = np.where(~is_cont)[0]
        if len(disc_idx):
            if arr is not None:
                for i in disc_idx:
                    vocabs[i] = np.unique(arr[:, i])
            else:
                row = df.agg(
                    *[
                        F.collect_set(F.col(feature_cols[i]).cast("double")).alias(
                            feature_cols[i]
                        )
                        for i in disc_idx
                    ]
                ).collect()[0]
                for i in disc_idx:
                    vocabs[i] = np.unique(
                        np.asarray(row[feature_cols[i]], dtype=np.float64)
                    )

        if arr is not None:
            y_vocab = np.unique(arr[:, p])
        else:
            y_vocab = np.unique(
                np.asarray(
                    df.agg(F.collect_set(F.col(label_col).cast("double")))
                    .collect()[0][0],
                    dtype=np.float64,
                )
            )
        n_states = np.empty(p, dtype=np.int64)
        for i in range(p):
            n_states[i] = self.n_bins if is_cont[i] else len(vocabs[i])
        n_y = len(y_vocab)

        def encode_rows(arr: np.ndarray) -> np.ndarray:
            """(n, p+1) raw float64 -> (p+1, n) int64 code rows, the label
            last (it has ``n_y`` states) — the single coding rule shared by
            both stages, so their integer contingency tables (and hence
            every SU value) are identical."""
            Xt = np.empty((p + 1, len(arr)), dtype=np.int64)
            for i in range(p):
                if is_cont[i]:
                    e = edges[i]
                    Xt[i] = np.clip(
                        np.searchsorted(e[1:-1], arr[:, i], side="right"),
                        0,
                        max(len(e) - 2, 0),
                    )
                else:
                    Xt[i] = np.searchsorted(vocabs[i], arr[:, i])
            Xt[p] = np.searchsorted(y_vocab, arr[:, p])
            return Xt

        ns = np.append(n_states, n_y)
        if use_small:
            Xt = encode_rows(arr)
            r_cf = _su_pairs(Xt, ns, np.arange(p), np.full(p, p))
            if p > 1:
                r_ff = _su_redundancy_broadcast(df.sparkSession, Xt, ns, p)
            else:
                r_ff = np.zeros((p, p), dtype=np.float64)
        else:
            # --- n-scalable cube: one count stack per table shape ---
            I, J = _label_and_pairs(p, True)
            groups = _shape_groups(ns, I, J)

            def partial(batches: Iterator[pd.DataFrame]) -> dict[str, np.ndarray]:
                code_rows = (
                    encode_rows(pdf.to_numpy(dtype=np.float64))
                    for pdf in batches
                    if not pdf.empty
                )
                acc = _count_tables(groups, I, J, code_rows)
                return {f"{a}x{b}": T for (a, b), T in acc.items()}

            merged = tree_reduce_ndarrays(proj, partial)
            tables = {(a, b): merged[f"{a}x{b}"] for a, b in groups}
            su = _su_of(groups, tables, len(I))
            r_cf, r_ff = _split_pairs(su, p, True)

        self.r_cf_ = r_cf
        self.r_ff_ = r_ff
        selected = sorted(best_first_search(p, r_cf, r_ff))
        selected = sorted(prune_redundant(selected, r_cf, r_ff))
        self.selected_indices_ = np.array(selected, dtype=int)
        self.support_mask_ = np.zeros(p, dtype=bool)
        if selected:
            self.support_mask_[self.selected_indices_] = True
        k = len(selected)
        if k == 0:
            self.merit_ = 0.0
        else:
            sum_r_cf = float(r_cf[self.selected_indices_].sum())
            sub = r_ff[np.ix_(self.selected_indices_, self.selected_indices_)]
            sum_r_ff = float(np.triu(sub, k=1).sum())
            self.merit_ = cfs_merit(sum_r_cf, k, sum_r_ff)
        self.selected_cols_ = [feature_cols[i] for i in self.selected_indices_]
        return self

    def transform(self, df: DataFrame) -> DataFrame:
        if not hasattr(self, "selected_indices_"):
            raise RuntimeError("CFSSelector is not fitted")
        validate_transform_input(df, self.feature_cols_, type(self).__name__)
        return df.select(*self.selected_cols_)

    def fit_transform(
        self, df: DataFrame, feature_cols: list[str], label_col: str = "label"
    ) -> DataFrame:
        return self.fit(df, feature_cols, label_col).transform(df)
