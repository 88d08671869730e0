"""Multifactor Dimensionality Reduction (reference O11 + O17,
/root/reference/src/fast_select/MDR.py:148-357).

Distributed axis: the combinatorial search. Feature combos are enumerated on
the driver (like the reference, MDR.py:247-250) and CHUNKED across tasks;
each task scores its combo range against the staged genotype matrix (read
executor-side, never collected to the driver — see ``_stage.py``) for ALL
folds in one vectorized pass (fold-offset bincount of 3^k cell ids — better
than the reference's per-fold re-scan, SURVEY.md §4.1), returning only cv
kernel-BA floats per combo. After the per-fold argmax (first-index
tie-break like np.argmax), one ``MatrixStage.run`` computes the (cv, 3^k)
count tensors for just the <=cv fold-best combos — on the driver's copy of
a small stage, in one executor task for a staged one; the per-fold LUT
construction, test evaluation, CV-consistency vote, and final full-data LUT
are all computed from those tensors. On the staged path the driver never
holds a row of X, and its ingress is cv floats per combo plus a handful of
3^k tensors.

Reference semantics reproduced:
- genotypes must be 0/1/2 (ValueError otherwise); y must be binary 0/1;
- scoring kernel: cell high-risk iff control==0 or case/control > total
  ratio; BA=(sens+spec)/2; combos with a fold lacking cases or controls
  score 0 (MDR.py:82-129);
- LUT rule differs deliberately: ratios = case/(control+1e-9) > threshold,
  threshold=inf when no controls (MDR.py:176-195) — kernel and LUT disagree
  on empty cells; both reproduced as-is;
- StratifiedKFold(shuffle=True, random_state=42) reimplemented with
  sklearn's exact fold-construction algorithm (driver-side, parity scale);
- model vote: max CV-count, tie-break by mean test BA (MDR.py:304-323).

DELIBERATE parity divergence: kernel BAs are float64 here, while the
reference's _batch_balanced_accuracy_cpu returns float32 (MDR.py:129) —
two combos whose BAs tie at float32 resolution but differ in float64 can
argmax to a different winner. We keep float64 because the per-fold argmax
then agrees with the double-precision DuckDB oracle (the driver-contract
gate); the count-space inputs make such ties exact-rational events that
the parity fixtures never exercise.
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Iterator
from itertools import combinations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from fastselect_spark.selection._stage import make_stage
from fastselect_spark.selection._validate import validate_transform_input


def stratified_kfold_assign(y: np.ndarray, n_splits: int, seed: int = 42) -> np.ndarray:
    """Reimplementation of sklearn's StratifiedKFold(shuffle=True) test-fold
    assignment (public algorithm): per-class contiguous allocation from the
    sorted label order, shuffled per class with a shared RandomState."""
    rng = np.random.RandomState(seed)
    y = np.asarray(y)
    _, y_idx, y_inv = np.unique(y, return_index=True, return_inverse=True)
    _, class_perm = np.unique(y_idx, return_inverse=True)
    y_encoded = class_perm[y_inv]
    n_classes = len(y_idx)
    y_order = np.sort(y_encoded)
    allocation = np.asarray(
        [np.bincount(y_order[i::n_splits], minlength=n_classes) for i in range(n_splits)]
    )
    test_folds = np.empty(len(y), dtype=int)
    for k in range(n_classes):
        folds_for_class = np.arange(n_splits).repeat(allocation[:, k])
        rng.shuffle(folds_for_class)
        test_folds[y_encoded == k] = folds_for_class
    return test_folds


def _cells_for_combo(X: np.ndarray, combo: tuple[int, ...]) -> np.ndarray:
    cell = np.zeros(len(X), dtype=np.int64)
    for f in combo:
        cell = cell * 3 + X[:, f]
    return cell


def _lut(case: np.ndarray, control: np.ndarray) -> np.ndarray:
    """3^k binary lookup table (MDR.py:176-195 semantics)."""
    total_cases = case.sum()
    total_controls = control.sum()
    threshold = np.inf if total_controls == 0 else total_cases / total_controls
    ratios = case / (control + 1e-9)
    return (ratios > threshold).astype(np.uint8)


def _ba_from_counts(case: np.ndarray, control: np.ndarray) -> float:
    """Balanced accuracy of the high-risk rule (MDR.py:106-127)."""
    total_case = int(case.sum())
    total_control = int(control.sum())
    if total_case == 0 or total_control == 0:
        return 0.0
    thr = total_case / total_control
    # high-risk iff control==0 or case/control > thr (MDR.py:120)
    ratio = np.where(control > 0, case / np.where(control > 0, control, 1), np.inf)
    high = (control == 0) | (ratio > thr)
    tp = int(case[high].sum())
    tn = int(control[~high].sum())
    sens = tp / total_case
    spec = tn / total_control
    return (sens + spec) / 2.0


class MDRClassifier:
    def __init__(self, k: int = 2, cv: int = 10, verbose: bool = False) -> None:
        self.k = k
        self.cv = cv
        self.verbose = verbose

    def fit(
        self,
        df: DataFrame,
        feature_cols: list[str],
        label_col: str = "label",
        fold_col: str | None = None,
    ) -> "MDRClassifier":
        """``fold_col``: optional precomputed test-fold assignment column
        (ints in [0, cv)). Default is the sklearn StratifiedKFold(shuffle,
        seed=42) reimplementation — that path collects the LABEL column to
        the driver (O(n) but single-column; the MT19937 permutation is
        inherently driver-side) and broadcasts the fold vector. With
        ``fold_col`` there is no driver collect at all, which is the path
        to use at scale (and what the driver-contract oracle uses)."""
        self.feature_cols_ = list(feature_cols)
        extra = (fold_col,) if fold_col else ()
        stage = make_stage(df, feature_cols, label_col, extra_cols=extra)
        try:
            return self._fit_on_stage(stage, fold_col)
        finally:
            stage.cleanup()

    def _fit_on_stage(self, stage, fold_col: str | None) -> "MDRClassifier":
        feature_cols = self.feature_cols_
        p = len(feature_cols)
        k = self.k
        cv = self.cv
        n_cells = 3**k
        spark = stage.spark

        # input validation (reference raises on bad codes, MDR.py:220-235):
        # one whole-matrix pass returns flags and the driver raises, so both
        # stage modes raise the same ValueError (a p-term OR predicate would
        # plan a 3000-node boolean expression whose codegen alone costs ~10s
        # at p=1000). The sklearn-parity fold path takes the label vector
        # from the same pass, and the row count sizes the phase-1 gate.
        def check(X, y, extras):
            bad_fold = fold_col is not None and not np.isin(
                extras[fold_col], np.arange(cv)
            ).all()
            return (
                not np.isin(X, (0.0, 1.0, 2.0)).all(),
                not np.isin(y, (0.0, 1.0)).all(),
                bad_fold,
                y if fold_col is None else None,
                len(y),
            )

        bad_x, bad_y, bad_fold, labels, n_rows = stage.run(check)
        if bad_x:
            raise ValueError("MDR requires genotype features coded 0/1/2.")
        if bad_y:
            raise ValueError("MDR requires binary labels coded 0/1.")
        if bad_fold:
            raise ValueError(f"fold_col values must be in [0, {cv})")

        combos = list(combinations(range(p), k))
        n_combos = len(combos)
        combos_arr = np.array(combos, dtype=np.int64)

        folds_bc = None
        if fold_col is None:
            # sklearn-parity path: label column (only) to the driver
            test_folds = stratified_kfold_assign(labels, cv, seed=42)
            folds_bc = spark.sparkContext.broadcast(test_folds.astype(np.int8))

        def _load_folds(extras) -> np.ndarray:
            folds = extras[fold_col] if fold_col is not None else folds_bc.value
            return folds.astype(np.int64)

        def _combo_tensors(Xi, yi, folds, cid) -> tuple[np.ndarray, np.ndarray]:
            cells = _cells_for_combo(Xi, tuple(int(v) for v in combos_arr[cid]))
            idx = folds * n_cells + cells
            case_fc = np.bincount(idx[yi == 1], minlength=cv * n_cells).reshape(
                cv, n_cells
            )
            ctrl_fc = np.bincount(idx[yi == 0], minlength=cv * n_cells).reshape(
                cv, n_cells
            )
            return case_fc, ctrl_fc

        # phase 1: per-(combo, fold) kernel BAs over combo ids — in-process
        # on a small stage within the ``pairs`` gate (combos × n cells), else
        # ONE distributed job; only cv floats per combo reach the driver (at p=1000 that is 500k
        # combos; shipping their full count tensors measured 720MB of
        # driver ingress and a 14x wall regression). Combos are scored in
        # BATCHES: one fancy-index cell computation and one flat bincount
        # per ~512 combos, then the entire (B, cv, n_cells) train-fold
        # tensor algebra in NumPy broadcasts — a per-combo Python loop with
        # per-fold _ba_from_counts calls was ~5M interpreter round-trips at
        # p=1000. The arithmetic is identical to _ba_from_counts
        # (integer-count inputs; float64 thr/ratio; high-risk iff control
        # ==0 or case/control > thr; zero BA when a fold lacks a class).
        _BATCH = 512

        def _batch_bas(Xi, yi, folds, cids) -> np.ndarray:
            B = len(cids)
            cells = np.zeros((len(Xi), B), dtype=np.int64)
            for j in range(k):
                cells = cells * 3 + Xi[:, combos_arr[cids, j]]
            flat = (
                np.arange(B, dtype=np.int64)[None, :] * (cv * n_cells)
                + folds[:, None] * n_cells
                + cells
            )
            case = np.bincount(
                flat[yi == 1].ravel(), minlength=B * cv * n_cells
            ).reshape(B, cv, n_cells)
            ctrl = np.bincount(
                flat[yi == 0].ravel(), minlength=B * cv * n_cells
            ).reshape(B, cv, n_cells)
            tr_case = case.sum(axis=1, keepdims=True) - case  # train folds
            tr_ctrl = ctrl.sum(axis=1, keepdims=True) - ctrl
            tot_case = tr_case.sum(axis=2).astype(np.float64)  # (B, cv)
            tot_ctrl = tr_ctrl.sum(axis=2).astype(np.float64)
            ok = (tot_case > 0) & (tot_ctrl > 0)
            thr = np.divide(
                tot_case, tot_ctrl, out=np.zeros_like(tot_case), where=tot_ctrl > 0
            )
            ratio = np.where(
                tr_ctrl > 0,
                tr_case / np.where(tr_ctrl > 0, tr_ctrl, 1),
                np.inf,
            )
            high = (tr_ctrl == 0) | (ratio > thr[:, :, None])
            tp = (tr_case * high).sum(axis=2)
            tn = (tr_ctrl * ~high).sum(axis=2)
            with np.errstate(divide="ignore", invalid="ignore"):
                ba = 0.5 * (tp / tot_case + tn / tot_ctrl)
            return np.where(ok, ba, 0.0)  # (B, cv)

        def prep(X, y, extras):
            return X.astype(np.int64), y.astype(np.int64), _load_folds(extras)

        bas = stage.map_ids(
            n_combos,
            "pairs",
            n_combos * n_rows,
            prep,
            lambda cids, ctx: _batch_bas(*ctx, cids),
            chunk=_BATCH,
            reduce=False,
        )  # (n_combos, cv)
        # per-fold argmax with first-index tie-break (np.argmax semantics)
        fold_best_cids = [int(np.argmax(bas[:, fold])) for fold in range(cv)]

        # phase 2: count tensors for just the <=cv fold-best combos, from
        # one whole-matrix pass (on the driver's copy for a small stage, one
        # executor task for a staged one)
        need = sorted(set(fold_best_cids))

        def fold_tensors(X, y, extras):
            Xi = X.astype(np.int64)
            yi = y.astype(np.int64)
            folds = _load_folds(extras)
            return {cid: _combo_tensors(Xi, yi, folds, cid) for cid in need}

        tensors = stage.run(fold_tensors)

        fold_best_models: list[tuple[int, ...]] = []
        fold_test_bas: list[float] = []
        for fold in range(cv):
            best_idx = fold_best_cids[fold]
            case_t_b, ctrl_t_b = tensors[best_idx]
            case_tot_b = case_t_b.sum(axis=0)
            ctrl_tot_b = ctrl_t_b.sum(axis=0)
            fold_best_models.append(combos[best_idx])
            # train LUT, evaluated on the test fold — from counts alone:
            # tp = sum(case_test[lut==1]), tn = sum(ctrl_test[lut==0])
            lut = _lut(
                case_tot_b - case_t_b[fold],
                ctrl_tot_b - ctrl_t_b[fold],
            )
            te_case = case_t_b[fold]
            te_ctrl = ctrl_t_b[fold]
            n_pos = int(te_case.sum())
            n_neg = int(te_ctrl.sum())
            sens = int(te_case[lut == 1].sum()) / n_pos if n_pos else 0
            spec = int(te_ctrl[lut == 0].sum()) / n_neg if n_neg else 0
            fold_test_bas.append((sens + spec) / 2.0)

        counts = Counter(fold_best_models)
        max_cvc = counts.most_common(1)[0][1]
        top_models = [m for m, c in counts.items() if c == max_cvc]
        best_model, best_avg_ba = None, -1.0
        for model in top_models:
            vals = [
                fold_test_bas[i]
                for i, m in enumerate(fold_best_models)
                if m == model
            ]
            avg = float(np.mean(vals))
            if avg > best_avg_ba:
                best_avg_ba, best_model = avg, model

        self.best_interaction_ = best_model
        self.best_cvc_ = max_cvc
        self.best_mean_testing_ba_ = best_avg_ba
        best_cid = combos.index(best_model)
        case_t_b, ctrl_t_b = tensors[best_cid]
        self.best_model_lookup_table_ = _lut(
            case_t_b.sum(axis=0), ctrl_t_b.sum(axis=0)
        )
        return self

    def predict(self, df: DataFrame) -> DataFrame:
        """Broadcast-LUT prediction, fully distributed (mapInPandas)."""
        if not hasattr(self, "best_interaction_"):
            raise RuntimeError("MDRClassifier is not fitted")
        lut = self.best_model_lookup_table_
        combo_cols = [self.feature_cols_[i] for i in self.best_interaction_]

        def pred(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                X = pdf[combo_cols].to_numpy().astype(np.int64)
                cell = np.zeros(len(X), dtype=np.int64)
                for j in range(X.shape[1]):
                    cell = cell * 3 + X[:, j]
                out = pdf.copy()
                out["prediction"] = lut[cell].astype(np.int32)
                yield out

        schema_str = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
        )
        return df.mapInPandas(pred, schema=f"{schema_str}, prediction int")

    def transform(self, df: DataFrame) -> DataFrame:
        """Project to the winning interaction's columns — the reference's
        ``X[:, best_interaction_]`` (MDR.py:336-344)."""
        if not hasattr(self, "best_interaction_"):
            raise RuntimeError("MDRClassifier is not fitted")
        validate_transform_input(df, self.feature_cols_, type(self).__name__)
        return df.select(*[self.feature_cols_[i] for i in self.best_interaction_])
