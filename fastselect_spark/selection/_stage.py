"""Executor-side staged-matrix infrastructure for the all-pairs kernels.

The Relief family and MDR need every task to see the full (parity-scale)
sample matrix. Two physical strategies behind one handle
(:class:`MatrixStage`), size-gated by ``make_stage``:

- **small** (``gates.use_driver(narrow, "stage")``): Arrow collect of the
  narrow projection + ``sc.broadcast`` — one job, no filesystem
  round-trip (parquet writer setup + read-back + extra jobs).
- **staged** (above the budget): the feature block is packed per row into
  one binary column by a vectorized Arrow kernel and written distributed
  (executors -> scratch storage, never through the driver), then read back
  by each Python worker directly from storage and cached per worker
  process — the executor-side equivalent of a broadcast with the driver
  never holding a row. This is the 100-TB path: driver RSS stays flat
  regardless of n.

Both modes expose the same deterministic row order (input partition/row
order — exactly what the Arrow collect produces, and what the parquet
stage's ``monotonically_increasing_id`` sort reconstructs), so kernels
address rows by their index in that order and results are bit-identical
across modes.

Three ways to read a stage:

- ``loader(subset)`` returns a picklable closure that distributed kernels
  call inside their tasks. Column subsets let an iterative wrapper (TuRF)
  stage ONCE and have each elimination round slice the surviving columns
  from the cached matrix instead of re-staging overlapping data.
- ``run(fn, subset)`` calls ``fn(X, y, extras)`` once over the whole matrix
  and returns its value: in the driver process on the small path (no job),
  in one executor task on the staged path. Class counts, fit metadata and
  MDR's validation and count tensors all go through it, so nothing scans
  the staged parquet with Spark. ``fn`` reports bad input as a returned
  value and the caller raises on the driver, so both modes raise the same
  ``ValueError``.
- ``map_ids(n, ...)`` scores ids ``0..n-1`` (Relief probe rows, MDR
  combos) over the ``spark.range`` partitions, batches and chunks of one
  job; on a small stage within the ``pairs`` gate the same loop runs in
  this process, bit-identically and without a job.

Stages are removed eagerly by ``MatrixStage.cleanup()`` when the owning fit
returns (atexit-only cleanup accumulated a parquet copy of the input per
fit in long-lived sessions); the per-worker ``_CACHE`` keeps the loaded
arrays, so in-flight consumers are unaffected.

Scale note: in local mode the scratch dir is a tempdir on the shared local
filesystem. On a real cluster set ``FS_SCRATCH_DIR`` to a shared filesystem
path (NFS/Lustre/fuse-mounted object store) readable by executors; the
parquet stage itself is written with normal Spark I/O.
"""

from __future__ import annotations

import atexit
import os
import pickle
import shutil
import tempfile
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fastselect_spark.runtime import gates

MID = "__mid"
LABEL = "__label"
PACKED = "__packed"

# per-python-worker cache: one stage at a time (a Relief/MDR fit makes many
# tasks hit the same stage; keeping only the newest bounds worker memory)
_CACHE: dict[str, tuple] = {}


def stage_matrix(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    extra_cols: tuple[str, ...] = (),
) -> str:
    """Write ``(mid, packed features, label[, extras])`` as parquet,
    distributed.

    The features travel as ONE binary column of row-major float64 bytes: a
    p-column cast projection + parquet write costs ~9s at p=1000 (per-column
    writer setup and wide codegen), bare column refs packed by one Arrow
    kernel ~1s. Returns the stage path (registered for removal at
    interpreter exit as a backstop; owning fits remove it eagerly via
    ``MatrixStage.cleanup``)."""
    base = os.environ.get("FS_SCRATCH_DIR") or tempfile.gettempdir()
    path = tempfile.mkdtemp(prefix="fs_stage_", dir=base)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    sel = [F.monotonically_increasing_id().alias(MID)]
    sel += [F.col(c) for c in feature_cols]
    sel += [F.col(label_col).alias("__rawlabel")]
    sel += [F.col(c) for c in extra_cols]
    feats = list(feature_cols)
    extras = list(extra_cols)

    def pack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            Xb = pdf[feats].to_numpy(dtype=np.float64)
            out = {
                MID: pdf[MID],
                PACKED: [row.tobytes() for row in Xb],
                LABEL: pdf["__rawlabel"].to_numpy(dtype=np.float64),
            }
            for c in extras:
                out[c] = pdf[c]
            yield pd.DataFrame(out)

    extra_schema = "".join(
        f", {c} {df.schema[c].dataType.simpleString()}" for c in extra_cols
    )
    df.select(*sel).mapInPandas(
        pack, schema=f"{MID} long, {PACKED} binary, {LABEL} double{extra_schema}"
    ).write.mode("overwrite").parquet(path)
    return path


def load_staged(path: str, feature_cols: list[str]):
    """Load a stage (executor- or driver-side) in mid order; cached per
    process. Returns (X[n,p] float64, y[n] float64, extras dict)."""
    if path not in _CACHE:
        pdf = pq.read_table(path).to_pandas()
        pdf = pdf.sort_values(MID, kind="mergesort").reset_index(drop=True)
        X = np.frombuffer(b"".join(pdf[PACKED].tolist()), dtype=np.float64)
        X = X.reshape(len(pdf), len(feature_cols))
        y = pdf[LABEL].to_numpy(dtype=np.float64)
        skip = {MID, LABEL, PACKED}
        extras = {c: pdf[c].to_numpy() for c in pdf.columns if c not in skip}
        _CACHE.clear()
        _CACHE[path] = (X, y, extras)
    return _CACHE[path]


def _staged_loader(path: str, feature_cols: list[str], col_idx):
    """Module-level picklable loader for the staged mode."""

    def load():
        X, y, extras = load_staged(path, feature_cols)
        if col_idx is not None:
            X = X[:, col_idx]
        return X, y, extras

    return load


def _broadcast_loader(bc, col_idx):
    """Module-level picklable loader for the small (broadcast) mode."""

    def load():
        X, y, extras = bc.value
        if col_idx is not None:
            X = X[:, col_idx]
        return X, y, extras

    return load


class MatrixStage:
    """Handle over a materialized (X, y, extras) matrix, in either the
    broadcast (small) or parquet-staged mode. Consumers are mode-agnostic:
    distributed kernels call ``loader()`` closures, whole-matrix reads go
    through ``run``."""

    def __init__(
        self,
        spark,
        feature_cols: list[str],
        mode: str,
        *,
        path: str | None = None,
        bc=None,
    ) -> None:
        self.spark = spark
        self.feature_cols = list(feature_cols)
        self.mode = mode  # 'small' | 'staged'
        self.path = path
        self.bc = bc
        self._classes = None
        self._cleaned = False

    def loader(self, subset: list[str] | None = None) -> Callable[[], tuple]:
        idx = None
        if subset is not None and list(subset) != self.feature_cols:
            idx = np.array([self.feature_cols.index(c) for c in subset])
        if self.mode == "small":
            return _broadcast_loader(self.bc, idx)
        return _staged_loader(self.path, self.feature_cols, idx)

    def run(self, fn: Callable, subset: list[str] | None = None):
        """``fn(X, y, extras)`` once over the whole stage (X column-sliced
        to ``subset``): in this process on the small path, in one executor
        task on the staged path, whose value comes back pickled. The driver
        twin calls the same ``fn`` the task does. The task is a SQL Python
        task, not an RDD one, so it reuses the session's warm workers (a
        first RDD task started a fresh worker: +1.5 s)."""
        load = self.loader(subset)
        if self.mode == "small":
            return fn(*load())

        def task(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for _ in batches:
                pass
            yield pd.DataFrame({"value": [pickle.dumps(fn(*load()))]})

        one = self.spark.range(0, 1, 1, 1).mapInPandas(task, "value binary")
        return pickle.loads(one.collect()[0]["value"])

    def map_ids(
        self,
        n_ids: int,
        op: str,
        cells: int,
        prep: Callable,
        kernel: Callable,
        chunk: int,
        reduce: bool,
        subset: list[str] | None = None,
    ) -> np.ndarray | None:
        """Ids ``0..n_ids-1`` scored over the stage: ``prep(X, y, extras)``
        once per task, then ``kernel(ids, ctx) -> float64 ndarray`` over
        chunks of at most ``chunk`` ids of each Arrow batch of each
        ``spark.range(0, n_ids, 1, parts)`` partition. ``reduce`` sums the
        chunk outputs within a partition and the partition sums in order;
        else the chunk rows are stacked in id order. None when no id ran.

        On a small stage whose ``cells`` of work are within gate ``op``
        the same partitions, batches and chunks run in this process on the
        driver's copy, so the result is bit-identical with no job; else one
        ``mapInPandas`` job whose tasks each return one pickled array."""
        load = self.loader(subset)
        sc = self.spark.sparkContext
        parts = min(max(sc.defaultParallelism, 4), max(n_ids, 1))

        def run_part(batches, ctx):
            return _combine(
                [
                    kernel(ids[s : s + chunk], ctx)
                    for ids in batches
                    for s in range(0, len(ids), chunk)
                ],
                reduce,
            )

        if self.mode == "small" and gates.use_driver(None, op, rows=cells):
            ctx = prep(*load())
            cap = int(self.spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
            results = []
            for i in range(parts):
                lo, hi = i * n_ids // parts, (i + 1) * n_ids // parts
                step = cap if cap > 0 else max(hi - lo, 1)
                ids = np.arange(lo, hi, dtype=np.int64)
                results.append(
                    run_part([ids[a : a + step] for a in range(0, hi - lo, step)], ctx)
                )
        else:

            def task(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                ctx = prep(*load())
                ids = (pdf["id"].to_numpy(dtype=np.int64) for pdf in batches)
                out = run_part(ids, ctx)
                if out is not None:
                    yield pd.DataFrame({"value": [pickle.dumps(out)]})

            rows = (
                self.spark.range(0, n_ids, 1, parts)  # born partitioned, no Exchange
                .mapInPandas(task, "value binary")
                .collect()
            )
            results = [pickle.loads(r["value"]) for r in rows]
        return _combine(results, reduce)

    def class_stats(self) -> tuple[np.ndarray, np.ndarray]:
        """Sorted class values + counts (memoized — iterative wrappers like
        TuRF call per-round fits against one shared stage). A NULL or NaN
        label comes back as a NaN class, for the caller's label check."""
        if self._classes is None:
            self._classes = self.run(_class_counts)
        return self._classes

    def metadata(
        self, subset: list[str] | None, discrete_limit: int
    ) -> tuple[np.ndarray, np.ndarray]:
        """Per-feature (is_discrete, range) fit metadata (reference
        ReliefF.py:366-380) for ``subset`` (default: all staged columns).
        A feature holding a NULL or NaN raises: it has no distance."""
        cols = list(subset) if subset is not None else self.feature_cols
        is_d, rng, has_nan = self.run(
            lambda X, y, extras: _metadata_numpy(X, discrete_limit), cols
        )
        if has_nan.any():
            bad = [c for c, b in zip(cols, has_nan) if b]
            raise ValueError(f"feature columns {bad} have NULL or NaN values")
        return is_d, rng

    def cleanup(self) -> None:
        """Release the stage eagerly (idempotent). Worker caches keep the
        loaded arrays, so tasks already dispatched are unaffected."""
        if self._cleaned:
            return
        self._cleaned = True
        if self.mode == "small":
            try:
                self.bc.unpersist()
            except Exception:
                pass
        elif self.path:
            shutil.rmtree(self.path, ignore_errors=True)


def _combine(outs: list, reduce: bool) -> np.ndarray | None:
    """Stack ``outs`` (skipping None) in order, or sum them left to right."""
    outs = [o for o in outs if o is not None]
    if not outs:
        return None
    if not reduce:
        return np.concatenate(outs)
    total = outs[0]
    for o in outs[1:]:
        total = total + o
    return total


def _class_counts(X: np.ndarray, y: np.ndarray, extras: dict):
    classes, counts = np.unique(y, return_counts=True)
    return classes.astype(np.float64), counts.astype(np.int64)


def _metadata_numpy(X: np.ndarray, discrete_limit: int):
    p = X.shape[1]
    is_d = np.empty(p, dtype=bool)
    for f in range(p):
        is_d[f] = len(np.unique(X[:, f])) <= discrete_limit
    rng = (X.max(axis=0) - X.min(axis=0)) if len(X) else np.zeros(p)
    return is_d, rng.astype(np.float64), np.isnan(X).any(axis=0)


def make_stage(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    extra_cols: tuple[str, ...] = (),
    force: str | None = None,
) -> MatrixStage:
    """Materialize the narrow numeric projection behind a MatrixStage.

    ``gates.use_driver`` sizes the narrow projection; ``force``
    ('small'|'staged') overrides — the selectors' ``stage_mode``."""
    spark = df.sparkSession
    p = len(feature_cols)
    narrow = df.select(*feature_cols, F.col(label_col).alias(LABEL), *extra_cols)
    if force is not None:
        mode = force
    else:
        mode = "small" if gates.use_driver(narrow, "stage") else "staged"

    if mode == "staged":
        path = stage_matrix(df, feature_cols, label_col, extra_cols)
        return MatrixStage(spark, feature_cols, "staged", path=path)

    # Bare column refs + a direct Arrow collect, cast driver-side in NumPy:
    # a p-column cast projection plans p codegen'd expressions (~7 s at
    # p=1000 — the packed-write lesson applies to reads too), and
    # Arrow->pandas conversion of 1000 columns measured ~1 s where toArrow
    # + per-column buffer views is ~0.2 s.
    tbl = narrow.toArrow()
    n = tbl.num_rows
    X = np.empty((n, p), dtype=np.float64)
    for i in range(p):
        X[:, i] = np.asarray(
            tbl.column(i).to_numpy(zero_copy_only=False), dtype=np.float64
        )
    y = np.asarray(tbl.column(p).to_numpy(zero_copy_only=False), dtype=np.float64)
    extras = {
        c: tbl.column(p + 1 + j).to_numpy(zero_copy_only=False)
        for j, c in enumerate(extra_cols)
    }
    bc = spark.sparkContext.broadcast((X, y, extras))
    return MatrixStage(spark, feature_cols, "small", bc=bc)
