"""Executor-side staged-matrix infrastructure for the all-pairs kernels.

The Relief family and MDR need every task to see the full (parity-scale)
sample matrix. Two physical strategies behind one handle
(:class:`MatrixStage`), size-gated by ``make_stage``:

- **small** (``gates.use_driver(narrow, "stage")``): Arrow ``toPandas``
  of the narrow projection + ``sc.broadcast`` — one job, no filesystem
  round-trip (parquet writer setup + read-back + extra jobs).
- **staged** (above the budget): the narrow numeric projection is
  written distributed (executors -> scratch storage, never through the
  driver), then read back by each Python worker directly from storage and
  cached per worker process — the executor-side equivalent of a broadcast
  with the driver never holding a row. This is the 100-TB path: driver RSS
  stays flat regardless of n.

Both modes expose the same deterministic row order (input partition/row
order — exactly what ``toPandas`` produces, and what the parquet stage's
``monotonically_increasing_id`` sort reconstructs), so kernel results are
bit-identical across modes. All-pairs kernels do self-exclusion by ``mid``
identity: ``searchsorted`` of a probe row's mid into the sorted mid vector
gives its global row index.

Column-subset loaders (``MatrixStage.loader(subset=...)``) let an iterative
wrapper (TuRF) stage ONCE and have each elimination round's kernels slice
the surviving columns from the cached matrix instead of re-staging
overlapping data every iteration.

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

# Above this width, features are staged as ONE binary column (row-major
# float64 bytes) packed by a vectorized Arrow kernel: a p-column cast
# projection + parquet write costs ~9s at p=1000 (per-column writer setup
# and wide codegen), the packed layout ~1s. Narrow stages keep real columns
# so Spark aggregations (class stats, preflight min/max) stay available.
WIDE_P = 64

# per-python-worker cache: one stage at a time (a Relief/MDR fit makes many
# tasks hit the same stage; keeping only the newest bounds worker memory)
_CACHE: dict[str, tuple] = {}


def stage_matrix(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    extra_cols: tuple[str, ...] = (),
) -> str:
    """Write ``(mid, features..., label[, extras])`` as parquet, distributed.

    Returns the stage path (registered for removal at interpreter exit as a
    backstop; owning fits remove it eagerly via ``MatrixStage.cleanup``)."""
    base = os.environ.get("FS_SCRATCH_DIR") or tempfile.gettempdir()
    path = tempfile.mkdtemp(prefix="fs_stage_", dir=base)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    if len(feature_cols) <= WIDE_P:
        cols = [F.monotonically_increasing_id().alias(MID)]
        cols += [F.col(c).cast("double").alias(c) for c in feature_cols]
        cols += [F.col(label_col).cast("double").alias(LABEL)]
        cols += [F.col(c) for c in extra_cols]
        df.select(*cols).write.mode("overwrite").parquet(path)
        return path

    # wide layout: bare column refs (no per-column cast exprs), then one
    # Arrow kernel packs the feature block per row
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
    """Load a stage (executor- or driver-side), sorted by mid; cached per
    process. Returns (mid[n], X[n,p] float64, y[n] float64, extras dict)."""
    if path not in _CACHE:
        pdf = pq.read_table(path).to_pandas()
        pdf = pdf.sort_values(MID, kind="mergesort").reset_index(drop=True)
        if PACKED in pdf.columns:
            buf = b"".join(pdf[PACKED].tolist())
            X = np.frombuffer(buf, dtype=np.float64).reshape(
                len(pdf), len(feature_cols)
            )
        else:
            X = pdf[list(feature_cols)].to_numpy(dtype=np.float64)
        y = pdf[LABEL].to_numpy(dtype=np.float64)
        mid = pdf[MID].to_numpy(dtype=np.int64)
        skip = set(feature_cols) | {MID, LABEL, PACKED}
        extras = {c: pdf[c].to_numpy() for c in pdf.columns if c not in skip}
        _CACHE.clear()
        _CACHE[path] = (mid, X, y, extras)
    return _CACHE[path]


def _staged_loader(path: str, feature_cols: list[str], col_idx):
    """Module-level picklable loader for the staged mode."""

    def load():
        mid, X, y, extras = load_staged(path, feature_cols)
        if col_idx is not None:
            X = X[:, col_idx]
        return mid, X, y, extras

    return load


def _broadcast_loader(bc, col_idx):
    """Module-level picklable loader for the small (broadcast) mode."""

    def load():
        mid, X, y, extras = bc.value
        if col_idx is not None:
            X = X[:, col_idx]
        return mid, X, y, extras

    return load


class MatrixStage:
    """Handle over a materialized (mid, X, y, extras) matrix, in either the
    broadcast (small) or parquet-staged mode. Kernels are mode-agnostic:
    they consume ``loader()`` closures and ``probe_df()`` row streams."""

    def __init__(
        self,
        spark,
        feature_cols: list[str],
        mode: str,
        *,
        path: str | None = None,
        staged_df: DataFrame | None = None,
        bc=None,
        n_rows: int | None = None,
    ) -> None:
        self.spark = spark
        self.feature_cols = list(feature_cols)
        self.mode = mode  # 'small' | 'staged'
        self.path = path
        self.staged_df = staged_df
        self.bc = bc
        self.n_rows = n_rows
        self._cleaned = False

    # -- executor-side access ------------------------------------------------
    def _col_idx(self, subset: list[str] | None):
        if subset is None or list(subset) == self.feature_cols:
            return None
        return np.array([self.feature_cols.index(c) for c in subset])

    def loader(self, subset: list[str] | None = None) -> Callable[[], tuple]:
        idx = self._col_idx(subset)
        if self.mode == "small":
            return _broadcast_loader(self.bc, idx)
        return _staged_loader(self.path, self.feature_cols, idx)

    def probe_df(self) -> DataFrame:
        """One-column (MID) DataFrame whose rows drive the distributed
        per-sample outer loop, repartitioned across the cluster."""
        parts = max(self.spark.sparkContext.defaultParallelism, 4)
        if self.mode == "small":
            # range is born partitioned — no Exchange needed
            return self.spark.range(0, self.n_rows, 1, parts).select(
                F.col("id").alias(MID)
            )
        return self.staged_df.select(MID).repartition(parts)

    # -- driver-side metadata ------------------------------------------------
    def class_stats(self) -> tuple[np.ndarray, np.ndarray]:
        """Sorted class values + counts (memoized — iterative wrappers like
        TuRF call per-round fits against one shared stage)."""
        if getattr(self, "_class_cache", None) is not None:
            return self._class_cache
        self._class_cache = self._class_stats_impl()
        return self._class_cache

    def _class_stats_impl(self) -> tuple[np.ndarray, np.ndarray]:
        if self.mode == "small":
            _, _, y, _ = self.bc.value
            classes, counts = np.unique(y, return_counts=True)
            return classes.astype(np.float64), counts.astype(np.int64)
        rows = self.staged_df.groupBy(LABEL).count().collect()
        pairs = sorted((float(r[LABEL]), int(r["count"])) for r in rows)
        classes = np.array([v for v, _ in pairs], dtype=np.float64)
        counts = np.array([c for _, c in pairs], dtype=np.int64)
        return classes, counts

    def labels(self) -> np.ndarray:
        """y in mid order, driver-side (O(n) single column — used only by
        MDR's sklearn-parity fold path, which is inherently driver-side)."""
        if self.mode == "small":
            return self.bc.value[2]
        lab = self.staged_df.select(MID, LABEL).toPandas().sort_values(MID)
        return lab[LABEL].to_numpy()

    def metadata(
        self, subset: list[str] | None, discrete_limit: int
    ) -> tuple[np.ndarray, np.ndarray]:
        """Per-feature (is_discrete, range) fit metadata (reference
        ReliefF.py:366-380) for ``subset`` (default: all staged columns).

        small: NumPy on the driver copy. staged narrow: one combined
        distributed agg. staged wide: a countDistinct per column plans a
        p-branch Expand whose codegen alone costs minutes at p=1000, so one
        executor task computes it from the cached matrix (identical values;
        the driver only receives two p-sized vectors)."""
        cols = list(subset) if subset is not None else self.feature_cols
        if self.mode == "small":
            _, X, _, _ = self.bc.value
            idx = self._col_idx(cols)
            if idx is not None:
                X = X[:, idx]
            return _metadata_numpy(X, discrete_limit)
        if len(cols) <= WIDE_P and cols == self.feature_cols:
            return _preflight(self.staged_df, cols, discrete_limit)
        load = self.loader(cols)

        def one(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for _ in batches:
                pass
            _, X, _, _ = load()
            is_d, rng = _metadata_numpy(X, discrete_limit)
            yield pd.DataFrame(
                {"is_d": [is_d.tobytes()], "rng": [rng.tobytes()]}
            )

        row = (
            self.spark.range(1)
            .coalesce(1)
            .mapInPandas(one, schema="is_d binary, rng binary")
            .collect()[0]
        )
        return (
            np.frombuffer(row["is_d"], dtype=bool).copy(),
            np.frombuffer(row["rng"], dtype=np.float64).copy(),
        )

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


def _metadata_numpy(X: np.ndarray, discrete_limit: int):
    p = X.shape[1]
    is_d = np.empty(p, dtype=bool)
    for f in range(p):
        is_d[f] = len(np.unique(X[:, f])) <= discrete_limit
    rng = (X.max(axis=0) - X.min(axis=0)) if len(X) else np.zeros(p)
    return is_d, rng.astype(np.float64)


def _preflight(df: DataFrame, feature_cols: list[str], discrete_limit: int):
    """One combined agg job: exact distinct counts + min/max per feature."""
    aggs = []
    for c in feature_cols:
        aggs += [
            F.countDistinct(c).alias(f"__d_{c}"),
            F.min(F.col(c).cast("double")).alias(f"__mn_{c}"),
            F.max(F.col(c).cast("double")).alias(f"__mx_{c}"),
        ]
    row = df.agg(*aggs).collect()[0]
    is_discrete = np.array(
        [row[f"__d_{c}"] <= discrete_limit for c in feature_cols], dtype=bool
    )
    ranges = np.array(
        [(row[f"__mx_{c}"] or 0.0) - (row[f"__mn_{c}"] or 0.0) for c in feature_cols]
    )
    return is_discrete, ranges


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

    if mode == "small":
        # Bare column refs + a direct Arrow collect, cast driver-side in
        # NumPy: a p-column cast projection plans p codegen'd expressions
        # (~7 s at p=1000 — the round-2 wide-write lesson applies to reads
        # too), and Arrow->pandas conversion of 1000 columns measured ~1 s
        # where toArrow + per-column buffer views is ~0.2 s.
        tbl = narrow.toArrow()
        n = tbl.num_rows
        X = np.empty((n, p), dtype=np.float64)
        for i in range(p):
            X[:, i] = np.asarray(
                tbl.column(i).to_numpy(zero_copy_only=False), dtype=np.float64
            )
        y = np.asarray(
            tbl.column(p).to_numpy(zero_copy_only=False), dtype=np.float64
        )
        extras = {
            c: tbl.column(p + 1 + j).to_numpy(zero_copy_only=False)
            for j, c in enumerate(extra_cols)
        }
        mid = np.arange(n, dtype=np.int64)
        bc = spark.sparkContext.broadcast((mid, X, y, extras))
        return MatrixStage(
            spark, feature_cols, "small", bc=bc, n_rows=n
        )

    path = stage_matrix(df, feature_cols, label_col, extra_cols)
    staged_df = spark.read.parquet(path)
    return MatrixStage(
        spark, feature_cols, "staged", path=path, staged_df=staged_df
    )
