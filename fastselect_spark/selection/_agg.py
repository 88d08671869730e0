"""Distributed NumPy-accumulator reduction (the engine's ``treeAggregate``).

The north_star mandates contingency tables / sufficient statistics be built
as partition-parallel reductions over NumPy accumulators, never per-row
Python (BASELINE.json:6). Shape:

  stage 1 (map):    ``mapInPandas`` — each task streams its Arrow batches
                    through a vectorized ``partial_fn`` and emits ONE row per
                    named accumulator (int64/float64 ndarray, serialized).
  stage 2 (combine): partials are grouped by ``partition_id % FANIN`` and
                    summed with ``applyInPandas`` — the tree level that keeps
                    driver ingress bounded at 1000-executor scale.
  stage 3 (reduce): the <= FANIN rows per name are summed on the driver.

Accumulators are integer counts or float64 partial sums, so the merged
result is independent of partitioning (exact for ints; reordered float
addition only at the final tiny merge). Partials merge by name only, so
a kernel whose accumulators depend on the data names them by value (the
per-class sums of ``matrix._class_moments``) and the driver orders
them after the merge — no separate scan for the keys. Wide rows reach
:func:`tree_reduce_ndarrays_arrow` in batches of at most ~8 MB: the byte
cap is session configuration set once in ``runtime.session.get_spark``,
never changed per call. Small frames run no Python job: within the
``moments`` gate :func:`tree_reduce_ndarrays_arrow` collects the frame
once with Arrow (a JVM-only job) and runs the same partial function per
partition in-process, and :func:`local_reducer` is the pandas twin for
frames reduced once per iteration (Lloyd). Both split the collect by
partition id (:func:`_partitions`) and merge in partition order.

Order statistics (average ranks, BH-FDR, exact KS) need a running count
along a global sort, which Spark only offers as a single-partition
``Window.orderBy`` funnel. :func:`range_scan` is the one distributed
prefix scan behind them: range-partition + sort within partitions, a pass
A of per-(partition, key) totals, a driver exclusive prefix, and the
caller's pass-B kernel over each sorted partition with its offsets.
:func:`local_scan` is its driver twin: one collect, sorted as Spark
sorts, through the same kernel as the only partition.

The pair-parallel axis (n bounded, p large) has no accumulator: every
pairwise scorer — the full MI matrix, the step-wise MI engine and CFS
redundancy — runs :func:`pair_job` over a range of pair ids, with
:func:`triu_pair` mapping ids to pairs. Within the ``pairs`` gate (pairs ×
n pair-cells) its driver twin calls the caller's kernel once over the
whole range in-process; beyond it the kernel is one vectorized
``mapInPandas`` job (:func:`pair_frame`) over a :class:`LazyBroadcast` of
its arrays.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
import pickle

import numpy as np
import pandas as pd
from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fastselect_spark.runtime import gates

_PARTIAL_SCHEMA = "merge_key int, name string, dtype string, shape string, data binary"
# tree shape: partials combine in FANIN groups, and jobs of at most
# DIRECT_COLLECT partitions skip the combine level
FANIN = 16
DIRECT_COLLECT = 64


def _pid() -> int:
    """The running task's partition id; 0 on the driver."""
    ctx = TaskContext.get()
    return ctx.partitionId() if ctx is not None else 0


def _pack(name: str, arr: np.ndarray, merge_key: int) -> dict:
    arr = np.ascontiguousarray(arr)
    return {
        "merge_key": merge_key,
        "name": name,
        "dtype": str(arr.dtype),
        "shape": ",".join(str(s) for s in arr.shape),
        "data": arr.tobytes(),
    }


def _unpack(row) -> np.ndarray:
    shape = tuple(int(s) for s in row["shape"].split(",") if s)
    return np.frombuffer(row["data"], dtype=row["dtype"]).reshape(shape).copy()


def list_matrix_view(batch, features_col: str, label_col: str | None):
    """Zero-copy ``(n_rows, p)`` float64 view over an Arrow batch's
    ``list<double>`` column, plus the label column as a NumPy array.

    This is the fix for the p=200k drift/perf defect (round-4 verdict
    item 3): the mapInPandas path materializes every row as its own small
    ndarray and ``np.stack`` then copies the whole ~100 MB batch — tens of
    32-worker mmap/munmap churn cycles per pass whose allocator state made
    rep times swing 3x within one session. Reading the list column's flat
    values buffer in place allocates NOTHING per batch; callers chunk
    their column math to ~1 MB temporaries (CLAUDE.md kernel rule).

    Requires null-free, equal-width lists (the matrix_table contract)."""
    import pyarrow as pa  # noqa: F401 (typing only; batch is pa.RecordBatch)

    col = batch.column(batch.schema.get_field_index(features_col))
    nb = len(col)
    if col.null_count:
        raise ValueError(f"{features_col}: null feature arrays are invalid")
    y = None
    if label_col is not None:
        y = (
            batch.column(batch.schema.get_field_index(label_col))
            .to_numpy(zero_copy_only=False)
        )
    if nb == 0:
        return np.empty((0, 0), dtype=np.float64), y
    offs = col.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    try:
        values = col.values.to_numpy(zero_copy_only=True)
    except Exception:  # nulls inside lists: fall back to a copying read
        values = col.values.to_numpy(zero_copy_only=False)
    widths = np.diff(offs)
    p = int(widths[0])
    if not (widths == p).all():
        raise ValueError(f"{features_col}: ragged feature arrays (widths differ)")
    X = values[offs[0] : offs[0] + nb * p].reshape(nb, p)
    return X, y


def tree_reduce_ndarrays_arrow(df: DataFrame, partial_fn) -> dict[str, np.ndarray]:
    """Arrow-batch variant of :func:`tree_reduce_ndarrays`: ``partial_fn``
    receives ``Iterator[pyarrow.RecordBatch]`` (use :func:`list_matrix_view`
    for wide array columns) and the map stage runs through ``mapInArrow``,
    skipping the Arrow→pandas object-column materialization entirely.
    Combine/collect stages are shared with the pandas path.

    Within the ``moments`` gate the driver twin runs instead: ONE Arrow
    collect tagged with partition ids (a JVM-only job), the same
    ``partial_fn`` over each partition's record batches, merged in
    ascending partition order as the direct-collect branch merges."""
    import pyarrow as pa

    if gates.use_driver(df, "moments"):
        return _reduce_local(_partitions(df, arrow=True), partial_fn)

    out_schema = pa.schema(
        [
            ("merge_key", pa.int32()),
            ("name", pa.string()),
            ("dtype", pa.string()),
            ("shape", pa.string()),
            ("data", pa.binary()),
        ]
    )

    def mapper(batches):
        acc = partial_fn(batches)
        rows = [_pack(name, arr, _pid() % FANIN) for name, arr in acc.items()]
        yield pa.RecordBatch.from_pylist(rows, schema=out_schema)

    partials = df.mapInArrow(mapper, schema=_PARTIAL_SCHEMA)
    return _merge_partials(partials, df)


def tree_reduce_ndarrays(
    df: DataFrame,
    partial_fn: Callable[[Iterator[pd.DataFrame]], dict[str, np.ndarray]],
) -> dict[str, np.ndarray]:
    """Reduce ``partial_fn``'s per-partition accumulator dict by elementwise
    sum across all partitions of ``df``. Returns the merged dict.

    With few partitions (local mode / small jobs) the intermediate combine
    stage is pure overhead — partials are collected and summed on the driver
    directly. Above ``DIRECT_COLLECT`` partitions (real cluster), the tree
    combine level bounds driver ingress to ``FANIN`` rows per name.
    """

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc = partial_fn(batches)
        rows = [_pack(name, arr, _pid() % FANIN) for name, arr in acc.items()]
        yield pd.DataFrame(rows) if rows else pd.DataFrame(
            columns=["merge_key", "name", "dtype", "shape", "data"]
        )

    partials = df.mapInPandas(mapper, schema=_PARTIAL_SCHEMA)
    return _merge_partials(partials, df)


def _partitions(df: DataFrame, arrow: bool) -> list[list]:
    """``df`` collected ONCE with its partition ids, as one batch list per
    non-empty partition in ascending partition order: a pandas frame, or
    an Arrow table's record batches for ``arrow``. An empty frame is one
    empty partition, as its tasks still yield one (zero) partial."""
    tagged = df.select(F.spark_partition_id().alias("__pid"), "*")
    if arrow:
        tbl = tagged.toArrow()
        pids = tbl.column(0).to_numpy()
        data = tbl.remove_column(0)
        part = lambda a, b: data.slice(a, b - a).to_batches()  # noqa: E731
    else:
        data = tagged.toPandas()
        pids = data.pop("__pid").to_numpy()
        part = lambda a, b: [data.iloc[a:b]]  # noqa: E731
    # collect keeps partition order, so each partition is one row range
    cuts = [0, *(np.flatnonzero(np.diff(pids)) + 1).tolist(), len(pids)]
    return [part(a, b) for a, b in zip(cuts, cuts[1:]) if b > a] or [part(0, 0)]


def _reduce_local(parts: list[list], partial_fn) -> dict[str, np.ndarray]:
    """``partial_fn`` over each partition's batches, merged in partition
    order — the first partial assigns, later ones add, exactly as the
    direct-collect branch of :func:`_merge_partials`."""
    out: dict[str, np.ndarray] = {}
    for batches in parts:
        for name, arr in partial_fn(iter(batches)).items():
            if name in out:
                out[name] += arr
            else:
                out[name] = arr
    return out


def local_reducer(df: DataFrame) -> Callable[[Callable], dict[str, np.ndarray]]:
    """Driver twin of :func:`tree_reduce_ndarrays` for small frames that an
    iterative caller reduces many times: ``df`` is collected ONCE with its
    partition ids, and the returned ``reduce(partial_fn)`` runs the
    caller's own ``partial_fn`` over each partition's rows and merges the
    partials in ascending partition order, so the result is bit-identical
    without a job per call."""
    parts = _partitions(df, arrow=False)
    return lambda partial_fn: _reduce_local(parts, partial_fn)


def _merge_partials(partials: DataFrame, df: DataFrame) -> dict[str, np.ndarray]:
    n_parts = gates.plan_partitions(df)
    if n_parts <= DIRECT_COLLECT:
        out: dict[str, np.ndarray] = {}
        for row in partials.collect():
            arr = _unpack(row)
            if row["name"] in out:
                out[row["name"]] += arr
            else:
                out[row["name"]] = arr
        return out

    def combiner(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            return pdf
        first = pdf.iloc[0]
        total = _unpack(first)
        for _, row in pdf.iloc[1:].iterrows():
            total += _unpack(row)
        return pd.DataFrame([_pack(first["name"], total, int(first["merge_key"]))])

    combined = partials.groupBy("merge_key", "name").applyInPandas(
        combiner, schema=_PARTIAL_SCHEMA
    )

    out: dict[str, np.ndarray] = {}
    for row in combined.collect():
        arr = np.frombuffer(row["data"], dtype=row["dtype"]).reshape(
            tuple(int(s) for s in row["shape"].split(",") if s)
        )
        if row["name"] in out:
            out[row["name"]] = out[row["name"]] + arr
        else:
            out[row["name"]] = arr.copy()
    return out


def range_sort(
    df: DataFrame, order: list[str], num_partitions: int | None = None
) -> DataFrame:
    """The scan's sort step: range-partition on ``order`` (into
    ``num_partitions`` only when given) and sort within partitions, so the
    partitions are globally ordered and rows equal on ``order`` share one."""
    if num_partitions:
        df = df.repartitionByRange(num_partitions, *order)
    else:
        df = df.repartitionByRange(*order)
    return df.sortWithinPartitions(*order)


def _key_sums(pdf: pd.DataFrame, key: str | None, sums: list[str], acc: dict) -> dict:
    """Add a sorted block's per-key int64 ``[rows, *sums]`` totals into
    ``acc`` — pass A's reduction and :func:`local_scan`'s totals. Keys are
    the block's raw values (a NULL key is ``None``, one run as Spark sorts
    NULLs together); ``key=None`` makes the block one group keyed ``None``,
    present even when empty."""
    vals = np.column_stack(
        [np.ones(len(pdf), np.int64), *(pdf[c].to_numpy(np.int64) for c in sums)]
    )
    if key is None:
        keys, runs = [None], [vals.sum(axis=0)]
    else:
        k = pdf[key].to_numpy()
        run = np.ones(len(k), dtype=bool)
        run[1:] = k[1:] != k[:-1]
        starts = np.flatnonzero(run)
        keys, runs = k[starts].tolist(), np.add.reduceat(vals, starts, axis=0)
    for k, v in zip(keys, runs):
        acc[k] = acc[k] + v if k in acc else v
    return acc


def range_scan(
    df: DataFrame,
    order: list[str],
    key: str | None,
    sums: list[str],
    kernel: Callable[[Iterator[pd.DataFrame], dict, dict], Iterator[pd.DataFrame]],
    schema: str,
    num_partitions: int | None = None,
) -> tuple[DataFrame, dict]:
    """The distributed prefix scan over ``df`` in ``order``.

    :func:`range_sort` + persist; pass A (one job) reports each
    partition's per-``key`` ``[rows, *sums]`` totals; the driver turns
    them into exclusive prefixes in partition order and broadcasts them;
    pass B runs ``kernel(batches, off, tot)`` over each sorted partition,
    where ``off`` maps a key to its totals in EARLIER partitions (absent =
    zero) and ``tot`` to its grand totals. The pass-B output (``schema``)
    is checkpointed before the sorted frame is unpersisted. Returns
    ``(out, tot)``. Kernels must not mutate ``off``/``tot``: a reused
    worker shares the broadcast value across tasks."""
    srt = range_sort(df, order, num_partitions).persist()

    def pass_a(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: dict = {}
        for pdf in batches:
            _key_sums(pdf, key, sums, acc)
        yield pd.DataFrame({"pid": [_pid()], "acc": [pickle.dumps(acc)]})

    accs = {
        r["pid"]: pickle.loads(r["acc"])
        for r in srt.mapInPandas(pass_a, "pid int, acc binary").collect()
    }
    offsets: dict[int, dict] = {}
    totals: dict = {}
    for pid in sorted(accs):
        offsets[pid] = {k: totals[k] for k in accs[pid] if k in totals}
        for k, v in accs[pid].items():
            totals[k] = totals[k] + v if k in totals else v
    bc = df.sparkSession.sparkContext.broadcast((offsets, totals))

    def pass_b(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        off, tot = bc.value
        return kernel(batches, off.get(_pid(), {}), tot)

    out = srt.mapInPandas(pass_b, schema).localCheckpoint()
    srt.unpersist()
    return out, totals


def local_scan(
    df: DataFrame,
    order: list[str],
    key: str | None,
    sums: list[str],
    kernel: Callable[[Iterator[pd.DataFrame], dict, dict], Iterator[pd.DataFrame]],
) -> tuple[pd.DataFrame, dict]:
    """Driver twin of :func:`range_scan` for small frames: ONE collect,
    sorted as Spark sorts ascending (string NULLs first, NaN after every
    number — callers filter NULL doubles out), the totals from pass A's own
    :func:`_key_sums`, and the SAME ``kernel`` over the whole frame as
    partition 0 with empty offsets. The kernel must yield at least one
    frame for its one batch. Returns ``(pandas_out, tot)``."""
    pdf = df.toPandas()
    keys = {}
    for i, c in enumerate(order):
        if pdf[c].dtype == object:  # pandas would put NULL strings last
            keys[f"n{i}"] = pdf[c].notna()
        keys[f"v{i}"] = pdf[c]
    pdf = pdf.loc[pd.DataFrame(keys).sort_values(list(keys), kind="stable").index]
    totals = _key_sums(pdf, key, sums, {})
    out = pd.concat(list(kernel(iter([pdf]), {}, totals)), ignore_index=True)
    return out, totals


def triu_pair(r: np.ndarray, p: int) -> tuple[np.ndarray, np.ndarray]:
    """Row-major upper-triangle index -> (i, j), i < j, of a p×p matrix —
    the order of ``np.triu_indices(p, 1)``. Derived arithmetically so no
    O(p²) pair table is ever built or broadcast."""
    r = np.asarray(r, dtype=np.int64)
    b = 2 * p - 1
    i = ((b - np.sqrt(b * b - 8.0 * r)) // 2).astype(np.int64)
    start = i * (2 * p - i - 1) // 2
    # float-precision fixups
    over = start > r
    i[over] -= 1
    start[over] = i[over] * (2 * p - i[over] - 1) // 2
    nxt = (i + 1) * (2 * p - i - 2) // 2
    under = nxt <= r
    i[under] += 1
    start[under] = i[under] * (2 * p - i[under] - 1) // 2
    return i, r - start + i + 1


def symmetric_from_triu(vals, p: int) -> np.ndarray:
    """Symmetric (p, p) float64 matrix with a zero diagonal from its upper
    triangle in ``np.triu_indices(p, 1)`` order — the :func:`triu_pair`
    order every pair job returns."""
    iu, ju = np.triu_indices(p, k=1)
    out = np.zeros((p, p), dtype=np.float64)
    out[iu, ju] = vals
    out[ju, iu] = vals
    return out


def pair_frame(
    spark: SparkSession,
    n_pairs: int,
    score: Callable[[np.ndarray], np.ndarray],
    tasks_per_core: int,
) -> DataFrame:
    """The pair-parallel job: ids ``0..n_pairs-1`` scored on the executors
    by ``score(ids) -> float64[]``, which closes over the caller's
    broadcasts. Native range partitioning — pair cost is homogeneous, so
    contiguous id splits balance perfectly and the plan has no Exchange
    (a round-robin ``repartition`` was measured at ~90% of a greedy step
    job: 3.5 s vs 0.41 s at p=5000)."""
    cores = spark.sparkContext.defaultParallelism
    n_chunks = min(n_pairs, max(cores * tasks_per_core, 2))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["id"].to_numpy(dtype=np.int64)
            yield pd.DataFrame({"id": ids, "score": score(ids)})

    return spark.range(0, n_pairs, 1, n_chunks).mapInPandas(
        kernel, schema="id long, score double"
    )


class LazyBroadcast:
    """A driver-held value that :func:`pair_job` broadcasts only on its
    first executor run, then reuses; a driver-path run reads ``value``
    in place. :meth:`destroy` (or leaving the ``with`` block) releases
    only a broadcast that was created."""

    def __init__(self, spark: SparkSession, value) -> None:
        self._sc = spark.sparkContext
        self.value = value
        self._bc = None

    def on_executors(self):
        if self._bc is None:
            self._bc = self._sc.broadcast(self.value)
        return self._bc

    def destroy(self) -> None:
        if self._bc is not None:
            self._bc.destroy()
            self._bc = None

    def __enter__(self) -> "LazyBroadcast":
        return self

    def __exit__(self, *exc) -> None:
        self.destroy()


def pair_job(
    spark: SparkSession,
    n_pairs: int,
    score: Callable[[np.ndarray, object], np.ndarray],
    data: LazyBroadcast,
    n_rows: int,
    tasks_per_core: int,
) -> np.ndarray:
    """Pair ids ``0..n_pairs-1`` scored by ``score(ids, data.value) ->
    float64[]`` into a dense vector by id. Within the ``pairs`` gate
    (``n_pairs × n_rows`` pair-cells) the driver twin runs ``score`` once
    over the whole range in-process — no broadcast, no job; else
    :func:`pair_frame` runs it on the executors over ``data``'s broadcast."""
    out = np.zeros(n_pairs, dtype=np.float64)
    if n_pairs == 0:
        return out
    if gates.use_driver(None, "pairs", rows=n_pairs * n_rows):
        out[:] = score(np.arange(n_pairs, dtype=np.int64), data.value)
        return out
    bc = data.on_executors()
    res = pair_frame(
        spark, n_pairs, lambda ids: score(ids, bc.value), tasks_per_core
    ).toPandas()
    out[res["id"].to_numpy(dtype=np.int64)] = res["score"].to_numpy(dtype=np.float64)
    return out
