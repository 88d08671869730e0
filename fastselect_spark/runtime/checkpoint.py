"""Checkpointed, resumable backfill with per-partition lineage + metrics
(north_rule: "checkpoints per-partition progress with lineage + metrics for
resumable backfill").

The unit of progress is a CELL = one conv_id hash bucket (optionally
sub-sliced by time range upstream). Each cell is processed independently:
filter -> pipeline -> write ``bucket=<b>`` parquet partition -> record a
manifest entry ATOMICALLY (temp file + rename). On restart, cells with a
committed manifest entry are skipped, so a killed backfill resumes where it
stopped and reruns are idempotent.

Spark's own checkpointing is not granular enough for this (SURVEY.md §4.2);
the manifest is engine bookkeeping:

    <output_dir>/_manifest/cell_00007.json
    {"cell": 7, "status": "done", "n_rows": 12345,
     "checksum": 123456789,          # order-independent xxhash64 sum
     "key_min": "c0003", "key_max": "c0991",
     "null_counts": {"conv_id": 0, "turn_gap_s": 41, ...},
     "attempt": 1, "lineage": {"input": ..., "n_buckets": ..., "app_id": ...},
     "metrics": {"wall_sec": 1.2, "rows_per_sec": 10287.5}}

Commit protocol: the pipeline's result carries one ``observe`` as its last
operator, and that observed frame is what the cell writes. The row count,
the checksum, the key range and the per-column NULL counts therefore come
out of the write job itself; nothing is read back. The observation sits in
the write's result stage, so Spark applies each task's update exactly once
(a retried or speculative task does not count twice). The manifest entry is
written only after the write returned, so a committed entry always names a
complete parquet directory.

Concurrency: ``pipeline(part)`` is called on the caller's thread, in cell
order. Each cell's write, observation and manifest commit then run on a
``pyspark.InheritableThread``, which carries the caller's job group and
local properties into the write's jobs. At most
``min(sparkContext.defaultParallelism, os.cpu_count())`` cells are in
flight, and never more than the pending cells. If a cell fails (in the
pipeline or in its write), no further cell starts, the cells already in
flight finish and commit, and then the first error re-raises. The committed
set can therefore have gaps after a crash; resume runs exactly the cells
without a committed entry.

Determinism contract: the checksum is a sum of per-row xxhash64 over all
output columns — independent of row order and partitioning — so two runs
over the same input must produce identical checksums (tested, Tier 4). The
observed checksum and ``content_checksum`` of the written cell are the same
expression (``checksum_sum``), so old and new manifests compare equal.
"""

from __future__ import annotations

import json
import os
import time
from collections import deque
from collections.abc import Callable

from pyspark import InheritableThread
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def bucket_of(col: str, n_buckets: int):
    return F.pmod(F.xxhash64(F.col(col)), F.lit(n_buckets))


def checksum_sum(columns: list[str]) -> Column:
    """The unreduced content checksum aggregate: sum of per-row xxhash64
    over ``columns`` (null-safe via casts to string, NULL as U+2205), in
    decimal(38,0) — ANSI-safe against int64 overflow. ``reduce_checksum``
    finishes it."""
    cols = [F.coalesce(F.col(c).cast("string"), F.lit("∅")) for c in columns]
    return F.sum(F.xxhash64(*cols).cast("decimal(38,0)"))


def reduce_checksum(total) -> int:
    """``checksum_sum``'s value (None on empty input) modulo 2^61."""
    return int(total or 0) % (1 << 61)


def content_checksum(df: DataFrame) -> int:
    """Order-independent content checksum: sum of per-row xxhash64 over all
    columns (null-safe via casts to string)."""
    row = df.agg(checksum_sum(df.columns).alias("cs")).collect()[0]
    return reduce_checksum(row["cs"])


class BackfillManifest:
    def __init__(self, output_dir: str) -> None:
        self.dir = os.path.join(output_dir, "_manifest")
        os.makedirs(self.dir, exist_ok=True)

    def _path(self, cell: int) -> str:
        return os.path.join(self.dir, f"cell_{cell:05d}.json")

    def is_done(self, cell: int) -> bool:
        p = self._path(cell)
        if not os.path.exists(p):
            return False
        try:
            with open(p) as f:
                return json.load(f).get("status") == "done"
        except (json.JSONDecodeError, OSError):
            return False  # torn write -> treat as not done, recompute

    def commit(self, cell: int, entry: dict) -> None:
        tmp = self._path(cell) + ".tmp"
        with open(tmp, "w") as f:
            # default=str: a timestamp or decimal key bound lands as its text
            json.dump({"cell": cell, "status": "done", **entry}, f, default=str)
        os.replace(tmp, self._path(cell))  # atomic on POSIX

    def entries(self) -> list[dict]:
        out = []
        for name in sorted(os.listdir(self.dir)):
            if name.endswith(".json"):
                with open(os.path.join(self.dir, name)) as f:
                    out.append(json.load(f))
        return out


def _observe_cell(result: DataFrame, key_col: str) -> tuple[DataFrame, Observation]:
    """``result`` with one observation of the cell's manifest statistics as
    its last operator: row count, checksum, key range, NULLs per column."""
    obs = Observation()
    metrics = [
        F.count(F.lit(1)).alias("n_rows"),
        checksum_sum(result.columns).alias("checksum"),
        *[
            F.count_if(F.col(c).isNull()).alias(f"nulls_{i}")
            for i, c in enumerate(result.columns)
        ],
    ]
    if key_col in result.columns:
        metrics += [F.min(key_col).alias("key_min"), F.max(key_col).alias("key_max")]
    return result.observe(obs, *metrics), obs


def run_resumable_backfill(
    spark: SparkSession,
    source: Callable[[SparkSession], DataFrame],
    pipeline: Callable[[DataFrame], DataFrame],
    output_dir: str,
    n_buckets: int = 16,
    key_col: str = "conv_id",
    lineage: dict | None = None,
) -> dict:
    """Run ``pipeline`` over each conv_id-hash bucket of ``source``,
    checkpointing per-cell progress. Returns a summary dict.

    Completed cells (committed manifest entries) are skipped on re-run.
    ``source`` is called only once a pending cell is found, so a resume
    that finds every cell committed does not touch the input and launches
    no Spark job. See the module docstring for the commit protocol and
    the concurrency bound.
    """
    manifest = BackfillManifest(output_dir)
    pending = [cell for cell in range(n_buckets) if not manifest.is_done(cell)]
    summary = {
        "cells_total": n_buckets,
        "cells_skipped": n_buckets - len(pending),
        "cells_run": 0,
        "rows": 0,
    }
    if not pending:
        return summary
    width = min(spark.sparkContext.defaultParallelism, os.cpu_count() or 1, len(pending))
    cell_lineage = {
        "n_buckets": n_buckets,
        "key_col": key_col,
        "app_id": spark.sparkContext.applicationId,
        **(lineage or {}),
    }
    rows: dict[int, int] = {}
    errors: list[BaseException] = []

    def commit(cell: int, result: DataFrame, t0: float) -> None:
        try:
            observed, obs = _observe_cell(result, key_col)
            cell_dir = os.path.join(output_dir, f"bucket={cell}")
            observed.write.mode("overwrite").parquet(cell_dir)
            m = obs.get
            wall = time.perf_counter() - t0
            n_rows = int(m["n_rows"])
            manifest.commit(
                cell,
                {
                    "n_rows": n_rows,
                    "checksum": reduce_checksum(m["checksum"]),
                    "key_min": m.get("key_min"),
                    "key_max": m.get("key_max"),
                    "null_counts": {
                        c: int(m[f"nulls_{i}"]) for i, c in enumerate(result.columns)
                    },
                    "attempt": 1,
                    "lineage": cell_lineage,
                    "metrics": {
                        "wall_sec": round(wall, 3),
                        "rows_per_sec": round(n_rows / wall, 1) if wall > 0 else None,
                    },
                },
            )
            rows[cell] = n_rows
        except BaseException as exc:  # re-raised on the caller's thread
            errors.append(exc)

    df = source(spark)
    inflight: deque[InheritableThread] = deque()
    try:
        for cell in pending:
            while len(inflight) >= width:
                inflight.popleft().join()
            if errors:
                break
            t0 = time.perf_counter()
            result = pipeline(df.where(bucket_of(key_col, n_buckets) == cell))
            # started here, so it copies the caller's local properties now
            writer = InheritableThread(target=commit, args=(cell, result, t0))
            writer.start()
            inflight.append(writer)
    finally:
        for writer in inflight:
            writer.join()
    if errors:
        raise errors[0]
    summary["cells_run"] = len(rows)
    summary["rows"] = sum(rows.values())
    return summary
