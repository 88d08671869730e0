"""The one driver-vs-distributed decision. Every operator with a driver
twin (one collect, then the distributed path's own kernel in-process)
asks :func:`use_driver`; :data:`BUDGETS` holds the only size thresholds.
Callers go through the module attribute (``gates.use_driver(...)``) so a
test can substitute the decision in one place."""

from __future__ import annotations

from pyspark.sql import DataFrame

# Driver budget in bytes per operator, each beside its measured reason.
BUDGETS = {
    # output is input-sized: a 1.6M-row spearman melt ran 1.7x slower at 64 MB
    "ranks": 8 << 20,
    # one block's suffix min + carry is exact; one output row per feature
    "fdr": 64 << 20,
    # pooled input columns; one block gives the same integer cumsums
    "ks": 64 << 20,
    # a fold x feature table: one collect replaces the window/join/agg jobs
    "stability": 32 << 20,
    # a job per Lloyd iteration: 20 over a 1 MB table took 10.2 s distributed
    "lloyd": 256 << 20,
    # a parquet stage costs a fixed 1.5-2.5 s: 2-3.4x on kilobyte-scale fits
    "stage": 4 << 20,
    # 50M coded cells x 8 B; the cube's pair partials are ~100 MB at p=500
    "cfs": 400 << 20,
    # 2M long-id pairs, both directions, 24 B rows; else O(diameter) jobs
    "components": 96 << 20,
    # 16M pair-cells (pairs x n) x 8 B. In-process vs one job, local[4]: a
    # joint-MI column ties at 16M (0.43-0.49 s), the job wins by 40M; the
    # MI matrix 1.4 vs 2.2 s at 72M, ties at 144M; CFS SU 1.3 vs 1.7 s at 16M
    "pairs": 128 << 20,
}

_NO_STATS = (1 << 63) - 1  # Long.MaxValue: a plan leaf Catalyst cannot size


def plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate, or None when it fails or a plan leaf (a
    LogicalRDD of driver-built rows) has no statistics, which the plan's
    own number hides: a projection scales Long.MaxValue down."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        leaves = plan.collectLeaves()
        if any(
            int(leaves.apply(i).stats().sizeInBytes()) >= _NO_STATS
            for i in range(leaves.size())
        ):
            return None
        return int(plan.stats().sizeInBytes())
    except Exception:  # pragma: no cover — estimation must never break an op
        return None


def use_driver(
    df: DataFrame | None,
    op: str,
    *,
    rows: int | None = None,
    num_partitions: int | None = None,
) -> bool:
    """True when operator ``op`` should run its driver path on ``df``.

    An explicit ``num_partitions`` means distributed. Else ``rows`` times
    Catalyst's row size (8 B + each type's default size; an array counts
    one element), or Catalyst's estimate, meets the budget. Without
    statistics, ONE probe of k = budget / row size: ``coalesce(1)`` makes
    it one job whose single task stops after k + 1 rows. ``df=None`` (an
    input the driver already holds) needs ``rows``, sizes a row at 8 B (one
    int64 code) and never touches Spark."""
    if num_partitions is not None:
        return False
    budget = BUDGETS[op]
    if df is None:
        if rows is None:
            raise ValueError(f"gate {op!r}: df=None needs rows")
        return rows * 8 <= budget
    width = 8 + df._jdf.schema().defaultSize()
    est = rows * width if rows is not None else plan_size_bytes(df)
    if est is None:
        k = budget // width
        return df.coalesce(1).limit(k + 1).count() <= k
    return est <= budget
