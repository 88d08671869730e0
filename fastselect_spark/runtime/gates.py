"""The one driver-vs-distributed decision. Every operator with a driver
twin (one collect, then the distributed path's own kernel in-process)
asks :func:`use_driver`; :data:`BUDGETS` holds the only size thresholds.
Callers go through the module attribute (``gates.use_driver(...)``) so a
test can substitute the decision in one place."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType

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
    # MI matrix 1.4 vs 2.2 s at 72M, ties at 144M; CFS SU 1.3 vs 1.7 s at 16M;
    # MDR phase 1 (combos x n) 0.27 vs 0.39 s at 10M, ties at 20M, 1.7 vs 1.2 s at 80M
    "pairs": 128 << 20,
    # Arrow-collected array rows. In-process vs one job, local[4]: chi2
    # 0.27-0.29 vs 0.29-0.36 s at 47 MB, 0.51-0.61 vs 0.35-0.37 s at 93 MB;
    # MI relevance 0.33-0.40 vs 0.60-0.64 s at 47 MB, ties at 93 MB
    "moments": 64 << 20,
    # 32M Relief distance cells (n x n x p) x 8 B. In-process vs one job,
    # local[4]: 0.32-0.34 vs 0.38-0.51 s at 26M, ties at 40M, 0.87 vs 0.66 s at 100M
    "relief": 256 << 20,
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


def _has_shuffle(plan) -> bool:
    """A ShuffleExchangeExec among ``plan``'s own nodes (a cached
    relation's plan is not a child, and AQE never coalesces its reads)."""
    if plan.getClass().getSimpleName() == "ShuffleExchangeExec":
        return True
    children = plan.children()
    return any(_has_shuffle(children.apply(i)) for i in range(children.size()))


def plan_partitions(df: DataFrame, coalesced: bool = False) -> int:
    """``df``'s partition count, read from its physical plan where asking
    the RDD would run a job: ``df.rdd.getNumPartitions()`` on an adaptive
    plan runs its shuffle map stages as a job of their own. An adaptive
    plan that has run reports its final count; one that has not reports
    its planned count, an upper bound, as AQE may still coalesce it.
    ``coalesced`` asks for the count AQE is expected to leave instead: for
    a plan with a shuffle of its own, the planned count capped at
    Catalyst's size estimate over ``minPartitionSize``, the fewest bytes
    AQE puts in a coalesced partition (an unsized one asks the RDD). A
    plan without an exchange is not adaptive and builds its RDD without a
    job; an adaptive plan whose partitioning is unknown (a union, a
    broadcast join) asks too."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        n = int(plan.executedPlan().outputPartitioning().numPartitions())
        if n > 0 and (
            not coalesced
            or "isFinalPlan=true" in plan.simpleString(1)
            or not _has_shuffle(plan.executedPlan())
        ):
            return n
        size = plan_size_bytes(df)
        if n > 0 and size is not None:
            sql_conf = df.sparkSession.sparkContext._jvm.org.apache.spark.sql.internal.SQLConf
            conf = df.sparkSession._jsparkSession.sessionState().conf()
            floor = int(conf.getConf(sql_conf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE()))
            return max(1, min(n, -(-size // max(floor, 1))))
    return df.rdd.getNumPartitions()


def _measured(df: DataFrame) -> bool:
    """Every plan leaf is a loaded cache, whose size Catalyst measured
    (other leaves are estimated at one element per array)."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() != "InMemoryRelation":
            return False
        if not leaf.cacheBuilder().isCachedColumnBuffersLoaded():
            return False
    return True


def use_driver(
    df: DataFrame | None,
    op: str,
    *,
    rows: int | None = None,
    num_partitions: int | None = None,
) -> bool:
    """True when operator ``op`` should run its driver path on ``df``.

    An explicit ``num_partitions`` means distributed. Else ``rows`` times
    Catalyst's row size (8 B + each type's default size), or Catalyst's
    estimate, meets the budget. Catalyst counts an array as ONE element,
    so a frame with an array column takes the estimate only when it is
    measured (every leaf a loaded cache) and ignores ``rows``. Otherwise,
    ONE probe over the first k + 1 rows, k = budget / row size:
    ``coalesce(1)`` makes it one job (after the map stages of a shuffle
    beneath it) whose single task stops there, and it sums each row's
    bytes with every array at its real length. ``df=None``
    (an input the driver already holds) needs ``rows``, sizes a row at 8 B
    (one int64 code) and never touches Spark."""
    if num_partitions is not None:
        return False
    budget = BUDGETS[op]
    if df is None:
        if rows is None:
            raise ValueError(f"gate {op!r}: df=None needs rows")
        return rows * 8 <= budget
    width = 8 + df._jdf.schema().defaultSize()
    arrays = [f for f in df.schema.fields if isinstance(f.dataType, ArrayType)]
    if not arrays:
        est = rows * width if rows is not None else plan_size_bytes(df)
    else:
        est = plan_size_bytes(df) if _measured(df) else None
    if est is not None:
        return est <= budget
    k = budget // width
    row_bytes = F.lit(width)
    for f in arrays:  # the default size already counts one element
        elem = df._jdf.schema().apply(f.name).dataType().elementType().defaultSize()
        row_bytes += (F.greatest(F.size(F.col(f"`{f.name}`")), F.lit(1)) - 1) * elem
    n, total = df.coalesce(1).limit(k + 1).agg(F.count(F.lit(1)), F.sum(row_bytes)).first()
    return n <= k and (total or 0) <= budget
