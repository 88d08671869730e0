"""The one driver-path gate: an explicit ``num_partitions`` means the
distributed path, and only a frame without size statistics pays a probe."""

from __future__ import annotations

import pandas as pd
import pytest

import fastselect_spark.featurize.drift as driftmod
import fastselect_spark.selection.fdr as fdrmod
import fastselect_spark.selection.rank as rankmod
from fastselect_spark.runtime import gates


def _small(spark):
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "feature": ["a", "b", "a", "b", "c"],
                "value": [0.3, 0.1, 0.2, 0.4, 0.05],
                "id": ["1", "2", "3", "4", "5"],
            }
        )
    )


@pytest.mark.parametrize(
    "kernel, call",
    [
        (
            (rankmod, "_rank_block"),
            lambda df: rankmod.average_ranks_long(df, num_partitions=2),
        ),
        (
            (fdrmod, "_bh_terms"),
            lambda df: fdrmod.fdr_bh(df, p_col="value", num_partitions=2),
        ),
        (
            (driftmod, "_ks_block"),
            lambda df: driftmod.ks_statistics(df, df, ["value"], num_partitions=2),
        ),
    ],
    ids=["ranks", "fdr", "ks"],
)
def test_explicit_num_partitions_runs_distributed(spark, driver_calls, kernel, call):
    """A small, exactly-sized input would take the driver path; asking for
    partitions must run the kernel on executors only."""
    calls = driver_calls(*kernel)
    assert call(_small(spark)).count() > 0
    assert not calls, "an explicit num_partitions took the driver path"


def _gate_jobs(spark, group, df, op="ranks", **kwargs):
    """``gates.use_driver(df, op, **kwargs)`` and the Spark jobs it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        decision = gates.use_driver(df, op, **kwargs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return decision, len(sc.statusTracker().getJobIdsForGroup(group))


def test_unknown_stats_pay_one_probe(spark):
    """pandas-built: decided from the estimate, no job. Row-built
    (LogicalRDD, narrowed so its estimate is a scaled-down Long.MaxValue):
    one bounded probe job. With num_partitions: no job."""
    pdf = _small(spark)
    rows = spark.createDataFrame(pdf.collect(), pdf.schema).select("value")
    assert _gate_jobs(spark, "gate-pandas", pdf) == (True, 0)
    assert _gate_jobs(spark, "gate-rows", rows) == (True, 1)
    assert _gate_jobs(spark, "gate-partitions", rows, num_partitions=2) == (False, 0)


def test_driver_held_input_sized_at_8_bytes_per_row(spark):
    """``df=None`` (arrays the driver already holds): ``rows`` x 8 B
    against the budget, with no job; without ``rows`` it raises."""
    k = gates.BUDGETS["pairs"] // 8
    assert _gate_jobs(spark, "gate-none-in", None, "pairs", rows=k) == (True, 0)
    assert _gate_jobs(spark, "gate-none-out", None, "pairs", rows=k + 1) == (False, 0)
    with pytest.raises(ValueError, match="needs rows"):
        gates.use_driver(None, "pairs")
