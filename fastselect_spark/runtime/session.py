"""SparkSession factory with the engine's pinned configuration.

Design notes (scale): Arrow is mandatory (all kernel math crosses the
JVM<->Python boundary in Arrow batches, never per-row); AQE is on so
post-shuffle partition coalescing and skew-join splitting apply at real
cluster scale; shuffle partitions default to a small fixed number for
local testing but should be sized ~2-3x total cores on a real cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32

# app ids whose Python workers have already been pre-spawned (getOrCreate
# may hand back an existing, already-warm session)
_WARMED_APPS: set[str] = set()


def _warm_python_workers(spark: SparkSession) -> None:
    """Pre-spawn one Python worker per core with a trivial Arrow round-trip.

    The first Python task of a session pays worker fork + Arrow serializer
    init (measured ~3-6 s on 32 cores — the repo's "Python-worker cold
    start" lesson), which otherwise lands inside whatever operator happens
    to run first. Doing it at session-creation time amortizes it the same
    way a long-lived production session does; no data is touched or cached.
    Disable with FASTSELECT_WARM_WORKERS=0 (e.g. for JVM-only workloads).
    """
    if os.environ.get("FASTSELECT_WARM_WORKERS", "1") == "0":
        return
    app_id = spark.sparkContext.applicationId
    if app_id in _WARMED_APPS:
        return
    _WARMED_APPS.add(app_id)
    n = max(2, spark.sparkContext.defaultParallelism)
    try:
        spark.range(0, n, 1, n).mapInPandas(
            lambda it: it, schema="id long"
        ).write.format("noop").mode("overwrite").save()
        # One tiny JVM job exercising the expression/operator classes the
        # engine's hot paths use (hash/regex/string/array expressions, a
        # window, a hash aggregate): their first evaluation pays ~2 s of
        # class-loading + JIT (measured: the first fingerprint projection
        # of a session costs 1.9 s, the second 0.17 s). 256 rows — data
        # cost is nil; the warmed machinery is data-independent.
        from pyspark.sql import Window as _W
        from pyspark.sql import functions as _F

        df = spark.range(0, 256, 1, 4).select(
            "id", _F.md5(_F.concat_ws(":", _F.col("id").cast("string"))).alias("h")
        )
        df = df.select(
            "id",
            "h",
            _F.explode(
                _F.array_distinct(
                    _F.split(_F.regexp_replace(_F.lower("h"), r"\s+", " "), "a")
                )
            ).alias("tok"),
            _F.conv(_F.substring("h", 1, 15), 16, 10).cast("long").alias("c"),
            _F.xxhash64("h").alias("x"),
        )
        w = _W.partitionBy(_F.pmod("id", _F.lit(4))).orderBy("c")
        df = df.withColumn("rn", _F.row_number().over(w)).where(_F.col("rn") <= 8)
        df.groupBy("tok").agg(
            _F.count(_F.lit(1)).alias("n"), _F.min("c").alias("m")
        ).write.format("noop").mode("overwrite").save()
    except Exception:  # pragma: no cover — warm-up must never break startup
        pass


def get_spark(
    app_name: str = "fastselect_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[N]`` where N comes from
    ``$SPARK_GRAFT_CPUS`` (driver convention) or all cores.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("FASTSELECT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Deterministic timestamp handling regardless of host TZ.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow batch size bounds pandas-UDF memory per task: a row cap
        # for narrow rows, a byte cap for wide ones. At p=200k the row cap
        # alone gave ~100 MB batches, G1 humongous allocations whose
        # fragmentation built up in a long-lived JVM until a full GC and
        # slowed the same wide-matrix job 3-6x within one session
        # (BENCH/SCORERS.md, round 5); 8 MB batches stay below the
        # humongous threshold at 32 g heaps and held the in-session spread
        # to <= 1.5x. Operators never change these per call.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.execution.arrow.maxBytesPerBatch", "8m")
        .config("spark.driver.memory", os.environ.get("FASTSELECT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Short-lived availableNow streaming queries don't benefit from
        # background state-store snapshot maintenance, and the maintenance
        # thread racing query teardown/checkpoint cleanup produces spurious
        # CANNOT_WRITE_STATE_STORE.CANNOT_COMMIT task failures. Long-running
        # production streams should lower this again.
        .config("spark.sql.streaming.stateStore.maintenanceInterval", "3600s")
        # ...and silence the coordinator's snapshot-lag WARN spam that the
        # raised interval otherwise produces on multi-batch local runs
        .config(
            "spark.sql.streaming.stateStore.coordinatorReportSnapshotUploadLag",
            "false",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _warm_python_workers(spark)
    return spark
