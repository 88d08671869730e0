"""Tier-4 tests (SURVEY.md §5.2): determinism and kill-resume for the
checkpointed backfill."""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import threading

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fastselect_spark.data.transcripts import TRANSCRIPT_SCHEMA, generate_transcripts_pandas
from fastselect_spark.featurize import featurize_transcripts
from fastselect_spark.runtime.checkpoint import (
    BackfillManifest,
    bucket_of,
    content_checksum,
    run_resumable_backfill,
)

N_BUCKETS = 6


@pytest.fixture()
def source(spark):
    pdf = generate_transcripts_pandas(n_convs=60, seed=42)

    def src(s):
        return s.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA)

    return src


def _pipeline(df):
    return featurize_transcripts(df).select(
        "conv_id", "turn_idx", "turn_gap_s", "session_id", "n_tokens", "label"
    )


def test_backfill_deterministic(spark, source, tmp_path):
    """Same input twice -> identical per-cell checksums and row counts."""
    out1, out2 = str(tmp_path / "a"), str(tmp_path / "b")
    s1 = run_resumable_backfill(spark, source, _pipeline, out1, N_BUCKETS)
    s2 = run_resumable_backfill(spark, source, _pipeline, out2, N_BUCKETS)
    assert s1["rows"] == s2["rows"] > 0
    m1 = {e["cell"]: e for e in BackfillManifest(out1).entries()}
    m2 = {e["cell"]: e for e in BackfillManifest(out2).entries()}
    assert set(m1) == set(range(N_BUCKETS))
    for c in m1:
        assert m1[c]["checksum"] == m2[c]["checksum"]
        assert m1[c]["n_rows"] == m2[c]["n_rows"]
        assert m1[c]["metrics"]["wall_sec"] > 0


def test_backfill_covers_all_rows(spark, source, tmp_path):
    out = str(tmp_path / "full")
    run_resumable_backfill(spark, source, _pipeline, out, N_BUCKETS)
    written = spark.read.parquet(*[f"{out}/bucket={b}" for b in range(N_BUCKETS)])
    direct = _pipeline(source(spark))
    assert written.count() == direct.count()
    assert content_checksum(written.select(*direct.columns)) == content_checksum(direct)


def test_backfill_kill_and_resume(spark, source, tmp_path):
    """Fail at cell 3 -> earlier cells committed; resume skips them and the
    final result is identical to an uninterrupted run."""
    out = str(tmp_path / "resume")
    calls = {"n": 0}

    def failing_pipeline(df):
        calls["n"] += 1
        if calls["n"] == 4:  # fourth cell processed -> simulated crash
            raise RuntimeError("simulated executor loss")
        return _pipeline(df)

    with pytest.raises(RuntimeError, match="simulated"):
        run_resumable_backfill(spark, source, failing_pipeline, out, N_BUCKETS)
    done_after_crash = [e["cell"] for e in BackfillManifest(out).entries()]
    assert done_after_crash == [0, 1, 2]

    calls2 = {"n": 0}

    def counting_pipeline(df):
        calls2["n"] += 1
        return _pipeline(df)

    summary = run_resumable_backfill(spark, source, counting_pipeline, out, N_BUCKETS)
    assert summary["cells_skipped"] == 3
    assert summary["cells_run"] == 3
    assert calls2["n"] == 3  # completed cells were NOT recomputed

    # result identical to an uninterrupted run
    ref = str(tmp_path / "ref")
    run_resumable_backfill(spark, source, _pipeline, ref, N_BUCKETS)
    for b in range(N_BUCKETS):
        a = spark.read.parquet(f"{out}/bucket={b}")
        r = spark.read.parquet(f"{ref}/bucket={b}")
        assert content_checksum(a) == content_checksum(r)


def test_manifest_torn_write_recomputed(spark, source, tmp_path):
    out = str(tmp_path / "torn")
    run_resumable_backfill(spark, source, _pipeline, out, N_BUCKETS)
    # corrupt one manifest entry -> that cell must be recomputed
    path = os.path.join(out, "_manifest", "cell_00002.json")
    with open(path, "w") as f:
        f.write('{"cell": 2, "status"')  # torn JSON
    summary = run_resumable_backfill(spark, source, _pipeline, out, N_BUCKETS)
    assert summary["cells_run"] == 1 and summary["cells_skipped"] == N_BUCKETS - 1
    with open(path) as f:
        assert json.load(f)["status"] == "done"


def _within(seconds, fn):
    """Run ``fn`` on a daemon thread and fail, instead of hanging, if it
    does not return within ``seconds``."""
    box = {}

    def run():
        try:
            box["out"] = fn()
        except BaseException as exc:  # re-raised below
            box["err"] = exc

    t = threading.Thread(target=run, daemon=True)
    t.start()
    t.join(seconds)
    assert not t.is_alive(), f"backfill still running after {seconds}s"
    if "err" in box:
        raise box["err"]
    return box["out"]


EDGE_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("x", T.DoubleType()),
        T.StructField("payload", T.StringType()),
    ]
)


def _edge_rows():
    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    xs = [float("nan"), -0.0, 0.0, None, 1.5, float("inf"), -2.25]
    rows = []
    for i, conv in enumerate(["a", "b", "c", None]):
        for j in range(5):
            rows.append((
                conv,
                t0 + dt.timedelta(seconds=37 * i + 11 * j, microseconds=123 * j),
                xs[(i + j) % len(xs)],
                None if (i + j) % 3 == 0 else f"p{i}{j}",
            ))
    return rows


def _edge_pipeline(df):
    w = Window.partitionBy("conv_id").orderBy("ts")
    return df.select(
        "conv_id", "ts", "x", "payload", F.lag("x").over(w).alias("prev_x")
    )


def test_manifest_matches_written_cells_on_edge_values(spark, tmp_path):
    """NULL keys and payloads, NaN / -0.0 doubles, timestamps and empty
    cells: every observed manifest entry equals the read-back count,
    checksum, key range and NULL counts of the cell it names."""
    rows = _edge_rows()
    n_buckets = 8  # four distinct keys (one NULL): some cells are empty
    out = str(tmp_path / "edge")
    summary = _within(
        300,
        lambda: run_resumable_backfill(
            spark,
            lambda s: s.createDataFrame(rows, schema=EDGE_SCHEMA),
            _edge_pipeline,
            out,
            n_buckets,
        ),
    )
    assert summary["cells_run"] == n_buckets and summary["rows"] == len(rows)
    entries = {e["cell"]: e for e in BackfillManifest(out).entries()}
    assert set(entries) == set(range(n_buckets))
    assert any(e["n_rows"] == 0 for e in entries.values())
    cols = ["conv_id", "ts", "x", "payload", "prev_x"]
    for cell, e in entries.items():
        written = spark.read.parquet(f"{out}/bucket={cell}")
        assert (e["n_rows"], e["checksum"]) == (
            written.count(),
            content_checksum(written),
        ), cell
        direct = written.agg(
            F.min("conv_id").alias("lo"),
            F.max("conv_id").alias("hi"),
            *[F.count_if(F.col(c).isNull()).alias(c) for c in cols],
        ).collect()[0]
        assert (e["key_min"], e["key_max"]) == (direct["lo"], direct["hi"]), cell
        assert e["null_counts"] == {c: direct[c] for c in cols}, cell
    # the NaN and -0.0 rows reached the cells as written
    full = [f"{out}/bucket={b}" for b, e in entries.items() if e["n_rows"]]
    xs = [r["x"] for r in spark.read.parquet(*full).collect() if r["x"] is not None]
    assert sum(map(math.isnan, xs)) == sum(
        1 for r in rows if r[2] is not None and math.isnan(r[2])
    )
    assert any(x == 0.0 and math.copysign(1.0, x) < 0 for x in xs)


@pytest.mark.parametrize(
    "empty", [lambda df: df.limit(0), lambda df: df.where(F.lit(False))],
    ids=["limit0", "where_false"],
)
def test_statically_empty_pipeline_commits_zero(spark, source, tmp_path, empty):
    """A plan the optimizer folds to nothing still completes its
    observation: every cell commits n_rows=0, checksum=0."""
    out = str(tmp_path / "empty")
    summary = _within(
        120,
        lambda: run_resumable_backfill(
            spark, source, lambda df: empty(_pipeline(df)), out, 3
        ),
    )
    assert summary == {"cells_total": 3, "cells_skipped": 0, "cells_run": 3, "rows": 0}
    for e in BackfillManifest(out).entries():
        assert (e["n_rows"], e["checksum"]) == (0, 0)
        assert set(e["null_counts"].values()) == {0}


def test_execution_failure_in_one_cell_resumes_that_cell(spark, source, tmp_path):
    """A cell whose write job fails at run time: the other cells commit,
    the error re-raises, and the resume runs exactly the failed cell."""
    bad = N_BUCKETS - 1
    out = str(tmp_path / "fail")

    def failing_pipeline(df):
        out_df = _pipeline(df)
        planted = F.when(
            bucket_of("conv_id", N_BUCKETS) == bad,
            F.raise_error(F.lit("planted cell failure")),
        ).otherwise(F.col("n_tokens"))
        return out_df.withColumn("n_tokens", planted)

    with pytest.raises(Exception, match="planted cell failure"):
        _within(
            300,
            lambda: run_resumable_backfill(spark, source, failing_pipeline, out, N_BUCKETS),
        )
    done = [e["cell"] for e in BackfillManifest(out).entries()]
    assert done == [c for c in range(N_BUCKETS) if c != bad]

    summary = run_resumable_backfill(spark, source, _pipeline, out, N_BUCKETS)
    assert summary["cells_run"] == 1 and summary["cells_skipped"] == N_BUCKETS - 1
    ref = str(tmp_path / "ref")
    run_resumable_backfill(spark, source, _pipeline, ref, N_BUCKETS)
    got = {e["cell"]: (e["n_rows"], e["checksum"]) for e in BackfillManifest(out).entries()}
    want = {e["cell"]: (e["n_rows"], e["checksum"]) for e in BackfillManifest(ref).entries()}
    assert got == want


def test_jobs_per_backfill(spark, tmp_path):
    """Each cell commits inside its own write job: at most two jobs per
    cell plus the source's schema inference, every one of them in the
    caller's job group; a resume over committed cells launches none."""
    path = str(tmp_path / "src")
    spark.createDataFrame(
        generate_transcripts_pandas(n_convs=60, seed=42), schema=TRANSCRIPT_SCHEMA
    ).write.parquet(path)
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    out = str(tmp_path / "out")

    def jobs_of(group):
        bus.waitUntilEmpty()
        ungrouped = set(sc.statusTracker().getJobIdsForGroup(None))
        sc.setJobGroup(group, group)
        try:
            summary = run_resumable_backfill(
                spark, lambda s: s.read.parquet(path), _pipeline, out, N_BUCKETS
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        bus.waitUntilEmpty()
        escaped = set(sc.statusTracker().getJobIdsForGroup(None)) - ungrouped
        assert not escaped, f"jobs outside the caller's group: {sorted(escaped)}"
        return summary, len(sc.statusTracker().getJobIdsForGroup(group))

    first, jobs = jobs_of("backfill-first")
    assert first["cells_run"] == N_BUCKETS
    assert jobs <= 2 * N_BUCKETS + 1
    resume, jobs = jobs_of("backfill-resume")
    assert resume["cells_skipped"] == N_BUCKETS
    assert jobs == 0
