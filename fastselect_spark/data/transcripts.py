"""Deterministic transcripts-table inputs.

Two sources, both schema ``(conv_id string, turn_idx int, role string,
text string, tool string, ts timestamp)`` per BASELINE.json:15:

1. :func:`generate_transcripts_pandas` — the seeded synthetic generator from
   FIXTURES.md §A (Zipf-ish conversation lengths for skew, planted session
   gaps, deterministic token text). Used by tests and the bench job.
2. :func:`transcripts_from_events` / :data:`TRANSCRIPTS_FROM_EVENTS_SQL` — a
   pure-SQL derivation from the driver's ``events`` table, written in the
   ANSI subset Spark and DuckDB share, so driver correctness checks can run
   the identical derivation on both engines.

No wall-clock anywhere: timestamps derive from the seed (SURVEY.md §7.4).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)

_EPOCH = np.datetime64("2026-01-01T00:00:00")


def generate_transcripts_pandas(n_convs: int = 200, seed: int = 42) -> pd.DataFrame:
    """Seeded synthetic transcripts per FIXTURES.md §A.

    Conversation lengths are geometric (a few hot conversations exercise
    skew handling); per-turn timestamp increments are exponential with
    occasional planted >300s gaps (sessionization tests); text is a
    deterministic token sequence that must round-trip byte-identical.
    """
    rng = np.random.default_rng(seed)
    lengths = np.minimum(2 + rng.geometric(0.08, size=n_convs), 400)
    n = int(lengths.sum())

    conv_ids = np.repeat([f"conv{i:06d}" for i in range(n_convs)], lengths)
    turn_idx = np.concatenate([np.arange(l, dtype=np.int32) for l in lengths])

    # Roles: alternate user/assistant, 10% repeated role.
    base_role = np.where(turn_idx % 2 == 0, "user", "assistant")
    repeat = rng.random(n) < 0.10
    prev_role = np.roll(base_role, 1)
    role = np.where(repeat & (turn_idx > 0), prev_role, base_role).astype(object)

    # Tools: null ~80%; else from a fixed set. Only assistant turns call tools.
    tool_draw = rng.random(n)
    tool_choice = rng.integers(0, 4, size=n)
    tool_names = np.array(["search", "code", "browse", "none"], dtype=object)
    tool = np.where(
        (tool_draw < 0.20) & (role == "assistant"), tool_names[tool_choice], None
    )

    # Occasional 'tool' role right after a tool call.
    after_tool = np.roll(tool != None, 1)  # noqa: E711
    after_tool[0] = False
    make_tool_role = after_tool & (rng.random(n) < 0.5) & (turn_idx > 0)
    role = np.where(make_tool_role, "tool", role)

    # Text: deterministic token runs; token count = 1 + Poisson(20).
    tok_counts = 1 + rng.poisson(20, size=n)
    text = [
        " ".join(f"tok{(i * 7 + j) % 997}" for j in range(c))
        for i, c in enumerate(tok_counts)
    ]

    # Timestamps: per-conv start offset + exponential per-turn increments;
    # ~3% of turns get a planted >300s session gap.
    starts = rng.integers(0, 90 * 24 * 3600, size=n_convs)
    incr = 1.0 + rng.exponential(30.0, size=n)
    gap_mask = rng.random(n) < 0.03
    incr = np.where(gap_mask, incr + 600.0, incr)
    ts = np.empty(n, dtype="datetime64[us]")
    pos = 0
    for i, l in enumerate(lengths):
        offs = np.cumsum(incr[pos : pos + l])
        ts[pos : pos + l] = (
            _EPOCH + starts[i].astype("timedelta64[s]")
        ) + (offs * 1e6).astype("timedelta64[us]")
        pos += l

    return pd.DataFrame(
        {
            "conv_id": conv_ids,
            "turn_idx": turn_idx,
            "role": role,
            "text": text,
            "tool": tool,
            "ts": ts,
        }
    )


def _gen_conv_block(conv_ids: np.ndarray, seed: int) -> pd.DataFrame:
    """Generate the turns of a block of conversations, one independent
    deterministic RNG stream per conversation (seeded by (seed, conv id)),
    so output is identical no matter how conversations are partitioned."""
    frames = []
    for cid in conv_ids:
        rng = np.random.default_rng((int(seed) << 32) ^ int(cid))
        l = int(min(2 + rng.geometric(0.08), 400))
        turn_idx = np.arange(l, dtype=np.int32)
        base_role = np.where(turn_idx % 2 == 0, "user", "assistant").astype(object)
        repeat = rng.random(l) < 0.10
        prev_role = np.roll(base_role, 1)
        role = np.where(repeat & (turn_idx > 0), prev_role, base_role).astype(object)
        tool_draw = rng.random(l)
        tool_choice = rng.integers(0, 4, size=l)
        tool_names = np.array(["search", "code", "browse", "none"], dtype=object)
        tool = np.where(
            (tool_draw < 0.20) & (role == "assistant"), tool_names[tool_choice], None
        )
        tok_counts = 1 + rng.poisson(20, size=l)
        text = [
            " ".join(f"tok{(int(cid) * 131 + i * 7 + j) % 997}" for j in range(c))
            for i, c in enumerate(tok_counts)
        ]
        start = int(rng.integers(0, 90 * 24 * 3600))
        incr = 1.0 + rng.exponential(30.0, size=l)
        incr = np.where(rng.random(l) < 0.03, incr + 600.0, incr)
        offs = np.cumsum(incr)
        ts = (
            _EPOCH
            + np.timedelta64(start, "s")
            + (offs * 1e6).astype("timedelta64[us]")
        )
        frames.append(
            pd.DataFrame(
                {
                    "conv_id": f"conv{int(cid):08d}",
                    "turn_idx": turn_idx,
                    "role": role,
                    "text": text,
                    "tool": tool,
                    "ts": ts,
                }
            )
        )
    return pd.concat(frames, ignore_index=True)


def generate_transcripts_distributed(
    spark: SparkSession, n_convs: int, seed: int = 42, partitions: int | None = None
) -> DataFrame:
    """Cluster-side transcripts generation: ``spark.range(n_convs)`` fanned
    out with ``mapInPandas`` — the generation path that holds at 10^12-turn
    design scale (the driver never materializes the table). Deterministic:
    per-conversation RNG streams keyed by (seed, conv_id)."""
    if partitions is None:
        partitions = max(spark.sparkContext.defaultParallelism * 2, 8)

    def gen(batches):
        for pdf in batches:
            if len(pdf):
                yield _gen_conv_block(pdf["id"].to_numpy(), seed)

    return (
        spark.range(n_convs)
        .repartition(partitions)
        .mapInPandas(gen, schema=TRANSCRIPT_SCHEMA)
    )


# Shared Spark/DuckDB SQL: derive a transcripts-shaped table from `events`.
# Uses only functions with identical semantics in both engines.
TRANSCRIPTS_FROM_EVENTS_SQL = """
SELECT
    CAST(user_id AS STRING)                                    AS conv_id,
    CAST(ROW_NUMBER() OVER (
        PARTITION BY user_id ORDER BY ts, event_id) - 1 AS INT) AS turn_idx,
    CASE WHEN event_type IN ('click', 'view') THEN 'user'
         WHEN event_type = 'error'            THEN 'tool'
         ELSE 'assistant' END                                  AS role,
    CONCAT(event_type, ' ', COALESCE(props, ''))               AS text,
    CASE WHEN event_type = 'purchase' THEN 'code'
         WHEN event_type = 'signup'   THEN 'search'
         ELSE NULL END                                         AS tool,
    ts
FROM events
"""


def transcripts_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transcripts-shaped DataFrame derived from the driver's events table.

    The scan goes through the source layer (sources/tables.py), so an
    Iceberg-cataloged ``events`` table works with zero code changes."""
    from fastselect_spark.sources import read_transcripts_table

    read_transcripts_table(spark, f"{sf_dir}/events.parquet").createOrReplaceTempView(
        "events"
    )
    return spark.sql(TRANSCRIPTS_FROM_EVENTS_SQL)
