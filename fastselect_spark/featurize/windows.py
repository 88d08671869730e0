"""Window featurization over the transcripts table.

Everything here is Window + built-in expressions (SURVEY.md §2.3
"Window functions"): lag/lead, turn gaps, gap-based sessionization,
role-run lengths, rolling token statistics, and forward-fill (backfill).
No Python UDFs — the whole layer stays inside WholeStageCodegen.

Scale notes: every window below partitions by ``conv_id``, so Catalyst
plans ONE hash exchange on conv_id reused by all window operators in a
combined featurize job (verify with ``.explain``: a single Exchange
feeding consecutive Window nodes). Per-conversation data is bounded
(conversations are short relative to partitions), so in-partition sorts
are cheap; a pathological million-turn conversation is handled by the
salted two-pass prefix pattern in ``asof.py``.

Temporal-leakage discipline: every frame ends at the CURRENT row
(``rowsBetween(start, 0)`` / ``rangeBetween(start, 0)``) — no frame ever
looks ahead, which is the zero-leakage invariant (BASELINE.json north_rule);
``lead`` columns are provided only for explicitly-named future-feature use
and are excluded from the default feature matrix.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

SESSION_GAP_SECONDS = 300.0


def _conv_window(order_col: str = "turn_idx") -> WindowSpec:
    return Window.partitionBy("conv_id").orderBy(order_col)


def token_count(col: str | Column = "text") -> Column:
    """Whitespace token count — the reference-free text size surrogate."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.split(c, r"\s+"))


def _stable_order() -> dict[str, Column]:
    return {"turn_seq": F.row_number().over(_conv_window())}


def add_stable_order(df: DataFrame) -> DataFrame:
    """row_number over (conv_id, turn_idx) — the stable per-turn identity
    (per-row invariant: text equality under this ordering, BASELINE.json:15)."""
    return df.withColumns(_stable_order())


def _turn_gap() -> dict[str, Column]:
    w = _conv_window()
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    return {"turn_gap_s": F.coalesce(gap.cast("double"), F.lit(0.0))}


def add_turn_gap(df: DataFrame) -> DataFrame:
    """Seconds since previous turn in the conversation (null -> 0 on first)."""
    return df.withColumns(_turn_gap())


def add_lag_lead(df: DataFrame, cols: list[str], offsets: tuple[int, ...] = (1,)) -> DataFrame:
    """lag_k / lead_k columns for the named columns."""
    w = _conv_window()
    for c in cols:
        for k in offsets:
            df = df.withColumn(f"{c}_lag{k}", F.lag(c, k).over(w))
            df = df.withColumn(f"{c}_lead{k}", F.lead(c, k).over(w))
    return df


def _cum() -> WindowSpec:
    return _conv_window().rowsBetween(Window.unboundedPreceding, 0)


def _sessions(gap_seconds: float) -> tuple[dict[str, Column], dict[str, Column]]:
    prev_ts = F.lag("ts").over(_conv_window())
    is_start = F.when(
        prev_ts.isNull()
        | ((F.unix_timestamp("ts") - F.unix_timestamp(prev_ts)) > gap_seconds),
        F.lit(1),
    ).otherwise(F.lit(0))
    return (
        {"session_start": is_start},
        {"session_id": F.sum("session_start").over(_cum()) - 1},
    )


def add_sessions(df: DataFrame, gap_seconds: float = SESSION_GAP_SECONDS) -> DataFrame:
    """Gap-based sessionization: a new session starts when the time since
    the previous turn exceeds ``gap_seconds``; session_id is the running
    count of session starts (cumulative sum over an at-or-before frame —
    never looks ahead)."""
    starts, ids = _sessions(gap_seconds)
    return df.withColumns(starts).withColumns(ids)


def _role_runs() -> tuple[dict[str, Column], dict[str, Column]]:
    w = _conv_window()
    changed = F.when(
        F.lag("role").over(w).isNull() | (F.col("role") != F.lag("role").over(w)),
        F.lit(1),
    ).otherwise(F.lit(0))
    seq = F.row_number().over(w)
    run_start_seq = F.max(F.when(F.col("role_changed") == 1, seq)).over(_cum())
    return (
        {"role_changed": changed},
        {
            "role_run_id": F.sum("role_changed").over(_cum()) - 1,
            "role_run_len": (seq - run_start_seq + F.lit(1)).cast("long"),
        },
    )


def add_role_runs(df: DataFrame) -> DataFrame:
    """Run-id of consecutive same-role turns and the running length of the
    current run (leakage-safe: counts only turns at or before the current).

    role_run_len is derived inside the SAME (conv_id, turn_idx) window spec
    as everything else — current row_number minus the row_number at the
    run's start — so Catalyst fuses it into the shared Window node instead
    of planning an extra full-table Sort on (conv_id, role_run_id)."""
    changed, runs = _role_runs()
    return df.withColumns(changed).withColumns(runs)


def _n_tokens() -> dict[str, Column]:
    return {"n_tokens": token_count("text").cast("double")}


def _rolling_token_stats(k: int) -> dict[str, Column]:
    row_w = _conv_window().rowsBetween(-k, 0)
    range_w = (
        Window.partitionBy("conv_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-600, 0)
    )
    return {
        f"tokens_sum_{k}": F.sum("n_tokens").over(row_w),
        f"tokens_avg_{k}": F.avg("n_tokens").over(row_w),
        f"tokens_std_{k}": F.coalesce(
            F.stddev_samp("n_tokens").over(row_w), F.lit(0.0)
        ),
        "tokens_sum_10m": F.sum("n_tokens").over(range_w),
    }


def add_rolling_token_stats(df: DataFrame, k: int = 5) -> DataFrame:
    """Token count per turn + rolling sum/avg/stddev over the last ``k+1``
    turns (row frame) and over the trailing 10 minutes (range frame)."""
    if "n_tokens" not in df.columns:
        df = df.withColumns(_n_tokens())
    return df.withColumns(_rolling_token_stats(k))


def add_multi_horizon_stats(
    df: DataFrame,
    value_col: str = "n_tokens",
    horizons_s: tuple[int, ...] = (60, 600, 3600),
    include_rates: bool = True,
) -> DataFrame:
    """Feature-store-style multi-horizon point-in-time aggregates: for each
    trailing time horizon h, the count / sum / mean of ``value_col`` over
    the window ``(ts - h, ts]`` within the conversation, plus (optionally)
    an events-per-minute rate.

    All horizons share the SAME partition key (conv_id) and ordering
    (epoch seconds), so Catalyst plans ONE hash exchange and ONE sort for
    the entire stack — adding a horizon costs one extra Window operator on
    already-sorted partitions, never another shuffle. Frames end at the
    current row (leakage-safe, like every frame in this module); rows with
    equal timestamps see each other, matching SQL RANGE semantics exactly.

    At 10^12 turns this is the cheap way to get k horizons: the naive
    per-horizon self-join (`events e JOIN events w ON w.ts BETWEEN e.ts-h
    AND e.ts`) shuffles the table k times and inflates it by the mean
    window size; this is one shuffle total and zero inflation.
    """
    if value_col == "n_tokens" and "n_tokens" not in df.columns:
        df = df.withColumn("n_tokens", token_count("text").cast("double"))
    order = F.unix_timestamp("ts")
    for h in horizons_s:
        w = Window.partitionBy("conv_id").orderBy(order).rangeBetween(-int(h), 0)
        df = (
            df.withColumn(f"{value_col}_cnt_{h}s", F.count(value_col).over(w))
            .withColumn(f"{value_col}_sum_{h}s", F.sum(value_col).over(w))
            .withColumn(f"{value_col}_avg_{h}s", F.avg(value_col).over(w))
        )
        if include_rates:
            df = df.withColumn(
                f"{value_col}_per_min_{h}s",
                F.col(f"{value_col}_cnt_{h}s") / F.lit(h / 60.0),
            )
    return df


def add_backfill(df: DataFrame, cols: list[str]) -> DataFrame:
    """Forward-fill: latest non-null value at or before the current turn
    (``last(..., ignorenulls=True)`` over an unbounded-preceding frame)."""
    w = _conv_window().rowsBetween(Window.unboundedPreceding, 0)
    for c in cols:
        df = df.withColumn(f"{c}_ffill", F.last(c, ignorenulls=True).over(w))
    return df


def _tool_call_counts() -> dict[str, Column]:
    return {
        "tool_calls_so_far": F.sum(
            F.when(F.col("tool").isNotNull(), 1).otherwise(0)
        ).over(_cum())
    }


def add_tool_call_counts(df: DataFrame) -> DataFrame:
    """Cumulative count of tool calls up to and including the current turn."""
    return df.withColumns(_tool_call_counts())


DEFAULT_FEATURE_COLS = [
    "turn_gap_s",
    "session_id",
    "role_run_len",
    "n_tokens",
    "tokens_sum_5",
    "tokens_avg_5",
    "tokens_std_5",
    "tokens_sum_10m",
    "tool_calls_so_far",
    "n_tokens_lag1",
    "role_match_lag1",
]


def featurize_transcripts(
    df: DataFrame, gap_seconds: float = SESSION_GAP_SECONDS, k: int = 5
) -> DataFrame:
    """The full leakage-safe featurize pass: one shuffle on conv_id, then a
    stack of Window operators sharing that partitioning.

    Output: input columns + ``DEFAULT_FEATURE_COLS`` + ``label``
    (1 if this turn called a tool — FIXTURES.md §A derived label).
    """
    # Derive n_tokens BEFORE any window: the expression then evaluates in
    # the scan-side project, so when a consumer doesn't select ``text``
    # Catalyst prunes it out of the conv_id Exchange — at 10^12 turns the
    # text column is ~25x the bytes of every other column combined, and
    # this keeps it off the wire entirely for numeric-feature pipelines.
    df = df.withColumns(_n_tokens())
    # Then one withColumns per Window operator of the plan, in output
    # order: each call is a driver-side analysis (0.27-0.39 s warm on a
    # backfill cell), and one per column was 16 of them. Merging these
    # groups further changes how Catalyst splits the Window operators.
    w = _conv_window()
    session_starts, session_ids = _sessions(gap_seconds)
    role_changed, role_runs = _role_runs()
    rolling = _rolling_token_stats(k)
    range_sum = {"tokens_sum_10m": rolling.pop("tokens_sum_10m")}
    for level in (
        {**_stable_order(), **_turn_gap(), **session_starts},
        {**session_ids, **role_changed},
        {"role_run_id": role_runs["role_run_id"]},
        {"role_run_len": role_runs["role_run_len"], **rolling},
        range_sum,
        {
            **_tool_call_counts(),
            "n_tokens_lag1": F.coalesce(F.lag("n_tokens").over(w), F.lit(0.0)),
            "role_match_lag1": F.when(
                F.lag("role").over(w) == F.col("role"), 1.0
            ).otherwise(0.0),
        },
        {"label": F.when(F.col("tool").isNotNull(), 1).otherwise(0)},
    ):
        df = df.withColumns(level)
    return df
