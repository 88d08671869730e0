"""Featurize-layer tests: stable ordering, gaps, sessions, runs, rolling
stats, backfill, and the per-turn text-equality invariant (SURVEY.md §5.2
Tier 3)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from fastselect_spark.data.transcripts import (
    TRANSCRIPT_SCHEMA,
    generate_transcripts_pandas,
)
from fastselect_spark.featurize.windows import featurize_transcripts


@pytest.fixture(scope="module")
def transcripts_pdf() -> pd.DataFrame:
    return generate_transcripts_pandas(n_convs=40, seed=42)


@pytest.fixture(scope="module")
def feat_pdf(spark, transcripts_pdf) -> pd.DataFrame:
    df = spark.createDataFrame(transcripts_pdf, schema=TRANSCRIPT_SCHEMA)
    return featurize_transcripts(df).toPandas()


def test_generator_deterministic():
    a = generate_transcripts_pandas(n_convs=10, seed=42)
    b = generate_transcripts_pandas(n_convs=10, seed=42)
    pd.testing.assert_frame_equal(a, b)


def test_featurize_plan_shape(spark, transcripts_pdf):
    """The whole feature stack shares ONE conv_id exchange, three sorts and
    six Window operators, and emits its columns in a fixed order. The
    columns are added one ``withColumns`` per Window operator, so a change
    in how Catalyst groups them shows here first."""
    import re

    df = spark.createDataFrame(transcripts_pdf, schema=TRANSCRIPT_SCHEMA)
    feat = featurize_transcripts(df)
    plan = feat._jdf.queryExecution().executedPlan().toString()
    shape = {
        op: len(re.findall(pattern, plan))
        for op, pattern in [
            ("exchange", r"\bExchange "),
            ("sort", r"\bSort \["),
            ("window", r"\bWindow \["),
        ]
    }
    assert shape == {"exchange": 1, "sort": 3, "window": 6}
    assert feat.columns == [
        *TRANSCRIPT_SCHEMA.fieldNames(),
        "n_tokens", "turn_seq", "turn_gap_s", "session_start", "session_id",
        "role_changed", "role_run_id", "role_run_len", "tokens_sum_5",
        "tokens_avg_5", "tokens_std_5", "tokens_sum_10m", "tool_calls_so_far",
        "n_tokens_lag1", "role_match_lag1", "label",
    ]


def test_text_equality_invariant(transcripts_pdf, feat_pdf):
    """Per-turn text byte-equality under stable (conv_id, turn_idx) order."""
    src = transcripts_pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    out = feat_pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert len(src) == len(out)
    assert (src["text"].values == out["text"].values).all()
    assert (src["conv_id"].values == out["conv_id"].values).all()
    assert (src["turn_idx"].values == out["turn_idx"].values).all()


def test_stable_order_and_turn_seq(feat_pdf):
    g = feat_pdf.sort_values(["conv_id", "turn_idx"]).groupby("conv_id")
    for _, grp in g:
        assert (grp["turn_seq"].values == range(1, len(grp) + 1)).all()


def test_turn_gap(feat_pdf):
    grp = feat_pdf[feat_pdf.conv_id == feat_pdf.conv_id.iloc[0]].sort_values("turn_idx")
    ts = grp["ts"].astype("int64") / 1e9
    expect = ts.diff().fillna(0.0)
    # unix_timestamp truncates to seconds
    assert (abs(grp["turn_gap_s"].values - expect.round(0).values) <= 1.0).all()
    assert grp["turn_gap_s"].iloc[0] == 0.0


def test_sessions_monotone_and_gap_driven(feat_pdf):
    for _, grp in feat_pdf.sort_values(["conv_id", "turn_idx"]).groupby("conv_id"):
        sid = grp["session_id"].values
        assert sid[0] == 0
        assert ((sid[1:] - sid[:-1]) >= 0).all()
        assert ((sid[1:] - sid[:-1]) <= 1).all()
        gaps = grp["turn_gap_s"].values
        # a new session exactly when gap > 300s
        starts = (sid[1:] - sid[:-1]) == 1
        assert (starts == (gaps[1:] > 300.0)).all()


def test_role_runs(feat_pdf):
    for _, grp in feat_pdf.sort_values(["conv_id", "turn_idx"]).groupby("conv_id"):
        roles = grp["role"].values
        run_len = grp["role_run_len"].values
        expect, cur = [], 0
        for i, r in enumerate(roles):
            cur = cur + 1 if i > 0 and roles[i - 1] == r else 1
            expect.append(cur)
        assert (run_len == expect).all()


def test_rolling_token_stats(feat_pdf):
    grp = (
        feat_pdf[feat_pdf.conv_id == feat_pdf.conv_id.iloc[0]]
        .sort_values("turn_idx")
        .reset_index(drop=True)
    )
    n = grp["n_tokens"]
    assert (n.values == grp["text"].str.split().str.len().values).all()
    roll = n.rolling(6, min_periods=1)
    assert abs(grp["tokens_sum_5"] - roll.sum()).max() < 1e-9
    assert abs(grp["tokens_avg_5"] - roll.mean()).max() < 1e-9


def test_backfill_and_tool_counts(feat_pdf):
    for _, grp in feat_pdf.sort_values(["conv_id", "turn_idx"]).groupby("conv_id"):
        tools = grp["tool"].values
        cum = 0
        for i in range(len(tools)):
            cum += tools[i] is not None and not pd.isna(tools[i])
            assert grp["tool_calls_so_far"].values[i] == cum


def test_no_lookahead_in_features(spark, transcripts_pdf):
    """Leakage canary: truncating the future must not change past features."""
    df_full = spark.createDataFrame(transcripts_pdf, schema=TRANSCRIPT_SCHEMA)
    full = featurize_transcripts(df_full).toPandas()
    cutoff = transcripts_pdf["ts"].quantile(0.5)
    past_pdf = transcripts_pdf[transcripts_pdf.ts <= cutoff]
    past = featurize_transcripts(
        spark.createDataFrame(past_pdf, schema=TRANSCRIPT_SCHEMA)
    ).toPandas()
    key = ["conv_id", "turn_idx"]
    cols = [
        "turn_gap_s",
        "session_id",
        "role_run_len",
        "n_tokens",
        "tokens_sum_5",
        "tool_calls_so_far",
        "label",
    ]
    m = full.merge(past, on=key, suffixes=("_f", "_p"))
    assert len(m) == len(past)
    for c in cols:
        assert (m[f"{c}_f"].values == m[f"{c}_p"].values).all(), c


def test_role_transition_matrix(spark):
    """Transition counts and row-conditional probabilities against a
    hand-computed oracle on a planted two-conversation transcript."""
    from fastselect_spark.featurize import role_transition_matrix

    rows = [
        ("c1", 0, "user"), ("c1", 1, "assistant"), ("c1", 2, "tool"),
        ("c1", 3, "assistant"), ("c1", 4, "user"),
        ("c2", 0, "user"), ("c2", 1, "assistant"), ("c2", 2, "user"),
    ]
    tr = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string")
    got = {
        (r["from_role"], r["to_role"]): (r["n"], r["p"])
        for r in role_transition_matrix(tr).collect()
    }
    # transitions: c1 u->a, a->t, t->a, a->u ; c2 u->a, a->u
    assert got[("user", "assistant")] == (2, 1.0)
    assert got[("assistant", "tool")] == (1, 1.0 / 3.0)
    assert got[("assistant", "user")] == (2, 2.0 / 3.0)
    assert got[("tool", "assistant")] == (1, 1.0)
    assert len(got) == 4
    # probabilities sum to 1 per from_role
    from collections import defaultdict
    sums = defaultdict(float)
    for (f, _t), (_n, p) in got.items():
        sums[f] += p
    assert all(abs(s - 1.0) < 1e-12 for s in sums.values())


def test_multi_horizon_stats(spark, transcripts_pdf):
    """Pandas replica: for each row, the trailing-h window (ts-h, ts]
    (peer rows at the same second included, SQL RANGE semantics) must
    reproduce the count/sum/avg/rate columns exactly."""
    from fastselect_spark.featurize import add_multi_horizon_stats

    df = spark.createDataFrame(transcripts_pdf, schema=TRANSCRIPT_SCHEMA)
    out = (
        add_multi_horizon_stats(df, horizons_s=(60, 600))
        .select(
            "conv_id", "turn_idx", "n_tokens",
            "n_tokens_cnt_60s", "n_tokens_sum_60s", "n_tokens_avg_60s",
            "n_tokens_per_min_60s", "n_tokens_cnt_600s",
        )
        .toPandas()
    )
    src = transcripts_pdf.copy()
    src["epoch"] = (
        src["ts"].astype("datetime64[ns]").astype("int64") // 10**9
    ).astype("int64")
    src["n_tok"] = src["text"].str.split().str.len().astype(float)
    merged = out.merge(
        src[["conv_id", "turn_idx", "epoch", "n_tok"]],
        on=["conv_id", "turn_idx"],
    )
    assert len(merged) == len(out) == len(src)
    assert (merged["n_tokens"].values == merged["n_tok"].values).all()
    by_conv = {
        cid: grp[["epoch", "n_tok"]].to_numpy()
        for cid, grp in src.groupby("conv_id")
    }
    for row in merged.itertuples():
        win = by_conv[row.conv_id]
        mask = (win[:, 0] >= row.epoch - 60) & (win[:, 0] <= row.epoch)
        cnt, s = int(mask.sum()), float(win[mask, 1].sum())
        assert row.n_tokens_cnt_60s == cnt
        assert abs(row.n_tokens_sum_60s - s) < 1e-9
        assert abs(row.n_tokens_avg_60s - s / cnt) < 1e-9
        assert abs(row.n_tokens_per_min_60s - cnt / 1.0) < 1e-9
        mask6 = (win[:, 0] >= row.epoch - 600) & (win[:, 0] <= row.epoch)
        assert row.n_tokens_cnt_600s == int(mask6.sum())


def test_conversation_trends_matches_numpy(spark, transcripts_pdf):
    """OLS slope/intercept/r per conversation vs NumPy lstsq/corrcoef."""
    import numpy as np

    from fastselect_spark.featurize import conversation_trends

    feat = featurize_transcripts(
        spark.createDataFrame(transcripts_pdf).repartition(4)
    )
    got = {r["conv_id"]: r for r in conversation_trends(feat).collect()}
    fp = feat.select("conv_id", "turn_idx", "n_tokens", "turn_gap_s").toPandas()
    for cid, g in fp.groupby("conv_id"):
        x = g["turn_idx"].to_numpy(dtype=float)
        r = got[cid]
        assert r["n_turns"] == len(g)
        for yc in ("n_tokens", "turn_gap_s"):
            y = g[yc].to_numpy(dtype=float)
            if len(g) < 2 or np.ptp(x) == 0:
                assert r[f"{yc}_slope"] is None
                continue
            slope, intercept = np.polyfit(x, y, 1)
            assert r[f"{yc}_slope"] == pytest.approx(slope, abs=1e-9)
            assert r[f"{yc}_intercept"] == pytest.approx(intercept, abs=1e-9)
            if np.ptp(y) == 0:
                assert r[f"{yc}_r"] is None
            else:
                assert r[f"{yc}_r"] == pytest.approx(
                    np.corrcoef(x, y)[0, 1], abs=1e-9
                )


def test_conversation_trends_degenerate(spark):
    from fastselect_spark.featurize import conversation_trends

    df = spark.createDataFrame(
        [("c1", 0, 5.0, 0.0)],
        "conv_id string, turn_idx int, n_tokens double, turn_gap_s double",
    )
    r = conversation_trends(df).collect()[0]
    assert r["n_turns"] == 1
    assert r["n_tokens_slope"] is None and r["n_tokens_r"] is None


def test_conversation_leadlag_matches_numpy(spark, transcripts_pdf):
    """r(x_t, y_{t+lag}) per conversation vs NumPy corrcoef on the
    explicitly shifted series."""
    import numpy as np

    from fastselect_spark.featurize import conversation_leadlag

    feat = featurize_transcripts(
        spark.createDataFrame(transcripts_pdf).repartition(4)
    )
    got = {
        (r["conv_id"], r["lag"]): r
        for r in conversation_leadlag(feat).collect()
    }
    fp = (
        feat.select("conv_id", "turn_idx", "n_tokens", "turn_gap_s")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
    )
    for cid, g in fp.groupby("conv_id"):
        x = g["n_tokens"].to_numpy(dtype=float)
        y = g["turn_gap_s"].to_numpy(dtype=float)
        for lag in (-2, -1, 0, 1, 2):
            if lag >= 0:
                xs, ys = x[: len(x) - lag or None], y[lag:]
            else:
                xs, ys = x[-lag:], y[: len(y) + lag]
            r = got[(cid, lag)]
            assert r["n_pairs"] == len(xs)
            if len(xs) < 2 or np.ptp(xs) == 0 or np.ptp(ys) == 0:
                assert r["r"] is None
            else:
                assert r["r"] == pytest.approx(
                    np.corrcoef(xs, ys)[0, 1], abs=1e-9
                )


def test_scd2_intervals_collapse_and_validity(spark):
    from fastselect_spark.featurize import scd2_intervals

    rows = [
        ("u1", 100, "A"),
        ("u1", 200, "A"),   # no change -> collapsed
        ("u1", 300, "B"),
        ("u1", 400, None),  # change to NULL kept (null-safe compare)
        ("u1", 500, None),  # no change -> collapsed
        ("u2", 150, "X"),
    ]
    df = (
        spark.createDataFrame(rows, "k string, ts long, v string")
        .repartition(3)
    )
    out = (
        scd2_intervals(df, ["k"], "ts", ["v"])
        .orderBy("k", "valid_from")
        .collect()
    )
    got = [(r["k"], r["valid_from"], r["valid_to"], r["v"], r["is_current"]) for r in out]
    assert got == [
        ("u1", 100, 300, "A", 0),
        ("u1", 300, 400, "B", 0),
        ("u1", 400, None, None, 1),
        ("u2", 150, None, "X", 1),
    ]
    # collapse=False keeps every event, intervals still chain
    raw = scd2_intervals(df, ["k"], "ts", ["v"], collapse=False).collect()
    assert len(raw) == len(rows)


def test_scd2_asof_lookup_no_leakage(spark):
    """A point-in-time probe against the SCD2 table must see exactly the
    version valid at its timestamp."""
    from fastselect_spark.featurize import scd2_intervals

    df = spark.createDataFrame(
        [("u1", 100, "A"), ("u1", 300, "B")], "k string, ts long, v string"
    )
    dim = scd2_intervals(df, ["k"], "ts", ["v"])
    probes = spark.createDataFrame(
        [("u1", 99), ("u1", 100), ("u1", 299), ("u1", 300), ("u1", 999)],
        "k string, at long",
    )
    j = probes.join(dim, "k").where(
        (F.col("at") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("at") < F.col("valid_to")))
    )
    got = {r["at"]: r["v"] for r in j.collect()}
    assert got == {100: "A", 299: "A", 300: "B", 999: "B"}  # 99 -> no row


def test_turn_decayed_sum_recurrence_parity(spark):
    """Closed-form window decay == the per-row recurrence s_i = x_i + d*s_{i-1}."""
    import numpy as np

    from fastselect_spark.featurize import turn_decayed_sum

    rng = np.random.default_rng(3)
    rows = [
        (f"c{c}", i, float(rng.integers(0, 40)))
        for c in range(4)
        for i in range(60)
    ]
    tr = spark.createDataFrame(rows, "conv_id string, turn_idx int, x double")
    got = {
        (r.conv_id, r.turn_idx): r.x_decay
        for r in turn_decayed_sum(tr, "x", 0.5).collect()
    }
    byconv: dict[str, list] = {}
    for c, i, x in rows:
        byconv.setdefault(c, []).append((i, x))
    for c, seq in byconv.items():
        acc = 0.0
        for i, x in sorted(seq):
            acc = x + 0.5 * acc
            assert got[(c, i)] == pytest.approx(acc, rel=1e-12)


def test_turn_decayed_sum_strictly_past_and_nulls(spark):
    from fastselect_spark.featurize import turn_decayed_sum

    tr = spark.createDataFrame(
        [("c", 0, 8.0), ("c", 1, None), ("c", 2, 4.0)],
        "conv_id string, turn_idx int, x double",
    )
    got = {
        r.turn_idx: r.x_decay
        for r in turn_decayed_sum(tr, "x", 0.5, strictly_past=True).collect()
    }
    # row 0 sees nothing; NULL contributes 0 without resetting the state
    assert got == {0: 0.0, 1: 4.0, 2: 2.0}


def test_time_decayed_lastk_quantized_weights(spark):
    from fastselect_spark.featurize import time_decayed_lastk

    base = 1_767_225_600  # 2026-01-01 UTC epoch seconds
    rows = [
        ("c", 0, 10.0, base),
        ("c", 1, 6.0, base + 100),   # age 100 from turn 2 -> 0 halflives
        ("c", 2, 2.0, base + 650),   # ages: 0, 550 (1 hl), 650 (2 hl)
    ]
    tr = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, x double, es long"
    ).withColumn("ts", F.timestamp_seconds(F.col("es")))
    out = {
        r.turn_idx: r.x_tdecay
        for r in time_decayed_lastk(tr, "x", halflife_s=300.0, k=2).collect()
    }
    assert out[0] == 10.0
    assert out[1] == 6.0 + 10.0  # age 100 -> floor(100/300)=0 -> weight 1
    assert out[2] == 2.0 + 6.0 * 0.5 + 10.0 * 0.25
    past = {
        r.turn_idx: r.x_tdecay
        for r in time_decayed_lastk(
            tr, "x", halflife_s=300.0, k=2, strictly_past=True
        ).collect()
    }
    assert past[2] == 6.0 * 0.5 + 10.0 * 0.25


def test_scd2_lookup_matches_naive_interval_join(spark):
    """scd2_lookup (as-of + residual filter) == the naive BETWEEN join."""
    import numpy as np

    from fastselect_spark.featurize import scd2_intervals, scd2_lookup

    rng = np.random.default_rng(11)
    changes = [
        (f"u{k}", int(t), f"s{v}")
        for k in range(6)
        for t, v in zip(
            np.cumsum(rng.integers(1, 50, size=8)), rng.integers(0, 3, size=8)
        )
    ]
    ch = spark.createDataFrame(changes, "k string, ts long, v string")
    dim = scd2_intervals(ch, ["k"], "ts", ["v"])
    probes = spark.createDataFrame(
        [(f"u{k}", int(t)) for k in range(6) for t in rng.integers(0, 300, size=20)],
        "k string, at long",
    ).distinct()
    got = {
        (r.k, r.at): r.v_dim
        for r in scd2_lookup(probes, dim, ["k"], "at").collect()
    }
    naive = probes.join(dim, "k", "left").where(
        (F.col("at") >= F.col("valid_from"))
        & (F.col("valid_to").isNull() | (F.col("at") < F.col("valid_to")))
    )
    expect = {(r.k, r.at): r.v for r in naive.collect()}
    for key, v in got.items():
        assert v == expect.get(key)  # uncovered probes -> NULL on both sides
    assert len(got) == probes.count()  # lookup never drops probe rows


def test_scd2_lookup_multi_key_and_gap(spark):
    from fastselect_spark.featurize import scd2_lookup

    dim = spark.createDataFrame(
        [("a", "x", 10, 20, "v1", 0), ("a", "x", 30, None, "v2", 1)],
        "k1 string, k2 string, valid_from long, valid_to long, v string, is_current int",
    )
    probes = spark.createDataFrame(
        [("a", "x", 5), ("a", "x", 15), ("a", "x", 25), ("a", "x", 30), ("b", "x", 15)],
        "k1 string, k2 string, at long",
    )
    got = {
        (r.k1, r.at): r.v_dim
        for r in scd2_lookup(probes, dim, ["k1", "k2"], "at").collect()
    }
    # 5: before first; 15: v1; 25: inside the gap -> NULL; 30: v2; b: no key
    assert got == {
        ("a", 5): None,
        ("a", 15): "v1",
        ("a", 25): None,
        ("a", 30): "v2",
        ("b", 15): None,
    }


def test_scd2_lookup_null_key_probe_gets_null(spark):
    """A probe with a NULL key component must match NOTHING (SQL join
    semantics) even when the dimension has NULL-keyed rows —
    Window.partitionBy groups NULLs, so the NULL-key dim rows must be
    filtered out (round-5 ADVICE fix). Single-key path likewise."""
    from fastselect_spark.featurize import scd2_lookup

    dim = spark.createDataFrame(
        [(None, "x", 10, None, "leak", 1), ("a", "x", 10, None, "v1", 1)],
        "k1 string, k2 string, valid_from long, valid_to long, v string, is_current int",
    )
    probes = spark.createDataFrame(
        [(None, "x", 15), ("a", "x", 15)], "k1 string, k2 string, at long"
    )
    got = {
        (r.k1, r.at): r.v_dim
        for r in scd2_lookup(probes, dim, ["k1", "k2"], "at").collect()
    }
    assert got == {(None, 15): None, ("a", 15): "v1"}
    dim1 = spark.createDataFrame(
        [(None, 10, None, "leak", 1), ("a", 10, None, "v1", 1)],
        "k string, valid_from long, valid_to long, v string, is_current int",
    )
    probes1 = spark.createDataFrame([(None, 15), ("a", 15)], "k string, at long")
    got1 = {
        (r.k, r.at): r.v_dim
        for r in scd2_lookup(probes1, dim1, ["k"], "at").collect()
    }
    assert got1 == {(None, 15): None, ("a", 15): "v1"}


def test_theilsen_trends_numpy_parity_and_robustness(spark):
    import numpy as np

    from fastselect_spark.featurize import theilsen_trends

    rng = np.random.default_rng(17)
    rows = []
    for c in range(5):
        slope = float(rng.uniform(-2, 2))
        for i in range(30):
            y = 10.0 + slope * i + float(rng.normal(0, 0.3))
            if c == 4 and i in (7, 19):  # planted wild outliers
                y += 500.0
            rows.append((f"c{c}", i, round(y, 6)))
    tr = spark.createDataFrame(rows, "conv_id string, turn_idx int, n_tokens double")
    got = {
        r.conv_id: (r.n_pairs, r.ts_slope, r.ts_intercept)
        for r in theilsen_trends(tr).collect()
    }
    for c in range(5):
        pts = [(i, y) for cc, i, y in rows if cc == f"c{c}"]
        slopes = [
            (y2 - y1) / (i2 - i1)
            for a, (i1, y1) in enumerate(pts)
            for (i2, y2) in pts[a + 1:]
        ]
        m = float(np.median(slopes))
        b = float(np.median([y - m * i for i, y in pts]))
        n_pairs, gs, gb = got[f"c{c}"]
        assert n_pairs == len(slopes) == 30 * 29 // 2
        assert gs == pytest.approx(m, abs=1e-12)
        assert gb == pytest.approx(b, abs=1e-9)
    # robustness: the outlier conversation's TS slope stays near truth
    # while OLS is dragged (breakdown demonstration)
    from fastselect_spark.featurize import conversation_trends

    ols = {
        r.conv_id: r.n_tokens_slope for r in conversation_trends(
            tr.withColumn("turn_gap_s", F.lit(1.0))
        ).collect()
    }
    clean_pts = [(i, y) for cc, i, y in rows if cc == "c4" and i not in (7, 19)]
    true_m = np.polyfit([i for i, _ in clean_pts], [y for _, y in clean_pts], 1)[0]
    assert abs(got["c4"][1] - true_m) < abs(ols["c4"] - true_m)


def test_theilsen_max_lag_bounds_pairs(spark):
    from fastselect_spark.featurize import theilsen_trends

    tr = spark.createDataFrame(
        [("c", i, float(2 * i)) for i in range(20)],
        "conv_id string, turn_idx int, n_tokens double",
    )
    (r,) = theilsen_trends(tr, max_lag=3).collect()
    # pairs with j-i <= 3: 19 + 18 + 17 = 54
    assert r.n_pairs == 19 + 18 + 17
    assert r.ts_slope == 2.0 and r.ts_intercept == 0.0


def test_decay_and_scd2_edge_inputs(spark):
    """Edge hardening: decay params validated; single-turn conversations;
    scd2_lookup with value_cols defaulting and empty dim."""
    import pytest as _pt

    from fastselect_spark.featurize import (
        scd2_lookup,
        time_decayed_lastk,
        turn_decayed_sum,
    )

    tr = spark.createDataFrame(
        [("c", 0, 5.0)], "conv_id string, turn_idx int, x double"
    )
    with _pt.raises(ValueError):
        turn_decayed_sum(tr, "x", decay=1.5)
    with _pt.raises(ValueError):
        time_decayed_lastk(tr, "x", k=0)
    (r,) = turn_decayed_sum(tr, "x", 0.5).collect()
    assert r.x_decay == 5.0  # single turn: accumulator == value

    dim = spark.createDataFrame(
        [], "k string, valid_from long, valid_to long, v string, is_current int"
    )
    probes = spark.createDataFrame([("a", 1)], "k string, at long")
    (row,) = scd2_lookup(probes, dim, ["k"], "at").collect()
    assert row.v_dim is None  # empty dimension -> NULL attach, probe kept


def test_conversation_integrity_planted_defects(spark):
    from fastselect_spark.featurize import conversation_integrity

    base = 1_767_225_600
    rows = [
        # clean conv: contiguous, monotone, alternating
        ("ok", 0, "user", base + 0), ("ok", 1, "assistant", base + 10),
        ("ok", 2, "user", base + 20),
        # broken conv: dup idx 1, gap (no idx 3), ts backwards at idx 4,
        # role repeat at idx 1-dup
        ("bad", 0, "user", base + 0), ("bad", 1, "assistant", base + 10),
        ("bad", 1, "assistant", base + 11), ("bad", 2, "user", base + 20),
        ("bad", 4, "assistant", base + 5),
    ]
    tr = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, es long"
    ).withColumn("ts", F.timestamp_seconds(F.col("es")))
    got = {
        r.conv_id: (
            r.n_turns, r.n_distinct_turn_idx, r.idx_gaps,
            r.ts_violations, r.role_repeats,
        )
        for r in conversation_integrity(tr).collect()
    }
    assert got["ok"] == (3, 3, 0, 0, 0)
    # bad: 5 rows, 4 distinct idx, span 0..4 -> 1 gap, 1 ts backwards,
    # 1 consecutive same-role pair
    assert got["bad"] == (5, 4, 1, 1, 1)
