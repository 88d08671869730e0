"""WoE/IV encoding, MAD outliers, exact KS drift, tool PMI — NumPy/pandas
oracle parity + the properties each op promises (partition invariance,
shift detection, zero-MAD convention, unseen-category behavior)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from fastselect_spark.featurize import (
    ks_statistics,
    tool_cooccurrence_pmi,
    woe_iv_encode,
)
from fastselect_spark.selection import mad_outliers, mad_stats


def _df(spark, arr, cols):
    return spark.createDataFrame(pd.DataFrame(arr, columns=cols)).repartition(4)


# ---------------------------------------------------------------- KS drift
def _ks_oracle(a: np.ndarray, b: np.ndarray) -> float:
    """Exact two-sample KS over pooled distinct values (ties correct)."""
    vals = np.unique(np.concatenate([a, b]))
    fa = np.searchsorted(np.sort(a), vals, side="right") / len(a)
    fb = np.searchsorted(np.sort(b), vals, side="right") / len(b)
    return float(np.abs(fa - fb).max())


def test_ks_matches_numpy_exact(spark):
    rng = np.random.default_rng(3)
    ref = np.round(rng.normal(0, 1, (400, 2)), 4)
    cur = np.round(rng.normal(0, 1, (300, 2)), 4)
    cur[:, 1] += 1.0
    d0 = _df(spark, ref, ["a", "b"])
    d1 = _df(spark, cur, ["a", "b"])
    got = {
        r["feature"]: r["ks"]
        for r in ks_statistics(d0, d1, ["a", "b"]).collect()
    }
    assert abs(got["a"] - _ks_oracle(ref[:, 0], cur[:, 0])) < 1e-12
    assert abs(got["b"] - _ks_oracle(ref[:, 1], cur[:, 1])) < 1e-12
    assert got["a"] < 0.15 < got["b"]  # stable vs shifted


def test_ks_heavy_ties_and_partition_invariance(spark):
    # integer-valued data: every value is a tie group; the pooled-distinct
    # CDF must count BOTH frames' rows at each step
    rng = np.random.default_rng(9)
    a = rng.integers(0, 5, 1000).astype(float)
    b = rng.integers(1, 6, 800).astype(float)
    exp = _ks_oracle(a, b)
    for parts in (1, 7):
        d0 = _df(spark, a.reshape(-1, 1), ["x"]).repartition(parts)
        d1 = _df(spark, b.reshape(-1, 1), ["x"]).repartition(parts)
        got = ks_statistics(d0, d1, ["x"], num_partitions=5).collect()
        assert abs(got[0]["ks"] - exp) < 1e-12


def test_ks_identical_frames_is_zero(spark):
    x = np.arange(100, dtype=float).reshape(-1, 1)
    d = _df(spark, x, ["x"])
    assert ks_statistics(d, d, ["x"]).collect()[0]["ks"] == 0.0


# ------------------------------------------------------------------ WoE/IV
def test_woe_matches_pandas_oracle(spark):
    rng = np.random.default_rng(5)
    cat = rng.choice(["a", "b", "c"], 600)
    lab = (rng.random(600) < np.where(cat == "a", 0.8, 0.2)).astype(int)
    pdf = pd.DataFrame({"k": cat, "label": lab})
    enc, vocab = woe_iv_encode(
        spark.createDataFrame(pdf).repartition(4), "k", "label", eps=0.5
    )
    g = pdf.groupby("k")["label"].agg(["sum", "count"])
    pos_tot = int(g["sum"].sum())
    neg_tot = int((g["count"] - g["sum"]).sum())
    for r in vocab.collect():
        pos = int(g.loc[r["k"], "sum"])
        neg = int(g.loc[r["k"], "count"]) - pos
        p = (pos + 0.5) / pos_tot
        q = (neg + 0.5) / neg_tot
        assert r["pos"] == pos and r["neg"] == neg
        assert abs(r["woe"] - np.log(p / q)) < 1e-12
        assert abs(r["iv_term"] - (p - q) * np.log(p / q)) < 1e-12
    # discriminative category gets positive woe; transform carries it
    woe_a = {r["k"]: r["woe"] for r in vocab.collect()}["a"]
    assert woe_a > 0
    row = enc.where(F.col("k") == "a").select("k_woe").first()
    assert abs(row["k_woe"] - woe_a) < 1e-15


def test_woe_unseen_category_gets_null(spark):
    fit = spark.createDataFrame(
        pd.DataFrame({"k": ["a", "a", "b", "b"], "label": [1, 0, 1, 0]})
    )
    _, vocab = woe_iv_encode(fit, "k", "label")
    new = spark.createDataFrame(pd.DataFrame({"k": ["zzz"], "label": [0]}))
    enc = new.join(
        F.broadcast(vocab.select("k", F.col("woe").alias("k_woe"))), "k", "left"
    )
    assert enc.first()["k_woe"] is None


# ------------------------------------------------------------ MAD outliers
def test_mad_matches_numpy_and_flags_planted(spark):
    rng = np.random.default_rng(2)
    x = np.round(rng.normal(50, 5, 500), 3)
    x[7] = 500.0  # planted gross outlier
    d = _df(spark, x.reshape(-1, 1), ["x"])
    med, mad = mad_stats(d, ["x"])
    assert abs(med[0] - np.percentile(x, 50)) < 1e-12
    assert abs(mad[0] - np.percentile(np.abs(x - med[0]), 50)) < 1e-12
    flags = (
        mad_outliers(d, ["x"], med, mad, k=3.5)
        .select("x", "x_out")
        .toPandas()
        .sort_values("x")
    )
    assert flags["x_out"].sum() >= 1
    assert flags.iloc[-1]["x"] == 500.0 and flags.iloc[-1]["x_out"] == 1
    # robustness: the planted point barely moves the fit
    assert abs(med[0] - 50) < 2 and mad[0] < 10


def test_mad_zero_mad_flags_any_deviation(spark):
    x = np.array([1.0] * 99 + [2.0]).reshape(-1, 1)  # MAD = 0
    d = _df(spark, x, ["x"])
    med, mad = mad_stats(d, ["x"])
    assert mad[0] == 0.0
    out = mad_outliers(d, ["x"], med, mad).groupBy("x").agg(
        F.max("x_out").alias("f")
    )
    got = {r["x"]: r["f"] for r in out.collect()}
    assert got == {1.0: 0, 2.0: 1}


# ---------------------------------------------------------------- tool PMI
def test_tool_pmi_hand_computed(spark):
    rows = [
        ("c1", "grep"), ("c1", "edit"), ("c1", "grep"),  # dup turn: presence
        ("c2", "grep"), ("c2", "edit"),
        ("c3", "grep"),
        ("c4", "bash"), ("c4", "edit"),
    ]
    tr = spark.createDataFrame(
        [(c, i, t) for i, (c, t) in enumerate(rows)],
        schema="conv_id string, turn_idx int, tool string",
    )
    got = {
        (r["item_a"], r["item_b"]): (r["n_ab"], r["pmi"])
        for r in tool_cooccurrence_pmi(tr).collect()
    }
    # N=4 convs; n_grep=3, n_edit=3, n_bash=1; pairs: (edit,grep)=2, (bash,edit)=1
    assert got[("edit", "grep")][0] == 2
    assert abs(got[("edit", "grep")][1] - np.log(2 * 4 / (3 * 3))) < 1e-12
    assert abs(got[("bash", "edit")][1] - np.log(1 * 4 / (1 * 3))) < 1e-12
    assert ("grep", "edit") not in got  # unordered pairs emitted once


def test_tool_pmi_null_tools_ignored(spark):
    tr = spark.createDataFrame(
        [("c1", 0, None), ("c1", 1, "grep"), ("c2", 0, None)],
        schema="conv_id string, turn_idx int, tool string",
    )
    assert tool_cooccurrence_pmi(tr).count() == 0


# ------------------------------------------------------------- Mahalanobis
def test_mahalanobis_matches_numpy(spark):
    rng = np.random.default_rng(4)
    # integer-valued correlated features (the exact-sums regime)
    a = rng.integers(10, 50, 400).astype(float)
    b = (a * 2 + rng.integers(-5, 6, 400)).astype(float)
    c = rng.integers(0, 30, 400).astype(float)
    X = np.column_stack([a, b, c])
    from fastselect_spark.selection import (
        close_mahalanobis_stats,
        mahalanobis_distance,
        mahalanobis_stats,
    )

    d = _df(spark, X, ["a", "b", "c"])
    mu, prec = mahalanobis_stats(d, ["a", "b", "c"])
    mu_np, prec_np = close_mahalanobis_stats(
        float(len(X)), X.sum(axis=0), X.T @ X
    )
    assert np.array_equal(mu, mu_np) and np.array_equal(prec, prec_np)
    got = (
        mahalanobis_distance(d, ["a", "b", "c"], mu, prec)
        .select("a", "b", "c", "maha2")
        .toPandas()
    )
    dev = got[["a", "b", "c"]].to_numpy() - mu
    exp = np.einsum("ni,ij,nj->n", dev, prec, dev)
    assert np.allclose(got["maha2"].to_numpy(), exp, rtol=1e-9, atol=1e-9)
    # every distance is non-negative and the mean d^2 is ~p for MVN-ish data
    assert (got["maha2"].to_numpy() > -1e-9).all()


def test_mahalanobis_flags_planted_multivariate_outlier(spark):
    rng = np.random.default_rng(8)
    a = rng.integers(10, 50, 500).astype(float)
    b = a + rng.integers(-2, 3, 500)  # tightly coupled
    # planted point: both features in-range marginally, but the COUPLING is
    # broken — invisible to univariate z/MAD, caught by Mahalanobis
    a[0], b[0] = 15.0, 45.0
    X = np.column_stack([a, b])
    from fastselect_spark.selection import mahalanobis_distance, mahalanobis_stats

    d = _df(spark, X, ["a", "b"])
    mu, prec = mahalanobis_stats(d, ["a", "b"])
    got = (
        mahalanobis_distance(d, ["a", "b"], mu, prec)
        .orderBy(F.desc("maha2"))
        .first()
    )
    assert got["a"] == 15.0 and got["b"] == 45.0


def test_mahalanobis_singular_raises_contract_error(spark):
    X = np.column_stack([np.arange(50.0), np.ones(50)])  # constant col
    d = _df(spark, X, ["a", "b"])
    from fastselect_spark.selection import mahalanobis_stats

    with pytest.raises(ValueError, match="singular covariance"):
        mahalanobis_stats(d, ["a", "b"])


# -------------------------------------------------------------- calibration
def test_calibration_report_matches_numpy(spark):
    rng = np.random.default_rng(6)
    score = rng.integers(0, 1025, 800) / 1024.0  # includes exact 1.0
    label = (rng.random(800) < score).astype(int)
    pdf = pd.DataFrame({"score": score, "label": label})
    from fastselect_spark.corpus import calibration_report

    got = (
        calibration_report(
            spark.createDataFrame(pdf).repartition(4), "score", "label", 10
        )
        .toPandas()
        .sort_values("bin")
        .reset_index(drop=True)
    )
    bins = np.clip(np.floor(score * 10), 0, 9).astype(int)
    ece_num = ece_den = 0.0
    for i, b in enumerate(sorted(set(bins))):
        m = bins == b
        n = int(m.sum())
        conf, acc = score[m].sum() / n, label[m].sum() / n
        row = got.iloc[i]
        assert row["bin"] == b and row["n"] == n
        assert abs(row["conf"] - conf) < 1e-12
        assert abs(row["acc"] - acc) < 1e-12
        ece_num += n * abs(acc - conf)
        ece_den += n
    assert abs(got["ece"].iloc[0] - ece_num / ece_den) < 1e-12
    # score 1.0 folded into the top bin, not an 11th bin
    assert got["bin"].max() == 9 and len(got) <= 10
    # labels drawn ~Bernoulli(score): near-calibrated, ECE small
    assert got["ece"].iloc[0] < 0.1


def test_calibration_miscalibrated_classifier_has_large_ece(spark):
    # constant score 0.9 on balanced labels: |0.5 - 0.9| = 0.4
    pdf = pd.DataFrame({"score": [0.9] * 100, "label": [0, 1] * 50})
    from fastselect_spark.corpus import calibration_report

    got = calibration_report(
        spark.createDataFrame(pdf), "score", "label", 10
    ).collect()
    assert len(got) == 1
    assert abs(got[0]["ece"] - 0.4) < 1e-12


# --------------------------------------------------------------- text clean
def test_clean_text_kernel_cases():
    from fastselect_spark.text import clean_text_kernel as k

    assert k("Café") == "Café"  # NFC composes
    assert k("a\t\t b") == "a b"  # tab/space runs collapse
    assert k("a\x07b\x00c") == "abc"  # controls stripped
    assert k("keep\nnewline") == "keep\nnewline"  # \n survives
    assert k("  pad\t") == "pad"
    assert k(None) is None
    assert k("") == ""


def test_clean_text_spark_matches_kernel(spark):
    from fastselect_spark.text import clean_text, clean_text_kernel

    rows = [
        (0, "Café  du\tmonde "),
        (1, "\x01ctrl\x7f and Å angstrom"),  # U+212B -> NFC U+00C5
        (2, None),
        (3, "plain ascii"),
    ]
    df = spark.createDataFrame(rows, "id int, text string")
    got = {r["id"]: r["text_clean"] for r in clean_text(df, "text").collect()}
    for i, s in rows:
        assert got[i] == clean_text_kernel(s)
    assert got[1] == "ctrl and Å angstrom"


# --------------------------------------------------------- contrastive pairs
def test_contrastive_pairs_invariants(spark):
    rows = []
    for c in range(20):
        for i in range(5):
            rows.append((f"c{c:02d}", i, f"text-{c}-{i}"))
    tr = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    from fastselect_spark.corpus import contrastive_pairs

    got = contrastive_pairs(tr, n_buckets=8, seed=1).toPandas()
    # positive = next turn of the same conversation
    for _, r in got.iterrows():
        c, i = r["conv_id"], r["turn_idx"]
        assert r["anchor"] == f"text-{c[1:].lstrip('0') or '0'}-{i}".replace(
            "text-", "text-"
        ) or r["anchor"].startswith("text-")
        assert r["positive"] == f"text-{int(c[1:])}-{i + 1}"
        # negative never from the anchor's own conversation
        assert not r["negative"].startswith(f"text-{int(c[1:])}-")
    # last turn of each conversation has no positive: 4 anchors per conv max
    assert got.groupby("conv_id").size().max() <= 4
    # deterministic under repartitioning
    got2 = (
        contrastive_pairs(tr.repartition(7), n_buckets=8, seed=1)
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    got = got.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, got2)


def test_contrastive_pairs_single_conversation_drops_all(spark):
    # only one conversation: every representative shares it -> no negatives
    tr = spark.createDataFrame(
        [("c0", i, f"t{i}") for i in range(10)],
        "conv_id string, turn_idx int, text string",
    )
    from fastselect_spark.corpus import contrastive_pairs

    assert contrastive_pairs(tr, n_buckets=4, seed=0).count() == 0


# ------------------------------------------------------ quantile normalize
def test_quantile_normalize_matches_pandas(spark):
    rng = np.random.default_rng(12)
    x = rng.integers(0, 50, 300).astype(float)  # heavy ties
    y = rng.normal(0, 1, 300).round(3)
    pdf = pd.DataFrame({"id": np.arange(300), "x": x, "y": y})
    from fastselect_spark.selection import quantile_normalize

    got = (
        quantile_normalize(
            spark.createDataFrame(pdf).repartition(5), ["x", "y"], ["id"],
            num_partitions=4,
        )
        .toPandas()
        .sort_values("id")
        .reset_index(drop=True)
    )
    exp_x = pdf["x"].rank(method="average") / (len(pdf) + 1)
    exp_y = pdf["y"].rank(method="average") / (len(pdf) + 1)
    assert np.allclose(got["x_qn"], exp_x, atol=0, rtol=0)
    assert np.allclose(got["y_qn"], exp_y, atol=0, rtol=0)
    # strictly inside (0, 1); monotone in the original value
    assert got["x_qn"].between(0, 1, inclusive="neither").all()
    srt = got.sort_values("x")
    assert (srt["x_qn"].diff().dropna() >= 0).all()


# ----------------------------------------------------------- mixture report
def test_source_mixture_report(spark):
    pdf = pd.DataFrame(
        {
            "source": ["a"] * 6 + ["b"] * 4,
            "text": ["one two three"] * 6 + ["x y"] * 4,
        }
    )
    from fastselect_spark.corpus import source_mixture_report

    got = {
        r["source"]: r
        for r in source_mixture_report(
            spark.createDataFrame(pdf).repartition(3)
        ).collect()
    }
    assert got["a"]["n_docs"] == 6 and got["b"]["n_docs"] == 4
    assert got["a"]["n_tokens"] == 18 and got["b"]["n_tokens"] == 8
    assert abs(got["a"]["doc_share"] - 0.6) < 1e-15
    assert abs(got["a"]["token_share"] - 18 / 26) < 1e-15
    assert abs(got["a"]["token_share"] + got["b"]["token_share"] - 1.0) < 1e-15


# ----------------------------------------------------------------- GroupKFold
def test_group_kfold_group_integrity(spark):
    rows = [(f"c{c}", i) for c in range(50) for i in range(4)]
    tr = spark.createDataFrame(rows, "conv_id string, turn_idx int")
    from fastselect_spark.featurize import group_kfold

    f = group_kfold(tr, "conv_id", n_folds=5, seed=11)
    # every conversation maps to exactly one fold
    per_conv = f.groupBy("conv_id").agg(
        F.countDistinct("fold").alias("k")
    )
    assert per_conv.where(F.col("k") != 1).count() == 0
    # all folds in range and reproducible under repartitioning
    folds = {r["fold"] for r in f.select("fold").distinct().collect()}
    assert folds <= set(range(5))
    a = {(r["conv_id"], r["fold"]) for r in f.collect()}
    b = {
        (r["conv_id"], r["fold"])
        for r in group_kfold(tr.repartition(7), "conv_id", 5, 11).collect()
    }
    assert a == b


# ----------------------------------------------------------- corpus prep CLI
def test_run_corpus_prep_stage_counts(spark, tmp_path):
    from argparse import Namespace

    from fastselect_spark.main import run_corpus_prep

    args = Namespace(input="/root/testdata/sf0.001", output=str(tmp_path))
    rep = run_corpus_prep(spark, args)
    c = rep["stage_counts"]
    # monotone funnel, nothing lost before filtering beyond dedup drops
    assert c["input"] >= c["after_exact_dedup"] >= c["after_near_dedup"]
    assert 0 < c["after_quality_filter"] <= c["after_near_dedup"]
    assert rep["source_mixture"], "source column must survive the chain"
    kept = spark.read.parquet(str(tmp_path / "kept"))
    assert kept.count() == c["after_quality_filter"]
    assert {"doc_id", "text", "lang", "source", "n_pii"} <= set(kept.columns)


# ------------------------------------------------------------- edge inputs
def test_ks_empty_current_side(spark):
    a = np.arange(20, dtype=float).reshape(-1, 1)
    d0 = _df(spark, a, ["x"])
    d1 = d0.where(F.col("x") < -1)  # empty
    got = ks_statistics(d0, d1, ["x"]).collect()
    # F_cur is 0 everywhere (total clamped to 1): KS = max F_ref = 1.0
    assert len(got) == 1 and abs(got[0]["ks"] - 1.0) < 1e-12


def test_woe_single_class_raises_contract_error(spark):
    pdf = pd.DataFrame({"k": ["a", "b"] * 10, "label": [1] * 20})
    with pytest.raises(ValueError, match="both label classes"):
        woe_iv_encode(spark.createDataFrame(pdf), "k", "label")


def test_calibration_empty_frame(spark):
    from fastselect_spark.corpus import calibration_report

    empty = spark.createDataFrame([], "score double, label int")
    assert calibration_report(empty, "score", "label").count() == 0


def test_mad_all_null_column_yields_nan(spark):
    d = spark.createDataFrame([(None,), (None,)], "x double")
    med, mad = mad_stats(d, ["x"])
    assert np.isnan(med[0]) and np.isnan(mad[0])


def test_ks_property_random_integer_frames(spark):
    # randomized-oracle sweep (fixed seeds, exact equality each time)
    for seed in (0, 1, 2):
        rng = np.random.default_rng(seed)
        a = rng.integers(0, 30, rng.integers(5, 400)).astype(float)
        b = rng.integers(0, 30, rng.integers(5, 400)).astype(float)
        got = ks_statistics(
            _df(spark, a.reshape(-1, 1), ["x"]),
            _df(spark, b.reshape(-1, 1), ["x"]),
            ["x"],
            num_partitions=3,
        ).collect()[0]["ks"]
        assert got == _ks_oracle(a, b)


# -------------------------------------------------------- per-group top terms
def test_top_terms_per_group(spark):
    rows = [
        ("a", 0, "x x x y"),
        ("a", 1, "x y z"),
        ("b", 2, "q q r"),
    ]
    df = spark.createDataFrame(rows, "source string, doc_id long, text string")
    from fastselect_spark.text import top_terms_per_group

    got = {
        (r["group"], r["rank"]): (r["term"], r["count"])
        for r in top_terms_per_group(df, "source", k=2).collect()
    }
    assert got[("a", 1)] == ("x", 4) and got[("a", 2)] == ("y", 2)
    assert got[("b", 1)] == ("q", 2) and got[("b", 2)] == ("r", 1)
    assert len(got) == 4  # k=2 per group, nothing global


# -------------------------------------------------------------- profile drift
def test_profile_drift_detects_null_and_schema_drift(spark):
    a = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, "x"), (4, "x")], "id long, k string"
    )
    b = spark.createDataFrame(
        [(5, None), (6, None), (7, "y"), (8, "y")], "id long, k string"
    )
    from fastselect_spark.corpus import profile_drift

    got = {r["column"]: r for r in profile_drift(a, b, ["k"]).collect()}
    r = got["k"]
    assert r["null_frac_a"] == 0.0 and r["null_frac_b"] == 0.5
    assert abs(r["null_frac_delta"] - 0.5) < 1e-15
    assert r["top_value_a"] == "x" and r["top_value_b"] == "y"
    assert r["top_changed"] == 1
    # schema drift: column only in snapshot b
    b2 = b.withColumn("extra", F.lit(1))
    got2 = {
        r["column"]: r
        for r in profile_drift(a, b2, None).collect()
    }
    assert "extra" in got2 and got2["extra"]["n_rows_a"] is None


# ------------------------------------------------- streaming category drift
def test_category_drift_report_math(spark):
    import datetime as dt

    from fastselect_spark.streaming import category_drift_report

    w0 = dt.datetime(2026, 1, 1)
    mix = spark.createDataFrame(
        [(w0, 30, 10, 5)],
        "window_start timestamp, __c0 long, __c1 long, n_other long",
    )
    props = {"a": 0.5, "b": 0.5}
    rep = {
        r["category"]: r
        for r in category_drift_report(mix, ["a", "b"], props).collect()
    }
    # n=40, e=20 each: chi2 = (30-20)^2/20 + (10-20)^2/20 = 10
    assert rep["a"]["n"] == 40 and rep["a"]["n_other"] == 5
    assert abs(rep["a"]["chi2_term"] - 5.0) < 1e-12
    assert abs(rep["b"]["chi2"] - 10.0) < 1e-12


def test_reference_category_mix_excludes_nulls(spark):
    from fastselect_spark.streaming import reference_category_mix

    df = spark.createDataFrame(
        [("a",), ("a",), ("b",), (None,)], "lang string"
    )
    mix = reference_category_mix(df, "lang")
    assert mix == {"a": 2 / 3, "b": 1 / 3}


# ------------------------------------------------------------------ MMR
def test_mmr_diversifies_vs_plain_topk(spark):
    import numpy as np

    # query q; twins a,b nearly parallel to q; c diverse but still relevant
    def row(i, v):
        return (i, [float(x) for x in v])

    q = np.array([1.0, 0.0, 0.0, 0.0])
    a = np.array([0.99, 0.14, 0.0, 0.0])
    b = np.array([0.99, 0.141, 0.0, 0.0])  # near-duplicate of a
    c = np.array([0.8, 0.0, 0.6, 0.0])  # diverse direction
    corpus = spark.createDataFrame(
        [row(0, q), row(1, a), row(2, b), row(3, c)],
        "vec_id long, embedding array<double>",
    )
    queries = corpus.where(F.col("vec_id") == 0)
    from fastselect_spark.similarity import cosine_topk, mmr_rerank

    plain = [
        r["neighbor_id"]
        for r in cosine_topk(corpus, queries, k=2)
        .orderBy("rank")
        .collect()
    ]
    assert set(plain) == {1, 2}  # the twins crowd the top-2
    got = (
        mmr_rerank(corpus, queries, k=2, pool=3, lam=0.5)
        .orderBy("rank")
        .collect()
    )
    assert got[0]["neighbor_id"] in (1, 2)  # rank 1 = max relevance
    assert got[1]["neighbor_id"] == 3  # rank 2 trades rel for diversity
    # rank-1 relevance must equal the plain top-1
    assert got[0]["rank"] == 1 and got[0]["relevance"] >= got[1]["relevance"]


def test_mmr_lambda_one_equals_plain_topk(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 3)
    from fastselect_spark.similarity import cosine_topk, mmr_rerank

    plain = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in cosine_topk(emb, queries, k=3).collect()
    }
    got = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in mmr_rerank(emb, queries, k=3, pool=8, lam=1.0).collect()
    }
    assert got == plain  # lambda=1: pure relevance, same ranking


# ------------------------------------------------------------------ AUC
def test_auc_scores_match_numpy_mann_whitney(spark):
    rng = np.random.default_rng(15)
    n = 500
    y = (rng.random(n) < 0.4).astype(int)
    informative = rng.normal(0, 1, n) + 1.2 * y  # separates classes
    noise = rng.integers(0, 5, n).astype(float)  # ties + no signal
    pdf = pd.DataFrame(
        {"id": np.arange(n).astype(str), "f1": informative.round(4),
         "f2": noise, "label": y}
    )
    from fastselect_spark.selection import auc_scores

    got = {
        r["feature"]: r
        for r in auc_scores(
            spark.createDataFrame(pdf).repartition(5),
            ["f1", "f2"], "label", ["id"], num_partitions=4,
        ).collect()
    }

    def auc_np(x, yy):
        order = pd.Series(x).rank(method="average").to_numpy()
        npos, nneg = int(yy.sum()), int((1 - yy).sum())
        return (order[yy == 1].sum() - npos * (npos + 1) / 2) / (npos * nneg)

    for c, x in (("f1", pdf["f1"]), ("f2", pdf["f2"])):
        assert got[c]["n_pos"] == int(y.sum())
        assert abs(got[c]["auc"] - auc_np(x.to_numpy(), y)) < 1e-12
    assert got["f1"]["auc"] > 0.75 > got["f2"]["auc"]  # signal vs noise
    assert abs(got["f2"]["auc"] - 0.5) < 0.1


# ------------------------------------------------------------- K-fold TE
def test_kfold_target_encode_no_own_fold_leakage(spark):
    # fold 0 rows of key 'a' all labeled 1, other folds labeled 0: a
    # leaking encoder would pull fold-0's te toward 1; leave-fold-out
    # must compute it from the ZEROS only
    rows = [("a", f, 1 if f == 0 else 0) for f in (0, 0, 0, 1, 1, 2, 2)]
    df = spark.createDataFrame(rows, "k string, fold int, label int")
    from fastselect_spark.featurize import kfold_target_encode

    got = {
        (r["k"], r["fold"]): r["te_cv"]
        for r in kfold_target_encode(
            df, ["k"], "label", "fold", prior=0.5, alpha=10.0
        ).collect()
    }
    # fold 0: oof = folds 1,2 -> s=0, c=4 -> (0+5)/(4+10)
    assert abs(got[("a", 0)] - 5.0 / 14.0) < 1e-15
    # fold 1: oof = folds 0,2 -> s=3, c=5 -> (3+5)/(5+10)
    assert abs(got[("a", 1)] - 8.0 / 15.0) < 1e-15


def test_kfold_target_encode_matches_pandas(spark):
    rng = np.random.default_rng(21)
    pdf = pd.DataFrame(
        {
            "k": rng.choice(["a", "b", "c"], 300),
            "fold": rng.integers(0, 4, 300),
            "label": rng.integers(0, 2, 300),
        }
    )
    from fastselect_spark.featurize import kfold_target_encode

    got = (
        kfold_target_encode(
            spark.createDataFrame(pdf).repartition(5), ["k"], "label", "fold"
        )
        .toPandas()
        .sort_values(["k", "fold"])
    )
    tot = pdf.groupby("k")["label"].agg(["sum", "count"])
    per = pdf.groupby(["k", "fold"])["label"].agg(["sum", "count"])
    for _, r in got.iterrows():
        s_oof = tot.loc[r["k"], "sum"] - per.loc[(r["k"], r["fold"]), "sum"]
        c_oof = tot.loc[r["k"], "count"] - per.loc[(r["k"], r["fold"]), "count"]
        exp = (s_oof + 10.0 * 0.5) / (c_oof + 10.0)
        assert abs(r["te_cv"] - exp) < 1e-15


# ----------------------------------------------------------- f_regression
def test_f_regression_matches_numpy(spark):
    rng = np.random.default_rng(30)
    n = 400
    y = rng.normal(0, 1, n).round(3)
    x1 = (2 * y + rng.normal(0, 1, n)).round(3)  # correlated
    x2 = rng.integers(0, 7, n).astype(float)  # independent
    x3 = np.full(n, 5.0)  # constant -> NULL
    pdf = pd.DataFrame({"x1": x1, "x2": x2, "x3": x3, "target": y})
    from fastselect_spark.selection import f_regression_scores

    got = {
        r["feature"]: r
        for r in f_regression_scores(
            spark.createDataFrame(pdf).repartition(4),
            ["x1", "x2", "x3"],
            "target",
        ).collect()
    }

    for c in ("x1", "x2"):
        r_np = np.corrcoef(pdf[c], y)[0, 1]
        f_np = r_np**2 / (1 - r_np**2) * (n - 2)
        assert abs(got[c]["r"] - r_np) < 1e-9
        assert abs(got[c]["f"] - f_np) < 1e-6 * max(1.0, f_np)
    assert got["x3"]["r"] is None and got["x3"]["f"] is None
    assert got["x1"]["f"] > 100 > got["x2"]["f"]


# ------------------------------------------------- categorical associations
def test_categorical_associations_known_cases(spark):
    rng = np.random.default_rng(40)
    a = rng.choice(["x", "y", "z"], 600)
    b = a.copy()  # perfect association
    c = rng.choice(["p", "q"], 600)  # independent of a
    pdf = pd.DataFrame({"a": a, "b": b, "c": c})
    from fastselect_spark.selection import categorical_associations

    got = {
        (r["col_a"], r["col_b"]): r
        for r in categorical_associations(
            spark.createDataFrame(pdf).repartition(4), ["a", "b", "c"]
        ).collect()
    }
    assert abs(got[("a", "b")]["cramers_v"] - 1.0) < 1e-9
    assert abs(got[("a", "b")]["theils_u"] - 1.0) < 1e-9
    assert got[("a", "c")]["cramers_v"] < 0.15  # near-independent
    assert got[("a", "c")]["theils_u"] < 0.05
    # V symmetric; U need not be
    assert abs(
        got[("a", "c")]["cramers_v"] - got[("c", "a")]["cramers_v"]
    ) < 1e-12


def test_categorical_associations_asymmetric_u(spark):
    # b determines a (a = first char of b) but not vice versa:
    # U(a|b) = 1, U(b|a) < 1
    rows = [("x", "x1"), ("x", "x2"), ("y", "y1"), ("y", "y2")] * 50
    pdf = pd.DataFrame(rows, columns=["a", "b"])
    from fastselect_spark.selection import categorical_associations

    got = {
        (r["col_a"], r["col_b"]): r["theils_u"]
        for r in categorical_associations(
            spark.createDataFrame(pdf), ["a", "b"]
        ).collect()
    }
    assert abs(got[("a", "b")] - 1.0) < 1e-12
    assert got[("b", "a")] < 0.6


# --------------------------------------------------- partial correlations
def test_partial_correlation_explains_away_confounder(spark):
    rng = np.random.default_rng(50)
    n = 800
    z = rng.integers(0, 40, n).astype(float)  # confounder
    x = z + rng.integers(0, 5, n)  # x and y both driven by z
    y = z + rng.integers(0, 5, n)
    pdf = pd.DataFrame({"x": x, "y": y, "z": z})
    from fastselect_spark.selection.correlation import (
        correlation_matrix,
        partial_correlation_matrix,
    )

    d = spark.createDataFrame(pdf).repartition(4)
    corr = correlation_matrix(d, ["x", "y", "z"])
    pc = partial_correlation_matrix(d, ["x", "y", "z"])
    # marginal x-y correlation is strong; controlling for z kills it
    assert corr[0, 1] > 0.8
    assert abs(pc[0, 1]) < 0.15
    # matches the NumPy closed form from the same correlation matrix
    prec = np.linalg.inv(corr)
    dd = np.sqrt(np.diag(prec))
    exp = -prec / np.outer(dd, dd)
    np.fill_diagonal(exp, 1.0)
    assert np.allclose(pc, exp, atol=0, rtol=0)


def test_partial_correlation_singular_raises(spark):
    x = np.arange(50.0)
    pdf = pd.DataFrame({"a": x, "b": 2 * x})  # exactly collinear
    from fastselect_spark.selection.correlation import (
        partial_correlation_matrix,
    )

    with pytest.raises(ValueError, match="singular correlation"):
        partial_correlation_matrix(
            spark.createDataFrame(pdf), ["a", "b"]
        )


# --------------------------------------------------------- embedding health
def test_embedding_health_flags_planted_defects(spark):
    rng = np.random.default_rng(60)
    rows = []
    for i in range(100):
        v = rng.normal(0, 1, 8)
        v = v / np.linalg.norm(v)  # unit norms
        rows.append((i, [float(x) for x in v]))
    rows.append((100, [0.0] * 8))  # zero vector
    rows.append((101, [float("nan")] + [0.5] * 7))  # NaN
    rows.append((102, [50.0] * 8))  # exploded norm
    d = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    from fastselect_spark.similarity import embedding_health

    got = {r["vec_id"]: r for r in embedding_health(d).collect()}
    assert got[100]["is_zero"] == 1 and got[100]["l2_norm"] == 0.0
    assert got[101]["has_nan"] == 1
    assert got[102]["norm_out"] == 1 and got[102]["l2_norm"] > 100
    assert got[0]["is_zero"] == 0 and got[0]["has_nan"] == 0
    assert abs(got[0]["l2_norm"] - 1.0) < 1e-6
    # healthy unit vectors are not norm outliers
    assert sum(got[i]["norm_out"] for i in range(100)) == 0


# ------------------------------------------------------ quantile discretize
def test_quantile_discretize_equal_frequency(spark):
    rng = np.random.default_rng(70)
    x = rng.normal(0, 1, 1000).round(4)
    pdf = pd.DataFrame({"x": x})
    from fastselect_spark.selection import quantile_discretize

    binned, edges = quantile_discretize(
        spark.createDataFrame(pdf).repartition(4), ["x"], bins=4
    )
    counts = (
        binned.groupBy("x_q").count().toPandas().set_index("x_q")["count"]
    )
    # 4 roughly equal bins over continuous data
    assert set(counts.index) == {0, 1, 2, 3}
    assert counts.max() - counts.min() <= 4
    # edges equal NumPy percentiles (the cross-engine family)
    exp = np.percentile(x, [25, 50, 75])
    assert np.allclose(edges["x"], exp, atol=1e-12)  # Spark==DuckDB exactly; NumPy ulp-close
    # monotone mapping
    j = binned.toPandas().sort_values("x")
    assert (j["x_q"].diff().dropna() >= 0).all()


def test_quantile_discretize_heavy_ties_merge_bins(spark):
    x = np.array([1.0] * 90 + [2.0] * 10)
    from fastselect_spark.selection import quantile_discretize

    binned, _ = quantile_discretize(
        spark.createDataFrame(pd.DataFrame({"x": x})), ["x"], bins=4
    )
    got = {r["x_q"] for r in binned.select("x_q").distinct().collect()}
    assert len(got) == 2  # duplicate edges collapse


# ----------------------------------------------------------- novelty scores
def test_novelty_scores_planted(spark):
    ref = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    cur = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),  # verbatim
            (2, "completely fresh text with novel phrasing here"),
            (3, "the quick brown fox went somewhere else entirely"),
        ],
        "doc_id long, text string",
    )
    from fastselect_spark.corpus import novelty_scores

    got = {r["doc_id"]: r for r in novelty_scores(cur, ref).collect()}
    assert got[1]["novelty"] == 0.0  # verbatim copy: nothing new
    assert got[2]["novelty"] == 1.0  # fully novel
    assert 0.0 < got[3]["novelty"] < 1.0  # shared prefix only
    assert got[3]["n_seen"] == 2  # 'the quick brown', 'quick brown fox'


# ------------------------------------------------------------- turn dedup
def test_dedup_turns_within_conversation(spark):
    rows = [
        ("c1", 0, "u", None, "hello"),
        ("c1", 1, "a", None, "same   reply"),
        ("c1", 2, "a", None, "Same reply"),  # dup after normalization
        ("c1", 3, "a", None, "different"),
        ("c2", 0, "a", None, "same reply"),  # other conversation: kept
    ]
    tr = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, tool string, text string"
    )
    from fastselect_spark.dedup import dedup_turns_within_conversation

    got = {
        (r["conv_id"], r["turn_idx"])
        for r in dedup_turns_within_conversation(tr).collect()
    }
    assert ("c1", 1) in got and ("c1", 2) not in got  # first survives
    assert ("c2", 0) in got  # cross-conversation repeat untouched
    assert len(got) == 4


# --------------------------------------------------------- session features
def test_session_features_pandas_replica(spark):
    from fastselect_spark.data.transcripts import generate_transcripts_pandas
    from fastselect_spark.featurize import featurize_transcripts, session_features

    pdf = generate_transcripts_pandas(n_convs=30, seed=3)
    tr = spark.createDataFrame(pdf)
    feat = featurize_transcripts(tr)
    got = (
        session_features(feat)
        .toPandas()
        .sort_values(["conv_id", "session_id"])
        .reset_index(drop=True)
    )
    ref = feat.select(
        "conv_id", "session_id", "ts", "tool", "n_tokens"
    ).toPandas()
    rep = (
        ref.assign(
            epoch=ref["ts"].astype("int64") // 10**9,
            has_tool=ref["tool"].notna().astype(int),
        )
        .groupby(["conv_id", "session_id"])
        .agg(
            n_turns=("ts", "size"),
            start_epoch=("epoch", "min"),
            end_epoch=("epoch", "max"),
            n_tool_calls=("has_tool", "sum"),
            tokens=("n_tokens", "sum"),
        )
        .reset_index()
        .sort_values(["conv_id", "session_id"])
        .reset_index(drop=True)
    )
    for c in ["n_turns", "start_epoch", "end_epoch", "n_tool_calls", "tokens"]:
        assert (got[c].to_numpy() == rep[c].to_numpy()).all(), c
    # sessions partition the conversation: per-conv turn sums match
    assert (
        got.groupby("conv_id")["n_turns"].sum().sort_index().to_numpy()
        == ref.groupby("conv_id").size().sort_index().to_numpy()
    ).all()


# -------------------------------------------------- conversation fingerprints
def test_duplicate_conversations_planted(spark):
    rows = []
    for c, texts in [
        ("c1", ["hi", "hello", "bye"]),
        ("c2", ["hi", "hello", "bye"]),  # verbatim replay of c1
        ("c3", ["hello", "hi", "bye"]),  # same turns, different ORDER
        ("c4", ["something", "else"]),
    ]:
        rows += [(c, i, t) for i, t in enumerate(texts)]
    tr = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    from fastselect_spark.dedup import (
        conversation_fingerprints,
        duplicate_conversations,
    )

    fps = {r["conv_id"]: r["conv_fp"] for r in conversation_fingerprints(tr).collect()}
    assert fps["c1"] == fps["c2"]
    assert fps["c1"] != fps["c3"]  # order-sensitive
    dups = duplicate_conversations(tr).collect()
    assert len(dups) == 1
    assert dups[0]["keep_conv"] == "c1" and dups[0]["n_copies"] == 2
    # partitioning-independent
    fps2 = {
        r["conv_id"]: r["conv_fp"]
        for r in conversation_fingerprints(tr.repartition(7)).collect()
    }
    assert fps == fps2


# ------------------------------------------------------ token budget sample
def test_sample_token_budget_semantics(spark):
    rng = np.random.default_rng(80)
    rows = []
    for i in range(200):
        src = f"s{i % 3}"
        rows.append((i, src, "tok " * int(rng.integers(5, 40))))
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    from fastselect_spark.corpus import sample_token_budget

    budget = 300
    kept = sample_token_budget(docs, budget)
    got = kept.selectExpr(
        "doc_id", "source", "SIZE(SPLIT(text, '\\\\s+')) AS nt"
    ).toPandas()
    import hashlib

    def h(i):
        return int(hashlib.md5(f"tb0:{i}".encode()).hexdigest()[:15], 16)

    full = docs.selectExpr(
        "doc_id", "source", "SIZE(SPLIT(text, '\\\\s+')) AS nt"
    ).toPandas()
    full["h"] = full["doc_id"].map(h)
    for src, grp in full.groupby("source"):
        grp = grp.sort_values(["h", "doc_id"])
        before = grp["nt"].cumsum() - grp["nt"]
        exp = set(grp.loc[before < budget, "doc_id"])
        assert set(got.loc[got["source"] == src, "doc_id"]) == exp
        # budget respected up to one overshooting doc
        kept_tok = grp.loc[grp["doc_id"].isin(exp), "nt"]
        assert kept_tok.sum() - kept_tok.iloc[-1] < budget <= kept_tok.sum() + 1
    # deterministic under repartitioning
    again = set(
        r["doc_id"]
        for r in sample_token_budget(docs.repartition(7), budget).collect()
    )
    assert again == set(got["doc_id"])


# ---------------------------------------------------------------- SFT pairs
def test_sft_pairs_adjacency(spark):
    rows = [
        ("c1", 0, "user", "q1"),
        ("c1", 1, "assistant", "a1"),
        ("c1", 2, "assistant", "a1b"),  # continuation: not a new pair
        ("c1", 3, "user", "q2"),
        ("c1", 4, "user", "q2b"),  # repeated user: only the LAST pairs
        ("c1", 5, "assistant", "a2"),
        ("c2", 0, "assistant", "opener"),  # no prompt before: no pair
    ]
    tr = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string"
    )
    from fastselect_spark.corpus import sft_pairs

    got = {
        (r["conv_id"], r["turn_idx"]): (r["prompt"], r["response"])
        for r in sft_pairs(tr).collect()
    }
    assert got == {
        ("c1", 0): ("q1", "a1"),
        ("c1", 4): ("q2b", "a2"),
    }


# --------------------------------------------------------------- containment
def test_ngram_containment_catches_quotes_jaccard_misses(spark):
    long_doc = " ".join(f"w{i}" for i in range(200))
    quote = " ".join(f"w{i}" for i in range(12))  # verbatim prefix quote
    other = " ".join(f"x{i}" for i in range(50))
    docs = spark.createDataFrame(
        [(1, long_doc), (2, quote), (3, other)],
        "doc_id long, text string",
    )
    from fastselect_spark.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    cont = {(r["id_a"], r["id_b"]): r for r in
            ngram_containment_pairs(docs, threshold=0.9, max_doc_freq=None).collect()}
    assert (1, 2) in cont
    r = cont[(1, 2)]
    assert r["c_b_in_a"] == 1.0  # the quote is fully contained
    assert r["jaccard"] < 0.1  # symmetric metric misses it
    assert ngram_jaccard_pairs(
        docs, threshold=0.5, max_doc_freq=None
    ).count() == 0


# -------------------------------------------------------- uniform discretize
def test_uniform_discretize_semantics(spark):
    x = np.arange(0, 80, dtype=float)  # uniform: equal-width == equal count
    pdf = pd.DataFrame({"x": x, "c": 5.0})
    from fastselect_spark.selection import uniform_discretize

    out, fit = uniform_discretize(
        spark.createDataFrame(pdf).repartition(3), ["x", "c"], bins=8
    )
    got = out.toPandas().sort_values("x")
    lo, w = fit["x"]
    assert lo == 0.0 and abs(w - 79.0 / 8) < 1e-12
    exp = np.clip(np.floor((x - lo) / w), 0, 7).astype(int)
    assert (got["x_u"].to_numpy() == exp).all()
    assert got["x_u"].min() == 0 and got["x_u"].max() == 7
    # constant feature: single bin 0, width-1 convention
    assert fit["c"] == (5.0, 1.0) and (got["c_u"] == 0).all()


# ------------------------------------------------------- context truncation
def test_truncate_to_token_budget_suffix(spark):
    rows = [
        ("c1", 0, "a b c d e"),  # 5 tokens (oldest)
        ("c1", 1, "f g h"),  # 3
        ("c1", 2, "i j"),  # 2
        ("c2", 0, "one two three four five six seven"),  # 7 > budget
    ]
    tr = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    from fastselect_spark.corpus import truncate_to_token_budget

    got = {
        (r["conv_id"], r["turn_idx"])
        for r in truncate_to_token_budget(tr, budget_tokens=6).collect()
    }
    # suffix fit: turns 2 (2) + 1 (3) = 5 <= 6; adding turn 0 (5) overflows
    assert got == {("c1", 1), ("c1", 2)}
    # prefix mode keeps the other end
    got_p = {
        (r["conv_id"], r["turn_idx"])
        for r in truncate_to_token_budget(
            tr, budget_tokens=6, keep="prefix"
        ).collect()
    }
    assert got_p == {("c1", 0)}
    # an over-budget single turn drops its conversation entirely
    assert not any(c == "c2" for c, _ in got | got_p)


# ------------------------------------------------- round-5 ADVICE regressions
def test_auc_scores_ignore_null_labels(spark):
    # unlabeled rows must not enter the ranking: with them excluded, f1's
    # AUC over the 4 labeled rows is exact; an unlabeled row with the top
    # value would otherwise inflate every labeled rank
    rows = [
        ("a", 1.0, 0), ("b", 2.0, 0), ("c", 3.0, 1), ("d", 4.0, 1),
        ("e", 100.0, None),  # unlabeled outlier
    ]
    df = spark.createDataFrame(rows, "id string, f1 double, label int")
    from fastselect_spark.selection import auc_scores

    got = auc_scores(df, ["f1"], "label", ["id"]).collect()[0]
    assert (got["n_pos"], got["n_neg"]) == (2, 2)
    assert got["auc"] == 1.0  # perfect separation among LABELED rows


def test_sample_token_budget_null_source_gets_own_budget(spark):
    rows = [(i, None if i % 2 else "s0", "tok " * 10) for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    from fastselect_spark.corpus import sample_token_budget

    kept = sample_token_budget(docs, budget_tokens=50).toPandas()
    by_src = kept.groupby(kept["source"].fillna("∅"))["doc_id"].count()
    # each source (including NULL) keeps a non-empty <=budget prefix
    assert by_src.get("∅", 0) > 0 and by_src.get("s0", 0) > 0
    # output schema unchanged (no helper columns leak)
    assert list(kept.columns) == ["doc_id", "source", "text"]


def test_mmr_rerank_string_ids(spark):
    import numpy as np

    def row(i, v):
        return (f"id-{i}", [float(x) for x in v])

    q = np.array([1.0, 0.0, 0.0])
    corpus = spark.createDataFrame(
        [row(0, q), row(1, [0.99, 0.1, 0.0]), row(2, [0.98, 0.11, 0.0]),
         row(3, [0.7, 0.0, 0.7])],
        "vec_id string, embedding array<double>",
    )
    queries = corpus.where(F.col("vec_id") == "id-0")
    from fastselect_spark.similarity import mmr_rerank

    got = mmr_rerank(corpus, queries, k=2, pool=3, lam=0.5).orderBy("rank").collect()
    assert [type(r["neighbor_id"]) for r in got] == [str, str]
    assert got[1]["neighbor_id"] == "id-3"  # diversity pick, ids untouched


def test_mmr_pool_pair_sims_skips_missing_and_repeated_ids(spark):
    """A pool neighbour without a corpus embedding and a neighbour listed
    twice yield no pair rows — no KeyError, no (x, x) self-pair — as the
    former inner joins + id_a < id_b did."""
    from fastselect_spark.similarity.mmr import pool_pair_sims

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    pool = spark.createDataFrame(
        [(9, 1), (9, 2), (9, 2), (9, 404), (7, 3), (7, 1)],
        "query_id long, neighbor_id long",
    )
    got = sorted(
        (r["query_id"], r["id_a"], r["id_b"], r["sim"])
        for r in pool_pair_sims(corpus, pool).collect()
    )
    assert got == [(7, 1, 3, 0.707107), (9, 1, 2, 0.0), (9, 1, 2, 0.0)]


def test_quantile_normalize_delimiter_collision_ids(spark):
    # two-part ids engineered to collide under a ':' concat ("a:b"+"c" vs
    # "a"+"b:c") must stay distinct rows
    rows = [("a:b", "c", 1.0), ("a", "b:c", 2.0), ("x", "y", 3.0)]
    df = spark.createDataFrame(rows, "k1 string, k2 string, f double")
    from fastselect_spark.selection import quantile_normalize

    got = quantile_normalize(df, ["f"], ["k1", "k2"]).toPandas()
    assert len(got) == 3 and got["f_qn"].notna().all()
    assert len(got[["k1", "k2"]].drop_duplicates()) == 3
    # monotone: value order preserved by the quantile transform
    assert got.sort_values("f")["f_qn"].is_monotonic_increasing


def test_woe_iv_encode_releases_cache(spark):
    pdf = pd.DataFrame(
        {"k": ["a", "b", "a", "c"] * 5, "label": [0, 1, 1, 0] * 5}
    )
    from fastselect_spark.featurize import woe_iv_encode

    before = {r.id() for r in spark.sparkContext._jsc.getPersistentRDDs().values()} \
        if hasattr(spark.sparkContext._jsc, "getPersistentRDDs") else None
    enc, vocab = woe_iv_encode(spark.createDataFrame(pdf), "k", "label")
    assert enc.count() == 20 and vocab.count() == 3
    # no cached RDD left behind by the call (localCheckpoint blocks are
    # owned by the returned frames, not the persist handle)
    jmap = spark.sparkContext._jsc.sc().getPersistentRDDs()
    leaked = [
        s for s in str(jmap).split(",") if "GroupBy" in s or "Aggregate" in s
    ]
    assert not leaked


def test_budget_family_pluggable_cost(spark):
    rows = [("c1", 0, "a b c", 10), ("c1", 1, "d", 25), ("c1", 2, "e f", 5)]
    tr = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, text string, bpe int"
    )
    from fastselect_spark.corpus import (
        pack_sequences,
        sample_token_budget,
        truncate_to_token_budget,
    )

    # suffix fit by COST column: turn2 (5) + turn1 (25) = 30 <= 30; turn0 over
    got = {
        r["turn_idx"]
        for r in truncate_to_token_budget(
            tr, budget_tokens=30, cost_col="bpe"
        ).collect()
    }
    assert got == {1, 2}
    # whitespace default unchanged: 2 + 1 + 3 = 6 all fit in 6
    got_ws = {
        r["turn_idx"]
        for r in truncate_to_token_budget(tr, budget_tokens=6).collect()
    }
    assert got_ws == {0, 1, 2}

    docs = spark.createDataFrame(
        [(i, "s", "x y z", 100) for i in range(10)],
        "doc_id long, source string, text string, bpe int",
    )
    # cost 100/doc vs budget 250 keeps exactly 3 docs (2 full + overshoot)
    assert sample_token_budget(docs, 250, cost_col="bpe").count() == 3
    # whitespace proxy (3 tokens/doc) keeps far more under the same budget
    assert sample_token_budget(docs, 250).count() == 10

    man = {
        r["doc_id"]: r
        for r in pack_sequences(
            docs, max_tokens=128, n_shards=1, cost_col="bpe"
        ).collect()
    }
    assert man[0]["n_tokens"] == 100 and man[0]["start_chunk"] == 0
    # doc 1 starts at token 100 -> chunk 0 offset 100, ends in chunk 1
    assert (man[1]["start_chunk"], man[1]["start_offset"], man[1]["end_chunk"]) == (0, 100, 1)
