"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship pipeline (transcripts -> featurize ->
as-of join -> feature matrix -> chi2 + MI scores) on sf0.001.
``queries()`` / ``oracle_sql()`` expose each implemented operator from
SURVEY.md §2 with a DuckDB-equivalent oracle where SQL-expressible.

All float outputs are rounded to a fixed number of decimals IN BOTH the
Spark query and the oracle SQL, because cross-engine float summation order
differs at ~1e-12 relative error and the driver compares value hashes.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fastselect_spark.data.transcripts import TRANSCRIPTS_FROM_EVENTS_SQL
from fastselect_spark.featurize import asof_join, featurize_transcripts
from fastselect_spark.selection import chi2, mi_matrices
from fastselect_spark.selection.mrmr import MRMRSelector

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _register(spark: SparkSession, sf_dir: str, *names: str) -> None:
    for n in names:
        spark.read.parquet(f"{sf_dir}/{n}.parquet").createOrReplaceTempView(n)


def _transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register(spark, sf_dir, "events")
    return spark.sql(TRANSCRIPTS_FROM_EVENTS_SQL)


# Shared Spark/DuckDB SQL for the discrete lineitem-derived code matrix used
# by the MI/chi2 scoring queries (small integer codes, shared vocab).
_LINEITEM_CODES_SQL = """
SELECT
    CAST(l_linenumber AS INT)                    AS f_line,
    CAST(FLOOR(l_quantity / 10) AS INT)          AS f_qty,
    CAST(ROUND(l_discount * 100) AS INT)         AS f_disc,
    CAST(ROUND(l_tax * 100) AS INT)              AS f_tax,
    CASE l_returnflag WHEN 'A' THEN 0 WHEN 'N' THEN 1 ELSE 2 END AS y
FROM lineitem
"""

_MI_FEATURES = ["f_line", "f_qty", "f_disc", "f_tax"]


# ---------------------------------------------------------------- queries --

def _q_transcripts_derive(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _transcripts(spark, sf_dir)


def _q_featurize_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    feat = featurize_transcripts(_transcripts(spark, sf_dir))
    return feat.select(
        "conv_id",
        "turn_idx",
        F.col("turn_gap_s").cast("double").alias("turn_gap_s"),
        F.col("session_id").cast("long").alias("session_id"),
        F.col("role_run_len").cast("long").alias("role_run_len"),
        F.col("tool_calls_so_far").cast("long").alias("tool_calls_so_far"),
        F.col("label").cast("int").alias("label"),
    )


def _q_featurize_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    feat = featurize_transcripts(_transcripts(spark, sf_dir))
    return feat.select(
        "conv_id",
        "turn_idx",
        F.col("n_tokens").cast("double").alias("n_tokens"),
        F.round("tokens_sum_5", 6).alias("tokens_sum_5"),
        F.round("tokens_avg_5", 6).alias("tokens_avg_5"),
        F.round("tokens_sum_10m", 6).alias("tokens_sum_10m"),
    )


def _q_multi_horizon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-store multi-horizon point-in-time aggregates (60 s / 600 s
    trailing windows) — one conv_id exchange + one sort for every horizon
    (featurize/windows.py add_multi_horizon_stats)."""
    from fastselect_spark.featurize import add_multi_horizon_stats

    feat = add_multi_horizon_stats(
        _transcripts(spark, sf_dir), horizons_s=(60, 600)
    )
    return feat.select(
        "conv_id",
        "turn_idx",
        F.col("n_tokens_cnt_60s").cast("long").alias("n_tokens_cnt_60s"),
        F.round("n_tokens_sum_60s", 6).alias("n_tokens_sum_60s"),
        F.round("n_tokens_avg_60s", 6).alias("n_tokens_avg_60s"),
        F.round("n_tokens_per_min_60s", 6).alias("n_tokens_per_min_60s"),
        F.col("n_tokens_cnt_600s").cast("long").alias("n_tokens_cnt_600s"),
        F.round("n_tokens_sum_600s", 6).alias("n_tokens_sum_600s"),
        F.round("n_tokens_avg_600s", 6).alias("n_tokens_avg_600s"),
    )


_CORR_FEATURES = [
    "n_tokens", "turn_gap_s", "role_run_len", "tool_calls_so_far", "label",
]


def _q_feature_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation matrix over the featurize columns — one
    sufficient-stats aggregation (selection/correlation.py), integer-valued
    features so the closure is bit-identical cross-engine; rounding happens
    ENGINE-side (Spark round == DuckDB ROUND, both half-away)."""
    from fastselect_spark.selection.correlation import (
        correlation_matrix,
        correlation_table,
    )

    feat = featurize_transcripts(_transcripts(spark, sf_dir))
    corr = correlation_matrix(feat, _CORR_FEATURES)
    tbl = correlation_table(spark, corr, _CORR_FEATURES, round_to=None)
    return tbl.select(
        "feature_a", "feature_b", F.round("corr", 6).alias("corr")
    )


def _q_spearman_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation over the featurize columns — distributed
    two-pass average ranking (selection/rank.py, no single-partition
    window) + the shared Pearson closure on the half-integer ranks;
    rounding engine-side (Spark round == DuckDB ROUND)."""
    from fastselect_spark.selection.correlation import (
        correlation_table,
        spearman_matrix,
    )

    feat = featurize_transcripts(_transcripts(spark, sf_dir))
    rho = spearman_matrix(feat, _CORR_FEATURES, ["conv_id", "turn_idx"])
    tbl = correlation_table(spark, rho, _CORR_FEATURES, round_to=None)
    return tbl.select(
        "feature_a", "feature_b", F.round("corr", 6).alias("corr")
    )


def _q_walkforward_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purged walk-forward CV split (4 folds, 120 s embargo): one exact
    time-percentile agg + a shuffle-free literal projection
    (featurize/splits.py)."""
    from fastselect_spark.featurize import purged_walkforward_folds

    tr = _transcripts(spark, sf_dir)
    return purged_walkforward_folds(tr, n_folds=4, embargo_s=120.0).select(
        "conv_id",
        "turn_idx",
        F.col("val_fold").cast("int").alias("val_fold"),
        F.col("first_train_fold").cast("int").alias("first_train_fold"),
    )


def _q_backfill_last_tool(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastselect_spark.featurize import add_backfill

    tr = _transcripts(spark, sf_dir)
    return add_backfill(tr, ["tool"]).select("conv_id", "turn_idx", "tool_ffill")


def _session_asof(spark: SparkSession, sf_dir: str, strategy: str, **kw) -> DataFrame:
    """Shared body of the three as-of queries. The narrow featurize
    projection is persisted at the branch point: BOTH join sides consume it,
    and an unpersisted branch recomputes the whole window stack per side
    (only identical Exchanges are reused — the CLAUDE.md union-double-read
    pitfall). The cache is released once the joined result is materialized
    (localCheckpoint cuts the lineage so the returned frame no longer
    references the cached branch) — three asof queries otherwise leak three
    cached frames for the life of the gate/bench session."""
    feat = (
        featurize_transcripts(_transcripts(spark, sf_dir))
        .select("conv_id", "turn_idx", "ts", "session_id", "n_tokens")
        .persist()
    )
    right = feat.groupBy("conv_id", "session_id").agg(
        F.max("ts").alias("ts"),
        F.round(F.avg("n_tokens"), 6).alias("sess_avg_tokens"),
        F.count(F.lit(1)).cast("long").alias("sess_n_turns"),
    )
    joined = asof_join(
        feat.select("conv_id", "turn_idx", "ts"),
        right.select("conv_id", "ts", "sess_avg_tokens", "sess_n_turns"),
        strategy=strategy,
        **kw,
    )
    out = joined.select(
        "conv_id", "turn_idx", "sess_avg_tokens_asof", "sess_n_turns_asof"
    ).localCheckpoint()
    feat.unpersist()
    return out


def _q_asof_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _session_asof(spark, sf_dir, "window")


def _q_asof_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same point-in-time semantics as asof_session_stats, but through the
    salted two-pass strategy (hot-key time-slice split + parallel-prefix
    carry) — the oracle proves all strategies agree."""
    return _session_asof(spark, sf_dir, "salted_window", salt_slice_seconds=600.0)


def _q_asof_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join via the cogrouped merge_asof strategy (Arrow-batched)."""
    return _session_asof(spark, sf_dir, "pandas")


def _q_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join with a staleness bound (featurize/asof.py
    asof_join_tolerance — pd.merge_asof(tolerance) parity): session stats
    older than 600s at the probing turn come back NULL. The matched row
    rides the as-of window as ONE struct, so a genuinely-NULL field is
    never back-filled from an older session (the scd2_lookup lesson)."""
    from fastselect_spark.featurize import asof_join_tolerance

    feat = (
        featurize_transcripts(_transcripts(spark, sf_dir))
        .select("conv_id", "turn_idx", "ts", "session_id", "n_tokens")
        .persist()
    )
    right = feat.groupBy("conv_id", "session_id").agg(
        F.max("ts").alias("ts"),
        F.round(F.avg("n_tokens"), 6).alias("sess_avg_tokens"),
        F.count(F.lit(1)).cast("long").alias("sess_n_turns"),
    )
    joined = asof_join_tolerance(
        feat.select("conv_id", "turn_idx", "ts"),
        right.select("conv_id", "ts", "sess_avg_tokens", "sess_n_turns"),
        tolerance_s=600.0,
    )
    out = joined.select(
        "conv_id", "turn_idx", "sess_avg_tokens_asof", "sess_n_turns_asof"
    ).localCheckpoint()
    feat.unpersist()
    return out


def _q_chi2_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register(spark, sf_dir, "lineitem")
    m = spark.sql(_LINEITEM_CODES_SQL)
    stats, _ = chi2(m, _MI_FEATURES, "y")
    return spark.createDataFrame(
        [(f, round(float(s), 4)) for f, s in zip(_MI_FEATURES, stats)],
        schema="feature string, chi2 double",
    )


def _q_mi_relevance(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register(spark, sf_dir, "lineitem")
    m = spark.sql(_LINEITEM_CODES_SQL)
    rel, _ = mi_matrices(m, _MI_FEATURES, "y", unit="bit", compute_redundancy=False)
    return spark.createDataFrame(
        [(f, round(float(r), 6)) for f, r in zip(_MI_FEATURES, rel)],
        schema="feature string, mi_bits double",
    )


def _q_gain_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4.5 gain ratio (selection/mi.py gain_ratio): IG = the MI relevance
    column, split info = H(X_f), ratio = IG/H — all marginalizations of
    ONE groupBy-all-code-columns cube."""
    from fastselect_spark.selection import gain_ratio

    _register(spark, sf_dir, "lineitem")
    m = spark.sql(_LINEITEM_CODES_SQL)
    ig, si, ratio = gain_ratio(m, _MI_FEATURES, "y", unit="bit")
    return spark.createDataFrame(
        [
            (f, round(float(a), 6), round(float(b), 6), round(float(c), 6))
            for f, a, b, c in zip(_MI_FEATURES, ig, si, ratio)
        ],
        schema="feature string, ig_bits double, split_info double, gain_ratio double",
    )


def _q_oner_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OneR rule accuracy (selection/mi.py oner_scores): per feature, the
    majority-class one-feature rule's exact-integer n_correct off the SAME
    shared code cube; the accuracy quotient is the single float op,
    mirrored by the SQL oracle, rounded ENGINE-side."""
    from fastselect_spark.selection.mi import oner_scores

    _register(spark, sf_dir, "lineitem")
    m = spark.sql(_LINEITEM_CODES_SQL)
    out = oner_scores(m, _MI_FEATURES, "y")
    return out.select(
        "feature",
        "n_correct",
        "n",
        F.round("oner_accuracy", 6).alias("oner_accuracy"),
    )


def _oner_oracle_sql() -> str:
    """Mirror of _q_oner_scores: per feature, GROUP BY (value, y) counts,
    MAX per value, SUM — all exact integers; the same single accuracy
    quotient, ROUND(.,6) engine-side."""
    blocks = ["codes AS (" + _LINEITEM_CODES_SQL + ")"]
    selects = []
    for i, f in enumerate(_MI_FEATURES):
        blocks.append(
            f"""c_{i} AS (
            SELECT {f} AS x, y, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM codes GROUP BY 1, 2
        )"""
        )
        blocks.append(
            f"""b_{i} AS (SELECT x, MAX(cnt) AS mx FROM c_{i} GROUP BY x)"""
        )
        selects.append(
            f"""SELECT '{f}' AS feature,
               CAST((SELECT SUM(mx) FROM b_{i}) AS BIGINT) AS n_correct,
               CAST((SELECT SUM(cnt) FROM c_{i}) AS BIGINT) AS n,
               ROUND(CAST((SELECT SUM(mx) FROM b_{i}) AS DOUBLE)
                     / CAST((SELECT SUM(cnt) FROM c_{i}) AS DOUBLE),
                     6) AS oner_accuracy"""
        )
    return (
        "WITH " + ",\n        ".join(blocks) + "\n        "
        + "\n        UNION ALL\n        ".join(selects)
    )


# Wider code table for the multiple-testing query: BH over m=4 features is
# a thin demo; these 10 integer codes give the step-up walk a real mid-table
# threshold. y = 3 classes -> chi2 dof = 2 -> sf(x) = EXP(-x/2) EXACTLY (the
# regularized upper gamma Q(1, x/2)), which is why the p-value fixture can be
# one SQL text run verbatim on both engines: all inputs are exact integers,
# every float op is a mirrored single expression, so the p-values (and hence
# the BH boundary) are IEEE-identical cross-engine.
_FDR_CODES_SQL = """
SELECT
    CAST(l_linenumber AS INT)                    AS f_line,
    CAST(FLOOR(l_quantity / 10) AS INT)          AS f_qty,
    CAST(ROUND(l_discount * 100) AS INT)         AS f_disc,
    CAST(ROUND(l_tax * 100) AS INT)              AS f_tax,
    CAST(l_partkey % 7 AS INT)                   AS f_part,
    CAST(l_suppkey % 5 AS INT)                   AS f_supp,
    CAST(l_orderkey % 4 AS INT)                  AS f_ord,
    CASE l_linestatus WHEN 'F' THEN 0 ELSE 1 END AS f_stat,
    CAST(EXTRACT(DAY FROM l_shipdate) % 6 AS INT) AS f_ship,
    CAST(FLOOR(l_quantity) AS INT) % 3           AS f_qmod,
    CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END AS f_flag,
    CASE WHEN l_returnflag = 'A' AND l_linenumber <= 3 THEN 1 ELSE 0 END
        AS f_mix,
    CASE l_returnflag WHEN 'A' THEN 0 WHEN 'N' THEN 1 ELSE 2 END AS y
FROM lineitem
"""

# f_flag/f_mix are y-associated by construction so the BH step-up threshold
# lands mid-table (selected=1 rows exist); the other 10 are independent noise.
_FDR_FEATURES = [
    "f_line", "f_qty", "f_disc", "f_tax", "f_part", "f_supp",
    "f_ord", "f_stat", "f_ship", "f_qmod", "f_flag", "f_mix",
]


def _fdr_pvalue_fixture_sql() -> str:
    """(feature, p_value) fixture shared VERBATIM by Spark and DuckDB:
    value-weighted chi2 (the chi2.py observed-matrix semantics) pivoted to
    one fixed-order 3-term sum per feature — obs/count sums are exact
    integers, the per-class terms use explicit d*d (never POW: libm pow is
    not bit-stable cross-engine), and EXP(-chi2/2) is the exact dof=2
    survival function."""
    longs = " UNION ALL ".join(
        f"SELECT '{f}' AS feature, CAST({f} AS DOUBLE) AS v, y FROM m"
        for f in _FDR_FEATURES
    )
    terms = []
    for k in range(3):
        e = f"(c{k} * (o0 + o1 + o2) / (c0 + c1 + c2))"
        terms.append(
            f"(CASE WHEN {e} > 1e-12"
            f" THEN (o{k} - {e}) * (o{k} - {e}) / {e} ELSE 0.0 END)"
        )
    chi2_expr = " + ".join(terms)
    return f"""
WITH m AS ({_FDR_CODES_SQL}),
long AS ({longs}),
cls AS (SELECT feature, y, SUM(v) AS obs, COUNT(*) AS n_c FROM long GROUP BY 1, 2),
piv AS (
    SELECT feature,
           SUM(CASE WHEN y = 0 THEN obs ELSE 0.0 END) AS o0,
           SUM(CASE WHEN y = 1 THEN obs ELSE 0.0 END) AS o1,
           SUM(CASE WHEN y = 2 THEN obs ELSE 0.0 END) AS o2,
           SUM(CASE WHEN y = 0 THEN n_c ELSE 0 END)   AS c0,
           SUM(CASE WHEN y = 1 THEN n_c ELSE 0 END)   AS c1,
           SUM(CASE WHEN y = 2 THEN n_c ELSE 0 END)   AS c2
    FROM cls GROUP BY 1
)
SELECT feature, EXP(-({chi2_expr}) / 2) AS p_value FROM piv
"""


def _q_fdr_bh_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg FDR control (selection/fdr.py fdr_bh) over the
    10-feature chi2 p-value table: two-pass range-partition step-up (no
    global-window funnel), adjusted p via partition-local suffix min + a
    driver suffix carry. Graft-added downstream of the reference's
    Chi2.py p-values (which stop at raw p)."""
    from fastselect_spark.selection import fdr_bh

    _register(spark, sf_dir, "lineitem")
    pv = spark.sql(_fdr_pvalue_fixture_sql())
    out = fdr_bh(pv, alpha=0.05, num_partitions=4)
    return out.select(
        "feature",
        F.col("rank").cast("long").alias("rank"),
        F.round("p_adj", 10).alias("p_adj"),
        F.round("p_bonf", 10).alias("p_bonf"),
        F.col("selected").cast("int").alias("selected"),
    )


def _fdr_oracle_sql() -> str:
    """Mirror of _q_fdr_bh_selection: the same p-value fixture text, then
    BH as window SQL — ROW_NUMBER ordered by (p, feature), q = m*p/rank in
    the kernel's operand order, reverse-cummin for p_adj, filtered-MAX
    step-up threshold."""
    return f"""
WITH pv AS ({_fdr_pvalue_fixture_sql()}),
r AS (
    SELECT feature, p_value AS p,
           ROW_NUMBER() OVER (ORDER BY p_value, feature) AS rnk,
           COUNT(*) OVER () AS mm
    FROM pv
),
q AS (
    SELECT feature, p, rnk, mm,
           CAST(mm AS DOUBLE) * p / rnk AS q_raw
    FROM r
),
adj AS (
    SELECT feature, p, rnk, mm,
           MIN(q_raw) OVER (ORDER BY rnk DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS sfx
    FROM q
),
thr AS (SELECT MAX(CASE WHEN p <= 0.05 * rnk / mm THEN p END) AS t FROM q)
SELECT a.feature,
       CAST(a.rnk AS BIGINT) AS rank,
       ROUND(LEAST(1.0, a.sfx), 10) AS p_adj,
       ROUND(LEAST(1.0, CAST(a.mm AS DOUBLE) * a.p), 10) AS p_bonf,
       CAST(CASE WHEN thr.t IS NOT NULL AND a.p <= thr.t THEN 1 ELSE 0 END
            AS INT) AS selected
FROM adj a CROSS JOIN thr
"""


def _q_dispersion_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unsupervised AM/GM dispersion filter (selection/univariate.py
    dispersion_ratios): one melt + vocabulary-bounded (feature, value)
    aggregation; the log-sum accumulates in value-ascending order on both
    engines (driver loop vs ordered running window)."""
    from fastselect_spark.selection import dispersion_ratios

    _register(spark, sf_dir, "lineitem")
    m = spark.sql(_FDR_CODES_SQL)
    out = dispersion_ratios(m, _FDR_FEATURES)
    return out.select("feature", F.round("dispersion", 6).alias("dispersion"))


def _dispersion_oracle_sql() -> str:
    longs = " UNION ALL ".join(
        f"SELECT '{f}' AS feature, CAST({f} AS DOUBLE) AS v FROM m"
        for f in _FDR_FEATURES
    )
    return f"""
WITH m AS ({_FDR_CODES_SQL}),
long AS ({longs}),
c AS (SELECT feature, v, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM long WHERE v IS NOT NULL GROUP BY 1, 2),
am AS (SELECT feature, SUM(cnt * (v + 1.0)) AS am_num, SUM(cnt) AS n
       FROM c GROUP BY 1),
ws AS (
    SELECT feature, v,
           SUM(cnt * LN(v + 1.0)) OVER (PARTITION BY feature ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rs
    FROM c
),
ls AS (
    SELECT feature, rs FROM ws
    QUALIFY ROW_NUMBER() OVER (PARTITION BY feature ORDER BY v DESC) = 1
)
SELECT a.feature,
       ROUND((a.am_num / a.n) / EXP(l.rs / a.n), 6) AS dispersion
FROM am a JOIN ls l USING (feature)
"""


def _q_stump_gains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump split gain (selection/stump.py stump_gain_scores):
    best x<=v information gain per feature off ONE vocabulary-bounded
    (feature, value, class) contingency; entropies in fixed class order
    so exact-count candidates yield cross-engine-identical gains."""
    from fastselect_spark.selection import stump_gain_scores

    _register(spark, sf_dir, "lineitem")
    m = spark.sql(_FDR_CODES_SQL)
    out = stump_gain_scores(m, _FDR_FEATURES, "y")
    return out.select("feature", "threshold", F.round("gain", 6).alias("gain"))


def _stump_oracle_sql() -> str:
    """Mirror of _q_stump_gains: value-ordered prefix class counts, the
    same fixed-order entropy terms, (gain DESC, v ASC) argmax per feature.
    (Constant features — absent at this fixture — would differ: the Spark
    side emits a NULL-threshold row, this SQL has no candidate row.)"""
    longs = " UNION ALL ".join(
        f"SELECT '{f}' AS feature, CAST({f} AS DOUBLE) AS v, y FROM m"
        for f in _FDR_FEATURES
    )

    def ent(c0: str, c1: str, c2: str, nn: str) -> str:
        terms = [
            f"(CASE WHEN {c} > 0 THEN -(CAST({c} AS DOUBLE) / {nn})"
            f" * LN(CAST({c} AS DOUBLE) / {nn}) ELSE 0.0 END)"
            for c in (c0, c1, c2)
        ]
        return "(" + " + ".join(terms) + ")"

    return f"""
WITH m AS ({_FDR_CODES_SQL}),
long AS ({longs}),
c AS (SELECT feature, v, y, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM long GROUP BY 1, 2, 3),
piv AS (
    SELECT feature, v,
           SUM(CASE WHEN y = 0 THEN cnt ELSE 0 END) AS n0,
           SUM(CASE WHEN y = 1 THEN cnt ELSE 0 END) AS n1,
           SUM(CASE WHEN y = 2 THEN cnt ELSE 0 END) AS n2
    FROM c GROUP BY 1, 2
),
pre AS (
    SELECT feature, v,
           SUM(n0) OVER (PARTITION BY feature ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS l0,
           SUM(n1) OVER (PARTITION BY feature ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS l1,
           SUM(n2) OVER (PARTITION BY feature ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS l2,
           SUM(n0) OVER (PARTITION BY feature) AS t0,
           SUM(n1) OVER (PARTITION BY feature) AS t1,
           SUM(n2) OVER (PARTITION BY feature) AS t2
    FROM piv
),
cand AS (
    SELECT feature, v, l0, l1, l2,
           t0 - l0 AS r0, t1 - l1 AS r1, t2 - l2 AS r2,
           l0 + l1 + l2 AS nl,
           (t0 - l0) + (t1 - l1) + (t2 - l2) AS nr,
           t0 + t1 + t2 AS n, t0, t1, t2
    FROM pre
    WHERE (t0 - l0) + (t1 - l1) + (t2 - l2) > 0
),
g AS (
    SELECT feature, v,
           (({ent('t0', 't1', 't2', 'CAST(n AS DOUBLE)')}
             - (CAST(nl AS DOUBLE) / CAST(n AS DOUBLE))
               * {ent('l0', 'l1', 'l2', 'CAST(nl AS DOUBLE)')})
            - (CAST(nr AS DOUBLE) / CAST(n AS DOUBLE))
              * {ent('r0', 'r1', 'r2', 'CAST(nr AS DOUBLE)')}) AS gain
    FROM cand
)
SELECT feature, v AS threshold, ROUND(gain, 6) AS gain
FROM g
QUALIFY ROW_NUMBER() OVER (PARTITION BY feature
                           ORDER BY gain DESC, v ASC) = 1
"""


_STAB_K = 5
_STAB_FOLDS = 4
_STAB_CODES_SQL = _FDR_CODES_SQL.replace(
    "FROM lineitem", ", l_orderkey\nFROM lineitem"
)


def _q_selection_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-selection stability (selection/stability.py): chi2 per
    hash fold in ONE groupBy(fold, label) pass, then pairwise top-k
    Jaccard + Kuncheva consistency. chi2_stats_from_observed is
    IEEE-identical to the oracle's fixed-order pivot (exact-integer obs,
    ((t0+t1)+t2) class order), so the per-fold rankings agree exactly."""
    from fastselect_spark.featurize.encoding import hash_bucket
    from fastselect_spark.selection import chi2_fold_scores, stability_topk

    _register(spark, sf_dir, "lineitem")
    m = spark.sql(_STAB_CODES_SQL).withColumn(
        "fold", hash_bucket("l_orderkey", _STAB_FOLDS, seed=7)
    )
    scores = chi2_fold_scores(m, _FDR_FEATURES, "y", "fold")
    out = stability_topk(scores, k=_STAB_K)
    return out.select(
        "fold_a",
        "fold_b",
        "n_common",
        F.round("jaccard", 6).alias("jaccard"),
        F.round("kuncheva", 6).alias("kuncheva"),
    )


def _stability_oracle_sql() -> str:
    """Mirror of _q_selection_stability: per-(fold, feature) fixed-order
    pivot chi2, ROW_NUMBER top-k per fold, pair self-join; the Kuncheva
    chance terms are injected as repr() of the SAME Python doubles the
    operator computes (CLAUDE.md literal-injection rule)."""
    longs = " UNION ALL ".join(
        f"SELECT fold, '{f}' AS feature, CAST({f} AS DOUBLE) AS v, y FROM m"
        for f in _FDR_FEATURES
    )
    terms = []
    for k in range(3):
        e = f"(c{k} * (o0 + o1 + o2) / (c0 + c1 + c2))"
        terms.append(
            f"(CASE WHEN {e} > 1e-12"
            f" THEN (o{k} - {e}) * (o{k} - {e}) / {e} ELSE 0.0 END)"
        )
    chi2_expr = " + ".join(terms)
    kk = float(_STAB_K)
    exp = kk * kk / len(_FDR_FEATURES)
    return f"""
WITH base AS ({_STAB_CODES_SQL}),
m AS (
    SELECT *, CAST(CAST('0x' || substr(md5('7:' || CAST(l_orderkey AS STRING)),
                        1, 15) AS BIGINT) % {_STAB_FOLDS} AS INT) AS fold
    FROM base
),
long AS ({longs}),
cls AS (SELECT fold, feature, y, SUM(v) AS obs, COUNT(*) AS n_c
        FROM long GROUP BY 1, 2, 3),
piv AS (
    SELECT fold, feature,
           SUM(CASE WHEN y = 0 THEN obs ELSE 0.0 END) AS o0,
           SUM(CASE WHEN y = 1 THEN obs ELSE 0.0 END) AS o1,
           SUM(CASE WHEN y = 2 THEN obs ELSE 0.0 END) AS o2,
           SUM(CASE WHEN y = 0 THEN n_c ELSE 0 END)   AS c0,
           SUM(CASE WHEN y = 1 THEN n_c ELSE 0 END)   AS c1,
           SUM(CASE WHEN y = 2 THEN n_c ELSE 0 END)   AS c2
    FROM cls GROUP BY 1, 2
),
sc AS (SELECT fold, feature, ({chi2_expr}) AS score FROM piv),
rk AS (
    SELECT fold, feature,
           ROW_NUMBER() OVER (PARTITION BY fold
                              ORDER BY score DESC, feature ASC) AS rnk
    FROM sc
),
top AS (SELECT fold, feature FROM rk WHERE rnk <= {_STAB_K}),
fg AS (SELECT DISTINCT fold FROM top),
pairs AS (SELECT a.fold AS fold_a, b.fold AS fold_b
          FROM fg a, fg b WHERE a.fold < b.fold),
inter AS (
    SELECT a.fold AS fold_a, b.fold AS fold_b,
           CAST(COUNT(*) AS BIGINT) AS n_common
    FROM top a JOIN top b ON a.feature = b.feature AND a.fold < b.fold
    GROUP BY 1, 2
)
SELECT p.fold_a, p.fold_b,
       COALESCE(i.n_common, 0) AS n_common,
       ROUND(CAST(COALESCE(i.n_common, 0) AS DOUBLE)
             / ({2.0 * kk!r} - CAST(COALESCE(i.n_common, 0) AS DOUBLE)), 6)
           AS jaccard,
       ROUND((CAST(COALESCE(i.n_common, 0) AS DOUBLE) - {exp!r})
             / {kk - exp!r}, 6) AS kuncheva
FROM pairs p LEFT JOIN inter i USING (fold_a, fold_b)
"""


def _q_mrmr_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register(spark, sf_dir, "lineitem")
    m = spark.sql(_LINEITEM_CODES_SQL)
    sel = MRMRSelector(n_features_to_select=3, method="MID").fit(m, _MI_FEATURES, "y")
    return spark.createDataFrame(
        [(int(r), f) for r, f in enumerate(sel.selected_cols_)],
        schema="rank int, feature string",
    )


def _q_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 2)                  AS sum_qty,
               ROUND(SUM(l_extendedprice), 2)             AS sum_base_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               ROUND(AVG(l_quantity), 4)                  AS avg_qty,
               COUNT(*)                                   AS count_order
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
        """
    )


def _q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register(spark, sf_dir, "orders", "customer")
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_name,
               ROUND(SUM(o.o_totalprice), 2) AS revenue,
               COUNT(*)                      AS n_orders
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey, c.c_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 10
        """
    )


def _q_fisher_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastselect_spark.selection import fisher_score

    _register(spark, sf_dir, "lineitem")
    m = spark.sql(_LINEITEM_CODES_SQL)
    scores = fisher_score(m, _MI_FEATURES, "y")
    return spark.createDataFrame(
        [(f, round(float(s), 6)) for f, s in zip(_MI_FEATURES, scores)],
        schema="feature string, fisher double",
    )


def _q_jmi_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastselect_spark.selection import jmi_select

    _register(spark, sf_dir, "lineitem")
    m = spark.sql(_LINEITEM_CODES_SQL)
    idx = jmi_select(m, _MI_FEATURES, "y", n_select=3)
    return spark.createDataFrame(
        [(r, _MI_FEATURES[i]) for r, i in enumerate(idx)],
        schema="rank int, feature string",
    )


def _q_leakage_safe_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe categorical encodings on transcripts: smoothed
    expanding target mean per role (strictly-past frame — the zero-leakage
    invariant the north_rule demands), strictly-past frequency count, and
    portable md5 hash buckets (the fixed-width 100 TB categorical path).
    All sums are integer-exact so te is bit-identical cross-engine."""
    from fastselect_spark.featurize import (
        count_encode_expanding,
        hash_encode,
        target_encode_expanding,
    )

    tr = _transcripts(spark, sf_dir).withColumn(
        "label", F.col("tool").isNotNull().cast("int")
    )
    df = target_encode_expanding(tr, ["role"], "label", prior=0.5, alpha=10.0)
    df = count_encode_expanding(df, ["role"])
    df = hash_encode(df, ["role", "text"], n_buckets=64, seed=7)
    return df.select(
        "conv_id",
        "turn_idx",
        F.round("te", 9).alias("te"),
        "ce",
        "role_hb",
        "text_hb",
    )


def _q_frequency_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordinal frequency encoding of the documents' source and lang
    columns: vocabulary groupBy + broadcast join back; rank by
    (count desc, value) is a deterministic total order."""
    from fastselect_spark.featurize import frequency_encode

    _register(spark, sf_dir, "documents")
    docs = spark.table("documents").select("doc_id", "source", "lang")
    out = frequency_encode(frequency_encode(docs, "source"), "lang")
    return out.select(
        "doc_id", "source_rank", "source_freq", "lang_rank", "lang_freq"
    )


def _q_woe_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence / information-value table for the role feature
    against tool-usage labels (featurize/encoding.py woe_iv_encode): ONE
    vocab agg + window totals over the category-bounded table; the row
    transform (broadcast join) is exercised in tests."""
    from fastselect_spark.featurize import woe_iv_encode

    tr = _transcripts(spark, sf_dir).withColumn(
        "label", F.col("tool").isNotNull().cast("int")
    )
    _, vocab = woe_iv_encode(tr, "role", "label", eps=0.5)
    return vocab.select(
        "role",
        "pos",
        "neg",
        F.round("woe", 9).alias("woe"),
        F.round("iv_term", 9).alias("iv_term"),
    )


def _q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust MAD outlier flags on document text features
    (selection/univariate.py mad_stats + mad_outliers): two exact-
    percentile aggs fit (median, MAD); the flagging scan is a literal
    projection — shuffle-free at any scale. Flags are exact ints; the
    threshold 3.5·1.4826·MAD multiplies in the same left-assoc order
    cross-engine."""
    from fastselect_spark.selection import mad_outliers, mad_stats

    _register(spark, sf_dir, "documents")
    cols = ["n_chars", "n_toks"]
    docs = spark.table("documents").select(
        "doc_id",
        F.length("text").cast("double").alias("n_chars"),
        F.size(F.split("text", r"\s+")).cast("double").alias("n_toks"),
    )
    med, mad = mad_stats(docs, cols)
    out = mad_outliers(docs, cols, med, mad, k=3.5)
    return out.select("doc_id", "n_chars_out", "n_toks_out")


def _q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS drift statistic between the even/odd doc_id
    halves (featurize/drift.py ks_statistics): groupBy(feature, value)
    reduction + the two-pass range-partition prefix scheme — no global
    Window funnel. CDF gaps are quotients of exact integer counts."""
    from fastselect_spark.featurize import ks_statistics

    _register(spark, sf_dir, "documents")
    docs = spark.table("documents").select(
        "doc_id",
        F.length("text").cast("double").alias("n_chars"),
        F.size(F.split("text", r"\s+")).cast("double").alias("n_toks"),
    )
    ref = docs.where(F.col("doc_id") % 2 == 0)
    cur = docs.where(F.col("doc_id") % 2 == 1)
    out = ks_statistics(ref, cur, ["n_chars", "n_toks"])
    return out.select("feature", F.round("ks", 9).alias("ks"))


def _q_tool_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tool co-occurrence PMI within conversations (featurize/convagg.py
    tool_cooccurrence_pmi): distinct (conv, tool) agg, conv-key self-join
    bounded by tools-per-conversation², broadcast marginals."""
    from fastselect_spark.featurize import tool_cooccurrence_pmi

    tr = _transcripts(spark, sf_dir)
    out = tool_cooccurrence_pmi(tr)
    return out.select(
        "item_a", "item_b", "n_ab", F.round("pmi", 9).alias("pmi")
    )


def _q_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot profile drift (corpus/profile.py profile_drift): two
    table_profile passes (even/odd doc_id halves) + a p-row full-outer
    join — null-fraction / cardinality / modal-value movement per
    column."""
    from fastselect_spark.corpus import profile_drift

    _register(spark, sf_dir, "documents")
    docs = spark.table("documents").select(
        "doc_id", "lang", "source", F.length("text").alias("n_chars")
    )
    a = docs.where(F.col("doc_id") % 2 == 0).drop("doc_id")
    b = docs.where(F.col("doc_id") % 2 == 1).drop("doc_id")
    d = profile_drift(a, b, ["lang", "source", "n_chars"])
    return d.select(
        "column",
        "n_rows_a",
        "n_rows_b",
        F.round("null_frac_a", 9).alias("null_frac_a"),
        F.round("null_frac_b", 9).alias("null_frac_b"),
        F.round("null_frac_delta", 9).alias("null_frac_delta"),
        "n_distinct_a",
        "n_distinct_b",
        "top_value_a",
        "top_value_b",
        "top_changed",
    )


def _q_top_terms_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source top-k vocabulary (text/vocab.py top_terms_per_group):
    one (group, term) agg + a group-partitioned rank window over the
    aggregated table — never a global sort."""
    from fastselect_spark.text import top_terms_per_group

    _register(spark, sf_dir, "documents")
    return top_terms_per_group(spark.table("documents"), "source", k=5)


def _q_group_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware k-fold (featurize/splits.py group_kfold): every turn of
    a conversation lands in the same fold via the portable md5 bucket —
    row-local, shuffle-free; summarized per fold (the per-row table is
    10k rows of pure hash, the summary proves group integrity)."""
    from fastselect_spark.featurize import group_kfold

    tr = _transcripts(spark, sf_dir)
    f = group_kfold(tr, "conv_id", n_folds=5, seed=11)
    return (
        f.groupBy("fold")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.countDistinct("conv_id").cast("long").alias("n_convs"),
        )
    )


def _q_source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture-planning report (corpus/sampling.py source_mixture_report):
    ONE groupBy(source) agg bounded by the source alphabet; shares are
    exact-integer quotients."""
    from fastselect_spark.corpus import source_mixture_report

    _register(spark, sf_dir, "documents")
    rep = source_mixture_report(spark.table("documents"))
    return rep.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round("doc_share", 9).alias("doc_share"),
        F.round("token_share", 9).alias("token_share"),
    )


def _q_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-based quantile normalization (selection/rank.py
    quantile_normalize): average ranks via the range-partition two-pass
    kernel scaled by rank/(n+1) — quotients of exact (half-)integers, no
    global Window at any scale."""
    from fastselect_spark.selection import quantile_normalize

    _register(spark, sf_dir, "documents")
    docs = spark.table("documents").select(
        "doc_id",
        F.length("text").cast("double").alias("n_chars"),
        F.size(F.split("text", r"\s+")).cast("double").alias("n_toks"),
    )
    out = quantile_normalize(
        docs, ["n_chars", "n_toks"], ["doc_id"], num_partitions=8
    )
    return out.select(
        "doc_id",
        F.round("n_chars_qn", 9).alias("n_chars_qn"),
        F.round("n_toks_qn", 9).alias("n_toks_qn"),
    )


def _q_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic contrastive (anchor, positive, negative) generation
    (corpus/pairs.py): positive = next turn on the shared conv_id
    exchange; negative = hash-bucket representative from another
    conversation via two broadcast n_buckets-sized tables — no RNG, no
    corpus shuffle."""
    from fastselect_spark.corpus import contrastive_pairs

    tr = _transcripts(spark, sf_dir)
    return contrastive_pairs(tr, n_buckets=16, seed=3)


def _q_text_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC cleaning (text/clean.py): documents text with a planted
    dirty suffix — decomposed e+U+0301, tab runs, a BEL control — cleaned
    by the Arrow UDF; oracle = DuckDB nfc_normalize + the same regex chain
    (probe-verified NFC parity). Row-local, shuffle-free."""
    from fastselect_spark.text import clean_text

    _register(spark, sf_dir, "documents")
    dirty = spark.table("documents").select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" Café\t\tx \x07 end ")
        ).alias("text"),
    )
    out = clean_text(dirty, "text")
    return out.select(
        "doc_id",
        F.length("text").alias("len_dirty"),
        F.length("text_clean").alias("len_clean"),
        F.right("text_clean", F.lit(14)).alias("tail"),
    )


def _q_calibration_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier calibration / ECE report (corpus/calibration.py): ONE
    groupBy(bin) agg bounded by n_bins + an ORDERED full-frame window for
    the ECE (pinned summation order — bit-identical cross-engine). Scores
    are dyadic rationals (md5 bucket / 1024) so float sums are exact under
    any partitioning; labels are a second hash coupled to the score, so
    the report shows a calibrated-ish diagonal."""
    from fastselect_spark.corpus import calibration_report
    from fastselect_spark.featurize.encoding import hash_bucket

    _register(spark, sf_dir, "documents")
    d = spark.table("documents").select(F.col("doc_id").cast("string").alias("k"))
    scored = d.select(
        (hash_bucket("k", 1024, seed=1).cast("double") / F.lit(1024.0)).alias(
            "score"
        ),
        (hash_bucket("k", 1024, seed=2) < hash_bucket("k", 1024, seed=1))
        .cast("int")
        .alias("label"),
    )
    rep = calibration_report(scored, "score", "label", n_bins=10)
    return rep.select(
        "bin",
        "n",
        F.round("conf", 9).alias("conf"),
        F.round("acc", 9).alias("acc"),
        F.round("gap", 9).alias("gap"),
        F.round("ece", 9).alias("ece"),
    )


_MAHA_COLS = ["n_chars", "n_toks", "n_echars"]
_MAHA_THRESHOLD = 16.266  # ~ chi2(3).ppf(0.999), fixed literal both engines


def _q_mahalanobis_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multivariate Mahalanobis outlier scoring on document text features
    (selection/multivariate.py): ONE sufficient-stats agg fits (μ, Σ⁻¹);
    the squared-distance scan is a literal projection — shuffle-free.
    Integer-valued features make every sum exact, so the driver's NumPy
    closure is bit-identical to the oracle's independent replica."""
    from fastselect_spark.selection import mahalanobis_distance, mahalanobis_stats

    _register(spark, sf_dir, "documents")
    docs = spark.table("documents").select(
        "doc_id",
        F.length("text").cast("double").alias("n_chars"),
        F.size(F.split("text", r"\s+")).cast("double").alias("n_toks"),
        (F.length("text") - F.length(F.regexp_replace("text", "e", "")))
        .cast("double")
        .alias("n_echars"),
    )
    mu, prec = mahalanobis_stats(docs, _MAHA_COLS)
    out = mahalanobis_distance(docs, _MAHA_COLS, mu, prec)
    return out.select(
        "doc_id",
        F.round("maha2", 6).alias("maha2"),
        (F.col("maha2") > F.lit(_MAHA_THRESHOLD)).cast("int").alias("outlier"),
    )


def _mahalanobis_oracle_sql() -> str | None:
    """DuckDB oracle for ``mahalanobis_outliers`` — the fit is a pure
    function of exact-integer sufficient statistics, so an independent
    replica (DuckDB feature extraction + the SAME NumPy closure,
    selection/multivariate.py close_mahalanobis_stats) reproduces (μ, Σ⁻¹)
    bit-identically; they are injected as literals and the SQL recomputes
    the quadratic form in the same row-major term order."""
    import os

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    try:
        import duckdb as _duck
        import numpy as _np

        from fastselect_spark.selection import close_mahalanobis_stats

        con = _duck.connect()
        M = con.sql(
            rf"""
            SELECT CAST(LENGTH(text) AS DOUBLE) AS n_chars,
                   CAST(LEN(STRING_SPLIT_REGEX(text, '\s+')) AS DOUBLE) AS n_toks,
                   CAST(LENGTH(text) - LENGTH(REPLACE(text, 'e', ''))
                        AS DOUBLE) AS n_echars
            FROM read_parquet('{sf_dir}/documents.parquet')
            """
        ).df()[_MAHA_COLS].to_numpy()
        con.close()
        mu, prec = close_mahalanobis_stats(
            float(len(M)), M.sum(axis=0), M.T @ M
        )
    except Exception:
        return None
    dev = [f"(d.{c} - {float(mu[i])!r})" for i, c in enumerate(_MAHA_COLS)]
    terms = " + ".join(
        f"{float(prec[i, j])!r} * {dev[i]} * {dev[j]}"
        for i in range(len(_MAHA_COLS))
        for j in range(len(_MAHA_COLS))
    )
    return rf"""
WITH d AS (
    SELECT doc_id, CAST(LENGTH(text) AS DOUBLE) AS n_chars,
           CAST(LEN(STRING_SPLIT_REGEX(text, '\s+')) AS DOUBLE) AS n_toks,
           CAST(LENGTH(text) - LENGTH(REPLACE(text, 'e', '')) AS DOUBLE)
               AS n_echars
    FROM documents
),
m AS (SELECT doc_id, {terms} AS maha2 FROM d)
SELECT doc_id, ROUND(maha2, 6) AS maha2,
       CAST(maha2 > {_MAHA_THRESHOLD!r} AS INT) AS outlier
FROM m
"""


def _q_conversation_trends(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation OLS trends (featurize/convagg.py
    conversation_trends): token-count and turn-gap slope/intercept/r over
    turn_idx from ONE sufficient-statistics groupBy — exact-integer sums,
    closures mirrored by the oracle."""
    from fastselect_spark.featurize import conversation_trends

    feat = featurize_transcripts(_transcripts(spark, sf_dir))
    out = conversation_trends(feat)
    cols = [F.col("conv_id"), F.col("n_turns")]
    for yc in ("n_tokens", "turn_gap_s"):
        for part in ("slope", "intercept", "r"):
            cols.append(F.round(f"{yc}_{part}", 6).alias(f"{yc}_{part}"))
    return out.select(*cols)


def _conv_trends_oracle_sql() -> str:
    # deferred: _FEATURIZE_BASE is defined later in this module
    return (
        _FEATURIZE_BASE
        + """
, st AS (
    SELECT conv_id,
           CAST(COUNT(*) AS DOUBLE) AS n,
           SUM(CAST(turn_idx AS DOUBLE)) AS sx,
           SUM(CAST(turn_idx AS DOUBLE) * CAST(turn_idx AS DOUBLE)) AS sxx,
           SUM(n_tokens) AS sy_t, SUM(n_tokens * n_tokens) AS syy_t,
           SUM(CAST(turn_idx AS DOUBLE) * n_tokens) AS sxy_t,
           SUM(turn_gap_s) AS sy_g, SUM(turn_gap_s * turn_gap_s) AS syy_g,
           SUM(CAST(turn_idx AS DOUBLE) * turn_gap_s) AS sxy_g
    FROM feat GROUP BY 1
)
SELECT conv_id,
       CAST(n AS BIGINT) AS n_turns,
       ROUND(CASE WHEN n * sxx - sx * sx > 0
             THEN (n * sxy_t - sx * sy_t) / (n * sxx - sx * sx) END, 6)
           AS n_tokens_slope,
       ROUND(CASE WHEN n * sxx - sx * sx > 0
             THEN (sy_t - ((n * sxy_t - sx * sy_t) / (n * sxx - sx * sx)) * sx)
                  / n END, 6) AS n_tokens_intercept,
       ROUND(CASE WHEN n * sxx - sx * sx > 0 AND n * syy_t - sy_t * sy_t > 0
             THEN (n * sxy_t - sx * sy_t)
                  / SQRT((n * sxx - sx * sx) * (n * syy_t - sy_t * sy_t)) END,
             6) AS n_tokens_r,
       ROUND(CASE WHEN n * sxx - sx * sx > 0
             THEN (n * sxy_g - sx * sy_g) / (n * sxx - sx * sx) END, 6)
           AS turn_gap_s_slope,
       ROUND(CASE WHEN n * sxx - sx * sx > 0
             THEN (sy_g - ((n * sxy_g - sx * sy_g) / (n * sxx - sx * sx)) * sx)
                  / n END, 6) AS turn_gap_s_intercept,
       ROUND(CASE WHEN n * sxx - sx * sx > 0 AND n * syy_g - sy_g * sy_g > 0
             THEN (n * sxy_g - sx * sy_g)
                  / SQRT((n * sxx - sx * sx) * (n * syy_g - sy_g * sy_g)) END,
             6) AS turn_gap_s_r
FROM st
"""
    )


def _q_conversation_leadlag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation per conversation (featurize/convagg.py
    conversation_leadlag): r between n_tokens(t) and turn_gap_s(t+lag)
    for lag in -2..2 — one window pass sharing the conv_id partitioning +
    one sufficient-statistics groupBy."""
    from fastselect_spark.featurize import conversation_leadlag

    feat = featurize_transcripts(_transcripts(spark, sf_dir))
    out = conversation_leadlag(feat)
    return out.select(
        "conv_id", "lag", "n_pairs", F.round("r", 6).alias("r")
    )


def _conv_leadlag_oracle_sql() -> str:
    # deferred: _FEATURIZE_BASE is defined later in this module
    shifts = {
        -2: "LAG(turn_gap_s, 2) OVER w",
        -1: "LAG(turn_gap_s, 1) OVER w",
        0: "turn_gap_s",
        1: "LEAD(turn_gap_s, 1) OVER w",
        2: "LEAD(turn_gap_s, 2) OVER w",
    }
    longs = " UNION ALL ".join(
        f"SELECT conv_id, {lag} AS lag, n_tokens AS x, y_{lag + 2} AS y FROM sh"
        for lag in shifts
    )
    sel = ", ".join(f"{expr} AS y_{lag + 2}" for lag, expr in shifts.items())
    return (
        _FEATURIZE_BASE
        + f"""
, sh AS (
    SELECT conv_id, n_tokens, {sel}
    FROM feat WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
),
long AS ({longs}),
st AS (
    SELECT conv_id, lag,
           SUM(CASE WHEN y IS NOT NULL THEN 1.0 ELSE 0.0 END) AS n,
           SUM(CASE WHEN y IS NOT NULL THEN x ELSE 0.0 END) AS sx,
           SUM(CASE WHEN y IS NOT NULL THEN x * x ELSE 0.0 END) AS sxx,
           SUM(CASE WHEN y IS NOT NULL THEN y ELSE 0.0 END) AS sy,
           SUM(CASE WHEN y IS NOT NULL THEN y * y ELSE 0.0 END) AS syy,
           SUM(CASE WHEN y IS NOT NULL THEN x * y ELSE 0.0 END) AS sxy
    FROM long GROUP BY 1, 2
)
SELECT conv_id, CAST(lag AS INT) AS lag, CAST(n AS BIGINT) AS n_pairs,
       ROUND(CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
             THEN (n * sxy - sx * sy)
                  / SQRT((n * sxx - sx * sx) * (n * syy - sy * sy)) END, 6)
           AS r
FROM st
"""
    )


def _q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension build (featurize/scd2.py scd2_intervals): per-user
    event_type change stream -> [valid_from, valid_to) validity intervals
    with consecutive no-change collapse — ONE key exchange shared by both
    windows; the point-in-time companion of the as-of join."""
    from fastselect_spark.featurize import scd2_intervals

    _register(spark, sf_dir, "events")
    ch = spark.sql(
        """
        SELECT CAST(user_id AS STRING) AS k, ts, event_id,
               event_type AS v
        FROM events
        """
    )
    out = scd2_intervals(
        ch, ["k"], "ts", ["v"], order_cols=["event_id"], collapse=True
    )
    return out.select("k", "v", "valid_from", "valid_to", "is_current")


_SCD2_ORACLE = """
WITH e AS (
    SELECT CAST(user_id AS STRING) AS k, ts, event_id, event_type AS v
    FROM events
),
l AS (
    SELECT *, LAG(v) OVER w AS pv, LAG(ts) OVER w AS pts
    FROM e WINDOW w AS (PARTITION BY k ORDER BY ts, event_id)
),
kept AS (SELECT * FROM l WHERE pts IS NULL OR (v IS DISTINCT FROM pv)),
o AS (
    SELECT k, v, ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY k ORDER BY ts, event_id) AS valid_to
    FROM kept
)
SELECT k, v, valid_from, valid_to,
       CAST(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS INT) AS is_current
FROM o
"""


def _q_scd2_pointintime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time SCD2 lookup (featurize/scd2.py scd2_lookup): probes
    at ts-120s resolve the dimension version valid at that instant via an
    AS-OF join on valid_from + residual valid_to null-out — never the
    BroadcastNestedLoopJoin a raw BETWEEN interval join would plan.
    Zero-width intervals (equal-ts change pairs) are dropped so valid_from
    is unique per key; probes that precede every change resolve to NULL."""
    from fastselect_spark.featurize import scd2_intervals, scd2_lookup

    _register(spark, sf_dir, "events")
    ch = spark.sql(
        """
        SELECT CAST(user_id AS STRING) AS k, ts, event_id, event_type AS v
        FROM events
        """
    )
    dim = scd2_intervals(
        ch, ["k"], "ts", ["v"], order_cols=["event_id"], collapse=True
    ).where(
        F.col("valid_to").isNull() | (F.col("valid_from") < F.col("valid_to"))
    )
    probes = spark.sql(
        """
        SELECT DISTINCT CAST(user_id AS STRING) AS k,
               ts - INTERVAL 120 SECONDS AS at
        FROM events
        """
    )
    out = scd2_lookup(probes, dim, ["k"], "at", value_cols=["v"])
    return out.select("k", "at", "v_dim")


_SCD2_LOOKUP_ORACLE = """
WITH e AS (
    SELECT CAST(user_id AS STRING) AS k, ts, event_id, event_type AS v
    FROM events
),
l AS (
    SELECT *, LAG(v) OVER w AS pv, LAG(ts) OVER w AS pts
    FROM e WINDOW w AS (PARTITION BY k ORDER BY ts, event_id)
),
kept AS (SELECT * FROM l WHERE pts IS NULL OR (v IS DISTINCT FROM pv)),
dim AS (
    SELECT k, v, ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY k ORDER BY ts, event_id) AS valid_to
    FROM kept
),
dimf AS (
    SELECT * FROM dim WHERE valid_to IS NULL OR valid_from < valid_to
),
probes AS (
    SELECT DISTINCT k, ts - INTERVAL 120 SECOND AS at FROM e
)
SELECT p.k, p.at, d.v AS v_dim
FROM probes p
LEFT JOIN dimf d
  ON p.k = d.k AND p.at >= d.valid_from
 AND (d.valid_to IS NULL OR p.at < d.valid_to)
"""


def _q_conversation_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation summary matrix (featurize/convagg.py): ONE
    groupBy(conv_id) agg on the featurized frame — length, duration,
    sessions, tool rate, token stats, exact role entropy."""
    from fastselect_spark.featurize import conversation_features

    feat = featurize_transcripts(_transcripts(spark, sf_dir))
    out = conversation_features(feat)
    return out.select(
        "conv_id",
        "n_turns",
        "duration_s",
        "n_sessions",
        "n_tool_calls",
        F.round("tool_rate", 6).alias("tool_rate"),
        F.round("tokens_total", 6).alias("tokens_total"),
        F.round("tokens_avg", 6).alias("tokens_avg"),
        F.round("role_entropy", 6).alias("role_entropy"),
    )


def _q_quantile_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization + RobustScaler on document text features: exact
    interpolated percentiles (Spark `percentile` == DuckDB `quantile_cont`
    == NumPy linear — the cross-engine quantile family), transforms are
    literal projections (selection/univariate.py)."""
    from fastselect_spark.selection import (
        quantile_clip,
        robust_scale,
        robust_scaler_stats,
    )

    _register(spark, sf_dir, "documents")
    docs = spark.table("documents").select(
        "doc_id",
        F.length("text").cast("double").alias("n_chars"),
        F.size(F.split("text", r"\s+")).cast("double").alias("n_toks"),
    )
    cols = ["n_chars", "n_toks"]
    w = quantile_clip(docs, cols, lower=0.05, upper=0.95)
    c, s = robust_scaler_stats(docs, cols)
    out = robust_scale(w, cols, c, s)
    return out.select(
        "doc_id",
        F.round("n_chars_w", 6).alias("n_chars_w"),
        F.round("n_chars_r", 6).alias("n_chars_r"),
        F.round("n_toks_w", 6).alias("n_toks_w"),
        F.round("n_toks_r", 6).alias("n_toks_r"),
    )


def _q_resample_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation daily-grid resampling: sequence/explode grid +
    the existing as-of join attach the latest token count at each grid
    point (featurize/resample.py — pure composition, so leakage and skew
    behavior are inherited from the audited as-of operator). The right
    side is pre-deduped to unique (conv_id, ts) so the backward pick is
    deterministic cross-engine."""
    from fastselect_spark.featurize import resample_grid
    from fastselect_spark.featurize.windows import token_count

    tr = _transcripts(spark, sf_dir)
    f = tr.groupBy("conv_id", "ts").agg(
        F.max(token_count().cast("double")).alias("n_tokens")
    )
    out = resample_grid(f, ["n_tokens"], step_seconds=86400)
    return out.select(
        "conv_id", "ts", F.round("n_tokens_asof", 6).alias("n_tokens_asof")
    )


def _q_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-distribution drift (PSI) between the even-doc_id reference
    half and the odd-doc_id current half of the documents table, on two
    text-derived numeric features. Reference defines the 10 uniform bin
    edges; zero proportions clipped at 1e-6 (featurize/drift.py) — the
    oracle mirrors binning, clipping, and the (p-q)·ln(p/q) sum exactly."""
    from fastselect_spark.featurize import psi_scores

    _register(spark, sf_dir, "documents")
    docs = spark.table("documents").select(
        "doc_id",
        F.length("text").cast("double").alias("n_chars"),
        F.size(F.split("text", r"\s+")).cast("double").alias("n_toks"),
    )
    ref = docs.where(F.col("doc_id") % 2 == 0)
    cur = docs.where(F.col("doc_id") % 2 == 1)
    scores = psi_scores(ref, cur, ["n_chars", "n_toks"], bins=10)
    df = spark.createDataFrame(
        sorted(scores.items()), schema="feature string, psi double"
    )
    return df.select("feature", F.round("psi", 6).alias("psi"))


def _q_standard_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """StandardScaler fit (one sufficient-stats agg) + transform (pure
    literal projection — shuffle-free at any scale) on document text
    features; sklearn ddof=0 / zero-variance→scale-1 semantics."""
    from fastselect_spark.selection import standard_scale, standard_scaler_stats

    _register(spark, sf_dir, "documents")
    docs = spark.table("documents").select(
        "doc_id",
        F.length("text").cast("double").alias("n_chars"),
        F.size(F.split("text", r"\s+")).cast("double").alias("n_toks"),
    )
    cols = ["n_chars", "n_toks"]
    mean, std = standard_scaler_stats(docs, cols)
    out = standard_scale(docs, cols, mean, std)
    return out.select(
        "doc_id",
        F.round("n_chars_z", 6).alias("n_chars_z"),
        F.round("n_toks_z", 6).alias("n_toks_z"),
    )


def _q_cmim_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CMIM greedy selection (Fleuret 2004): J(f) = min_{s in S} I(f;Y|s),
    computed from the same one-pass joint tables as JMI via the chain rule
    I(f;Y|s) = I((f,s);Y) - I(s;Y). Oracle unrolls the 3-step greedy loop
    in SQL CTEs over the shared MI tables."""
    from fastselect_spark.selection import cmim_select

    _register(spark, sf_dir, "lineitem")
    m = spark.sql(_LINEITEM_CODES_SQL)
    idx = cmim_select(m, _MI_FEATURES, "y", n_select=3)
    return spark.createDataFrame(
        [(r, _MI_FEATURES[i]) for r, i in enumerate(idx)],
        schema="rank int, feature string",
    )


def _q_fcbf_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FCBF (Yu & Liu 2003): rank by SU(f;Y), eliminate features whose
    surviving predecessor correlates with them more than the label does.
    One fit: the joint tables come from the JMI single pass, and SU(f;Y)
    is the fit's ``su_y_`` from the shared stacked SU finalizer. The
    oracle recomputes SU (no-eps MI + entropies) and unrolls the
    rank/eliminate recursion for the 4-feature contract."""
    from fastselect_spark.selection import FCBFSelector

    _register(spark, sf_dir, "lineitem")
    m = spark.sql(_LINEITEM_CODES_SQL)
    fit = FCBFSelector().fit(m, _MI_FEATURES, "y")
    df = spark.createDataFrame(
        [
            (r, _MI_FEATURES[i], float(fit.su_y_[i]))
            for r, i in enumerate(fit.top_features_)
        ],
        schema="rank int, feature string, su double",
    )
    return df.select("rank", "feature", F.round("su", 6).alias("su"))


def _q_anova_f_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F per feature (sklearn f_classif semantics): the same
    per-class count/sum/sumsq single aggregation as fisher_scores with
    degrees-of-freedom scaling. Engine-side ROUND on both sides."""
    from fastselect_spark.selection import anova_f_score

    _register(spark, sf_dir, "lineitem")
    m = spark.sql(_LINEITEM_CODES_SQL)
    scores = anova_f_score(m, _MI_FEATURES, "y")
    df = spark.createDataFrame(
        [(f, float(s)) for f, s in zip(_MI_FEATURES, scores)],
        schema="feature string, anova_f double",
    )
    return df.select("feature", F.round("anova_f", 6).alias("anova_f"))


def _q_variance_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VarianceThreshold pre-filter: population variance per feature from
    one sufficient-stats agg; kept = var > 3.0 (exercises both outcomes on
    the lineitem codes). The q/n - (s/n)^2 op order is mirrored exactly in
    the oracle so the keep flags are bit-identical across engines."""
    from fastselect_spark.selection import feature_variances

    _register(spark, sf_dir, "lineitem")
    m = spark.sql(_LINEITEM_CODES_SQL)
    var = feature_variances(m, _MI_FEATURES)
    df = spark.createDataFrame(
        [
            (f, float(v), int(v > 3.0))
            for f, v in zip(_MI_FEATURES, var)
        ],
        schema="feature string, variance double, kept int",
    )
    return df.select(
        "feature", F.round("variance", 6).alias("variance"), "kept"
    )


def _q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastselect_spark.text import (
        add_quality_score,
        add_stopword_ratio,
        add_token_count,
    )

    _register(spark, sf_dir, "documents")
    docs = spark.table("documents")
    out = add_stopword_ratio(add_quality_score(add_token_count(docs)))
    return out.select(
        "doc_id",
        F.col("n_ws_tokens").cast("int").alias("n_ws_tokens"),
        F.col("n_bpe_tokens").cast("int").alias("n_bpe_tokens"),
        F.round("quality_score", 6).alias("quality_score"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
    )


def _q_lang_quality_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastselect_spark.text import add_quality_score

    _register(spark, sf_dir, "documents")
    out = add_quality_score(spark.table("documents"))
    return out.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("quality_score"), 6).alias("avg_quality"),
        F.round(F.avg(F.length("text")), 4).alias("avg_chars"),
    )


def _q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (text/bm25.py): three fixed literal queries
    over the documents corpus, Lucene idf, top-5 per query. Ranking is on
    the 6-decimal-rounded score (then doc_id) so cross-engine float ulp
    noise cannot flip ranks."""
    from fastselect_spark.text.bm25 import bm25_topk

    _register(spark, sf_dir, "documents")
    return bm25_topk(
        spark.table("documents"),
        [(0, "spark window"), (1, "hash join"), (2, "batch stream merge")],
        k=5,
    )


def _q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (text/pii.py): the raw fixture has no PII, so plant
    deterministic emails / IPv4s / SSNs / phone numbers derived from
    doc_id (the oracle performs the identical derivation in SQL), then
    run the staged detect-and-redact chain. Zero-shuffle narrow plan."""
    from fastselect_spark.text.pii import redact_pii

    _register(spark, sf_dir, "documents")
    did = F.col("doc_id")
    planted = spark.table("documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                did % 3 == 0,
                F.concat(
                    F.lit(" contact user"), did.cast("string"),
                    F.lit("@ex"), (did % 7).cast("string"), F.lit(".com"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                did % 4 == 0,
                F.concat(
                    F.lit(" ip 10."), (did % 256).cast("string"),
                    F.lit(".0."), (did % 100).cast("string"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                did % 5 == 0,
                F.concat(
                    F.lit(" ssn 123-45-"),
                    F.lpad((did % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                did % 6 == 0,
                F.concat(
                    F.lit(" call +1 555-01"),
                    F.lpad((did % 100).cast("string"), 2, "0"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return redact_pii(planted).select(
        "doc_id", "n_email", "n_ipv4", "n_ssn", "n_phone", "n_pii",
        "text_redacted",
    )


def _q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastselect_spark.text import add_fingerprint

    _register(spark, sf_dir, "documents")
    return add_fingerprint(spark.table("documents")).select("doc_id", "fp_exact")


def _q_dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw documents fixture has no exact duplicates at small SF (the
    round-1 check was vacuously green at 0 rows), so plant deterministic
    copies: every 7th doc re-enters under doc_id + 1,000,000. The oracle
    performs the identical union, so the hash comparison has content."""
    from fastselect_spark.dedup import exact_duplicate_groups

    _register(spark, sf_dir, "documents")
    docs = spark.table("documents")
    planted = docs.where(F.col("doc_id") % 7 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1000000
    )
    return exact_duplicate_groups(docs.unionByName(planted)).select(
        "fp_exact", "keep_id", F.col("n_copies").cast("long").alias("n_copies")
    )


def _q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastselect_spark.dedup import ngram_jaccard_pairs

    _register(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        spark.table("documents"), shingle_k=3, threshold=0.12
    )


def _q_prefix_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard self-join via AllPairs/PPJoin prefix filtering
    (dedup/ngram.py prefix_filter_jaccard_pairs): each doc indexes only
    its rarest n - ceil(t*n) + 1 shingles, so hot shingles never become
    join keys AND no qualifying pair is dropped — same oracle as
    ngram_jaccard (the result is the exact threshold join)."""
    from fastselect_spark.dedup import prefix_filter_jaccard_pairs

    _register(spark, sf_dir, "documents")
    return prefix_filter_jaccard_pairs(
        spark.table("documents"), shingle_k=3, threshold=0.12
    )


def _q_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style duplicate-span removal (dedup/spans.py): global
    first-occurrence-wins dedup of 8-token spans, docs rebuilt from their
    surviving spans. Non-vacuous on the raw fixture (the small vocabulary
    produces natural span collisions: 175 of 3,609 spans drop at sf0.01)."""
    from fastselect_spark.dedup import remove_duplicate_spans

    _register(spark, sf_dir, "documents")
    return remove_duplicate_spans(spark.table("documents"), span_tokens=8).select(
        "doc_id",
        F.col("n_spans").cast("long").alias("n_spans"),
        F.col("n_kept").cast("long").alias("n_kept"),
        "text_dedup",
    )


def _q_corpus_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-prep flagship: PII scrub (planted email+SSN) → C4-style
    global span dedup on the redacted text → exact dedup of the rebuilt
    texts → per-(lang, source) corpus report. Every stage is an
    individually-oracled operator; the oracle chains their SQL blocks
    end-to-end, so this checks the COMPOSITION (column contracts, text
    flow, dedup-after-redaction semantics), not just the pieces."""
    from fastselect_spark.dedup import dedup_exact, remove_duplicate_spans
    from fastselect_spark.text import redact_pii

    _register(spark, sf_dir, "documents")
    docs = spark.table("documents")
    did = F.col("doc_id")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                did % 3 == 0,
                F.concat(
                    F.lit(" contact user"), did.cast("string"),
                    F.lit("@ex"), (did % 7).cast("string"), F.lit(".com"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                did % 5 == 0,
                F.concat(
                    F.lit(" ssn 123-45-"),
                    F.lpad((did % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    red = redact_pii(planted).select(
        "doc_id", F.col("text_redacted").alias("text"), "n_pii"
    )
    sd = remove_duplicate_spans(red, span_tokens=8)
    surv = dedup_exact(sd, text_col="text_dedup", id_col="doc_id")
    joined = surv.join(red.select("doc_id", "n_pii"), "doc_id").join(
        docs.select("doc_id", "lang", "source"), "doc_id"
    )
    return joined.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs_out"),
        F.sum("n_pii").cast("long").alias("pii_total"),
        F.sum("n_spans").cast("long").alias("spans_total"),
        F.sum("n_kept").cast("long").alias("spans_kept"),
    )


def _q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clustering: connected components over the n-gram-Jaccard
    near-dup pair graph (min-label propagation, all Catalyst ops), plus the
    canonical min-id representative per cluster."""
    from fastselect_spark.dedup import connected_components, ngram_jaccard_pairs

    _register(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(spark.table("documents"), shingle_k=3, threshold=0.12)
    return connected_components(pairs)


def _q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastselect_spark.similarity import cosine_topk

    _register(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings")
    queries_df = emb.where(F.col("vec_id") < 5)
    return cosine_topk(emb, queries_df, k=5)


_PCORR_COLS = ["n_chars", "n_toks", "n_echars"]


def _q_partial_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial correlation matrix (selection/correlation.py
    partial_correlation_matrix): one sufficient-stats pass + driver
    inverse; integer features keep the closure exact, so the distributed
    stats match the oracle's independent single-process replica
    bit-for-bit."""
    from fastselect_spark.selection.correlation import (
        correlation_table,
        partial_correlation_matrix,
    )

    _register(spark, sf_dir, "documents")
    docs = spark.table("documents").select(
        F.length("text").cast("double").alias("n_chars"),
        F.size(F.split("text", r"\s+")).cast("double").alias("n_toks"),
        (F.length("text") - F.length(F.regexp_replace("text", "e", "")))
        .cast("double")
        .alias("n_echars"),
    )
    pc = partial_correlation_matrix(docs, _PCORR_COLS)
    tbl = correlation_table(spark, pc, _PCORR_COLS, round_to=None)
    return tbl.select(
        "feature_a", "feature_b", F.round("corr", 6).alias("partial_r")
    )


def _partial_corr_oracle_sql() -> str | None:
    """Independent replica for ``partial_correlations``: DuckDB feature
    extraction + NumPy exact-integer sums + the SAME _corr_from_stats /
    inverse closure — bit-identical to the distributed fit by
    construction; the oracle emits the replica's values (the
    NumPy-replica-literal family of kmeans/PCA/Mahalanobis)."""
    import os

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    try:
        import duckdb as _duck
        import numpy as _np

        from fastselect_spark.selection.correlation import _corr_from_stats

        con = _duck.connect()
        M = con.sql(
            rf"""
            SELECT CAST(LENGTH(text) AS DOUBLE) AS n_chars,
                   CAST(LEN(STRING_SPLIT_REGEX(text, '\s+')) AS DOUBLE) AS n_toks,
                   CAST(LENGTH(text) - LENGTH(REPLACE(text, 'e', ''))
                        AS DOUBLE) AS n_echars
            FROM read_parquet('{sf_dir}/documents.parquet')
            """
        ).df()[_PCORR_COLS].to_numpy()
        con.close()
        corr = _corr_from_stats(float(len(M)), M.sum(axis=0), M.T @ M)
        prec = _np.linalg.inv(corr)
        d = _np.sqrt(_np.diag(prec))
        pc = -prec / _np.outer(d, d)
    except Exception:
        return None
    rows = ",\n        ".join(
        f"('{_PCORR_COLS[i]}', '{_PCORR_COLS[j]}', ROUND({float(pc[i, j])!r}, 6))"
        for i in range(len(_PCORR_COLS))
        for j in range(i + 1, len(_PCORR_COLS))
    )
    return f"""
    SELECT * FROM (VALUES
        {rows}
    ) AS t(feature_a, feature_b, partial_r)
    """


def _q_truncate_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window truncation (corpus/packing.py
    truncate_to_token_budget): keep each conversation's most-recent
    suffix that fits 120 whitespace tokens — one running-sum window on
    the shared conv exchange, strict per-turn fit."""
    from fastselect_spark.corpus import truncate_to_token_budget

    tr = _transcripts(spark, sf_dir)
    out = truncate_to_token_budget(tr, budget_tokens=120)
    return out.select("conv_id", "turn_idx", "role")


def _q_truncate_budget_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window truncation driven by a PRECOMPUTED token-cost column
    (corpus/packing.py truncate_to_token_budget cost_col): the synthetic
    deterministic cost (turn_idx % 29) + 1 stands in for a real BPE
    tokenizer's per-turn counts — the whitespace proxy is bypassed."""
    from fastselect_spark.corpus import truncate_to_token_budget

    tr = _transcripts(spark, sf_dir).withColumn(
        "bpe_cost", (F.col("turn_idx") % 29 + 1).cast("long")
    )
    out = truncate_to_token_budget(tr, budget_tokens=40, cost_col="bpe_cost")
    return out.select("conv_id", "turn_idx", "role")


def _q_token_budget_sample_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget sample by a PRECOMPUTED cost column
    (corpus/sampling.py sample_token_budget cost_col): deterministic
    synthetic cost (doc_id % 97) + 1 instead of whitespace counts."""
    from fastselect_spark.corpus import sample_token_budget

    _register(spark, sf_dir, "documents")
    docs = spark.table("documents").withColumn(
        "bpe_cost", (F.col("doc_id") % 97 + 1).cast("long")
    )
    out = sample_token_budget(docs, budget_tokens=300, cost_col="bpe_cost")
    return out.select("doc_id", "source")


def _q_pack_sequences_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing manifest by a PRECOMPUTED cost column (corpus/packing.py
    pack_sequences cost_col): chunk/offset arithmetic over the synthetic
    per-doc cost (doc_id % 97) + 1."""
    from fastselect_spark.corpus import pack_sequences

    _register(spark, sf_dir, "documents")
    docs = spark.table("documents").withColumn(
        "bpe_cost", (F.col("doc_id") % 97 + 1).cast("long")
    )
    return pack_sequences(
        docs, max_tokens=128, n_shards=4, seed=0, cost_col="bpe_cost"
    )


def _q_uniform_discretize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-width discretizer (selection/univariate.py
    uniform_discretize): one min/max agg + the shared clipped-floor bin
    rule as a literal projection."""
    from fastselect_spark.selection import uniform_discretize

    _register(spark, sf_dir, "documents")
    docs = spark.table("documents").select(
        "doc_id",
        F.length("text").cast("double").alias("n_chars"),
        F.size(F.split("text", r"\s+")).cast("double").alias("n_toks"),
    )
    out, _ = uniform_discretize(docs, ["n_chars", "n_toks"], bins=8)
    return out.select("doc_id", "n_chars_u", "n_toks_u")


def _q_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dups (dedup/ngram.py
    ngram_containment_pairs) on a planted quote corpus: 120-char
    prefixes of the first 100 docs re-enter under shifted ids — tiny
    Jaccard, containment ≈ 1 (what symmetric dedup misses)."""
    from fastselect_spark.dedup import ngram_containment_pairs

    _register(spark, sf_dir, "documents")
    base = spark.table("documents").select("doc_id", "text").where(
        F.col("doc_id") < 100
    )
    trunc = base.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.substring("text", 1, 120).alias("text"),
    )
    return ngram_containment_pairs(
        base.unionByName(trunc), threshold=0.8, max_doc_freq=None
    )


def _q_sft_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT (prompt, response) extraction (corpus/pairs.py sft_pairs):
    adjacent user→assistant turns on the shared conv_id exchange."""
    from fastselect_spark.corpus import sft_pairs

    return sft_pairs(_transcripts(spark, sf_dir))


def _q_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-budget sample (corpus/sampling.py
    sample_token_budget): hash-ordered prefix per source until 500
    tokens, selected via the range-bucket histogram threshold — equal by
    construction to the plain per-source window prefix the oracle
    spells."""
    from fastselect_spark.corpus import sample_token_budget

    _register(spark, sf_dir, "documents")
    out = sample_token_budget(spark.table("documents"), budget_tokens=500)
    return out.select("doc_id", "source")


def _q_conversation_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive conversation fingerprints (dedup/exact.py): md5 of
    the turn fingerprints concatenated in turn order via array_sort —
    partitioning-independent; the conversation-level exact-dedup key."""
    from fastselect_spark.dedup import conversation_fingerprints

    tr = _transcripts(spark, sf_dir)
    return conversation_fingerprints(tr)


def _q_session_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(conversation, session) summary table (featurize/convagg.py
    session_features): one groupBy on the shared conv-keyed featurize
    frame; whole-second epochs + exact-integer counts."""
    from fastselect_spark.featurize import session_features

    feat = featurize_transcripts(_transcripts(spark, sf_dir))
    return session_features(feat)


def _q_dedup_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-conversation turn dedup (dedup/exact.py
    dedup_turns_within_conversation): first occurrence per (conv,
    fingerprint) survives — transcript boilerplate removal on the shared
    conv-keyed exchange."""
    from fastselect_spark.dedup import dedup_turns_within_conversation

    tr = _transcripts(spark, sf_dir)
    out = dedup_turns_within_conversation(tr)
    return out.select("conv_id", "turn_idx", "role", "tool")


def _q_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle novelty vs a reference corpus (corpus/decontaminate.py
    novelty_scores): fraction of each doc's distinct 3-grams absent from
    the doc_id%37==0 reference slice — broadcast reference set, emitted
    for no-hit docs too."""
    from fastselect_spark.corpus import novelty_scores

    _register(spark, sf_dir, "documents")
    docs = spark.table("documents")
    ref = docs.where(F.col("doc_id") % 37 == 0)
    cur = docs.where(F.col("doc_id") % 37 != 0)
    out = novelty_scores(cur, ref)
    return out.select(
        "doc_id", "n_shingles", "n_seen", F.round("novelty", 6).alias("novelty")
    )


def _q_binned_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-feature MI via equal-frequency binning
    (selection/univariate.py quantile_discretize → selection/mi.py
    mi_pair): one percentile agg fits the edges (literal-projection
    transform), then the standard discrete-MI contingency — the on-ramp
    that lets every discrete scorer consume continuous features."""
    from fastselect_spark.selection import quantile_discretize
    from fastselect_spark.selection.mi import mi_pair

    _register(spark, sf_dir, "documents")
    docs = spark.table("documents").select(
        F.length("text").cast("double").alias("n_chars"),
        F.size(F.split("text", r"\s+")).cast("double").alias("n_toks"),
        (F.col("doc_id") % 3 == 0).cast("int").alias("y"),
    )
    binned, _ = quantile_discretize(docs, ["n_chars", "n_toks"], bins=4)
    rows = [
        (f"{c}_q", mi_pair(binned, f"{c}_q", "y", unit="bit"))
        for c in ["n_chars", "n_toks"]
    ]
    return spark.createDataFrame(
        rows, schema="feature string, mi_bits double"
    ).select("feature", F.round("mi_bits", 6).alias("mi_bits"))


def _q_embedding_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-table health gate (similarity/mmr.py embedding_health):
    per-vector L2 norm (rounded engine-side — the sequential-fold vs
    unordered-SUM ulp boundary), zero/NaN flags, MAD-outlier norms."""
    from fastselect_spark.similarity import embedding_health

    _register(spark, sf_dir, "embeddings")
    out = embedding_health(spark.table("embeddings"))
    return out.select(
        "vec_id", "dim", "l2_norm", "is_zero", "has_nan", "norm_out"
    )


def _q_categorical_associations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V + Theil's U between categorical columns
    (selection/categorical.py): ONE groupBy-all-columns cube + driver
    marginalization (the shared-cube discipline) — never one job per
    pair."""
    from fastselect_spark.selection import categorical_associations

    _register(spark, sf_dir, "documents")
    docs = spark.table("documents").select(
        "lang",
        "source",
        F.floor(F.length("text") / 400).cast("int").alias("lb"),
    )
    out = categorical_associations(docs, ["lang", "source", "lb"])
    return out.select(
        "col_a",
        "col_b",
        F.round("cramers_v", 6).alias("cramers_v"),
        F.round("theils_u", 6).alias("theils_u"),
    )


_KENDALL_COLS = _MI_FEATURES + ["y"]


def _q_kendall_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b matrix over the ordinal lineitem codes
    (selection/correlation.py kendall_tau_matrix): ONE
    groupBy-all-code-columns cube + exact-integer driver concordance
    marginalization — the shared-cube discipline; the single float op
    (final quotient) is mirrored term-for-term by the oracle, rounding
    ENGINE-side (Spark round == DuckDB ROUND, both half-away)."""
    from fastselect_spark.selection import kendall_tau_matrix

    _register(spark, sf_dir, "lineitem")
    m = spark.sql(_LINEITEM_CODES_SQL)
    out = kendall_tau_matrix(m, _KENDALL_COLS)
    return out.select(
        "feature_a", "feature_b", F.round("tau_b", 6).alias("tau_b")
    )


def _kendall_oracle_sql() -> str:
    """Mirror of _q_kendall_correlations: per pair, the contingency from
    the code cube, concordant/discordant cell-pair sums (exact integers),
    C(r,2)/C(c,2) tie terms via `//` integer division, and the SAME final
    quotient `CAST(p−q AS DOUBLE) / SQRT(CAST(da AS DOUBLE) * CAST(db AS
    DOUBLE))` the driver computes — bit-identical before ROUND(.,6)."""
    cols = _KENDALL_COLS
    blocks = ["codes AS (" + _LINEITEM_CODES_SQL + ")"]
    selects = []
    i = 0
    for ai in range(len(cols)):
        for bi in range(ai + 1, len(cols)):
            a, b = cols[ai], cols[bi]
            blocks.append(
                f"""c_{i} AS (
            SELECT {a} AS x, {b} AS y, CAST(COUNT(*) AS BIGINT) AS n
            FROM codes GROUP BY 1, 2
        )"""
            )
            blocks.append(
                f"""m_{i} AS (
            SELECT
              SUM(CASE WHEN c2.x > c1.x AND c2.y > c1.y
                       THEN c1.n * c2.n ELSE 0 END) AS p,
              SUM(CASE WHEN c2.x > c1.x AND c2.y < c1.y
                       THEN c1.n * c2.n ELSE 0 END) AS q
            FROM c_{i} c1, c_{i} c2
        )"""
            )
            blocks.append(
                f"""t_{i} AS (
            SELECT
              (SELECT SUM(n) FROM c_{i}) AS nn,
              (SELECT SUM((rn * (rn - 1)) // 2)
                 FROM (SELECT SUM(n) AS rn FROM c_{i} GROUP BY x)) AS n1,
              (SELECT SUM((cn * (cn - 1)) // 2)
                 FROM (SELECT SUM(n) AS cn FROM c_{i} GROUP BY y)) AS n2
        )"""
            )
            selects.append(
                f"""SELECT '{a}' AS feature_a, '{b}' AS feature_b,
               ROUND(CAST(p - q AS DOUBLE)
                     / SQRT(CAST((nn * (nn - 1)) // 2 - n1 AS DOUBLE)
                            * CAST((nn * (nn - 1)) // 2 - n2 AS DOUBLE)),
                     6) AS tau_b
        FROM m_{i}, t_{i}"""
            )
            i += 1
    return (
        "WITH " + ",\n        ".join(blocks) + "\n        "
        + "\n        UNION ALL\n        ".join(selects)
    )


def _q_f_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-target univariate F (selection/univariate.py
    f_regression_scores): ONE sufficient-stats agg; integer-valued
    features keep the Pearson closure exact, so r and F hash-match the
    term-for-term SQL mirror."""
    from fastselect_spark.selection import f_regression_scores

    _register(spark, sf_dir, "documents")
    docs = spark.table("documents").select(
        F.length("text").cast("double").alias("n_chars"),
        F.size(F.split("text", r"\s+")).cast("double").alias("n_toks"),
        (F.length("text") - F.length(F.regexp_replace("text", "e", "")))
        .cast("double")
        .alias("n_echars"),
        (F.col("doc_id") % 97).cast("double").alias("target"),
    )
    out = f_regression_scores(docs, ["n_chars", "n_toks", "n_echars"], "target")
    return out.select(
        "feature", F.round("r", 9).alias("r"), F.round("f", 9).alias("f")
    )


def _q_kfold_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-fold leave-fold-out target encoding (featurize/encoding.py
    kfold_target_encode over splits.group_kfold folds): one (key, fold)
    agg bounded by cardinality × K, leave-one-out by window subtraction,
    broadcast join back — the row table is never shuffled."""
    from fastselect_spark.featurize import group_kfold, kfold_target_encode

    tr = group_kfold(
        _transcripts(spark, sf_dir), "conv_id", n_folds=5, seed=11
    ).withColumn("label", F.col("tool").isNotNull().cast("int"))
    out = kfold_target_encode(tr, ["role"], "label", "fold")
    return out.select(
        "conv_id",
        "turn_idx",
        "fold",
        F.round("te_cv", 9).alias("te_cv"),
    )


def _q_auc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Univariate ROC-AUC screening via Mann-Whitney U on distributed
    average ranks (selection/rank.py auc_scores): melt + range-partition
    two-pass ranking + one per-feature agg; AUC is an exact-rational
    quotient of (half-)integer rank sums."""
    from fastselect_spark.selection import auc_scores

    _register(spark, sf_dir, "documents")
    docs = spark.table("documents").select(
        F.col("doc_id").cast("string").alias("id"),
        F.length("text").cast("double").alias("n_chars"),
        F.size(F.split("text", r"\s+")).cast("double").alias("n_toks"),
        (F.col("doc_id") % 3 == 0).cast("int").alias("label"),
    )
    out = auc_scores(docs, ["n_chars", "n_toks"], "label", ["id"],
                     num_partitions=8)
    return out.select(
        "feature", "n_pos", "n_neg", F.round("auc", 9).alias("auc")
    )


def _q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified retrieval (similarity/mmr.py): exact top-8 pool →
    pool-pair cosine job (engine-rounded sims) → driver greedy (λ=0.7,
    k=3). The oracle unrolls the greedy in MATERIALIZED CTE steps with
    the identical λ / (1−λ) double literals."""
    from fastselect_spark.similarity import mmr_rerank

    _register(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings")
    queries_df = emb.where(F.col("vec_id") < 5)
    return mmr_rerank(emb, queries_df, k=3, pool=8, lam=0.7)


def _q_minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH with the md5 hash family: every stage (shingle hash,
    min-reduction, band hash, bucket join, Jaccard verify) is transliterated
    into the DuckDB oracle, so the gate hash-checks the FULL pipeline. The
    xxhash64 family (same code path, faster leaf hash) is the scale
    default, covered by the recall tests."""
    from fastselect_spark.dedup import minhash_near_duplicates

    _register(spark, sf_dir, "documents")
    return minhash_near_duplicates(
        spark.table("documents"),
        threshold=0.5,
        num_hashes=64,
        bands=16,
        hash_family="md5",
    )


def _q_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit md5-based SimHash: token hash, per-bit votes, signature,
    4x15-bit banding and Hamming verify all recomputed independently by
    the DuckDB oracle."""
    from fastselect_spark.dedup import simhash_near_duplicates

    _register(spark, sf_dir, "documents")
    return simhash_near_duplicates(spark.table("documents"), max_hamming=8)


def _q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastselect_spark.text import add_language_id

    _register(spark, sf_dir, "documents")
    return add_language_id(spark.table("documents")).select("doc_id", "lang_pred")


def _q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact (brute-force) embedding-cosine near-duplicate pairs — the
    oracle-checkable baseline for the LSH scale path."""
    from fastselect_spark.dedup import embedding_near_duplicates

    _register(spark, sf_dir, "embeddings")
    return embedding_near_duplicates(
        spark.table("embeddings"), threshold=0.42, brute_force=True
    )


def _q_embedding_near_dups_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed variant: 12 independent 6-bit hyperplane tables,
    one-bit multiprobed, candidates unioned (OR-amplification) then
    exact-verified. Seed-deterministic AND measured recall 1.0 at this
    operating point, so the EXACT brute-force SQL is its hard oracle —
    a hash mismatch here means the LSH recall regressed."""
    from fastselect_spark.dedup import embedding_near_duplicates

    _register(spark, sf_dir, "embeddings")
    return embedding_near_duplicates(
        spark.table("embeddings"), threshold=0.42, n_planes=6, n_tables=12
    )


def _q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table multiprobe LSH ANN top-k (12 x 6-bit tables). Seed-
    deterministic with measured recall 1.0 at this operating point, so the
    exact brute-force top-k SQL is its hard oracle — a hash mismatch means
    the LSH recall regressed."""
    from fastselect_spark.similarity import cosine_topk_lsh

    _register(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings")
    return cosine_topk_lsh(emb, emb.where(F.col("vec_id") < 5), k=5)


def _q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-k: spherical-k-means cells + nprobe probing, exact
    rerank within probed cells. Training is deterministic (lowest-id
    seeds, exact-mean Lloyd), so the oracle injects the independently
    NumPy-trained centroids as SQL literals and recomputes assignment,
    probing and the exact rerank end-to-end (_ivf_topk_oracle_sql);
    recall is additionally hash-checked by ann_ivf_recall."""
    from fastselect_spark.similarity import cosine_topk_ivf

    _register(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings")
    return cosine_topk_ivf(
        emb, emb.where(F.col("vec_id") < 5), k=5, n_cells=8, nprobe=3
    )


def _q_ann_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 scalar-quantized ANN top-k (similarity/quantize.py): global
    symmetric absmax grid (one map-side-combined agg), d-byte binary
    codes, exact-integer int8 dot-product scores with map-side-combine
    local top-k. Scores are exact integers and the grid is recomputed by
    the oracle from the same table, so the oracle is PURE SQL with no
    trained-state literals (_SQ8_TOPK_ORACLE)."""
    from fastselect_spark.similarity import sq8_topk

    _register(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings")
    return sq8_topk(emb, emb.where(F.col("vec_id") < 5), k=10)


def _q_ann_ivf_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF × SQ8 ANN (similarity/quantize.py sq8_topk_ivf): cell-annotated
    d-byte codes table (partition-prunable probe filter), driver-side
    probing, exact-integer int8 rerank within probed cells only — the
    FAISS IVF,SQ8 serving shape. Oracle: centroid literals from the
    independent NumPy replica + the pure-SQL symmetric grid + integer
    rerank (_ivf_sq8_topk_oracle_sql)."""
    from fastselect_spark.similarity import sq8_topk_ivf

    _register(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings")
    return sq8_topk_ivf(
        emb, emb.where(F.col("vec_id") < 5), k=5, n_cells=8, nprobe=3
    )


def _q_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP dedup pipeline, end-to-end: exact dedup (hash-groupBy on
    the normalized-text fingerprint, min-id survivor) -> MinHash LSH
    near-dup pairs among survivors (md5 family, banded, Jaccard-verified)
    -> connected components over the pair graph (min-label propagation)
    -> keep only each cluster's canonical min-id member. Every stage is a
    shuffle-bounded Catalyst plan (hash agg, bucket join, iterative
    join+agg); the oracle recomputes the whole chain in SQL (recursive
    reachability for the clustering)."""
    from fastselect_spark.dedup import (
        connected_components,
        dedup_exact,
        minhash_near_duplicates,
    )

    _register(spark, sf_dir, "documents")
    survivors = dedup_exact(spark.table("documents")).persist()
    pairs = minhash_near_duplicates(
        survivors, threshold=0.5, num_hashes=64, bands=16, hash_family="md5"
    )
    comp = connected_components(pairs)
    dropped = comp.where(F.col("doc_id") != F.col("comp")).select("doc_id")
    kept = survivors.join(dropped, "doc_id", "left_anti").select(
        "doc_id", "source"
    )
    kept = kept.localCheckpoint()  # materialize before releasing the cache
    survivors.unpersist()
    return kept


def _q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/Gopher-style keep-rule chain (language allowlist + quality floor
    + stopword-ratio floor + token bounds) as ONE scan-fused JVM predicate.
    Emits the scoring columns so the oracle verifies both the decisions
    AND the scores."""
    from fastselect_spark.corpus import quality_filter

    _register(spark, sf_dir, "documents")
    kept = quality_filter(
        spark.table("documents"),
        langs=("en",),
        min_quality=0.7,
        min_stopword_ratio=0.05,
        min_tokens=10,
    )
    return kept.select(
        "doc_id",
        "lang_pred",
        F.round("quality_score", 6).alias("quality_score"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
        F.col("n_ws_tokens").cast("int").alias("n_ws_tokens"),
    )


def _q_pca_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA over the embeddings: one tree-reduced
    sufficient-statistics pass (count, sum, X^T X), driver
    eigendecomposition with a deterministic sign convention, broadcast
    Arrow projection (similarity/pca.py). The oracle projects with the
    independent NumPy replica's literal mean/components — the IVF
    centroid-literal pattern."""
    from fastselect_spark.similarity import pca_project, train_pca

    _register(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings")
    mean, comps, _ = train_pca(emb, n_components=4)
    proj = pca_project(emb, mean, comps)
    return proj.select(
        "vec_id", F.posexplode("pca").alias("component", "value")
    ).select(
        "vec_id",
        F.col("component").cast("int").alias("component"),
        F.round("value", 6).alias("value"),
    )


def _q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus topic/domain clustering over the embedding column
    (similarity/ivf.py kmeans_clusters): deterministic distributed
    spherical k-means (lowest-id seeds, exact-mean Lloyd) + ONE broadcast
    mapInPandas assignment scan — no corpus shuffle, output carries no
    array. The oracle injects the independently NumPy-trained centroids
    as literals and recomputes argmax-cosine assignment in SQL (the IVF
    centroid-literal pattern)."""
    from fastselect_spark.similarity import kmeans_clusters

    _register(spark, sf_dir, "embeddings")
    clustered = kmeans_clusters(spark.table("embeddings"), n_clusters=8)
    return clustered.select(
        "vec_id", "cluster_id", F.round("sim", 6).alias("sim")
    )


def _q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (dedup/semdedup.py): k-means-partition
    the embedding space (one broadcast assignment scan), then prune
    within-cluster near-dups (cosine >= 0.42, lowest-id wins) in one
    Arrow pass per cluster. The oracle injects the NumPy-replica centroid
    literals and recomputes assignment + within-cluster pairs + the
    NOT EXISTS keep rule in SQL."""
    from fastselect_spark.dedup import semantic_dedup

    _register(spark, sf_dir, "embeddings")
    return semantic_dedup(
        spark.table("embeddings"), threshold=0.42, n_clusters=8
    )


def _q_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic-balanced corpus sampling: k-means-cluster the embedding space
    (similarity/ivf.py kmeans_clusters, one broadcast assignment scan),
    then keep the 20 most-prototypical rows per cluster (highest cosine to
    the centroid, vec_id tie-break) via the same one-exchange+Window quota
    operator the per-source caps use (corpus/sampling.py cap_per_source).
    The oracle recomputes assignment + sim from centroid literals and
    ranks in SQL."""
    from fastselect_spark.corpus import cap_per_source
    from fastselect_spark.similarity import kmeans_clusters

    _register(spark, sf_dir, "embeddings")
    clustered = kmeans_clusters(spark.table("embeddings"), n_clusters=8)
    capped = cap_per_source(
        clustered,
        quota=20,
        source_col="cluster_id",
        order_by=[F.col("sim").desc()],
        key_col="vec_id",
    )
    return capped.select(
        "vec_id",
        "cluster_id",
        F.col("source_rank").alias("cluster_rank"),
        F.round("sim", 6).alias("sim"),
    )


def _q_dsir_logweights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (corpus/dsir.py): hashed-bigram bucket
    distributions for a planted target subset (doc_id % 23 == 0) vs the
    raw pool, then the per-doc log-likelihood-ratio score — two
    tree-reduced distribution scans + one broadcast scoring scan, zero
    shuffles. The portable md5 bucket hash lets the oracle recompute
    distributions AND scores end-to-end in SQL."""
    from fastselect_spark.corpus import dsir_logweights

    _register(spark, sf_dir, "documents")
    docs = spark.table("documents")
    target = docs.where(F.col("doc_id") % 23 == 0)
    raw = docs.where(F.col("doc_id") % 23 != 0)
    w = dsir_logweights(raw, target, n_buckets=10_000, shingle_k=2)
    return w.select("doc_id", F.round("logw", 6).alias("logw"))


def _q_perplexity_tertiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity filter (corpus/lm.py): hashed-unigram LM fit
    on the lang='en' reference slice (one tree-reduced scan), every doc
    scored in one broadcast scan, head/middle/tail tertiles per language
    ranked on the 6-decimal-rounded perplexity. The portable md5 bucket
    family lets the oracle recompute the LM AND the scores end-to-end in
    SQL."""
    from fastselect_spark.corpus import perplexity_tertiles

    _register(spark, sf_dir, "documents")
    docs = spark.table("documents")
    return perplexity_tertiles(
        docs, docs.where(F.col("lang") == "en"), n_buckets=10_000
    ).select("doc_id", "lang", "n_tokens", "ppl", "tier")


def _q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style quality classifier (corpus/classifier.py): logistic
    regression over hashed-bigram features, trained distributively (one
    tree-reduced gradient pass per iteration) on the planted target label
    doc_id % 23 == 0, then scored in one broadcast scan. The oracle
    retrains with the independent NumPy replica and scores from weight
    LITERALS in SQL (centroid-literal pattern; weight divergence ~1e-13
    << the 1e-6 rounding)."""
    from fastselect_spark.corpus import quality_scores, train_quality_classifier

    _register(spark, sf_dir, "documents")
    docs = spark.table("documents").withColumn(
        "label", (F.col("doc_id") % 23 == 0).cast("double")
    )
    w = train_quality_classifier(docs, n_buckets=4096, iterations=30, lr=1.0)
    scored = quality_scores(spark.table("documents"), w)
    return scored.select("doc_id", F.round("clf_score", 6).alias("clf_score"))


def _q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding (similarity/pq.py): deterministic
    per-subspace Lloyd codebooks (m=8, k=32), one broadcast row-local
    encode scan -> (vec_id, subspace, code). The oracle recomputes
    nearest-codeword assignment from codebook literals via the
    scale-invariant argmin(|c|^2*|x| - 2 x·c) form."""
    from fastselect_spark.similarity import pq_encode, train_pq_codebooks

    _register(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings")
    C = train_pq_codebooks(emb, m=8, k=32)
    codes = pq_encode(emb, C)
    return codes.select(
        "vec_id", F.posexplode("codes").alias("subspace", "code")
    ).select(
        "vec_id",
        F.col("subspace").cast("int").alias("subspace"),
        "code",
    )


def _q_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ADC top-k: approximate cosine from the codes table alone
    (m lookup-table reads per corpus vector — the compressed-domain scan
    that makes 100 TB ANN affordable). Oracle = codebook literals ->
    SQL encoding -> LUT dots -> windowed rank."""
    from fastselect_spark.similarity import pq_topk, train_pq_codebooks

    _register(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings")
    C = train_pq_codebooks(emb, m=8, k=32)
    topk = pq_topk(emb, emb.where(F.col("vec_id") < 5), C, k=5)
    return topk.select(
        "query_id", "neighbor_id", F.round("adc", 6).alias("adc"), "rank"
    )


def _q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-chunk sequence-packing manifest: docs hash
    into independent shards, each shard packs its docs (ascending id)
    into 256-token chunks via one per-shard window cumsum — exact integer
    arithmetic over a deterministic order (corpus/packing.py)."""
    from fastselect_spark.corpus import pack_sequences

    _register(spark, sf_dir, "documents")
    return pack_sequences(
        spark.table("documents"), max_tokens=256, n_shards=4, seed=0
    )


def _q_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc keyword extraction: top-3 tf-idf terms (smoothed sklearn
    idf, deterministic (score desc, term asc) tie-break) — two keyed
    aggregations + one term join + one per-doc window (text/tfidf.py)."""
    from fastselect_spark.text import top_tfidf_terms

    _register(spark, sf_dir, "documents")
    return top_tfidf_terms(spark.table("documents"), k=3)


def _q_hashed_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed feature hashing (text/hashing.py hashed_term_vectors):
    HashingVectorizer semantics — bucket = portable-md5(term) mod 64,
    sign from an independent md5 bit, one scan + one map-side-combining
    aggregation, NO vocabulary pass. Signed sums are exact integers."""
    from fastselect_spark.text import hashed_term_vectors

    _register(spark, sf_dir, "documents")
    return hashed_term_vectors(
        spark.table("documents"), n_features=64, seed=0, alternate_sign=True
    )


_HASHED_VECTORS_ORACLE = """
WITH norm AS (
    SELECT doc_id,
           LOWER(REGEXP_REPLACE(TRIM(text), '\\s+', ' ', 'g')) AS nrm
    FROM documents
),
tk AS (SELECT doc_id, UNNEST(STRING_SPLIT(nrm, ' ')) AS term FROM norm),
tk2 AS (SELECT doc_id, term FROM tk WHERE term <> ''),
h AS (
    SELECT doc_id,
           CAST(CAST('0x' || substr(md5('fh0:' || term), 1, 15) AS BIGINT)
                % 64 AS INT) AS bucket,
           1 - 2 * CAST(CAST('0x' || substr(md5('fs0:' || term), 1, 15)
                             AS BIGINT) % 2 AS INT) AS sign
    FROM tk2
)
SELECT doc_id, bucket, CAST(SUM(sign) AS BIGINT) AS value
FROM h GROUP BY 1, 2
"""


def _q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary statistics: top-50 terms with Zipf rank and
    cumulative corpus coverage — one (term, doc_id) aggregation + one
    term roll-up (no countDistinct Expand), TakeOrdered top-k, k-row
    coverage window (text/vocab.py)."""
    from fastselect_spark.text import vocab_topk

    _register(spark, sf_dir, "documents")
    return vocab_topk(spark.table("documents"), k=50)


def _q_embedding_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end embedding dedup: exact near-dup pairs (cosine >= 0.42)
    -> connected components -> (component, keep_id, n_members) per
    cluster — the semantic-dedup analogue of the MinHash flagship chain;
    the oracle recomputes pairs exactly and clusters with a recursive
    CTE."""
    from fastselect_spark.dedup import duplicate_clusters, embedding_near_duplicates

    _register(spark, sf_dir, "embeddings")
    pairs = embedding_near_duplicates(
        spark.table("embeddings"), threshold=0.42, brute_force=True
    )
    return duplicate_clusters(pairs)


def _q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (dup-line/word fractions, top-{2,3}
    word-gram character fractions) — one Arrow kernel pass, no shuffle
    (text/repetition.py). Rounding happens ENGINE-side on both sides
    (F.round / SQL ROUND, both half-away for positives)."""
    from fastselect_spark.text import add_repetition_stats

    _register(spark, sf_dir, "documents")
    return add_repetition_stats(spark.table("documents")).select(
        "doc_id",
        F.col("n_lines").cast("int").alias("n_lines"),
        F.round("dup_line_frac", 6).alias("dup_line_frac"),
        F.round("dup_word_frac", 6).alias("dup_word_frac"),
        F.round("top2gram_char_frac", 6).alias("top2gram_char_frac"),
        F.round("top3gram_char_frac", 6).alias("top3gram_char_frac"),
    )


def _q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark DECONTAMINATION (GPT-3-style n-gram rule): planted
    benchmark = every 37th doc; corpus = the rest. The benchmark's
    distinct shingle set is broadcast, the corpus is ONE explode scan +
    broadcast hash semi-join + per-doc agg — no corpus×benchmark pair
    work. Returns per-doc overlap stats; the kept set is the anti-join
    (corpus/decontaminate.py)."""
    from fastselect_spark.corpus import contamination_hits

    _register(spark, sf_dir, "documents")
    docs = spark.table("documents")
    bench = docs.where(F.col("doc_id") % 37 == 0)
    corpus = docs.where(F.col("doc_id") % 37 != 0)
    return contamination_hits(corpus, bench, shingle_k=3)


def _q_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination screen (corpus/decontaminate.py
    bloom_contamination_hits): the planted benchmark is compressed to a
    4096-bit set (3 salted-md5 positions per shingle); a corpus shingle
    hits when ALL its positions are set — one-sided error, so the screen
    never misses true contamination and the fixed-size bit set replaces
    the full benchmark shingle broadcast at 100 TB. The small bit space
    deliberately yields some false positives at this SF so the contract
    exercises the bloom semantics, not just the exact overlap."""
    from fastselect_spark.corpus import bloom_contamination_hits

    _register(spark, sf_dir, "documents")
    docs = spark.table("documents")
    bench = docs.where(F.col("doc_id") % 37 == 0)
    corpus = docs.where(F.col("doc_id") % 37 != 0)
    return bloom_contamination_hits(
        corpus, bench, shingle_k=3, m_bits=16384, k_hashes=3
    )


_BLOOM_DECON_ORACLE = """
WITH norm AS (
    SELECT doc_id,
           STRING_SPLIT(LOWER(REGEXP_REPLACE(TRIM(text), '\\s+', ' ', 'g')), ' ') AS toks
    FROM documents
),
toks AS (
    SELECT doc_id, UNNEST(toks) AS tok, UNNEST(RANGE(1, LEN(toks) + 1)) AS pos
    FROM norm
),
sh AS (
    SELECT doc_id,
           tok || ' ' || LEAD(tok) OVER w || ' ' || LEAD(tok, 2) OVER w AS shingle
    FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
shd AS (SELECT DISTINCT doc_id, shingle FROM sh WHERE shingle IS NOT NULL),
bench AS (SELECT DISTINCT shingle FROM shd WHERE doc_id % 37 = 0),
bits AS (
    SELECT DISTINCT
           CAST('0x' || substr(md5(CAST(j AS STRING) || ':' || shingle), 1, 15)
                AS BIGINT) % 16384 AS bpos
    FROM bench, (SELECT UNNEST([0, 1, 2]) AS j) js
),
corp AS (SELECT doc_id, shingle FROM shd WHERE doc_id % 37 <> 0),
tot AS (SELECT doc_id, COUNT(*) AS n_sh FROM corp GROUP BY 1),
probe AS (
    SELECT doc_id, shingle,
           CAST('0x' || substr(md5(CAST(j AS STRING) || ':' || shingle), 1, 15)
                AS BIGINT) % 16384 AS bpos
    FROM corp, (SELECT UNNEST([0, 1, 2]) AS j) js
),
msh AS (
    SELECT doc_id, shingle
    FROM probe JOIN bits USING (bpos)
    GROUP BY doc_id, shingle HAVING COUNT(*) = 3
),
hit AS (SELECT doc_id, COUNT(*) AS n_hit FROM msh GROUP BY 1)
SELECT h.doc_id,
       CAST(t.n_sh AS BIGINT) AS n_shingles,
       CAST(h.n_hit AS BIGINT) AS n_hit_shingles,
       CAST(1 AS INT) AS flagged
FROM hit h JOIN tot t ON h.doc_id = t.doc_id
"""


def _q_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 split on the shared key hash — reproducible,
    repartition-stable, consistent across derived tables."""
    from fastselect_spark.corpus import train_val_test_split

    _register(spark, sf_dir, "documents")
    return train_val_test_split(spark.table("documents")).select(
        "doc_id", "split"
    )


_PROFILE_COLS = ["doc_id", "lang", "source", "n_chars"]


def _q_dataset_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order/partitioning-invariant content checksum of the transcripts
    table per role (corpus/profile.py dataset_checksum): the lineage
    primitive — per-turn text identity as ONE map-side-combined sum of
    portable 60-bit md5 row hashes in a decimal(38,0) accumulator; the
    nullable tool column exercises the chr(1) NULL sentinel."""
    from fastselect_spark.corpus.profile import dataset_checksum

    tr = _transcripts(spark, sf_dir)
    return dataset_checksum(
        tr, cols=["conv_id", "turn_idx", "text", "tool"], group_cols=["role"]
    )


def _dataset_checksum_oracle_sql() -> str:
    """Mirror of _q_dataset_checksum: same chr(31)-joined, chr(1)-NULL-
    sentinel canonical row string, same 60-bit md5 prefix, HUGEINT sum
    cast to STRING (exact at any row count)."""
    canon = (
        "CAST(conv_id AS STRING) || chr(31) || "
        "CAST(turn_idx AS STRING) || chr(31) || "
        "COALESCE(CAST(text AS STRING), chr(1) || 'NULL') || chr(31) || "
        "COALESCE(CAST(tool AS STRING), chr(1) || 'NULL')"
    )
    return f"""
        WITH transcripts AS ({TRANSCRIPTS_FROM_EVENTS_SQL}),
        h AS (
            SELECT role,
                   CAST('0x' || substr(md5({canon}), 1, 15) AS BIGINT) AS hv
            FROM transcripts
        )
        SELECT role,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(hv) AS STRING) AS checksum
        FROM h GROUP BY role
        """


def _q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language HyperLogLog distinct-text estimate next to the exact
    count (corpus/sketches.py hll_distinct): 2^8 registers of bounded
    state per group — the COUNT DISTINCT that survives 100 TB. All
    register math is exact-integer (dyadic DECIMAL(38,0) sums over the
    portable 60-bit md5 hash) with ONE mirrored float quotient; the
    estimate is rounded engine-side."""
    from fastselect_spark.corpus import hll_distinct

    _register(spark, sf_dir, "documents")
    docs = spark.table("documents")
    est = hll_distinct(docs, ["lang"], "text", p=8)
    exact = (
        docs.where(F.col("text").isNotNull())
        .groupBy("lang")
        .agg(F.countDistinct("text").alias("exact_distinct"))
    )
    return est.join(exact, "lang").select(
        "lang",
        "registers_hit",
        F.round("hll_estimate", 6).alias("hll_estimate"),
        F.col("exact_distinct").cast("long").alias("exact_distinct"),
    )


def _hll_oracle_sql() -> str:
    from fastselect_spark.corpus import hll_distinct_sql

    inner = hll_distinct_sql(
        "SELECT lang, text FROM documents", ["lang"], "text", p=8
    )
    return f"""
        WITH est AS ({inner}),
        ex AS (
            SELECT lang, CAST(COUNT(DISTINCT text) AS BIGINT) AS exact_distinct
            FROM documents WHERE text IS NOT NULL GROUP BY lang
        )
        SELECT e.lang, e.registers_hit,
               ROUND(e.hll_estimate, 6) AS hll_estimate, ex.exact_distinct
        FROM est e JOIN ex USING (lang)
        """


def _q_countmin_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min frequency estimates for the corpus's top-15 tokens next
    to their exact counts (corpus/sketches.py countmin_sketch/lookup):
    4x2048 integer counters summarize ANY token stream in fixed state;
    lookups broadcast the sketch so the probe side never shuffles. Pure
    integer end to end (estimates can only over-count)."""
    from fastselect_spark.corpus import countmin_lookup, countmin_sketch

    _register(spark, sf_dir, "documents")
    toks = (
        spark.table("documents")
        .select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .where(F.col("token") != "")
    )
    sk = countmin_sketch(toks, "token", depth=4, width=2048)
    exact = toks.groupBy("token").agg(F.count(F.lit(1)).alias("exact_cnt"))
    top = exact.orderBy(F.col("exact_cnt").desc(), F.col("token")).limit(15)
    est = countmin_lookup(sk, top.select("token"), "token", depth=4, width=2048)
    return top.join(est, "token").select("token", "exact_cnt", "cm_estimate")


_COUNTMIN_ORACLE = """
WITH toks AS (
    SELECT t.token FROM documents d,
         UNNEST(STRING_SPLIT(d.text, ' ')) AS t(token)
    WHERE t.token <> ''
),
cells AS (
    SELECT row_j AS row,
           CAST('0x' || substr(md5(CAST(row_j AS STRING) || ':' || token), 1, 15)
                AS BIGINT) % 2048 AS bucket,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM toks, (SELECT UNNEST([0, 1, 2, 3]) AS row_j) js
    GROUP BY 1, 2
),
exact AS (
    SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_cnt
    FROM toks GROUP BY token
),
top AS (
    SELECT token, exact_cnt FROM exact
    ORDER BY exact_cnt DESC, token LIMIT 15
),
probe AS (
    SELECT t.token, t.exact_cnt, js.row_j AS row,
           CAST('0x' || substr(md5(CAST(js.row_j AS STRING) || ':' || t.token), 1, 15)
                AS BIGINT) % 2048 AS bucket
    FROM top t, (SELECT UNNEST([0, 1, 2, 3]) AS row_j) js
)
SELECT p.token, p.exact_cnt,
       CAST(MIN(COALESCE(c.cnt, 0)) AS BIGINT) AS cm_estimate
FROM probe p LEFT JOIN cells c ON p.row = c.row AND p.bucket = c.bucket
GROUP BY p.token, p.exact_cnt
"""


def _q_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal-leakage screen (selection/leakage.py): per-feature
    MI(f_t, label_t) vs MI(f_t, label_{t+1}) from ONE melted contingency
    aggregation; a PLANTED look-ahead feature (a copy of the next turn's
    label) must flag while the honest role/token codes must not — the
    north rule's zero-leakage requirement as a runnable audit."""
    from pyspark.sql import Window

    from fastselect_spark.selection import leakage_audit_df

    tr = _transcripts(spark, sf_dir)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    base = tr.select(
        "conv_id",
        "turn_idx",
        F.col("tool").isNotNull().cast("int").alias("y"),
        F.expr(
            "CASE role WHEN 'user' THEN 0 WHEN 'assistant' THEN 1 ELSE 2 END"
        ).alias("f_role"),
        F.least(
            F.length("text") - F.length(F.regexp_replace("text", " ", "")) + 1,
            F.lit(30),
        ).cast("int").alias("f_ntok"),
    ).withColumn(
        "f_leaky", F.lead(F.col("y")).over(w)
    )
    out = leakage_audit_df(base, ["f_ntok", "f_leaky", "f_role"], "y")
    return out.select(
        "feature",
        F.round("mi_now_bits", 6).alias("mi_now_bits"),
        F.round("mi_future_bits", 6).alias("mi_future_bits"),
        (
            F.round("mi_future_bits", 6)
            > F.lit(1.2) * F.round("mi_now_bits", 6)
        ).cast("int").alias("flagged"),
    )


_LEAKAGE_ORACLE = f"""
WITH transcripts AS ({TRANSCRIPTS_FROM_EVENTS_SQL}),
b0 AS (
    SELECT conv_id, turn_idx,
           CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END AS y,
           CASE role WHEN 'user' THEN 0 WHEN 'assistant' THEN 1 ELSE 2 END
               AS f_role,
           LEAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1, 30)
               AS f_ntok
    FROM transcripts
),
b1 AS (
    SELECT *, LEAD(y) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS yf
    FROM b0
),
b2 AS (SELECT *, yf AS f_leaky FROM b1 WHERE yf IS NOT NULL),
long AS (
    SELECT 'f_leaky' AS feature, f_leaky AS v, y AS yn, yf FROM b2
    UNION ALL SELECT 'f_ntok', f_ntok, y, yf FROM b2
    UNION ALL SELECT 'f_role', f_role, y, yf FROM b2
),
jn AS (SELECT feature, v, yn, CAST(COUNT(*) AS DOUBLE) AS c FROM long GROUP BY 1, 2, 3),
tn AS (SELECT feature, SUM(c) AS n FROM jn GROUP BY 1),
pxn AS (SELECT feature, v, SUM(c) AS cx FROM jn GROUP BY 1, 2),
pyn AS (SELECT feature, yn, SUM(c) AS cy FROM jn GROUP BY 1, 2),
min_ AS (
    SELECT j.feature,
           SUM((c / n) * LOG2((c / n) / ((cx / n) * (cy / n) + 1e-12))) AS mi
    FROM jn j JOIN tn USING (feature) JOIN pxn USING (feature, v)
    JOIN pyn USING (feature, yn)
    GROUP BY j.feature
),
jf AS (SELECT feature, v, yf, CAST(COUNT(*) AS DOUBLE) AS c FROM long GROUP BY 1, 2, 3),
tf AS (SELECT feature, SUM(c) AS n FROM jf GROUP BY 1),
pxf AS (SELECT feature, v, SUM(c) AS cx FROM jf GROUP BY 1, 2),
pyf AS (SELECT feature, yf, SUM(c) AS cy FROM jf GROUP BY 1, 2),
mif AS (
    SELECT j.feature,
           SUM((c / n) * LOG2((c / n) / ((cx / n) * (cy / n) + 1e-12))) AS mi
    FROM jf j JOIN tf USING (feature) JOIN pxf USING (feature, v)
    JOIN pyf USING (feature, yf)
    GROUP BY j.feature
)
SELECT a.feature,
       ROUND(a.mi, 6) AS mi_now_bits,
       ROUND(b.mi, 6) AS mi_future_bits,
       CAST(ROUND(b.mi, 6) > 1.2 * ROUND(a.mi, 6) AS INT) AS flagged
FROM min_ a JOIN mif b USING (feature)
"""


def _q_conversation_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-integrity report (featurize/convagg.py
    conversation_integrity) over transcripts with PLANTED defects: every
    turn_idx=5 row is re-delivered 400s earlier — a duplicate index, an
    out-of-order timestamp, and a same-role repeat per conversation. One
    conv_id window pass + one agg; exact integers; the window orders by
    (turn_idx, ts) so the planted duplicates scan deterministically."""
    from fastselect_spark.featurize import conversation_integrity

    base = _transcripts(spark, sf_dir).select("conv_id", "turn_idx", "role", "ts")
    dup = base.where(F.col("turn_idx") == 5).select(
        "conv_id",
        "turn_idx",
        "role",
        F.expr("ts - INTERVAL 400 SECONDS").alias("ts"),
    )
    return conversation_integrity(base.unionByName(dup))


_INTEGRITY_ORACLE = f"""
WITH transcripts AS ({TRANSCRIPTS_FROM_EVENTS_SQL}),
u AS (
    SELECT conv_id, turn_idx, role, ts FROM transcripts
    UNION ALL
    SELECT conv_id, turn_idx, role, ts - INTERVAL 400 SECOND
    FROM transcripts WHERE turn_idx = 5
),
f AS (
    SELECT conv_id, turn_idx,
           CASE WHEN FLOOR(EPOCH(ts)) < FLOOR(EPOCH(LAG(ts) OVER w))
                THEN 1 ELSE 0 END AS tsv,
           CASE WHEN role = LAG(role) OVER w THEN 1 ELSE 0 END AS rr
    FROM u WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx, ts)
)
SELECT conv_id,
       CAST(COUNT(*) AS BIGINT) AS n_turns,
       CAST(COUNT(DISTINCT turn_idx) AS BIGINT) AS n_distinct_turn_idx,
       CAST(MAX(turn_idx) - MIN(turn_idx) + 1 - COUNT(DISTINCT turn_idx)
            AS BIGINT) AS idx_gaps,
       CAST(SUM(tsv) AS BIGINT) AS ts_violations,
       CAST(SUM(rr) AS BIGINT) AS role_repeats
FROM f GROUP BY conv_id
"""


def _q_theilsen_trends(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-conversation token trend (featurize/convagg.py
    theilsen_trends): median-of-pair-slopes + median residual intercept —
    the ~29%-breakdown companion of the OLS conversation_trends (a few
    pasted-log outlier turns drag OLS, not the median). conv_id-
    co-partitioned pair join (max_lag bounds it at corpus scale); both
    medians are the exact interpolated percentile == quantile_cont."""
    from fastselect_spark.featurize import theilsen_trends

    tr = _transcripts(spark, sf_dir).select(
        "conv_id",
        "turn_idx",
        (
            F.length("text")
            - F.length(F.regexp_replace("text", " ", ""))
            + F.lit(1)
        ).cast("double").alias("n_tokens"),
    )
    out = theilsen_trends(tr)
    return out.select(
        "conv_id",
        "n_pairs",
        F.round("ts_slope", 6).alias("ts_slope"),
        F.round("ts_intercept", 6).alias("ts_intercept"),
    )


def _theilsen_oracle_sql() -> str:
    return f"""
        WITH transcripts AS ({TRANSCRIPTS_FROM_EVENTS_SQL}),
        tr AS (
            SELECT conv_id, CAST(turn_idx AS DOUBLE) AS x,
                   CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1
                        AS DOUBLE) AS y
            FROM transcripts
        ),
        p AS (
            SELECT a.conv_id, (b.y - a.y) / (b.x - a.x) AS slope
            FROM tr a JOIN tr b
              ON a.conv_id = b.conv_id AND b.x > a.x
        ),
        s AS (
            SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
                   QUANTILE_CONT(slope, 0.5) AS m
            FROM p GROUP BY 1
        )
        SELECT t.conv_id, s.n_pairs, ROUND(s.m, 6) AS ts_slope,
               ROUND(QUANTILE_CONT(t.y - s.m * t.x, 0.5), 6) AS ts_intercept
        FROM tr t JOIN s USING (conv_id)
        GROUP BY t.conv_id, s.n_pairs, s.m
        """


def _q_pool_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-level embedding centroids (similarity/fusion.py
    pool_embeddings): posexplode -> ONE (group, dim) combine-side agg ->
    tiny per-group re-assembly — never a collect_list of whole vectors.
    Emitted long-form (group, dim, mean) for the value gate; float32
    elements are cast to double on both engines."""
    from fastselect_spark.similarity import pool_embeddings

    _register(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings").select(
        F.pmod(F.col("vec_id"), F.lit(40)).cast("long").alias("grp"),
        "embedding",
    )
    pooled = pool_embeddings(emb, ["grp"])
    return pooled.select(
        "grp", "n_vecs", F.posexplode("pooled").alias("dim", "v")
    ).select("grp", "n_vecs", "dim", F.round("v", 6).alias("v"))


_POOL_EMB_ORACLE = """
WITH ex AS (
    SELECT vec_id % 40 AS grp,
           UNNEST(RANGE(0, LEN(embedding))) AS dim,
           CAST(UNNEST(embedding) AS DOUBLE) AS v
    FROM embeddings
    WHERE embedding IS NOT NULL
),
per AS (
    SELECT grp, dim, AVG(v) AS m, CAST(COUNT(*) AS BIGINT) AS n
    FROM ex GROUP BY 1, 2
)
SELECT CAST(grp AS BIGINT) AS grp, n AS n_vecs, CAST(dim AS INT) AS dim,
       ROUND(m, 6) AS v
FROM per
"""


def _q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (similarity/fusion.py rrf_fuse): per-lang
    pools fuse a length ranking with a 'tok1' term-frequency ranking —
    scale-free rank merging for heterogeneous retrievers (BM25 + cosine
    at scale). Top-20 per ranking per pool; two lists, so the fused sum
    is an order-free two-term IEEE addition."""
    from pyspark.sql import Window

    from fastselect_spark.similarity import rrf_fuse

    _register(spark, sf_dir, "documents")
    docs = spark.table("documents")
    a = docs.select(
        "lang", "doc_id", F.length("text").cast("double").alias("score")
    )
    b = docs.select(
        "lang",
        "doc_id",
        F.expr("CAST(SIZE(FILTER(SPLIT(text, ' '), t -> t = 'tok1')) AS DOUBLE)")
        .alias("score"),
    )

    def top20(df):
        w = Window.partitionBy("lang").orderBy(
            F.col("score").desc(), F.col("doc_id")
        )
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= 20)
            .drop("__rn")
        )

    out = rrf_fuse([top20(a), top20(b)], query_col="lang", k=60)
    return out.select(
        "lang",
        "doc_id",
        "n_lists",
        F.round("rrf_score", 6).alias("rrf_score"),
    )


_RRF_ORACLE = """
WITH a AS (
    SELECT lang, doc_id, CAST(LENGTH(text) AS DOUBLE) AS score FROM documents
),
b AS (
    SELECT lang, doc_id,
           CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), t -> t = 'tok1'))
                AS DOUBLE) AS score
    FROM documents
),
ra AS (
    SELECT lang, doc_id,
           ROW_NUMBER() OVER (PARTITION BY lang ORDER BY score DESC, doc_id) AS rn
    FROM a
),
rb AS (
    SELECT lang, doc_id,
           ROW_NUMBER() OVER (PARTITION BY lang ORDER BY score DESC, doc_id) AS rn
    FROM b
),
u AS (
    SELECT lang, doc_id, 1.0 / CAST(60 + rn AS DOUBLE) AS c FROM ra WHERE rn <= 20
    UNION ALL
    SELECT lang, doc_id, 1.0 / CAST(60 + rn AS DOUBLE) AS c FROM rb WHERE rn <= 20
)
SELECT lang, doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_lists,
       ROUND(SUM(c), 6) AS rrf_score
FROM u GROUP BY lang, doc_id
"""


def _q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement (corpus/
    sampling.py weighted_sample): per-language Efraimidis-Spirakis
    exponential races keyed by the stable 60-bit md5 hash with weight =
    LENGTH(text) — reproducible, repartition-stable, and recomputable by
    the oracle (exact dyadic uniform, one mirrored ln per row)."""
    from fastselect_spark.corpus import weighted_sample

    _register(spark, sf_dir, "documents")
    docs = spark.table("documents").select(
        "doc_id", "lang", F.length("text").alias("w")
    )
    out = weighted_sample(
        docs, 25, "w", key_col="doc_id", group_cols=["lang"], seed=7
    )
    return out.select("lang", "doc_id")


_WEIGHTED_SAMPLE_ORACLE = """
WITH cand AS (
    SELECT lang, doc_id, CAST(LENGTH(text) AS DOUBLE) AS w,
           CAST('0x' || substr(md5('7:' || CAST(doc_id AS STRING)), 1, 15)
                AS BIGINT) AS h
    FROM documents
    WHERE LENGTH(text) IS NOT NULL AND LENGTH(text) > 0
),
raced AS (
    SELECT lang, doc_id,
           -ln(CAST(h + 1 AS DOUBLE) / 1152921504606846976.0) / w AS race
    FROM cand
),
ranked AS (
    SELECT lang, doc_id,
           ROW_NUMBER() OVER (PARTITION BY lang ORDER BY race, doc_id) AS rn
    FROM raced
)
SELECT lang, doc_id FROM ranked WHERE rn <= 25
"""


def _q_decayed_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency features (featurize/decay.py): per-conversation
    exponentially-decayed token accumulator (closed-form ordered window,
    decay 0.5 -> exact powers of two) and the wall-clock last-k decayed
    sum with half-life-QUANTIZED weights (floor(age/300s) halvings), both
    sharing one conv_id exchange. Bit-exact across engines by
    construction; rounded engine-side anyway."""
    from fastselect_spark.featurize import time_decayed_lastk, turn_decayed_sum

    tr = _transcripts(spark, sf_dir).withColumn(
        "n_tokens",
        (
            F.length("text")
            - F.length(F.regexp_replace("text", " ", ""))
            + F.lit(1)
        ).cast("double"),
    )
    d1 = turn_decayed_sum(tr, "n_tokens", 0.5, out_col="ntok_decay")
    d2 = time_decayed_lastk(
        d1, "n_tokens", halflife_s=300.0, k=3, out_col="ntok_tdecay"
    )
    return d2.select(
        "conv_id",
        "turn_idx",
        F.round("ntok_decay", 6).alias("ntok_decay"),
        F.round("ntok_tdecay", 6).alias("ntok_tdecay"),
    )


def _decayed_oracle_sql() -> str:
    lag_terms = " + ".join(
        "COALESCE(LAG(n_tokens, {d}) OVER w * power(0.5, CAST(FLOOR("
        "(FLOOR(EPOCH(ts)) - FLOOR(EPOCH(LAG(ts, {d}) OVER w))) / 300.0"
        ") AS DOUBLE)), 0.0)".format(d=d)
        for d in range(0, 4)
    )
    return f"""
        WITH transcripts AS ({TRANSCRIPTS_FROM_EVENTS_SQL}),
        tr AS (
            SELECT conv_id, turn_idx, ts,
                   CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1
                        AS DOUBLE) AS n_tokens
            FROM transcripts
        )
        SELECT conv_id, turn_idx,
               ROUND(power(0.5, CAST(turn_idx AS DOUBLE))
                     * SUM(COALESCE(n_tokens, 0.0)
                           * power(0.5, -CAST(turn_idx AS DOUBLE)))
                       OVER (PARTITION BY conv_id ORDER BY turn_idx
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                     6) AS ntok_decay,
               ROUND({lag_terms}, 6) AS ntok_tdecay
        FROM tr WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
        """


def _q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column data-quality profile of the documents table — one melt,
    one (column, value) exchange for nulls/distincts/min/max/mode
    (corpus/profile.py). String-canonical values; bigint/varchar columns
    only so the canonical form is cross-engine identical."""
    from fastselect_spark.corpus.profile import table_profile

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return table_profile(docs, _PROFILE_COLS).select(
        "column",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_null").cast("long").alias("n_null"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        "min_value",
        "max_value",
        "top_value",
        F.col("top_count").cast("long").alias("top_count"),
    )


def _q_class_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic class rebalance on the documents table (label =
    lang): per-class floor-threshold hash-Bernoulli keep rule — row-local,
    no exchange (corpus/sampling.py rebalance_classes)."""
    from fastselect_spark.corpus import rebalance_classes

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return rebalance_classes(
        docs, label_col="lang", key_col="doc_id", target_ratio=1.0, seed=42
    ).select("doc_id", "lang", "source")


def _q_corpus_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic key-hash Bernoulli sample (reproducible and
    repartition-stable, unlike rand()-based df.sample): keep iff
    md5-60bit('7:'||doc_id) % 1e6 < 250000."""
    from fastselect_spark.corpus import deterministic_sample

    _register(spark, sf_dir, "documents")
    return deterministic_sample(
        spark.table("documents"), fraction=0.25, key_col="doc_id", seed=7
    ).select("doc_id", "source")


def _q_corpus_mix_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source sampling rates — corpus MIXING toward a target source
    distribution (the deterministic sampleBy)."""
    from fastselect_spark.corpus import sample_by_source

    _register(spark, sf_dir, "documents")
    mixed = sample_by_source(
        spark.table("documents"),
        fractions={"src0": 1.0, "src1": 0.5, "src2": 0.1},
        source_col="source",
        key_col="doc_id",
        seed=11,
        default_fraction=0.02,
    )
    return mixed.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.min("doc_id").alias("min_doc_id"),
    )


def _q_source_quota_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota: keep the 5 longest docs per source (rank by
    n_chars desc, doc_id tie-break) — the balance-after-dedup step that
    caps boilerplate-heavy sources."""
    from fastselect_spark.corpus import cap_per_source

    _register(spark, sf_dir, "documents")
    return cap_per_source(
        spark.table("documents"),
        quota=5,
        source_col="source",
        order_by=[F.col("n_chars").desc()],
        key_col="doc_id",
    ).select("doc_id", "source", "n_chars", "source_rank")


def _q_ann_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantified IVF recall IN the driver contract: per query, the number
    of exact top-5 neighbors (n_exact — genuinely recomputed by the SQL
    oracle) and the claim recall@5 >= 0.8 at (n_cells=8, nprobe=5). The
    claim column hash-checks against a TRUE literal: if the probe path's
    recall drops below 0.8 for any query, the row mismatches. IVF training
    is deterministic (centroids seeded from the n_cells lowest-id rows),
    so this is a stable regression gate, not a flaky stochastic check."""
    from fastselect_spark.similarity import cosine_topk, cosine_topk_ivf

    _register(spark, sf_dir, "embeddings")
    emb = spark.table("embeddings")
    q = emb.where(F.col("vec_id") < 5)
    exact = cosine_topk(emb, q, k=5).select("query_id", "neighbor_id")
    approx = cosine_topk_ivf(emb, q, k=5, n_cells=8, nprobe=5).select(
        "query_id", "neighbor_id"
    )
    hits = exact.join(approx, ["query_id", "neighbor_id"]).groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_hit")
    )
    return (
        exact.groupBy("query_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            (
                F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("n_exact") >= 0.8
            ).alias("recall_ge_080"),
        )
    )


def _q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media columns -> batched decode/featurize via mapInPandas
    (codec stubbed behind a deterministic fake; plumbing is real)."""
    from fastselect_spark.multimodal import (
        decode_and_featurize,
        deterministic_fake_decoder,
        synthesize_media_table,
    )

    media = synthesize_media_table(spark, n=60, seed=42)
    feats = decode_and_featurize(media, decoder=deterministic_fake_decoder)
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        F.round(F.element_at("features", 1), 6).alias("f0"),
        F.round(
            F.aggregate(
                "features", F.lit(0.0).cast("double"), lambda a, v: a + v * v
            ),
            6,
        ).alias("feat_sq_norm"),
    )


def _q_video_frame_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing: one row per sampled timestamp per video."""
    from fastselect_spark.multimodal import (
        deterministic_fake_decoder,
        sample_frames,
        synthesize_media_table,
    )

    media = synthesize_media_table(spark, n=60, seed=42)
    frames = sample_frames(media, every_ms=5000, decoder=deterministic_fake_decoder)
    return frames.groupBy("media_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_frames"),
        F.round(F.sum(F.element_at("features", 1)), 6).alias("f0_sum"),
    )


def _run_available_now(
    spark: SparkSession, out_df: DataFrame, name: str, mode: str = "complete"
) -> DataFrame:
    import atexit
    import shutil
    import tempfile

    ckpt = tempfile.mkdtemp(prefix=f"fs_ckpt_{name}_")
    q = (
        out_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        # defensive: never leave a zombie query running behind the memory
        # sink (its state commits would race later queries and cleanup)
        q.stop()
        q.awaitTermination(30)
    # The memory sink holds the rows; the checkpoint is dead weight once
    # the availableNow query terminated — but state-store threads may still
    # be flushing for a short window after awaitTermination returns, so
    # deletion is deferred to interpreter exit rather than racing them.
    atexit.register(shutil.rmtree, ckpt, ignore_errors=True)
    return spark.table(name)


_STAGED: dict[str, str] = {}


def _staged_transcripts_path(spark: SparkSession, sf_dir: str) -> str:
    """Stage the derived transcripts as parquet ONCE per (session, sf_dir)
    and remove the staging dirs at interpreter exit."""
    if sf_dir not in _STAGED:
        import atexit
        import shutil
        import tempfile

        root = tempfile.mkdtemp(prefix="fs_stream_src_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        path = root + "/transcripts"
        _transcripts(spark, sf_dir).write.mode("overwrite").parquet(path)
        _STAGED[sf_dir] = path
    return _STAGED[sf_dir]


def _staged_documents_stream_path(spark: SparkSession, sf_dir: str) -> str:
    """Stage the documents table (plus a deterministic event-time column)
    as TWO parquet 'arrival wave' files once per (session, sf_dir) — the
    ingest-time dedup queries stream them as two micro-batches."""
    key = f"docs::{sf_dir}"
    if key not in _STAGED:
        import atexit
        import shutil
        import tempfile

        root = tempfile.mkdtemp(prefix="fs_stream_docs_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        path = root + "/documents"
        docs = _streamable_documents(spark, sf_dir)
        docs.where(F.col("doc_id") % 2 == 0).coalesce(1).write.mode(
            "append"
        ).parquet(path)
        docs.where(F.col("doc_id") % 2 == 1).coalesce(1).write.mode(
            "append"
        ).parquet(path)
        _STAGED[key] = path
    return _STAGED[key]


def _staged_asof_stream_path(spark: SparkSession, sf_dir: str) -> str:
    """Stage the tagged union of (session-feature rows, turn rows) as THREE
    time-ordered arrival waves (equal-ts rows never split across waves, so
    every feature arrives no later than the first turn it can serve — the
    streaming as-of exactness condition, streaming/asof.py docstring)."""
    key = f"asof::{sf_dir}"
    if key not in _STAGED:
        import atexit
        import shutil
        import tempfile

        from pyspark.sql import Window as W

        root = tempfile.mkdtemp(prefix="fs_stream_asof_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        path = root + "/tagged"
        feat = (
            featurize_transcripts(_transcripts(spark, sf_dir))
            .select("conv_id", "turn_idx", "ts", "session_id", "n_tokens")
            .persist()
        )
        sess = feat.groupBy("conv_id", "session_id").agg(
            F.max("ts").alias("ts"),
            F.round(F.avg("n_tokens"), 6).alias("fval"),
        )
        u = sess.select(
            "conv_id",
            F.lit(0).alias("kind"),
            F.lit(None).cast("int").alias("turn_idx"),
            "ts",
            "fval",
        ).unionByName(
            feat.select(
                "conv_id",
                F.lit(1).alias("kind"),
                F.col("turn_idx").cast("int").alias("turn_idx"),
                "ts",
                F.lit(None).cast("double").alias("fval"),
            )
        )
        # fixture-staging only: the single-partition ntile window runs over
        # DISTINCT ts (bounded), never over the data itself
        waves = (
            u.select("ts").distinct()
            .withColumn("wave", F.ntile(3).over(W.orderBy("ts")))
        )
        tagged = u.join(waves, "ts").persist()
        for w in (1, 2, 3):
            tagged.where(F.col("wave") == w).select(
                "conv_id", "kind", "turn_idx", "ts", "fval"
            ).coalesce(1).write.mode("append").parquet(path)
        tagged.unpersist()
        feat.unpersist()
        _STAGED[key] = path
    return _STAGED[key]


def _streamable_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + deterministic ts (epoch base + doc_id seconds)."""
    _register(spark, sf_dir, "documents")
    return spark.table("documents").select(
        "doc_id",
        "text",
        (
            F.to_timestamp(F.lit("2026-01-01 00:00:00"))
            + F.make_dt_interval(
                F.lit(0), F.lit(0), F.lit(0), F.col("doc_id").cast("double")
            )
        ).alias("ts"),
    )


def _q_streaming_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming bounded-state distinct: the HLL register table per
    2-minute window is maintained by ONE streaming max-aggregation
    (streaming/sketches.py — state = windows x 2^8 ints, never the value
    set), then finalized with the SAME fold the batch hll_distinct uses,
    so stream + finalize == batch per-window HLL (the oracle)."""
    from fastselect_spark.streaming import (
        hll_estimate_from_window_registers,
        streaming_hll_registers,
    )

    path = _staged_documents_stream_path(spark, sf_dir)
    stream = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
        .select("ts", "text")
    )
    regs = streaming_hll_registers(stream, [], "text", p=8, window="2 minutes")
    res = _run_available_now(spark, regs, "fs_stream_hll", mode="complete")
    est = hll_estimate_from_window_registers(res, [], p=8)
    return est.select(
        "window_start",
        "registers_hit",
        F.round("hll_estimate", 6).alias("hll_estimate"),
    )


def _streaming_hll_oracle_sql() -> str:
    from fastselect_spark.corpus import hll_distinct_sql

    src = (
        "SELECT CAST(TO_TIMESTAMP(FLOOR(EPOCH(TIMESTAMP '2026-01-01 00:00:00'"
        " + doc_id * INTERVAL '1 second') / 120) * 120) AS TIMESTAMP)"
        " AS window_start, text FROM documents"
    )
    inner = hll_distinct_sql(src, ["window_start"], "text", p=8)
    return (
        "SELECT window_start, registers_hit,"
        " ROUND(hll_estimate, 6) AS hll_estimate"
        f" FROM ({inner}) t"
    )


def _q_streaming_hll_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window streaming HLL (4-minute windows, 2-minute slide):
    each row feeds TWO overlapping register sets; the oracle enumerates
    the window starts per row and recomputes every window's batch HLL —
    stream + shared fold == batch per overlapping window."""
    from fastselect_spark.streaming import (
        hll_estimate_from_window_registers,
        streaming_hll_registers,
    )

    path = _staged_documents_stream_path(spark, sf_dir)
    stream = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
        .select("ts", "text")
    )
    regs = streaming_hll_registers(
        stream, [], "text", p=8, window="4 minutes", slide="2 minutes"
    )
    res = _run_available_now(spark, regs, "fs_stream_hll_slide", mode="complete")
    est = hll_estimate_from_window_registers(res, [], p=8)
    return est.select(
        "window_start",
        "registers_hit",
        F.round("hll_estimate", 6).alias("hll_estimate"),
    )


def _streaming_hll_sliding_oracle_sql() -> str:
    from fastselect_spark.corpus import hll_distinct_sql

    src = (
        "SELECT CAST(TO_TIMESTAMP((FLOOR(EPOCH(TIMESTAMP '2026-01-01 00:00:00'"
        " + doc_id * INTERVAL '1 second') / 120) - j) * 120) AS TIMESTAMP)"
        " AS window_start, text"
        " FROM documents, (SELECT UNNEST([0, 1]) AS j) js"
    )
    inner = hll_distinct_sql(src, ["window_start"], "text", p=8)
    return (
        "SELECT window_start, registers_hit,"
        " ROUND(hll_estimate, 6) AS hll_estimate"
        f" FROM ({inner}) t"
    )


def _q_streaming_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming bounded-state frequency: per-2-minute-window count-min
    counters maintained by ONE streaming sum-agg (state = windows x 3 x
    512 longs regardless of key cardinality), then the corpus's top-10
    exact tokens probed through the SHARED batch lookup — stream + lookup
    == batch per-window sketch by construction (the oracle)."""
    from fastselect_spark.corpus import countmin_lookup
    from fastselect_spark.streaming import streaming_countmin_registers

    path = _staged_documents_stream_path(spark, sf_dir)
    stream = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
        .select("ts", F.explode(F.split("text", " ")).alias("token"))
        .where(F.col("token") != "")
    )
    regs = streaming_countmin_registers(
        stream, "token", depth=3, width=512, window="2 minutes"
    )
    res = _run_available_now(spark, regs, "fs_stream_cm", mode="complete")
    toks = (
        _streamable_documents(spark, sf_dir)
        .select(F.explode(F.split("text", " ")).alias("token"))
        .where(F.col("token") != "")
    )
    top = (
        toks.groupBy("token")
        .count()
        .orderBy(F.col("count").desc(), "token")
        .limit(10)
        .select("token")
    )
    # probe grid: windows x top tokens — both driver-tiny (5 windows, 10
    # tokens at sf0.01); built driver-side (a crossJoin of the memory-sink
    # frame trips a Spark 4 hybrid-analyzer internal error)
    win_vals = [r.window_start for r in res.select("window_start").distinct().collect()]
    top_vals = [r.token for r in top.collect()]
    probes = spark.createDataFrame(
        [(w, t) for w in win_vals for t in top_vals],
        "window_start timestamp, token string",
    )
    # composite lookup: melt each probe into its depth bucket rows and
    # min over matching counters within ITS window (the batch
    # countmin_lookup math, window-tagged)
    melted = probes.select(
        "window_start",
        "token",
        *[
            F.expr(
                "CAST(conv(substring(md5(CONCAT('"
                + str(j)
                + ":', CAST(token AS STRING))), 1, 15), 16, 10) AS BIGINT) % 512"
            ).alias(f"__b{j}")
            for j in range(3)
        ],
    ).selectExpr(
        "window_start",
        "token",
        "stack(3, 0, __b0, 1, __b1, 2, __b2) AS (row, bucket)",
    )
    joined = melted.join(res, ["window_start", "row", "bucket"], "left")
    out = joined.groupBy("window_start", "token").agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cm_estimate")
    )
    return out


_STREAMING_CM_ORACLE = """
WITH base AS (
    SELECT TIMESTAMP '2026-01-01 00:00:00' + doc_id * INTERVAL '1 second' AS ts,
           t.token
    FROM documents d, UNNEST(STRING_SPLIT(d.text, ' ')) AS t(token)
    WHERE t.token <> ''
),
wb AS (
    SELECT CAST(TO_TIMESTAMP(FLOOR(EPOCH(ts) / 120) * 120) AS TIMESTAMP)
               AS window_start, token
    FROM base
),
cells AS (
    SELECT window_start, j AS row,
           CAST('0x' || substr(md5(CAST(j AS STRING) || ':' || token), 1, 15)
                AS BIGINT) % 512 AS bucket,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM wb, (SELECT UNNEST([0, 1, 2]) AS j) js
    GROUP BY 1, 2, 3
),
top AS (
    SELECT token FROM (
        SELECT token, COUNT(*) AS c FROM base GROUP BY 1
    ) ORDER BY c DESC, token LIMIT 10
),
probes AS (
    SELECT w.window_start, t.token, js.j AS row,
           CAST('0x' || substr(md5(CAST(js.j AS STRING) || ':' || t.token), 1, 15)
                AS BIGINT) % 512 AS bucket
    FROM (SELECT DISTINCT window_start FROM wb) w, top t,
         (SELECT UNNEST([0, 1, 2]) AS j) js
)
SELECT p.window_start, p.token,
       CAST(MIN(COALESCE(c.cnt, 0)) AS BIGINT) AS cm_estimate
FROM probes p
LEFT JOIN cells c
  ON p.window_start = c.window_start AND p.row = c.row AND p.bucket = c.bucket
GROUP BY p.window_start, p.token
"""


def _q_streaming_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time quality filtering: the C4/Gopher keep-rule chain
    (corpus/filtering.py) is a stateless JVM projection + predicate, so
    it runs UNCHANGED on the document stream — filtered before landing,
    not after. availableNow over the staged arrival waves; stateless row
    ops make the streaming result exactly the batch result, so the batch
    quality_filter SQL is its oracle."""
    from fastselect_spark.corpus import quality_filter

    path = _staged_documents_stream_path(spark, sf_dir)
    stream = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    kept = quality_filter(
        stream,
        langs=("en",),
        min_quality=0.7,
        min_stopword_ratio=0.05,
        min_tokens=10,
    )
    out = _run_available_now(
        spark,
        kept.select(
            "doc_id",
            "lang_pred",
            F.round("quality_score", 6).alias("quality_score"),
            F.round("stopword_ratio", 6).alias("stopword_ratio"),
            F.col("n_ws_tokens").cast("int").alias("n_ws_tokens"),
        ),
        "fs_stream_quality",
        mode="append",
    )
    return out


def _q_streaming_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time PII scrubbing: the staged regex chain (text/pii.py) is
    a stateless JVM projection, so it runs UNCHANGED on the document
    stream — documents land already redacted. availableNow over the
    staged arrival waves; stateless row ops make the streaming result
    exactly the batch result, so the planted-PII batch SQL is its oracle.
    PII is planted from doc_id the same way as `pii_redaction` (the raw
    fixture has none)."""
    from fastselect_spark.text import redact_pii

    path = _staged_documents_stream_path(spark, sf_dir)
    stream = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    did = F.col("doc_id")
    planted = stream.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                did % 3 == 0,
                F.concat(
                    F.lit(" contact user"), did.cast("string"),
                    F.lit("@ex"), (did % 7).cast("string"), F.lit(".com"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                did % 5 == 0,
                F.concat(
                    F.lit(" ssn 123-45-"),
                    F.lpad((did % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    out = _run_available_now(
        spark,
        redact_pii(planted).select(
            "doc_id", "n_email", "n_ssn", "n_pii", "text_redacted"
        ),
        "fs_stream_pii",
        mode="append",
    )
    return out


def _q_streaming_minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest-time MinHash-LSH near-dup detection: the batch
    signature+banding expression stack runs unchanged on the stream; each
    (band, band_hash) bucket is applyInPandasWithState keyed state holding
    live member ids, emitting bare candidate pairs as documents arrive
    (streaming/minhash.py). Driven availableNow over two staged arrival
    waves; emitted candidates are deduped and exactly Jaccard-verified
    against the corpus. With state TTL longer than the run, the result
    EQUALS the batch operator, so the transliterated batch MinHash SQL is
    its hard oracle."""
    from fastselect_spark.dedup.minhash import verify_candidate_pairs
    from fastselect_spark.streaming import streaming_minhash_candidates

    docs = _streamable_documents(spark, sf_dir)
    path = _staged_documents_stream_path(spark, sf_dir)
    stream = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    cands = streaming_minhash_candidates(
        stream, watermark="10 minutes", state_ttl_minutes=10**6
    )
    out = _run_available_now(spark, cands, "fs_stream_mh", mode="append")
    pairs = out.dropDuplicates(["id_a", "id_b"])
    return verify_candidate_pairs(docs, pairs, threshold=0.5)


def _q_streaming_dedup_consolidation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup loop CLOSED: the MinHash candidate stream's verified
    pairs are folded into checkpointed duplicate clusters by the periodic
    ClusterConsolidator (streaming/consolidate.py) — here driven in TWO
    incremental folds (pair files split by a deterministic hash) against
    one state dir, exercising manifest-resume. Incremental folding equals
    batch clustering of the union of emitted pairs (min-label components
    compose across folds), so the oracle is the recursive-CTE components
    of the batch MinHash pair SQL."""
    import atexit
    import shutil
    import tempfile

    from fastselect_spark.dedup.minhash import verify_candidate_pairs
    from fastselect_spark.streaming import (
        ClusterConsolidator,
        streaming_minhash_candidates,
    )

    docs = _streamable_documents(spark, sf_dir)
    path = _staged_documents_stream_path(spark, sf_dir)
    stream = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    cands = streaming_minhash_candidates(
        stream, watermark="10 minutes", state_ttl_minutes=10**6
    )
    out = _run_available_now(spark, cands, "fs_stream_consol", mode="append")
    pairs = verify_candidate_pairs(
        docs, out.dropDuplicates(["id_a", "id_b"]), threshold=0.5
    ).select("id_a", "id_b")
    root = tempfile.mkdtemp(prefix="fs_consol_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    # two pair-feed epochs, split deterministically
    epoch = F.pmod(F.xxhash64(F.col("id_a"), F.col("id_b")), F.lit(2))
    pairs.where(epoch == 0).coalesce(1).write.parquet(root + "/pairs/e0")
    cons = ClusterConsolidator(root + "/state")
    cons.consolidate(spark, root + "/pairs")  # fold epoch 0
    pairs.where(epoch == 1).coalesce(1).write.parquet(root + "/pairs/e1")
    final = cons.consolidate(spark, root + "/pairs")  # fold only epoch 1
    return final.select("doc_id", F.col("comp").cast("long").alias("comp"))


def _q_streaming_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time drift monitoring: per-2-minute-window PSI of document
    text length against the frozen even-doc_id batch reference
    (streaming/drift.py — ONE windowed agg, reference as literals, PSI as
    a post-agg projection). Complete-mode availableNow == the batch
    per-window PSI SQL."""
    from fastselect_spark.featurize.drift import reference_histogram
    from fastselect_spark.streaming import streaming_psi

    _register(spark, sf_dir, "documents")
    ref = spark.table("documents").where(F.col("doc_id") % 2 == 0).select(
        F.length("text").cast("double").alias("n_chars")
    )
    lo, width, props = reference_histogram(ref, "n_chars", bins=10)
    path = _staged_documents_stream_path(spark, sf_dir)
    stream = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
        .select("ts", F.length("text").cast("double").alias("n_chars"))
    )
    out = streaming_psi(stream, "n_chars", lo, width, props, window="2 minutes")
    res = _run_available_now(spark, out, "fs_stream_psi", mode="complete")
    return res.select(
        "window_start", "n", F.round("psi", 6).alias("psi")
    )


def _q_streaming_category_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time CATEGORICAL drift: per-2-minute-window chi-square of
    the document lang mix against the frozen even-doc_id reference mix
    (streaming/drift.py streaming_category_mix + category_drift_report —
    ONE windowed agg with state bounded by windows × |alphabet|;
    off-alphabet values land in n_other; the chi2 sum runs in an ORDERED
    window). Complete-mode availableNow == the batch per-window SQL."""
    from fastselect_spark.streaming import (
        category_drift_report,
        reference_category_mix,
        streaming_category_mix,
    )

    _register(spark, sf_dir, "documents")
    ref = spark.table("documents").where(F.col("doc_id") % 2 == 0)
    props = reference_category_mix(ref, "lang")
    cats = sorted(props)
    path = _staged_documents_stream_path(spark, sf_dir)
    stream = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
        .join(
            F.broadcast(spark.table("documents").select("doc_id", "lang")),
            "doc_id",
        )
    )
    mix = streaming_category_mix(stream, "lang", cats, window="2 minutes")
    res = _run_available_now(spark, mix, "fs_stream_catmix", mode="complete")
    rep = category_drift_report(res, cats, props)
    return rep.select(
        "window_start",
        "category",
        "n",
        "n_other",
        "o",
        F.round("chi2_term", 6).alias("chi2_term"),
        F.round("chi2", 6).alias("chi2"),
    )


def _q_role_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide role Markov transition matrix: (from_role, to_role,
    n, p) over within-conversation turn successions (featurize/convagg.py
    role_transition_matrix — one lead() window on the shared conv_id
    exchange, one pair agg, role-alphabet-bounded normalization
    window)."""
    from fastselect_spark.featurize import role_transition_matrix

    out = role_transition_matrix(_transcripts(spark, sf_dir))
    return out.select(
        "from_role", "to_role", "n", F.round("p", 6).alias("p")
    )


def _q_streaming_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time quantile monitor: exact interpolated p50/p90 of
    document length per 2-minute event-time window
    (streaming/drift.py streaming_window_quantiles — ONE windowed agg;
    Spark exact percentile == DuckDB quantile_cont, the cross-engine
    family the batch winsorize ops established). Complete-mode
    availableNow == the batch per-window quantile SQL."""
    from fastselect_spark.streaming import streaming_window_quantiles

    _register(spark, sf_dir, "documents")
    path = _staged_documents_stream_path(spark, sf_dir)
    stream = (
        spark.readStream.schema("doc_id long, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
        .select("ts", F.length("text").cast("double").alias("v"))
    )
    out = streaming_window_quantiles(
        stream, "v", probs=(0.5, 0.9), window="2 minutes"
    )
    res = _run_available_now(spark, out, "fs_stream_quant", mode="complete")
    return res.select(
        "window_start",
        "n",
        F.round("q50", 6).alias("q50"),
        F.round("q90", 6).alias("q90"),
    )


def _q_streaming_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming point-in-time enrichment: each turn, as it arrives, is
    matched against the latest already-emitted session-stats row of its
    conversation (streaming/asof.py — ONE keyed state operator over the
    tagged union, no stream-stream join). Three time-ordered arrival
    waves; with in-order arrival and a TTL longer than the run the result
    equals the batch as-of join, so the oracle is the same DuckDB
    ASOF LEFT JOIN the batch queries use."""
    from fastselect_spark.streaming import streaming_asof_enrich

    path = _staged_asof_stream_path(spark, sf_dir)
    stream = (
        spark.readStream.schema(
            "conv_id string, kind int, turn_idx int, ts timestamp, fval double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )
    out = streaming_asof_enrich(
        stream.where("kind = 1").select("conv_id", "turn_idx", "ts"),
        stream.where("kind = 0").select("conv_id", "ts", "fval"),
    )
    res = _run_available_now(spark, out, "fs_stream_asof", mode="append")
    return res.select(
        "conv_id",
        "turn_idx",
        F.round("fval_asof", 6).alias("sess_avg_tokens_asof"),
    )


def _q_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming session windows (native F.session_window with
    watermark), driven availableNow over the staged transcripts — complete
    mode emits every session, so the batch SQL oracle applies exactly."""
    from fastselect_spark.streaming import (
        read_transcripts_stream,
        streaming_session_stats,
    )

    path = _staged_transcripts_path(spark, sf_dir)
    stream = read_transcripts_stream(spark, path)
    out = _run_available_now(
        spark, streaming_session_stats(stream, gap_seconds=300), "fs_sess_stats"
    )
    return out.select(
        "conv_id",
        "session_start",
        "session_end",
        F.col("n_turns").cast("long").alias("n_turns"),
        F.round("total_tokens", 6).alias("total_tokens"),
        F.col("n_tool_calls").cast("long").alias("n_tool_calls"),
    )


def _q_streaming_trends(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental OLS (streaming/trends.py): per-conversation
    keyed state carries exact-integer (n, Σx, Σx², Σy, Σy², Σxy); every
    arriving turn emits the running token slope/r — equal to the batch
    expanding-window closure at every prefix."""
    from fastselect_spark.streaming import (
        read_transcripts_stream,
        streaming_conversation_trends,
    )

    path = _staged_transcripts_path(spark, sf_dir)
    stream = read_transcripts_stream(spark, path)
    out = _run_available_now(
        spark, streaming_conversation_trends(stream), "fs_conv_trends",
        mode="append",
    )
    return out.select(
        "conv_id",
        "turn_idx",
        "n_so_far",
        F.round("token_slope", 6).alias("token_slope"),
        F.round("token_r", 6).alias("token_r"),
    )


def _q_streaming_token_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window aggregation over the transcript stream."""
    from fastselect_spark.streaming import (
        read_transcripts_stream,
        streaming_token_rates,
    )

    path = _staged_transcripts_path(spark, sf_dir)
    stream = read_transcripts_stream(spark, path)
    out = _run_available_now(
        spark, streaming_token_rates(stream, window="5 minutes"), "fs_token_rates"
    )
    return out.select(
        "window_start",
        "window_end",
        "role",
        F.col("n_turns").cast("long").alias("n_turns"),
        F.round("total_tokens", 6).alias("total_tokens"),
    )


def _q_streaming_sliding_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (10 min window, 5 min slide) — each turn
    lands in two overlapping windows."""
    from fastselect_spark.streaming import (
        read_transcripts_stream,
        streaming_token_rates,
    )

    path = _staged_transcripts_path(spark, sf_dir)
    stream = read_transcripts_stream(spark, path)
    out = _run_available_now(
        spark,
        streaming_token_rates(stream, window="10 minutes", slide="5 minutes"),
        "fs_sliding_rates",
    )
    return out.select(
        "window_start",
        "window_end",
        "role",
        F.col("n_turns").cast("long").alias("n_turns"),
        F.round("total_tokens", 6).alias("total_tokens"),
    )


def _q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: first arrival per content fingerprint. The
    emitted fingerprint SET is deterministic and equals batch SELECT
    DISTINCT (which physical row survives is arrival-order-dependent, so
    only the fingerprint is emitted)."""
    from fastselect_spark.streaming import (
        read_transcripts_stream,
        streaming_dedup,
    )

    path = _staged_transcripts_path(spark, sf_dir)
    stream = read_transcripts_stream(spark, path)
    out = _run_available_now(
        spark,
        streaming_dedup(stream).select("fp_exact"),
        "fs_stream_dedup",
        mode="append",
    )
    return out.select("fp_exact")


def _q_streaming_dedup_wm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-BOUNDED streaming dedup (dropDuplicatesWithinWatermark,
    10-minute delay) over a planted 3-micro-batch fixture that proves the
    bounded-state trade-off both ways:

    - IN-window duplicates are dropped AND extend the state's expiry:
      alpha@10:05 (expiry 10:10 -> 10:15) and gamma@10:39 (state alive);
    - OUT-of-window duplicates are re-emitted: batch 3's entry watermark
      (10:20 = batch-2 max event 10:30 - delay) exceeds alpha's extended
      expiry 10:15 and beta's 10:10:30, so both states are evicted at the
      end of batch 3 and the batch-4 re-arrivals emit AGAIN (n_emitted=2).

    Empirically verified Spark semantics encoded here and in the oracle:
    eviction is LAZY — at the end of batch b, keys whose (last-duplicate
    ts + delay) expiry is below b's ENTRY watermark (max event time of
    batches < b, minus delay) are removed; rows arriving in b itself still
    see the state. Batch boundaries are forced with maxFilesPerTrigger=1
    over four parquet files with strictly increasing mtimes (the file
    source processes oldest-first), so watermark progression — and
    therefore the output — is deterministic. The oracle recomputes the
    per-epoch emission rule from the same literal rows in pure SQL."""
    import os
    import shutil
    import tempfile

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as _pq

    root = tempfile.mkdtemp(prefix="fs_wm_dedup_")
    batches = [
        [("2024-01-01 10:00:00", "alpha"), ("2024-01-01 10:00:30", "beta")],
        [("2024-01-01 10:05:00", "alpha"), ("2024-01-01 10:30:00", "gamma")],
        [("2024-01-01 10:45:00", "delta")],
        [
            ("2024-01-01 11:00:00", "alpha"),
            ("2024-01-01 11:01:00", "beta"),
            ("2024-01-01 10:39:00", "gamma"),
        ],
    ]
    base_mtime = 1_700_000_000
    for i, rows in enumerate(batches):
        tbl = pa.table(
            {
                "ts": pa.array(
                    [pd.Timestamp(t) for t, _ in rows], type=pa.timestamp("us")
                ),
                "text": pa.array([x for _, x in rows]),
            }
        )
        fpath = os.path.join(root, f"b{i}.parquet")
        _pq.write_table(tbl, fpath)
        os.utime(fpath, (base_mtime + 10 * i, base_mtime + 10 * i))

    from fastselect_spark.streaming import streaming_dedup_within_watermark

    stream = (
        spark.readStream.schema("ts TIMESTAMP, text STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(root)
    )
    out = _run_available_now(
        spark,
        streaming_dedup_within_watermark(
            stream, text_col="text", ts_col="ts", watermark="10 minutes"
        ).select("fp_exact", "ts"),
        "fs_stream_dedup_wm",
        mode="append",
    )
    res = out.groupBy("fp_exact").agg(
        F.count(F.lit(1)).cast("long").alias("n_emitted"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )
    res = res.localCheckpoint()  # materialize before the fixture dir is removed
    shutil.rmtree(root, ignore_errors=True)
    return res


def _q_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastselect_spark.featurize import add_lag_lead

    tr = _transcripts(spark, sf_dir)
    return add_lag_lead(tr, ["role"], offsets=(1, 2)).select(
        "conv_id", "turn_idx", "role_lag1", "role_lead1", "role_lag2", "role_lead2"
    )


def _q_streaming_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): per-turn running
    conversation features with explicit keyed state — append mode emits one
    row per turn, so the batch cumulative-window SQL oracle applies."""
    from fastselect_spark.streaming import (
        read_transcripts_stream,
        stateful_conversation_progress,
    )

    path = _staged_transcripts_path(spark, sf_dir)
    stream = read_transcripts_stream(spark, path)
    out = stateful_conversation_progress(stream, gap_seconds=300)
    res = _run_available_now(spark, out, "fs_stateful_progress", mode="append")
    return res.select(
        "conv_id",
        "turn_idx",
        "session_id",
        "turns_so_far",
        F.round("tokens_so_far", 6).alias("tokens_so_far"),
        "tool_calls_so_far",
    )


def _q_relieff_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastselect_spark.selection import ReliefFSelector

    _register(spark, sf_dir, "lineitem")
    sel = ReliefFSelector(n_features_to_select=2, n_neighbors=3).fit(
        _sampled_lineitem_codes(spark), _MI_FEATURES, "y"
    )
    return spark.createDataFrame(
        [
            (f, round(float(s), 6))
            for f, s in zip(_MI_FEATURES, sel.feature_importances_)
        ],
        schema="feature string, relieff double",
    )


# Deterministic 1500-row Relief sample: ordered by the DERIVED code columns
# (lineitem's natural key is not unique in this synthetic data); boundary
# ties are between rows with identical feature vectors, so the collected
# matrix is engine-independent.
_SAMPLED_CODES_SQL = f"""
SELECT * FROM ({_LINEITEM_CODES_SQL})
ORDER BY f_line, f_qty, f_disc, f_tax, y LIMIT 1500
"""


def _sampled_lineitem_codes(spark: SparkSession) -> DataFrame:
    return spark.sql(_SAMPLED_CODES_SQL)


def _q_surf_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastselect_spark.selection import SURFSelector

    _register(spark, sf_dir, "lineitem")
    sel = SURFSelector(n_features_to_select=2).fit(
        _sampled_lineitem_codes(spark), _MI_FEATURES, "y"
    )
    return spark.createDataFrame(
        [
            (f, round(float(s), 6))
            for f, s in zip(_MI_FEATURES, sel.feature_importances_)
        ],
        schema="feature string, surf double",
    )


def _q_multisurf_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastselect_spark.selection import MultiSURFSelector

    _register(spark, sf_dir, "lineitem")
    sel = MultiSURFSelector(n_features_to_select=2).fit(
        _sampled_lineitem_codes(spark), _MI_FEATURES, "y"
    )
    return spark.createDataFrame(
        [
            (f, round(float(s), 6))
            for f, s in zip(_MI_FEATURES, sel.feature_importances_)
        ],
        schema="feature string, multisurf double",
    )


def _q_surf_star_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURF* — the far-zone inverted-sign variant (SURF.py use_star)."""
    from fastselect_spark.selection import SURFSelector

    _register(spark, sf_dir, "lineitem")
    sel = SURFSelector(n_features_to_select=2, use_star=True).fit(
        _sampled_lineitem_codes(spark), _MI_FEATURES, "y"
    )
    return spark.createDataFrame(
        [
            (f, round(float(s), 6))
            for f, s in zip(_MI_FEATURES, sel.feature_importances_)
        ],
        schema="feature string, surf_star double",
    )


def _q_multisurf_star_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MultiSURF* — far-miss subtraction variant (MultiSURF.py use_star)."""
    from fastselect_spark.selection import MultiSURFSelector

    _register(spark, sf_dir, "lineitem")
    sel = MultiSURFSelector(n_features_to_select=2, use_star=True).fit(
        _sampled_lineitem_codes(spark), _MI_FEATURES, "y"
    )
    return spark.createDataFrame(
        [
            (f, round(float(s), 6))
            for f, s in zip(_MI_FEATURES, sel.feature_importances_)
        ],
        schema="feature string, multisurf_star double",
    )


def _q_turf_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastselect_spark.selection import ReliefFSelector, TuRFSelector

    _register(spark, sf_dir, "lineitem")
    sel = TuRFSelector(
        ReliefFSelector(n_features_to_select=2, n_neighbors=3),
        n_features_to_select=2,
        pct_remove=0.25,
    ).fit(_sampled_lineitem_codes(spark), _MI_FEATURES, "y")
    return spark.createDataFrame(
        [(int(i), _MI_FEATURES[i]) for i in sel.top_features_],
        schema="feature_idx int, feature string",
    )


def _q_cfs_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastselect_spark.selection import CFSSelector

    _register(spark, sf_dir, "lineitem")
    m = spark.sql(_LINEITEM_CODES_SQL)
    sel = CFSSelector(n_bins=10).fit(m, _MI_FEATURES, "y")
    return spark.createDataFrame(
        [(f, bool(s)) for f, s in zip(_MI_FEATURES, sel.support_mask_)],
        schema="feature string, selected boolean",
    )


# Genotype frame for the MDR queries. The fold column is a DETERMINISTIC
# per-class round-robin — SQL-expressible on any engine, which is what lets
# the full CV vote be oracle-checked (the default sklearn-parity shuffled
# StratifiedKFold uses an MT19937 permutation no SQL oracle can reproduce;
# that path keeps its pytest parity coverage). The round-robin is ordered by
# the DERIVED code columns, not a table key: lineitem's (l_orderkey,
# l_linenumber) is not unique in this synthetic data, and any ordering tie
# between rows with identical (g*, y) is harmless — swapping them never
# changes a (combo, fold, cell, y) count.
_MDR_CODES_SQL = """
SELECT g0, g1, g2, g3, y,
       CAST((ROW_NUMBER() OVER (PARTITION BY y ORDER BY g0, g1, g2, g3) - 1) % 3
            AS INT) AS fold
FROM (
    SELECT CAST(l_linenumber % 3 AS INT) AS g0,
           CAST(CAST(FLOOR(l_quantity / 10) AS INT) % 3 AS INT) AS g1,
           CAST(CAST(ROUND(l_discount * 100) AS INT) % 3 AS INT) AS g2,
           CAST(CAST(ROUND(l_tax * 100) AS INT) % 3 AS INT) AS g3,
           CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END AS y
    FROM lineitem
)
"""


def _q_mdr_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fastselect_spark.selection import MDRClassifier

    _register(spark, sf_dir, "lineitem")
    m = spark.sql(_MDR_CODES_SQL)
    clf = MDRClassifier(k=2, cv=3).fit(
        m, ["g0", "g1", "g2", "g3"], "y", fold_col="fold"
    )
    return spark.createDataFrame(
        [
            (
                int(clf.best_interaction_[0]),
                int(clf.best_interaction_[1]),
                int(clf.best_cvc_),
                round(float(clf.best_mean_testing_ba_), 6),
            )
        ],
        schema="f_a int, f_b int, cvc int, mean_test_ba double",
    )


def _q_mdr_predictions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MDR broadcast-LUT prediction (the only predict-capable estimator,
    MDR.py:336-344): distributed confusion counts of the fitted model."""
    from fastselect_spark.selection import MDRClassifier

    _register(spark, sf_dir, "lineitem")
    m = spark.sql(_MDR_CODES_SQL)
    clf = MDRClassifier(k=2, cv=3).fit(m, ["g0", "g1", "g2"], "y", fold_col="fold")
    pred = clf.predict(m)
    return pred.groupBy("y", "prediction").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


_SUPPLIER_PART_SQL = """
SELECT p.p_brand, s.s_nationkey,
       ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
       COUNT(*) AS n_lines,
       ROUND(STDDEV_SAMP(l.l_quantity), 6) AS qty_std
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
WHERE l.l_shipdate >= TIMESTAMP '1998-01-01'
GROUP BY p.p_brand, s.s_nationkey
HAVING COUNT(*) > 10
ORDER BY revenue DESC, p_brand, s_nationkey
LIMIT 20
"""

_SET_OPS_SQL = """
SELECT n_name FROM nation
WHERE n_nationkey IN (SELECT DISTINCT c_nationkey FROM customer)
INTERSECT
SELECT n_name FROM nation
WHERE n_nationkey IN (SELECT DISTINCT s_nationkey FROM supplier)
ORDER BY n_name
"""

_EVENTS_DAILY_SQL = """
SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS day,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       ROUND(SUM(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END), 2)
           AS purchase_value,
       ROUND(AVG(LENGTH(COALESCE(props, ''))), 6) AS avg_props_len
FROM events
GROUP BY 1
"""


def _q_supplier_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register(spark, sf_dir, "lineitem", "part", "supplier")
    return spark.sql(_SUPPLIER_PART_SQL)


def _q_nations_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register(spark, sf_dir, "nation", "customer", "supplier")
    return spark.sql(_SET_OPS_SQL)


def _q_events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    _register(spark, sf_dir, "events")
    return spark.sql(_EVENTS_DAILY_SQL)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "transcripts_derive": _q_transcripts_derive,
        "featurize_sessions": _q_featurize_sessions,
        "featurize_rolling": _q_featurize_rolling,
        "multi_horizon_features": _q_multi_horizon,
        "walkforward_folds": _q_walkforward_folds,
        "feature_correlations": _q_feature_correlations,
        "spearman_correlations": _q_spearman_correlations,
        "backfill_last_tool": _q_backfill_last_tool,
        "lag_lead": _q_lag_lead,
        "asof_session_stats": _q_asof_session_stats,
        "asof_tolerance": _q_asof_tolerance,  # staleness-bounded point-in-time join
        "asof_salted": _q_asof_salted,
        "asof_pandas": _q_asof_pandas,
        "chi2_scores": _q_chi2_scores,
        "mi_relevance": _q_mi_relevance,
        "gain_ratio_scores": _q_gain_ratio,  # C4.5 IG / split-info off one cube
        "oner_scores": _q_oner_scores,  # Holte 1993 rule accuracy off one cube
        "fdr_bh_selection": _q_fdr_bh_selection,  # BH step-up, no window funnel
        "selection_stability": _q_selection_stability,  # top-k fold agreement
        "dispersion_ratios": _q_dispersion_ratios,  # unsupervised AM/GM filter
        "stump_gains": _q_stump_gains,  # best binary-split IG per feature
        "mrmr_selection": _q_mrmr_selection,  # greedy loop unrolled in SQL CTEs
        "fisher_scores": _q_fisher_scores,
        "jmi_selection": _q_jmi_selection,  # greedy loop unrolled in SQL CTEs
        "leakage_safe_encoding": _q_leakage_safe_encoding,  # expanding TE/CE + hash
        "frequency_encoding": _q_frequency_encoding,  # ordinal freq-rank encoder
        "woe_encoding": _q_woe_encoding,  # weight-of-evidence / IV table
        "mad_outliers": _q_mad_outliers,  # robust modified-z outlier flags
        "mahalanobis_outliers": _q_mahalanobis_outliers,  # multivariate distance
        "calibration_report": _q_calibration_report,  # reliability bins + ECE
        "text_clean": _q_text_clean,  # NFC normalize + control strip + ws collapse
        "contrastive_pairs": _q_contrastive_pairs,  # anchor/positive/negative gen
        "quantile_normalize": _q_quantile_normalize,  # rank/(n+1) transform
        "source_mixture": _q_source_mixture,  # mixture-planning shares
        "group_kfold": _q_group_kfold,  # group-leakage-safe fold assignment
        "top_terms_per_source": _q_top_terms_per_source,  # per-group vocab top-k
        "profile_drift": _q_profile_drift,  # snapshot data-quality drift
        "mmr_rerank": _q_mmr_rerank,  # diversified retrieval (driver greedy)
        "auc_scores": _q_auc_scores,  # Mann-Whitney univariate screening
        "kfold_target_encoding": _q_kfold_target_encoding,  # CV-consistent TE
        "f_regression_scores": _q_f_regression,  # continuous-target univariate F
        "categorical_associations": _q_categorical_associations,  # Cramér V / Theil U
        "kendall_correlations": _q_kendall_correlations,  # tau-b from the shared cube
        "partial_correlations": _q_partial_correlations,  # confounder-adjusted r
        "embedding_health": _q_embedding_health,  # vector-table quality gate
        "binned_mi": _q_binned_mi,  # continuous features -> discrete MI
        "novelty_scores": _q_novelty_scores,  # shingle freshness vs reference
        "dedup_turns": _q_dedup_turns,  # within-conversation boilerplate removal
        "session_features": _q_session_features,  # per-session summary table
        "conversation_fingerprints": _q_conversation_fingerprints,  # conv dedup key
        "token_budget_sample": _q_token_budget_sample,  # N-tokens-per-source prefix
        "token_budget_sample_cost": _q_token_budget_sample_cost,  # precomputed-cost variant
        "truncate_token_budget_cost": _q_truncate_budget_cost,  # precomputed-cost variant
        "pack_sequences_cost": _q_pack_sequences_cost,  # precomputed-cost variant
        "sft_pairs": _q_sft_pairs,  # adjacent prompt/response extraction
        "ngram_containment": _q_ngram_containment,  # quote/superset near-dups
        "uniform_discretize": _q_uniform_discretize,  # equal-width codes
        "truncate_token_budget": _q_truncate_budget,  # context-window suffix fit
        "ks_drift": _q_ks_drift,  # exact two-sample KS statistic
        "tool_pmi": _q_tool_pmi,  # tool co-occurrence PMI
        "conversation_features": _q_conversation_features,  # per-entity summary
        "conversation_trends": _q_conversation_trends,  # per-entity OLS drift
        "conversation_leadlag": _q_conversation_leadlag,  # temporal coupling
        "scd2_intervals": _q_scd2_intervals,  # point-in-time dimension build
        "scd2_pointintime_lookup": _q_scd2_pointintime,  # as-of interval resolve
        "quantile_prep": _q_quantile_prep,  # winsorize + robust scale
        "resample_grid": _q_resample_grid,  # time-grid resample via as-of
        "psi_drift": _q_psi_drift,  # population-stability drift monitor
        "standard_scale": _q_standard_scale,  # fit stats + literal projection
        "cmim_selection": _q_cmim_selection,  # conditional-MI greedy, SQL-unrolled
        "fcbf_selection": _q_fcbf_selection,  # SU rank/eliminate, SQL-unrolled
        "anova_f_scores": _q_anova_f_scores,
        "variance_threshold": _q_variance_threshold,
        "relieff_scores": _q_relieff_scores,  # O(n^2) kernel as self-join SQL
        "surf_scores": _q_surf_scores,  # O(n^2) kernel as self-join SQL
        "surf_star_scores": _q_surf_star_scores,  # far-zone star variant
        "multisurf_scores": _q_multisurf_scores,  # O(n^2) kernel as self-join SQL
        "multisurf_star_scores": _q_multisurf_star_scores,  # far-miss star variant
        "turf_selection": _q_turf_selection,  # elimination loop unrolled in SQL
        "cfs_selection": _q_cfs_selection,  # best-first search over subset merits
        "mdr_interaction": _q_mdr_interaction,  # CV vote unrolled in SQL
        "mdr_predictions": _q_mdr_predictions,  # full-data LUT in SQL
        "fingerprints": _q_fingerprints,
        "lang_id": _q_lang_id,
        "text_stats": _q_text_stats,
        "lang_quality_by_source": _q_lang_quality_by_source,
        "pii_redaction": _q_pii_redaction,  # staged regex scrub, planted PII
        "bm25_topk": _q_bm25_topk,  # Okapi BM25 ranked retrieval, full SQL oracle
        "dedup_exact_groups": _q_dedup_exact_groups,
        "ngram_jaccard": _q_ngram_jaccard,
        "prefix_jaccard": _q_prefix_jaccard,  # exact, capless prefix filtering
        "dedup_spans": _q_dedup_spans,  # C4-style duplicate-span removal
        "corpus_prep_pipeline": _q_corpus_prep_pipeline,  # scrub→span→exact→report
        "dedup_components": _q_dedup_components,
        "minhash_near_dups": _q_minhash_near_dups,  # md5 family: SQL-transliterated
        "simhash_near_dups": _q_simhash_near_dups,  # md5 family: SQL-transliterated
        "embedding_topk": _q_embedding_topk,
        "embedding_near_dups": _q_embedding_near_dups,
        "embedding_near_dups_lsh": _q_embedding_near_dups_lsh,  # oracle = exact SQL
        "ann_lsh_topk": _q_ann_lsh_topk,  # oracle = exact top-k SQL
        "ann_ivf_topk": _q_ann_ivf_topk,  # oracle = centroid-literal SQL
        "ann_sq8_topk": _q_ann_sq8_topk,  # oracle = pure-SQL quantized grid
        "ann_ivf_sq8_topk": _q_ann_ivf_sq8_topk,  # centroid literals + grid SQL
        "ann_ivf_recall": _q_ann_ivf_recall,  # hash-checked recall claim
        "dedup_pipeline": _q_dedup_pipeline,  # exact -> minhash -> cluster -> keep
        "quality_filter": _q_quality_filter,  # C4-style keep-rule chain
        "pca_projection": _q_pca_projection,  # oracle = replica-literal projection
        "kmeans_clusters": _q_kmeans_clusters,  # oracle = centroid-literal assignment
        "semantic_dedup": _q_semantic_dedup,  # oracle = centroid-literal NOT EXISTS
        "cluster_balanced_sample": _q_cluster_balanced_sample,  # per-topic quota
        "dsir_logweights": _q_dsir_logweights,  # hashed-bigram importance LLR
        "perplexity_tertiles": _q_perplexity_tertiles,  # CCNet head/middle/tail
        "quality_classifier": _q_quality_classifier,  # oracle = weight-literal scoring
        "pq_codes": _q_pq_codes,  # oracle = codebook-literal assignment
        "pq_topk": _q_pq_topk,  # oracle = codebook-literal ADC rank
        "pack_sequences": _q_pack_sequences,  # concat-and-chunk packing manifest
        "tfidf_keywords": _q_tfidf_keywords,  # top-3 tf-idf terms per doc
        "hashed_term_vectors": _q_hashed_vectors,  # vocabulary-free encoder
        "vocab_topk": _q_vocab_topk,  # Zipf rank + cumulative corpus coverage
        "embedding_dedup_clusters": _q_embedding_dedup_clusters,  # pairs -> CC -> clusters
        "repetition_stats": _q_repetition_stats,  # Gopher repetition signals
        "decontaminate": _q_decontaminate,  # broadcast n-gram overlap vs planted benchmark
        "bloom_decontaminate": _q_bloom_decontaminate,  # fixed-size bit-set screen
        "train_val_test_split": _q_train_val_test_split,  # deterministic 80/10/10
        "corpus_sample": _q_corpus_sample,
        "table_profile": _q_table_profile,
        "dataset_checksum": _q_dataset_checksum,  # lineage content identity
        "hll_distinct_by_lang": _q_hll_distinct,  # bounded-state COUNT DISTINCT
        "countmin_token_counts": _q_countmin_tokens,  # fixed-state frequency sketch
        "decayed_features": _q_decayed_features,  # recency-weighted accumulators
        "weighted_sample_by_lang": _q_weighted_sample,  # E-S races, no rand()
        "rrf_fusion": _q_rrf_fusion,  # scale-free multi-retriever rank merge
        "pool_embeddings": _q_pool_embeddings,  # group centroids, no vector collect
        "theilsen_trends": _q_theilsen_trends,  # robust median-of-slopes trend
        "conversation_integrity": _q_conversation_integrity,  # ingestion validation
        "leakage_audit": _q_leakage_audit,  # planted-lookahead MI screen
        "class_rebalance": _q_class_rebalance,
        "corpus_mix_by_source": _q_corpus_mix_by_source,
        "source_quota_cap": _q_source_quota_cap,
        "multimodal_features": _q_multimodal_features,  # md5-chain synth: oracle
        "video_frame_sampling": _q_video_frame_sampling,  # md5-chain synth: oracle
        "streaming_sessions": _q_streaming_sessions,
        "streaming_asof_enrich": _q_streaming_asof_enrich,  # oracle = batch ASOF JOIN
        "streaming_psi_drift": _q_streaming_psi_drift,  # oracle = batch window PSI
        "streaming_category_drift": _q_streaming_category_drift,  # chi2 mix drift
        "streaming_quantiles": _q_streaming_quantiles,  # oracle = batch quantile_cont
        "streaming_hll_distinct": _q_streaming_hll,  # bounded-state windowed distinct
        "streaming_countmin": _q_streaming_countmin,  # bounded-state windowed frequency
        "streaming_hll_sliding": _q_streaming_hll_sliding,  # overlapping-window distinct
        "role_transitions": _q_role_transitions,  # corpus role Markov matrix
        "streaming_token_rates": _q_streaming_token_rates,
        "streaming_sliding_rates": _q_streaming_sliding_rates,
        "streaming_dedup": _q_streaming_dedup,
        "streaming_dedup_within_watermark": _q_streaming_dedup_wm,
        "streaming_stateful_progress": _q_streaming_stateful,
        "streaming_conversation_trends": _q_streaming_trends,  # running OLS state
        "streaming_minhash_near_dups": _q_streaming_minhash_near_dups,  # oracle = batch minhash SQL
        "streaming_dedup_consolidation": _q_streaming_dedup_consolidation,  # pair stream -> checkpointed clusters
        "streaming_quality_filter": _q_streaming_quality_filter,  # oracle = batch filter SQL
        "streaming_pii_redaction": _q_streaming_pii_redaction,  # oracle = batch scrub SQL
        "q1_pricing_summary": _q_q1_pricing_summary,
        "top_customers": _q_top_customers,
        "supplier_part_revenue": _q_supplier_part_revenue,
        "nations_set_ops": _q_nations_set_ops,
        "events_daily": _q_events_daily,
    }


# ------------------------------------------------------------- oracle SQL --

_FEATURIZE_BASE = f"""
WITH transcripts AS ({TRANSCRIPTS_FROM_EVENTS_SQL}),
feat0 AS (
    SELECT *,
        CAST(FLOOR(EPOCH(ts)) - FLOOR(EPOCH(LAG(ts) OVER w)) AS DOUBLE) AS gap_raw,
        LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS n_tok_raw
    FROM transcripts
    WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
),
feat1 AS (
    SELECT *,
        COALESCE(gap_raw, 0.0) AS turn_gap_s,
        CASE WHEN gap_raw IS NULL OR gap_raw > 300.0 THEN 1 ELSE 0 END AS session_start,
        CAST(n_tok_raw AS DOUBLE) AS n_tokens
    FROM feat0
),
feat2 AS (
    SELECT *,
        SUM(session_start) OVER (PARTITION BY conv_id ORDER BY turn_idx
            ROWS UNBOUNDED PRECEDING) - 1 AS session_id,
        CASE WHEN LAG(role) OVER (PARTITION BY conv_id ORDER BY turn_idx) IS NULL
                  OR role <> LAG(role) OVER (PARTITION BY conv_id ORDER BY turn_idx)
             THEN 1 ELSE 0 END AS role_changed,
        SUM(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END)
            OVER (PARTITION BY conv_id ORDER BY turn_idx ROWS UNBOUNDED PRECEDING)
            AS tool_calls_so_far,
        CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END AS label
    FROM feat1
),
feat AS (
    SELECT *,
        SUM(role_changed) OVER (PARTITION BY conv_id ORDER BY turn_idx
            ROWS UNBOUNDED PRECEDING) - 1 AS role_run_id
    FROM feat2
)
"""

_MI_ORACLE = f"""
WITH m AS ({_LINEITEM_CODES_SQL}),
long AS (
    SELECT 'f_line' AS feature, f_line AS v, y FROM m UNION ALL
    SELECT 'f_qty', f_qty, y FROM m UNION ALL
    SELECT 'f_disc', f_disc, y FROM m UNION ALL
    SELECT 'f_tax', f_tax, y FROM m
),
joint AS (SELECT feature, v, y, CAST(COUNT(*) AS DOUBLE) AS c FROM long GROUP BY 1, 2, 3),
tot AS (SELECT feature, SUM(c) AS n FROM joint GROUP BY 1),
px AS (SELECT feature, v, SUM(c) AS cx FROM joint GROUP BY 1, 2),
py AS (SELECT feature, y, SUM(c) AS cy FROM joint GROUP BY 1, 2)
SELECT j.feature,
       ROUND(SUM((c / n) * LOG2((c / n) / ((cx / n) * (cy / n) + 1e-12))), 6) AS mi_bits
FROM joint j
JOIN tot USING (feature)
JOIN px USING (feature, v)
JOIN py USING (feature, y)
GROUP BY j.feature
"""

_GAIN_RATIO_ORACLE = f"""
WITH m AS ({_LINEITEM_CODES_SQL}),
long AS (
    SELECT 'f_line' AS feature, f_line AS v, y FROM m UNION ALL
    SELECT 'f_qty', f_qty, y FROM m UNION ALL
    SELECT 'f_disc', f_disc, y FROM m UNION ALL
    SELECT 'f_tax', f_tax, y FROM m
),
joint AS (SELECT feature, v, y, CAST(COUNT(*) AS DOUBLE) AS c FROM long GROUP BY 1, 2, 3),
tot AS (SELECT feature, SUM(c) AS n FROM joint GROUP BY 1),
px AS (SELECT feature, v, SUM(c) AS cx FROM joint GROUP BY 1, 2),
py AS (SELECT feature, y, SUM(c) AS cy FROM joint GROUP BY 1, 2),
mi AS (
    SELECT j.feature,
           SUM((c / n) * LOG2((c / n) / ((cx / n) * (cy / n) + 1e-12))) AS ig
    FROM joint j
    JOIN tot USING (feature)
    JOIN px USING (feature, v)
    JOIN py USING (feature, y)
    GROUP BY j.feature
),
si AS (
    SELECT feature, -SUM((cx / n) * LOG2(cx / n)) AS h
    FROM px JOIN tot USING (feature)
    GROUP BY feature
)
SELECT mi.feature, ROUND(mi.ig, 6) AS ig_bits, ROUND(si.h, 6) AS split_info,
       ROUND(CASE WHEN si.h > 0 THEN mi.ig / si.h ELSE 0 END, 6) AS gain_ratio
FROM mi JOIN si USING (feature)
"""

_CHI2_ORACLE = f"""
WITH m AS ({_LINEITEM_CODES_SQL}),
long AS (
    SELECT 'f_line' AS feature, CAST(f_line AS DOUBLE) AS v, y FROM m UNION ALL
    SELECT 'f_qty', f_qty, y FROM m UNION ALL
    SELECT 'f_disc', f_disc, y FROM m UNION ALL
    SELECT 'f_tax', f_tax, y FROM m
),
cls AS (SELECT feature, y, SUM(v) AS obs, COUNT(*) AS n_c FROM long GROUP BY 1, 2),
tot AS (SELECT feature, SUM(obs) AS fc, SUM(n_c) AS n FROM cls GROUP BY 1)
SELECT c.feature,
       ROUND(SUM(CASE WHEN c.n_c * t.fc / t.n > 1e-12
                 THEN POW(c.obs - c.n_c * t.fc / t.n, 2) / (c.n_c * t.fc / t.n)
                 ELSE 0 END), 4) AS chi2
FROM cls c JOIN tot t USING (feature)
GROUP BY c.feature
"""


_FISHER_ORACLE = f"""
WITH m AS ({_LINEITEM_CODES_SQL}),
long AS (
    SELECT 'f_line' AS feature, CAST(f_line AS DOUBLE) AS v, y FROM m UNION ALL
    SELECT 'f_qty', f_qty, y FROM m UNION ALL
    SELECT 'f_disc', f_disc, y FROM m UNION ALL
    SELECT 'f_tax', f_tax, y FROM m
),
cls AS (
    SELECT feature, y, COUNT(*) AS n_c, SUM(v) AS s, SUM(v * v) AS q
    FROM long GROUP BY 1, 2
),
tot AS (SELECT feature, SUM(n_c) AS n, SUM(s) AS st FROM cls GROUP BY 1),
per AS (
    SELECT c.feature,
           SUM(c.n_c * POW(c.s / c.n_c - t.st / t.n, 2)) AS between_v,
           SUM(c.n_c * GREATEST(c.q / c.n_c - POW(c.s / c.n_c, 2), 0)) AS within_v
    FROM cls c JOIN tot t USING (feature) GROUP BY 1
)
SELECT feature,
       ROUND(CASE WHEN within_v > 0 THEN between_v / within_v ELSE 0 END, 6) AS fisher
FROM per
"""

# --- selection-oracle SQL builders ----------------------------------------
# These unroll the greedy/CV/kernel loops of the selection operators into
# plain ANSI SQL at the driver queries' tiny shapes (p=4, k=2, n=1500), so
# DuckDB can reproduce the full algorithm — not just its inputs.

_FEATS_VALUES = ", ".join(f"({i}, '{f}')" for i, f in enumerate(_MI_FEATURES))
_REL_LONG = " UNION ALL ".join(
    f"SELECT {i} AS fid, {f} AS v, y FROM m" for i, f in enumerate(_MI_FEATURES)
)
_PAIR_LONG = " UNION ALL ".join(
    f"SELECT {i} AS fa, {j} AS fb, {_MI_FEATURES[i]} AS a, "
    f"{_MI_FEATURES[j]} AS b, y FROM m"
    for i in range(len(_MI_FEATURES))
    for j in range(i + 1, len(_MI_FEATURES))
)

# Shared CTE block: per-feature relevance MI (bits) and symmetric pairwise
# tables, with the reference's exact eps placement (pxy/(px*py + 1e-12)).
_MI_TABLES_CTE = f"""
feats(fid, feature) AS (VALUES {_FEATS_VALUES}),
rlong AS ({_REL_LONG}),
rj AS (SELECT fid, v, y, CAST(COUNT(*) AS DOUBLE) AS c FROM rlong GROUP BY 1, 2, 3),
rn AS (SELECT fid, SUM(c) AS n FROM rj GROUP BY 1),
rpx AS (SELECT fid, v, SUM(c) AS cx FROM rj GROUP BY 1, 2),
rpy AS (SELECT fid, y, SUM(c) AS cy FROM rj GROUP BY 1, 2),
rel AS (
    SELECT rj.fid,
           SUM((c / n) * LOG2((c / n) / ((cx / n) * (cy / n) + 1e-12))) AS mi
    FROM rj JOIN rn USING (fid) JOIN rpx USING (fid, v) JOIN rpy USING (fid, y)
    GROUP BY rj.fid
),
plong AS ({_PAIR_LONG})
"""

# mRMR (reference mRMR.py:102-131): seed argmax relevance; MID score
# rel - red_sum/i; ties via np.isclose (atol 1e-12, DEFAULT rtol 1e-5) then
# argmin of average redundancy with first-index tie-break.
_MRMR_ORACLE = f"""
WITH m AS ({_LINEITEM_CODES_SQL}),
{_MI_TABLES_CTE},
pj AS (SELECT fa, fb, a, b, CAST(COUNT(*) AS DOUBLE) AS c FROM plong GROUP BY 1, 2, 3, 4),
pn AS (SELECT fa, fb, SUM(c) AS n FROM pj GROUP BY 1, 2),
ppa AS (SELECT fa, fb, a, SUM(c) AS cx FROM pj GROUP BY 1, 2, 3),
ppb AS (SELECT fa, fb, b, SUM(c) AS cy FROM pj GROUP BY 1, 2, 3),
red0 AS (
    SELECT pj.fa, pj.fb,
           SUM((c / n) * LOG2((c / n) / ((cx / n) * (cy / n) + 1e-12))) AS mi
    FROM pj JOIN pn USING (fa, fb) JOIN ppa USING (fa, fb, a) JOIN ppb USING (fa, fb, b)
    GROUP BY pj.fa, pj.fb
),
red AS (SELECT fa, fb, mi FROM red0 UNION ALL SELECT fb, fa, mi FROM red0),
s1 AS (SELECT fid FROM rel ORDER BY mi DESC, fid LIMIT 1),
c2 AS (
    SELECT r.fid, r.mi - rd.mi AS score, rd.mi AS rsum
    FROM rel r JOIN red rd ON rd.fa = r.fid AND rd.fb = (SELECT fid FROM s1)
),
s2 AS (
    SELECT fid FROM c2
    WHERE score >= (SELECT MAX(score) FROM c2)
                   - (1e-12 + 1e-5 * ABS((SELECT MAX(score) FROM c2)))
    ORDER BY rsum, fid LIMIT 1
),
c3 AS (
    SELECT r.fid, r.mi - (r1.mi + r2.mi) / 2 AS score, (r1.mi + r2.mi) / 2 AS rsum
    FROM rel r
    JOIN red r1 ON r1.fa = r.fid AND r1.fb = (SELECT fid FROM s1)
    JOIN red r2 ON r2.fa = r.fid AND r2.fb = (SELECT fid FROM s2)
),
s3 AS (
    SELECT fid FROM c3
    WHERE score >= (SELECT MAX(score) FROM c3)
                   - (1e-12 + 1e-5 * ABS((SELECT MAX(score) FROM c3)))
    ORDER BY rsum, fid LIMIT 1
)
SELECT CAST(rk.rank AS INT) AS rank, f.feature
FROM (
    SELECT 0 AS rank, fid FROM s1
    UNION ALL SELECT 1, fid FROM s2
    UNION ALL SELECT 2, fid FROM s3
) rk JOIN feats f USING (fid)
"""

# JMI (Yang & Moody): seed argmax relevance; then argmax of
# sum_{s in S} I((X_f, X_s); Y) with strict-> first-index tie-break.
_JMI_ORACLE = f"""
WITH m AS ({_LINEITEM_CODES_SQL}),
{_MI_TABLES_CTE},
jj AS (
    SELECT fa, fb, a, b, y, CAST(COUNT(*) AS DOUBLE) AS c
    FROM plong GROUP BY 1, 2, 3, 4, 5
),
jn AS (SELECT fa, fb, SUM(c) AS n FROM jj GROUP BY 1, 2),
jx AS (SELECT fa, fb, a, b, SUM(c) AS cx FROM jj GROUP BY 1, 2, 3, 4),
jy AS (SELECT fa, fb, y, SUM(c) AS cy FROM jj GROUP BY 1, 2, 3),
jmi0 AS (
    SELECT jj.fa, jj.fb,
           SUM((c / n) * LOG2((c / n) / ((cx / n) * (cy / n) + 1e-12))) AS mi
    FROM jj JOIN jn USING (fa, fb) JOIN jx USING (fa, fb, a, b) JOIN jy USING (fa, fb, y)
    GROUP BY jj.fa, jj.fb
),
jmi AS (SELECT fa, fb, mi FROM jmi0 UNION ALL SELECT fb, fa, mi FROM jmi0),
s1 AS (SELECT fid FROM rel ORDER BY mi DESC, fid LIMIT 1),
s2 AS (
    SELECT fa AS fid FROM jmi WHERE fb = (SELECT fid FROM s1)
    ORDER BY mi DESC, fa LIMIT 1
),
s3 AS (
    SELECT j1.fa AS fid FROM jmi j1 JOIN jmi j2 ON j1.fa = j2.fa
    WHERE j1.fb = (SELECT fid FROM s1) AND j2.fb = (SELECT fid FROM s2)
    ORDER BY j1.mi + j2.mi DESC, j1.fa LIMIT 1
)
SELECT CAST(rk.rank AS INT) AS rank, f.feature
FROM (
    SELECT 0 AS rank, fid FROM s1
    UNION ALL SELECT 1, fid FROM s2
    UNION ALL SELECT 2, fid FROM s3
) rk JOIN feats f USING (fid)
"""

# CMIM (Fleuret 2004): seed argmax relevance; then argmax over candidates of
# min_{s in S} I(f;Y|s), with I(f;Y|s) = I((f,s);Y) - I(s;Y) (chain rule) —
# the joint-MI tables are the JMI oracle's, rel carries I(s;Y). Strict ->
# first-index tie-break = ORDER BY score DESC, fa.
_CMIM_ORACLE = f"""
WITH m AS ({_LINEITEM_CODES_SQL}),
{_MI_TABLES_CTE},
jj AS (
    SELECT fa, fb, a, b, y, CAST(COUNT(*) AS DOUBLE) AS c
    FROM plong GROUP BY 1, 2, 3, 4, 5
),
jn AS (SELECT fa, fb, SUM(c) AS n FROM jj GROUP BY 1, 2),
jx AS (SELECT fa, fb, a, b, SUM(c) AS cx FROM jj GROUP BY 1, 2, 3, 4),
jy AS (SELECT fa, fb, y, SUM(c) AS cy FROM jj GROUP BY 1, 2, 3),
jmi0 AS (
    SELECT jj.fa, jj.fb,
           SUM((c / n) * LOG2((c / n) / ((cx / n) * (cy / n) + 1e-12))) AS mi
    FROM jj JOIN jn USING (fa, fb) JOIN jx USING (fa, fb, a, b) JOIN jy USING (fa, fb, y)
    GROUP BY jj.fa, jj.fb
),
jmi AS (SELECT fa, fb, mi FROM jmi0 UNION ALL SELECT fb, fa, mi FROM jmi0),
cond AS (
    SELECT j.fa, j.fb, j.mi - r.mi AS cmi
    FROM jmi j JOIN rel r ON r.fid = j.fb
),
s1 AS (SELECT fid FROM rel ORDER BY mi DESC, fid LIMIT 1),
s2 AS (
    SELECT fa AS fid FROM cond WHERE fb = (SELECT fid FROM s1)
    ORDER BY cmi DESC, fa LIMIT 1
),
s3 AS (
    SELECT c1.fa AS fid FROM cond c1 JOIN cond c2 ON c1.fa = c2.fa
    WHERE c1.fb = (SELECT fid FROM s1) AND c2.fb = (SELECT fid FROM s2)
    ORDER BY LEAST(c1.cmi, c2.cmi) DESC, c1.fa LIMIT 1
)
SELECT CAST(rk.rank AS INT) AS rank, f.feature
FROM (
    SELECT 0 AS rank, fid FROM s1
    UNION ALL SELECT 1, fid FROM s2
    UNION ALL SELECT 2, fid FROM s3
) rk JOIN feats f USING (fid)
"""

# FCBF (Yu & Liu 2003): SU = 2*I/(Hx+Hy) with CFS's no-eps MI
# (_stats.su_tables), NOT the rel CTE's eps form — recomputed
# here from the same count tables. Rank by SU(f;Y) desc, then the
# predominance elimination is unrolled per rank: rank j survives iff no
# SURVIVING rank i<j has SU(i,j) >= SU(j;Y).
_FCBF_ORACLE = f"""
WITH m AS ({_LINEITEM_CODES_SQL}),
{_MI_TABLES_CTE},
hx AS (
    SELECT fid, -SUM((cx / n) * LOG2(cx / n)) AS h
    FROM rpx JOIN rn USING (fid) GROUP BY fid
),
hy AS (
    SELECT fid, -SUM((cy / n) * LOG2(cy / n)) AS h
    FROM rpy JOIN rn USING (fid) GROUP BY fid
),
mi0 AS (
    SELECT rj.fid, SUM((c / n) * LOG2((c / n) / ((cx / n) * (cy / n)))) AS mi
    FROM rj JOIN rn USING (fid) JOIN rpx USING (fid, v) JOIN rpy USING (fid, y)
    GROUP BY rj.fid
),
suy AS (
    SELECT fid,
           CASE WHEN hx.h + hy.h < 1e-12 THEN 0
                ELSE 2 * mi0.mi / (hx.h + hy.h) END AS su
    FROM mi0 JOIN hx USING (fid) JOIN hy USING (fid)
),
pj AS (SELECT fa, fb, a, b, CAST(COUNT(*) AS DOUBLE) AS c FROM plong GROUP BY 1, 2, 3, 4),
pn AS (SELECT fa, fb, SUM(c) AS n FROM pj GROUP BY 1, 2),
ppa AS (SELECT fa, fb, a, SUM(c) AS cx FROM pj GROUP BY 1, 2, 3),
ppb AS (SELECT fa, fb, b, SUM(c) AS cy FROM pj GROUP BY 1, 2, 3),
phx AS (
    SELECT fa, fb, -SUM((cx / n) * LOG2(cx / n)) AS h
    FROM ppa JOIN pn USING (fa, fb) GROUP BY fa, fb
),
phy AS (
    SELECT fa, fb, -SUM((cy / n) * LOG2(cy / n)) AS h
    FROM ppb JOIN pn USING (fa, fb) GROUP BY fa, fb
),
pmi0 AS (
    SELECT pj.fa, pj.fb, SUM((c / n) * LOG2((c / n) / ((cx / n) * (cy / n)))) AS mi
    FROM pj JOIN pn USING (fa, fb) JOIN ppa USING (fa, fb, a) JOIN ppb USING (fa, fb, b)
    GROUP BY pj.fa, pj.fb
),
suff0 AS (
    SELECT fa, fb,
           CASE WHEN phx.h + phy.h < 1e-12 THEN 0
                ELSE 2 * pmi0.mi / (phx.h + phy.h) END AS su
    FROM pmi0 JOIN phx USING (fa, fb) JOIN phy USING (fa, fb)
),
suff AS (SELECT fa, fb, su FROM suff0 UNION ALL SELECT fb, fa, su FROM suff0),
ranked AS (
    SELECT fid, su, ROW_NUMBER() OVER (ORDER BY su DESC, fid) AS rk
    FROM suy WHERE su > 0
),
pr AS (
    SELECT ra.rk AS ra, rb.rk AS rb, s.su
    FROM suff s JOIN ranked ra ON s.fa = ra.fid JOIN ranked rb ON s.fb = rb.fid
),
k2 AS (SELECT COALESCE(
        (SELECT p.su FROM pr p WHERE p.ra = 1 AND p.rb = 2)
        < (SELECT r.su FROM ranked r WHERE r.rk = 2), TRUE) AS k),
k3 AS (SELECT COALESCE(
        (SELECT p.su FROM pr p WHERE p.ra = 1 AND p.rb = 3)
        < (SELECT r.su FROM ranked r WHERE r.rk = 3), TRUE)
       AND (NOT (SELECT k FROM k2) OR COALESCE(
        (SELECT p.su FROM pr p WHERE p.ra = 2 AND p.rb = 3)
        < (SELECT r.su FROM ranked r WHERE r.rk = 3), TRUE)) AS k),
k4 AS (SELECT COALESCE(
        (SELECT p.su FROM pr p WHERE p.ra = 1 AND p.rb = 4)
        < (SELECT r.su FROM ranked r WHERE r.rk = 4), TRUE)
       AND (NOT (SELECT k FROM k2) OR COALESCE(
        (SELECT p.su FROM pr p WHERE p.ra = 2 AND p.rb = 4)
        < (SELECT r.su FROM ranked r WHERE r.rk = 4), TRUE))
       AND (NOT (SELECT k FROM k3) OR COALESCE(
        (SELECT p.su FROM pr p WHERE p.ra = 3 AND p.rb = 4)
        < (SELECT r.su FROM ranked r WHERE r.rk = 4), TRUE)) AS k),
flags AS (
    SELECT 1 AS rk, TRUE AS keep
    UNION ALL SELECT 2, (SELECT k FROM k2)
    UNION ALL SELECT 3, (SELECT k FROM k3)
    UNION ALL SELECT 4, (SELECT k FROM k4)
),
sel AS (
    SELECT r.fid, r.su, r.rk
    FROM ranked r JOIN flags fl ON fl.rk = r.rk WHERE fl.keep
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY sel.rk) - 1 AS INT) AS rank,
       f.feature, ROUND(sel.su, 6) AS su
FROM sel JOIN feats f ON f.fid = sel.fid
"""

# one-way ANOVA F: same class sufficient stats as the Fisher oracle; the
# st*st/n and GREATEST op order mirrors selection/univariate.py exactly
# (class sums of small-integer codes are exact in double on both engines).
_ANOVA_ORACLE = f"""
WITH m AS ({_LINEITEM_CODES_SQL}),
long AS (
    SELECT 'f_line' AS feature, CAST(f_line AS DOUBLE) AS v, y FROM m UNION ALL
    SELECT 'f_qty', f_qty, y FROM m UNION ALL
    SELECT 'f_disc', f_disc, y FROM m UNION ALL
    SELECT 'f_tax', f_tax, y FROM m
),
cls AS (
    SELECT feature, y, COUNT(*) AS n_c, SUM(v) AS s, SUM(v * v) AS q
    FROM long GROUP BY 1, 2
),
tot AS (
    SELECT feature, SUM(n_c) AS n, SUM(s) AS st, COUNT(*) AS k
    FROM cls GROUP BY 1
),
per AS (
    SELECT c.feature, t.k, t.n,
           SUM(c.s * c.s / c.n_c) - t.st * t.st / t.n AS between_raw,
           SUM(c.q) - t.st * t.st / t.n AS total_raw
    FROM cls c JOIN tot t USING (feature)
    GROUP BY c.feature, t.k, t.n, t.st
),
fin AS (
    SELECT feature,
           GREATEST(between_raw, 0) AS between_v,
           GREATEST(total_raw - between_raw, 0) AS within_v,
           k, n
    FROM per
)
SELECT feature,
       ROUND(CASE WHEN within_v > 0
                  THEN (between_v / (k - 1)) / (within_v / (n - k))
                  WHEN between_v > 0 THEN 'inf'::DOUBLE
                  ELSE 0 END, 6) AS anova_f
FROM fin
"""

_VARIANCE_ORACLE = f"""
WITH m AS ({_LINEITEM_CODES_SQL}),
long AS (
    SELECT 'f_line' AS feature, CAST(f_line AS DOUBLE) AS v FROM m UNION ALL
    SELECT 'f_qty', f_qty FROM m UNION ALL
    SELECT 'f_disc', f_disc FROM m UNION ALL
    SELECT 'f_tax', f_tax FROM m
),
v AS (
    SELECT feature,
           GREATEST(SUM(v * v) / COUNT(*)
                    - (SUM(v) / COUNT(*)) * (SUM(v) / COUNT(*)), 0) AS variance
    FROM long GROUP BY 1
)
SELECT feature, ROUND(variance, 6) AS variance,
       CAST(variance > 3.0 AS INT) AS kept
FROM v
"""


def _mdr_oracle_cte(feature_list: list[str]) -> str:
    """CV-vote CTE block reproducing MDRClassifier.fit with the
    deterministic fold column (kernel BA rule MDR.py:82-129, LUT rule
    MDR.py:176-195, per-fold argmax + CVC vote MDR.py:304-323)."""
    from itertools import combinations as _comb

    combos = list(_comb(range(len(feature_list)), 2))
    combos_values = ", ".join(
        f"({cid}, {a}, {b})" for cid, (a, b) in enumerate(combos)
    )

    def gexpr(sel: str) -> str:
        whens = " ".join(f"WHEN {i} THEN {f}" for i, f in enumerate(feature_list))
        return f"(CASE {sel} {whens} END)"

    return f"""
folds(t) AS (VALUES (0), (1), (2)),
combos(cid, fa, fb) AS (VALUES {combos_values}),
cellrows AS (
    SELECT c.cid, m.fold, m.y,
           {gexpr('c.fa')} * 3 + {gexpr('c.fb')} AS cell
    FROM m CROSS JOIN combos c
),
cnt AS (
    SELECT cid, fold, cell,
           CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS ca,
           CAST(SUM(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS co
    FROM cellrows GROUP BY 1, 2, 3
),
train AS (
    SELECT f.t, c.cid, c.cell,
           SUM(CASE WHEN c.fold <> f.t THEN c.ca ELSE 0 END) AS ca,
           SUM(CASE WHEN c.fold <> f.t THEN c.co ELSE 0 END) AS co
    FROM cnt c CROSS JOIN folds f
    GROUP BY 1, 2, 3
),
ttot AS (SELECT t, cid, SUM(ca) AS tca, SUM(co) AS tco FROM train GROUP BY 1, 2),
kern AS (
    SELECT tr.t, tr.cid,
           CASE WHEN tt.tca = 0 OR tt.tco = 0 THEN 0.0 ELSE (
               SUM(CASE WHEN tr.co = 0 OR
                        tr.ca / (CASE WHEN tr.co > 0 THEN tr.co ELSE 1 END)
                            > tt.tca / tt.tco
                        THEN tr.ca ELSE 0 END) / tt.tca
             + SUM(CASE WHEN NOT (tr.co = 0 OR
                        tr.ca / (CASE WHEN tr.co > 0 THEN tr.co ELSE 1 END)
                            > tt.tca / tt.tco)
                        THEN tr.co ELSE 0 END) / tt.tco
           ) / 2.0 END AS ba
    FROM train tr JOIN ttot tt USING (t, cid)
    GROUP BY tr.t, tr.cid, tt.tca, tt.tco
),
best AS (
    SELECT t, cid FROM (
        SELECT t, cid, ROW_NUMBER() OVER (PARTITION BY t ORDER BY ba DESC, cid) AS rn
        FROM kern
    ) WHERE rn = 1
),
lut AS (
    SELECT tr.t, tr.cid, tr.cell,
           (tr.ca / (tr.co + 1e-9)) >
               (CASE WHEN tt.tco = 0 THEN 9e99 ELSE tt.tca / tt.tco END) AS high
    FROM train tr JOIN ttot tt USING (t, cid) JOIN best b USING (t, cid)
),
testc AS (
    SELECT c.fold AS t, c.cid, c.cell, c.ca, c.co
    FROM cnt c JOIN best b ON b.t = c.fold AND b.cid = c.cid
),
teval AS (
    SELECT tc.t, SUM(tc.ca) AS npos, SUM(tc.co) AS nneg,
           SUM(CASE WHEN COALESCE(l.high, FALSE) THEN tc.ca ELSE 0 END) AS tp,
           SUM(CASE WHEN NOT COALESCE(l.high, FALSE) THEN tc.co ELSE 0 END) AS tn
    FROM testc tc
    LEFT JOIN lut l ON l.t = tc.t AND l.cid = tc.cid AND l.cell = tc.cell
    GROUP BY tc.t
),
tba AS (
    SELECT t, ((CASE WHEN npos > 0 THEN tp / npos ELSE 0 END)
             + (CASE WHEN nneg > 0 THEN tn / nneg ELSE 0 END)) / 2.0 AS test_ba
    FROM teval
),
vote AS (
    SELECT b.cid, COUNT(*) AS cvc, AVG(tb.test_ba) AS mean_ba, MIN(b.t) AS first_t
    FROM best b JOIN tba tb USING (t)
    GROUP BY b.cid
),
win AS (SELECT * FROM vote ORDER BY cvc DESC, mean_ba DESC, first_t LIMIT 1)
"""


_MDR_INTERACTION_ORACLE = f"""
WITH m AS ({_MDR_CODES_SQL}),
{_mdr_oracle_cte(["g0", "g1", "g2", "g3"])}
SELECT CAST(c.fa AS INT) AS f_a, CAST(c.fb AS INT) AS f_b,
       CAST(w.cvc AS INT) AS cvc, ROUND(w.mean_ba, 6) AS mean_test_ba
FROM win w JOIN combos c USING (cid)
"""

_MDR_PRED_G = ["g0", "g1", "g2"]
_MDR_PRED_CELL = (
    "(CASE c.fa WHEN 0 THEN m.g0 WHEN 1 THEN m.g1 WHEN 2 THEN m.g2 END) * 3 + "
    "(CASE c.fb WHEN 0 THEN m.g0 WHEN 1 THEN m.g1 WHEN 2 THEN m.g2 END)"
)

_MDR_PREDICTIONS_ORACLE = f"""
WITH m AS ({_MDR_CODES_SQL}),
{_mdr_oracle_cte(_MDR_PRED_G)},
fullcnt AS (
    SELECT c.cid, c.cell, SUM(c.ca) AS ca, SUM(c.co) AS co
    FROM cnt c JOIN win w ON w.cid = c.cid
    GROUP BY 1, 2
),
ftot AS (SELECT cid, SUM(ca) AS tca, SUM(co) AS tco FROM fullcnt GROUP BY 1),
flut AS (
    SELECT fc.cell,
           (fc.ca / (fc.co + 1e-9)) >
               (CASE WHEN ft.tco = 0 THEN 9e99 ELSE ft.tca / ft.tco END) AS high
    FROM fullcnt fc JOIN ftot ft USING (cid)
),
pred AS (
    SELECT m.y,
           CASE WHEN COALESCE(fl.high, FALSE) THEN 1 ELSE 0 END AS prediction
    FROM m
    JOIN win w ON TRUE
    JOIN combos c ON c.cid = w.cid
    LEFT JOIN flut fl ON fl.cell = {_MDR_PRED_CELL}
)
SELECT y, CAST(prediction AS INT) AS prediction, COUNT(*) AS n
FROM pred GROUP BY 1, 2
"""


def _relief_base_sql(multisurf: bool = False) -> str:
    """Shared CTE prefix for the Relief-family oracles: the deterministic
    1500-row sample with row ids, fit metadata (discrete flags + range
    reciprocals, ReliefF.py:366-380), and the all-pairs mixed-metric
    distance table. Distance terms are added in feature order, matching the
    kernel's accumulation order bit-for-bit; ReliefF/SURF force discrete
    ranges to 1 while MultiSURF does not (MultiSURF.py:410-412) — recip is
    only ever applied to continuous features, so both forms are faithful."""
    mt_cols, diffs = [], []
    for i, f in enumerate(_MI_FEATURES):
        mt_cols.append(f"COUNT(DISTINCT {f}) <= 10 AS disc{i}")
        if multisurf:
            mt_cols.append(
                f"1.0 / (CASE WHEN MAX({f}) = MIN({f}) THEN 1.0 "
                f"ELSE CAST(MAX({f}) - MIN({f}) AS DOUBLE) END) AS recip{i}"
            )
        else:
            mt_cols.append(
                f"1.0 / (CASE WHEN COUNT(DISTINCT {f}) <= 10 OR MAX({f}) = MIN({f}) "
                f"THEN 1.0 ELSE CAST(MAX({f}) - MIN({f}) AS DOUBLE) END) AS recip{i}"
            )
        diffs.append(
            f"CASE WHEN mt.disc{i} THEN "
            f"(CASE WHEN a.{f} <> b.{f} THEN 1.0 ELSE 0.0 END) "
            f"ELSE ABS(CAST(a.{f} AS DOUBLE) - CAST(b.{f} AS DOUBLE)) * mt.recip{i} "
            f"END AS df{i}"
        )
    return f"""
samp AS ({_SAMPLED_CODES_SQL}),
m0 AS (
    SELECT *, ROW_NUMBER() OVER (ORDER BY f_line, f_qty, f_disc, f_tax, y) - 1 AS rid
    FROM samp
),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM m0),
mt AS (SELECT {', '.join(mt_cols)} FROM m0),
dp AS (
    SELECT a.rid AS i, b.rid AS j, a.y AS yi, b.y AS yj, {', '.join(diffs)}
    FROM m0 a JOIN m0 b ON a.rid <> b.rid CROSS JOIN mt
),
dist AS (SELECT *, (((df0) + df1) + df2) + df3 AS dd FROM dp)
"""


def _relief_unpivot(update_cols: list[str], out_col: str) -> str:
    """Final per-feature score rows: sum of per-sample updates / n."""
    parts = [
        f"SELECT '{f}' AS feature, "
        f"ROUND(SUM({u}) / (SELECT n FROM nn), 6) AS {out_col} FROM upd"
        for f, u in zip(_MI_FEATURES, update_cols)
    ]
    return " UNION ALL ".join(parts)


# ReliefF (CPU-kernel semantics, ReliefF.py:137-220): exact k-NN per class
# by stable argsort (= ORDER BY dist, j), per-miss-class weight
# P(c)/(1-P(yi)), hit term / hits-found, miss term / k, final / n.
_RELIEFF_ORACLE = f"""
WITH {_relief_base_sql()},
pri AS (
    SELECT y, CAST(COUNT(*) AS DOUBLE) / (SELECT n FROM nn) AS pr FROM m0 GROUP BY 1
),
rk AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY i, yj ORDER BY dd, j) AS r FROM dist
),
hit_agg AS (
    SELECT i, CAST(COUNT(*) AS DOUBLE) AS h_found,
           SUM(df0) AS h0, SUM(df1) AS h1, SUM(df2) AS h2, SUM(df3) AS h3
    FROM rk WHERE yi = yj AND r <= 3 GROUP BY 1
),
miss_agg AS (
    SELECT i, SUM(w * df0) AS q0, SUM(w * df1) AS q1,
           SUM(w * df2) AS q2, SUM(w * df3) AS q3
    FROM (
        SELECT rk.*, pc.pr / (CASE WHEN 1.0 - pi.pr = 0 THEN 1.0
                                   ELSE 1.0 - pi.pr END) AS w
        FROM rk JOIN pri pc ON pc.y = rk.yj JOIN pri pi ON pi.y = rk.yi
        WHERE rk.yi <> rk.yj AND rk.r <= 3
    ) GROUP BY 1
),
upd AS (
    SELECT COALESCE(h.i, ms.i) AS i,
           COALESCE(ms.q0, 0) / 3.0
               - (CASE WHEN h.h_found > 0 THEN h.h0 / h.h_found ELSE 0 END) AS u0,
           COALESCE(ms.q1, 0) / 3.0
               - (CASE WHEN h.h_found > 0 THEN h.h1 / h.h_found ELSE 0 END) AS u1,
           COALESCE(ms.q2, 0) / 3.0
               - (CASE WHEN h.h_found > 0 THEN h.h2 / h.h_found ELSE 0 END) AS u2,
           COALESCE(ms.q3, 0) / 3.0
               - (CASE WHEN h.h_found > 0 THEN h.h3 / h.h_found ELSE 0 END) AS u3
    FROM hit_agg h FULL JOIN miss_agg ms ON h.i = ms.i
)
{_relief_unpivot(['u0', 'u1', 'u2', 'u3'], 'relieff')}
"""

# SURF / SURF* (SURF.py:131-218): near zone = dist < mean of the sample's
# distances (self counted as 0 in the sum, denominator n-1, strict <);
# update = near(miss - hit) diffs, star adds far(hit - miss); final / n.
def _surf_oracle_sql(star: bool, out_col: str) -> str:
    terms = []
    for i in range(len(_MI_FEATURES)):
        far = (
            f"(CASE WHEN d.yj = d.yi THEN df{i} ELSE -df{i} END)" if star else "0.0"
        )
        terms.append(
            f"SUM(CASE WHEN d.dd < s.avg_d THEN "
            f"(CASE WHEN d.yj <> d.yi THEN df{i} ELSE -df{i} END) "
            f"ELSE {far} END) AS u{i}"
        )
    return f"""
WITH {_relief_base_sql()},
stats AS (
    SELECT i, SUM(dd) / ((SELECT n FROM nn) - 1) AS avg_d FROM dist GROUP BY 1
),
upd AS (
    SELECT d.i, {', '.join(terms)}
    FROM dist d JOIN stats s ON s.i = d.i
    GROUP BY d.i
)
{_relief_unpivot(['u0', 'u1', 'u2', 'u3'], out_col)}
"""


_SURF_ORACLE = _surf_oracle_sql(star=False, out_col="surf")
_SURF_STAR_ORACLE = _surf_oracle_sql(star=True, out_col="surf_star")


# MultiSURF / MultiSURF* (MultiSURF.py:165-253): threshold mu - 0.5*sigma
# (variance clamped >= 0); near-hit/near-miss diff sums averaged by their
# counts; the star variant subtracts far-miss diffs but still normalizes by
# the NEAR miss count — the ELSE keeps the raw sum when the near count is
# 0, exactly the kernel's conditional divide.
def _multisurf_oracle_sql(star: bool, out_col: str) -> str:
    h_terms, q_terms, u_terms = [], [], []
    for i in range(len(_MI_FEATURES)):
        h_terms.append(
            f"SUM(CASE WHEN near AND yj = yi THEN df{i} ELSE 0 END) AS h{i}"
        )
        fm = f"WHEN NOT near AND yj <> yi THEN -df{i} " if star else ""
        q_terms.append(
            f"SUM(CASE WHEN near AND yj <> yi THEN df{i} {fm}ELSE 0 END) AS q{i}"
        )
        u_terms.append(
            f"(CASE WHEN nm > 0 THEN q{i} / nm ELSE q{i} END)"
            f" - (CASE WHEN nh > 0 THEN h{i} / nh ELSE h{i} END) AS u{i}"
        )
    return f"""
WITH {_relief_base_sql(multisurf=True)},
stats0 AS (
    SELECT i, SUM(dd) / ((SELECT n FROM nn) - 1) AS mu,
           SUM(dd * dd) / ((SELECT n FROM nn) - 1) AS m2
    FROM dist GROUP BY 1
),
stats AS (
    SELECT i, mu - 0.5 * SQRT(GREATEST(m2 - mu * mu, 0.0)) AS thresh FROM stats0
),
nz AS (
    SELECT d.*, d.dd < s.thresh AS near
    FROM dist d JOIN stats s ON s.i = d.i
),
agg AS (
    SELECT i,
           CAST(SUM(CASE WHEN near AND yj = yi THEN 1 ELSE 0 END) AS DOUBLE) AS nh,
           CAST(SUM(CASE WHEN near AND yj <> yi THEN 1 ELSE 0 END) AS DOUBLE) AS nm,
           {', '.join(h_terms)},
           {', '.join(q_terms)}
    FROM nz GROUP BY 1
),
upd AS (
    SELECT i, {', '.join(u_terms)}
    FROM agg
)
{_relief_unpivot(['u0', 'u1', 'u2', 'u3'], out_col)}
"""


_MULTISURF_ORACLE = _multisurf_oracle_sql(star=False, out_col="multisurf")
_MULTISURF_STAR_ORACLE = _multisurf_oracle_sql(star=True, out_col="multisurf_star")

def _relieff_score_ctes(sfx: str, dist_cte: str) -> str:
    """ReliefF scoring CTE chain over a (possibly feature-gated) distance
    table — reused by the TuRF oracle for each elimination iteration."""
    upd_cols = ",\n           ".join(
        f"COALESCE(ms.q{i}, 0) / 3.0"
        f" - (CASE WHEN h.h_found > 0 THEN h.h{i} / h.h_found ELSE 0 END) AS u{i}"
        for i in range(len(_MI_FEATURES))
    )
    hit_sums = ", ".join(f"SUM(df{i}) AS h{i}" for i in range(len(_MI_FEATURES)))
    miss_sums = ", ".join(
        f"SUM(w * df{i}) AS q{i}" for i in range(len(_MI_FEATURES))
    )
    scores = " UNION ALL ".join(
        f"SELECT {i} AS fid, SUM(u{i}) / (SELECT n FROM nn) AS score FROM upd{sfx}"
        for i in range(len(_MI_FEATURES))
    )
    return f"""
rk{sfx} AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY i, yj ORDER BY dd, j) AS r
    FROM {dist_cte}
),
hit{sfx} AS (
    SELECT i, CAST(COUNT(*) AS DOUBLE) AS h_found, {hit_sums}
    FROM rk{sfx} WHERE yi = yj AND r <= 3 GROUP BY 1
),
miss{sfx} AS (
    SELECT i, {miss_sums}
    FROM (
        SELECT rk.*, pc.pr / (CASE WHEN 1.0 - pi.pr = 0 THEN 1.0
                                   ELSE 1.0 - pi.pr END) AS w
        FROM rk{sfx} rk JOIN pri pc ON pc.y = rk.yj JOIN pri pi ON pi.y = rk.yi
        WHERE rk.yi <> rk.yj AND rk.r <= 3
    ) GROUP BY 1
),
upd{sfx} AS (
    SELECT COALESCE(h.i, ms.i) AS i,
           {upd_cols}
    FROM hit{sfx} h FULL JOIN miss{sfx} ms ON h.i = ms.i
),
sc{sfx} AS ({scores})
"""


def _gated_dist(sfx: str, mask_cte: str) -> str:
    """Distance over the active feature set only: inactive terms add an
    exact +0.0, preserving the kernel's feature-order float accumulation."""
    terms = " + ".join(
        f"(CASE WHEN ({mask_cte}.mask >> {i}) % 2 = 1 THEN df{i} ELSE 0.0 END)"
        for i in range(len(_MI_FEATURES))
    )
    return f"""
dist{sfx} AS (
    SELECT dp.*, ({terms}) AS dd FROM dp, {mask_cte}
)
"""


# TuRF (reference TuRF.py:7-136) at the query's shape: p=4, select 2,
# pct_remove=0.25 -> exactly two elimination iterations, each removing the
# argmin-score feature (ascending argsort head) and refitting ReliefF on
# the survivors. top_features_ = the final active set, sorted ascending.
_TURF_ORACLE = f"""
WITH {_relief_base_sql()},
feats(fid, feature) AS (VALUES {_FEATS_VALUES}),
pri AS (
    SELECT y, CAST(COUNT(*) AS DOUBLE) / (SELECT n FROM nn) AS pr FROM m0 GROUP BY 1
),
{_relieff_score_ctes('1', 'dist')},
w1 AS (SELECT fid FROM sc1 ORDER BY score ASC, fid LIMIT 1),
mk2 AS (SELECT 15 - (1 << (SELECT fid FROM w1)) AS mask),
{_gated_dist('2', 'mk2')},
{_relieff_score_ctes('2', 'dist2')},
w2 AS (
    SELECT s.fid FROM sc2 s, mk2 m WHERE (m.mask >> s.fid) % 2 = 1
    ORDER BY s.score ASC, s.fid LIMIT 1
),
mk3 AS (SELECT m.mask - (1 << (SELECT fid FROM w2)) AS mask FROM mk2 m)
SELECT CAST(f.fid AS INT) AS feature_idx, f.feature
FROM feats f, mk3 m WHERE (m.mask >> f.fid) % 2 = 1
""".replace(
    " AS (", " AS MATERIALIZED ("
)  # each elimination round reuses dp/dist/sc*: inlined, they recompute


# CFS (reference CFS.py:246-429) on all-integer code columns: unique-coded
# (no binning), SU matrices with CFS's own log2-MI variant (guards on
# p/px/py > eps, NO +eps in the denominator — CFS.py:44-64), best-first
# forward search with the 0.1 relevance floor and strict merit improvement,
# then redundancy pruning in descending-relevance order. With p=4 the
# search is unrolled over subset-merit tables and the prune over visit
# positions.


def _cfs_oracle_sql() -> str:
    p = len(_MI_FEATURES)
    subs_rows = []
    for mask in range(1, 1 << p):
        flags = [(mask >> i) & 1 for i in range(p)]
        subs_rows.append(f"({mask}, {', '.join(str(b) for b in flags)})")
    flag_cols = ", ".join(f"b{i}" for i in range(p))
    def flag_of(expr: str) -> str:
        whens = " ".join(f"WHEN {i} THEN s.b{i}" for i in range(p))
        return f"(CASE {expr} {whens} END)"
    return f"""
WITH m AS ({_LINEITEM_CODES_SQL}),
{_MI_TABLES_CTE},
-- feature-class SU
cfn AS (SELECT fid, SUM(c) AS n FROM rj GROUP BY 1),
cfx AS (SELECT fid, v, SUM(c) AS cx FROM rj GROUP BY 1, 2),
cfy AS (SELECT fid, y, SUM(c) AS cy FROM rj GROUP BY 1, 2),
mi_cf AS (
    SELECT rj.fid,
           SUM(CASE WHEN c / n > 1e-12 AND cx / n > 1e-12 AND cy / n > 1e-12
                    THEN (c / n) * LOG2((c / n) / ((cx / n) * (cy / n)))
                    ELSE 0 END) AS mi
    FROM rj JOIN cfn USING (fid) JOIN cfx USING (fid, v) JOIN cfy USING (fid, y)
    GROUP BY rj.fid
),
hx_cf AS (
    SELECT fid, -SUM(CASE WHEN cx / n > 1e-12 THEN (cx / n) * LOG2(cx / n)
                          ELSE 0 END) AS h
    FROM cfx JOIN cfn USING (fid) GROUP BY fid
),
hy_cf AS (
    SELECT fid, -SUM(CASE WHEN cy / n > 1e-12 THEN (cy / n) * LOG2(cy / n)
                          ELSE 0 END) AS h
    FROM cfy JOIN cfn USING (fid) GROUP BY fid
),
su_cf AS (
    SELECT m.fid,
           CASE WHEN hx.h + hy.h < 1e-12 THEN 0.0
                ELSE 2.0 * m.mi / (hx.h + hy.h) END AS su
    FROM mi_cf m JOIN hx_cf hx USING (fid) JOIN hy_cf hy USING (fid)
),
-- feature-feature SU (pairs fa < fb)
pj AS (SELECT fa, fb, a, b, CAST(COUNT(*) AS DOUBLE) AS c FROM plong GROUP BY 1, 2, 3, 4),
pn AS (SELECT fa, fb, SUM(c) AS n FROM pj GROUP BY 1, 2),
pa AS (SELECT fa, fb, a, SUM(c) AS cx FROM pj GROUP BY 1, 2, 3),
pb AS (SELECT fa, fb, b, SUM(c) AS cy FROM pj GROUP BY 1, 2, 3),
mi_ff AS (
    SELECT pj.fa, pj.fb,
           SUM(CASE WHEN c / n > 1e-12 AND cx / n > 1e-12 AND cy / n > 1e-12
                    THEN (c / n) * LOG2((c / n) / ((cx / n) * (cy / n)))
                    ELSE 0 END) AS mi
    FROM pj JOIN pn USING (fa, fb) JOIN pa USING (fa, fb, a) JOIN pb USING (fa, fb, b)
    GROUP BY pj.fa, pj.fb
),
hxa AS (
    SELECT fa, fb, -SUM(CASE WHEN cx / n > 1e-12 THEN (cx / n) * LOG2(cx / n)
                             ELSE 0 END) AS h
    FROM pa JOIN pn USING (fa, fb) GROUP BY fa, fb
),
hxb AS (
    SELECT fa, fb, -SUM(CASE WHEN cy / n > 1e-12 THEN (cy / n) * LOG2(cy / n)
                             ELSE 0 END) AS h
    FROM pb JOIN pn USING (fa, fb) GROUP BY fa, fb
),
su_ff0 AS (
    SELECT m.fa, m.fb,
           CASE WHEN a.h + b.h < 1e-12 THEN 0.0
                ELSE 2.0 * m.mi / (a.h + b.h) END AS su
    FROM mi_ff m JOIN hxa a USING (fa, fb) JOIN hxb b USING (fa, fb)
),
su_ff AS (SELECT fa, fb, su FROM su_ff0 UNION ALL SELECT fb, fa, su FROM su_ff0),
-- subset merit table: merit = sum_r_cf / sqrt(k + 2*sum_r_ff)
subs(mask, {flag_cols}) AS (VALUES {', '.join(subs_rows)}),
sub_cf AS (
    SELECT s.mask, SUM({flag_of('r.fid')} * r.su) AS sum_cf,
           SUM({flag_of('r.fid')}) AS k
    FROM subs s CROSS JOIN su_cf r GROUP BY s.mask
),
sub_ff AS (
    SELECT s.mask, COALESCE(SUM(
        CASE WHEN {flag_of('pr.fa')} = 1 AND {flag_of('pr.fb')} = 1
             THEN pr.su ELSE 0 END), 0) AS sum_ff
    FROM subs s CROSS JOIN su_ff0 pr
    GROUP BY s.mask
),
merit AS (
    SELECT c.mask, c.k, c.sum_cf, f.sum_ff,
           CASE WHEN SQRT(c.k + 2 * f.sum_ff) > 1e-12
                THEN c.sum_cf / SQRT(c.k + 2 * f.sum_ff) ELSE 0.0 END AS merit
    FROM sub_cf c JOIN sub_ff f USING (mask)
),
-- greedy best-first: seed argmax su (first-index ties), floor 0.1, strict
-- merit improvement; a rejected step leaves the state unchanged, so extra
-- chained steps are no-ops
s1 AS (SELECT fid, su FROM su_cf ORDER BY su DESC, fid LIMIT 1),
st1 AS (
    SELECT CASE WHEN su >= 0.1 THEN (1 << fid) ELSE 0 END AS mask,
           CASE WHEN su >= 0.1 THEN su ELSE NULL END AS best
    FROM s1
),
c2 AS (
    SELECT r.fid AS added, m.merit
    FROM su_cf r, st1 t, merit m
    WHERE m.mask = (t.mask | (1 << r.fid))
      AND t.mask > 0 AND (t.mask >> r.fid) % 2 = 0 AND r.su >= 0.1
),
b2 AS (SELECT added, merit FROM c2 ORDER BY merit DESC, added LIMIT 1),
st2 AS (
    SELECT CASE WHEN b.merit > t.best THEN t.mask | (1 << b.added)
                ELSE t.mask END AS mask,
           CASE WHEN b.merit > t.best THEN b.merit ELSE t.best END AS best
    FROM st1 t LEFT JOIN b2 b ON TRUE
),
c3 AS (
    SELECT r.fid AS added, m.merit
    FROM su_cf r, st2 t, merit m
    WHERE m.mask = (t.mask | (1 << r.fid))
      AND t.mask > 0 AND (t.mask >> r.fid) % 2 = 0 AND r.su >= 0.1
),
b3 AS (SELECT added, merit FROM c3 ORDER BY merit DESC, added LIMIT 1),
st3 AS (
    SELECT CASE WHEN b.merit > t.best THEN t.mask | (1 << b.added)
                ELSE t.mask END AS mask,
           CASE WHEN b.merit > t.best THEN b.merit ELSE t.best END AS best
    FROM st2 t LEFT JOIN b3 b ON TRUE
),
c4 AS (
    SELECT r.fid AS added, m.merit
    FROM su_cf r, st3 t, merit m
    WHERE m.mask = (t.mask | (1 << r.fid))
      AND t.mask > 0 AND (t.mask >> r.fid) % 2 = 0 AND r.su >= 0.1
),
b4 AS (SELECT added, merit FROM c4 ORDER BY merit DESC, added LIMIT 1),
st4 AS (
    SELECT CASE WHEN b.merit > t.best THEN t.mask | (1 << b.added)
                ELSE t.mask END AS mask
    FROM st3 t LEFT JOIN b4 b ON TRUE
),
-- prune: visit selected in descending relevance; drop when a KEPT feature's
-- correlation to it >= its own relevance
vis AS (
    SELECT r.fid, r.su,
           ROW_NUMBER() OVER (ORDER BY r.su DESC, r.fid) AS v
    FROM su_cf r, st4 t WHERE (t.mask >> r.fid) % 2 = 1
),
k1 AS (SELECT fid, su FROM vis WHERE v = 1),
k2 AS (
    SELECT x.fid, x.su FROM vis x WHERE x.v = 2 AND NOT EXISTS (
        SELECT 1 FROM k1 j JOIN su_ff r ON r.fa = x.fid AND r.fb = j.fid
        WHERE r.su >= x.su)
),
k3 AS (
    SELECT x.fid, x.su FROM vis x WHERE x.v = 3 AND NOT EXISTS (
        SELECT 1 FROM (SELECT fid FROM k1 UNION ALL SELECT fid FROM k2) j
        JOIN su_ff r ON r.fa = x.fid AND r.fb = j.fid
        WHERE r.su >= x.su)
),
k4 AS (
    SELECT x.fid, x.su FROM vis x WHERE x.v = 4 AND NOT EXISTS (
        SELECT 1 FROM (SELECT fid FROM k1 UNION ALL SELECT fid FROM k2
                       UNION ALL SELECT fid FROM k3) j
        JOIN su_ff r ON r.fa = x.fid AND r.fb = j.fid
        WHERE r.su >= x.su)
),
kept AS (
    SELECT fid FROM k1 UNION ALL SELECT fid FROM k2
    UNION ALL SELECT fid FROM k3 UNION ALL SELECT fid FROM k4
)
SELECT f.feature, (f.fid IN (SELECT fid FROM kept)) AS selected
FROM feats f
""".replace(
        " AS (", " AS MATERIALIZED ("
    )  # the chained greedy-state CTEs re-evaluate exponentially otherwise


_QUALITY_EXPR = """
(0.4 * LEAST(LENGTH(text) / 500.0, 1.0)
 + 0.4 * (LENGTH(REGEXP_REPLACE(text, '[^A-Za-z]', '', 'g')) * 1.0
          / GREATEST(LENGTH(text), 1))
 + 0.2 * (1.0 - LEAST(LENGTH(REGEXP_REPLACE(text, '[A-Za-z0-9\\s]', '', 'g'))
                      * 5.0 / GREATEST(LENGTH(text), 1), 1.0)))
"""

_NGRAM_ORACLE = """
WITH norm AS (
    SELECT doc_id,
           STRING_SPLIT(LOWER(REGEXP_REPLACE(TRIM(text), '\\s+', ' ', 'g')), ' ') AS toks
    FROM documents
),
toks AS (
    SELECT doc_id, UNNEST(toks) AS tok, UNNEST(RANGE(1, LEN(toks) + 1)) AS pos
    FROM norm
),
sh AS (
    SELECT doc_id,
           tok || ' ' || LEAD(tok) OVER w || ' ' || LEAD(tok, 2) OVER w AS shingle
    FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
shd AS (SELECT DISTINCT doc_id, shingle FROM sh WHERE shingle IS NOT NULL),
cnt AS (SELECT doc_id, COUNT(*) AS c FROM shd GROUP BY 1),
inter AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
    FROM shd a JOIN shd b USING (shingle)
    WHERE a.doc_id < b.doc_id GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(i * 1.0 / (ca.c + cb.c - i), 6) AS jaccard
FROM inter
JOIN cnt ca ON ca.doc_id = id_a
JOIN cnt cb ON cb.doc_id = id_b
WHERE i * 1.0 / (ca.c + cb.c - i) >= 0.12
"""

# Duplicate clustering: min reachable id through the near-dup pair graph.
_COMPONENTS_ORACLE = f"""
WITH RECURSIVE
pairs AS ({_NGRAM_ORACLE}),
e AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION ALL
    SELECT id_b AS src, id_a AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS node FROM e),
reach(node, comp) AS (
    SELECT node, node AS comp FROM nodes
    UNION
    SELECT e.src, r.comp FROM reach r JOIN e ON e.dst = r.node
)
SELECT node AS doc_id, MIN(comp) AS comp FROM reach GROUP BY 1
"""

_ASOF_ORACLE = (
    _FEATURIZE_BASE
    + """
, sess AS (
    SELECT conv_id, session_id, MAX(ts) AS ts,
           ROUND(AVG(n_tokens), 6) AS sess_avg_tokens,
           CAST(COUNT(*) AS BIGINT) AS sess_n_turns
    FROM feat GROUP BY conv_id, session_id
)
SELECT f.conv_id, f.turn_idx,
       s.sess_avg_tokens AS sess_avg_tokens_asof,
       s.sess_n_turns    AS sess_n_turns_asof
FROM feat f ASOF LEFT JOIN sess s
    ON f.conv_id = s.conv_id AND f.ts >= s.ts
"""
)

_ASOF_TOLERANCE_ORACLE = (
    _FEATURIZE_BASE
    + """
, sess AS (
    SELECT conv_id, session_id, MAX(ts) AS ts,
           ROUND(AVG(n_tokens), 6) AS sess_avg_tokens,
           CAST(COUNT(*) AS BIGINT) AS sess_n_turns
    FROM feat GROUP BY conv_id, session_id
)
SELECT f.conv_id, f.turn_idx,
       CASE WHEN FLOOR(EPOCH(f.ts)) - FLOOR(EPOCH(s.ts)) <= 600
            THEN s.sess_avg_tokens END AS sess_avg_tokens_asof,
       CASE WHEN FLOOR(EPOCH(f.ts)) - FLOOR(EPOCH(s.ts)) <= 600
            THEN s.sess_n_turns END AS sess_n_turns_asof
FROM feat f ASOF LEFT JOIN sess s
    ON f.conv_id = s.conv_id AND f.ts >= s.ts
"""
)

_LANG_ID_ORACLE = """
WITH toks AS (
    SELECT doc_id,
           LIST_DISTINCT(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+')) AS t
    FROM documents
),
sc AS (
    SELECT doc_id,
        LEN(LIST_INTERSECT(t, ['the','and','of','to','is','in','that','it'])) AS s_en,
        LEN(LIST_INTERSECT(t, ['el','la','de','que','y','los','se','un'])) AS s_es,
        LEN(LIST_INTERSECT(t, ['der','die','und','das','ist','nicht','ein','zu'])) AS s_de,
        LEN(LIST_INTERSECT(t, ['le','la','et','les','des','est','une','dans'])) AS s_fr,
        LEN(LIST_INTERSECT(t, ['的','是','了','在','我','有'])) AS s_zh
    FROM toks
)
SELECT doc_id,
    CASE WHEN GREATEST(s_en, s_es, s_de, s_fr, s_zh) = 0 THEN 'und'
         WHEN s_en = GREATEST(s_en, s_es, s_de, s_fr, s_zh) THEN 'en'
         WHEN s_es = GREATEST(s_en, s_es, s_de, s_fr, s_zh) THEN 'es'
         WHEN s_de = GREATEST(s_en, s_es, s_de, s_fr, s_zh) THEN 'de'
         WHEN s_fr = GREATEST(s_en, s_es, s_de, s_fr, s_zh) THEN 'fr'
         ELSE 'zh' END AS lang_pred
FROM sc
"""

_EMBED_NEAR_DUP_ORACLE = """
WITH e AS (SELECT vec_id, embedding FROM embeddings),
z AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           UNNEST(a.embedding) AS x, UNNEST(b.embedding) AS y
    FROM e a JOIN e b ON a.vec_id < b.vec_id
),
s AS (
    SELECT id_a, id_b,
           SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
           / (SQRT(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
              * SQRT(SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))) AS cosine
    FROM z GROUP BY 1, 2
)
SELECT id_a, id_b, ROUND(cosine, 6) AS cosine FROM s WHERE cosine >= 0.42
"""

# MinHash (md5 family) transliterated end-to-end: ONE 60-bit md5-prefix
# hash per shingle folded into p = 2^31-1, then the universal-hash
# permutation family slot_i = ((i*2654435761+1)%p * h + (i*40503+17)%p) %p
# (pure BIGINT arithmetic, identical in Spark and DuckDB; computing md5
# per (slot, shingle) instead measured 500 s on a 5k-doc corpus);
# banding = md5-60 of the comma-joined 4-slot slices; candidates share
# >=1 band; Jaccard verified on the distinct shingle sets. Mirrors
# dedup/minhash.py with num_hashes=64, bands=16, shingle_k=3. Template
# over the input docs CTE so the dedup-pipeline oracle can run it on
# exact-dedup survivors. AS MATERIALIZED: the CLAUDE.md
# exponential-CTE-re-evaluation guard.


def _minhash_cte_sql(docs_sql: str, threshold: float) -> str:
    """CTE chain ending in ``mh_pairs (id_a, id_b, jaccard)`` over
    ``docs_sql`` (must yield (doc_id, text))."""
    return f"""
docs AS MATERIALIZED (
    SELECT doc_id, lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS norm
    FROM ({docs_sql})
),
tok AS (SELECT doc_id, norm, string_split(norm, ' ') AS t FROM docs),
sh AS MATERIALIZED (
    SELECT doc_id,
           CASE WHEN len(t) >= 3
                THEN list_distinct(list_transform(
                         generate_series(1, len(t) - 2),
                         i -> array_to_string(list_slice(t, i, i + 2), ' ')))
                ELSE [norm] END AS shingles
    FROM tok
),
shl AS (
    SELECT doc_id,
           CAST('0x' || substr(md5(UNNEST(shingles)), 1, 15) AS BIGINT)
               % 2147483647 AS h
    FROM sh
),
mh AS MATERIALIZED (
    SELECT doc_id, seed,
           MIN((((seed * 2654435761 + 1) % 2147483647) * h
                + (seed * 40503 + 17) % 2147483647) % 2147483647) AS mh
    FROM shl CROSS JOIN (SELECT UNNEST(generate_series(0, 63)) AS seed) seeds
    GROUP BY doc_id, seed
),
bands AS (
    SELECT doc_id, seed // 4 AS band,
           CAST('0x' || substr(md5(string_agg(CAST(mh AS VARCHAR), ','
               ORDER BY seed)), 1, 15) AS BIGINT) AS band_hash
    FROM mh GROUP BY doc_id, seed // 4
),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
),
cpairs AS (
    SELECT id_a, id_b, sa.shingles AS sh_a, sb.shingles AS sh_b
    FROM cand
    JOIN sh sa ON sa.doc_id = cand.id_a
    JOIN sh sb ON sb.doc_id = cand.id_b
),
mh_pairs AS MATERIALIZED (
    SELECT id_a, id_b,
           CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
           / CAST(len(list_distinct(list_concat(sh_a, sh_b))) AS DOUBLE) AS jaccard
    FROM cpairs
    WHERE CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
          / CAST(len(list_distinct(list_concat(sh_a, sh_b))) AS DOUBLE)
          >= {threshold}
)"""


_MINHASH_ORACLE = f"""
WITH {_minhash_cte_sql("SELECT doc_id, text FROM documents", 0.5)}
SELECT id_a, id_b, jaccard FROM mh_pairs
"""

# End-to-end dedup pipeline: exact dedup (min doc_id per normalized-text
# md5 fingerprint) -> MinHash near-dup pairs among survivors (md5 family)
# -> connected components (recursive reachability) -> drop every non-min
# member of each near-dup cluster. Output = the kept corpus.
_DEDUP_PIPELINE_ORACLE = f"""
WITH RECURSIVE
fp AS (
    SELECT doc_id, source, text,
           MD5(LOWER(REGEXP_REPLACE(TRIM(text), '\\s+', ' ', 'g'))) AS fp_exact
    FROM documents
),
survivors AS MATERIALIZED (
    SELECT doc_id, source, text FROM (
        SELECT doc_id, source, text,
               ROW_NUMBER() OVER (PARTITION BY fp_exact ORDER BY doc_id) AS rn
        FROM fp) t
    WHERE rn = 1
),
{_minhash_cte_sql("SELECT doc_id, text FROM survivors", 0.5)},
e AS (
    SELECT id_a AS src, id_b AS dst FROM mh_pairs
    UNION ALL
    SELECT id_b AS src, id_a AS dst FROM mh_pairs
),
nodes AS (SELECT DISTINCT src AS node FROM e),
reach(node, comp) AS (
    SELECT node, node AS comp FROM nodes
    UNION
    SELECT e.src, r.comp FROM reach r JOIN e ON e.dst = r.node
),
labels AS (SELECT node AS doc_id, MIN(comp) AS comp FROM reach GROUP BY 1),
dropped AS (SELECT doc_id FROM labels WHERE doc_id <> comp)
SELECT s.doc_id, s.source FROM survivors s
WHERE s.doc_id NOT IN (SELECT doc_id FROM dropped)
"""

# SimHash transliterated end-to-end: 60-bit md5-prefix token hashes,
# per-bit +/-1 votes, sig bit set where votes > 0, 4 x 15-bit banding,
# pairs sharing >=1 intact chunk, Hamming via bit_count(xor) <= 8.
# Mirrors dedup/simhash.py (tokens = lowercase whitespace split).
_SIMHASH_ORACLE = """
WITH docs AS (
    SELECT doc_id, lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS norm
    FROM documents
),
tokl AS (
    SELECT doc_id, UNNEST(string_split(norm, ' ')) AS tok
    FROM docs WHERE norm <> ''
),
th AS (
    SELECT doc_id,
           CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h
    FROM tokl WHERE tok <> ''
),
votes AS (
    SELECT doc_id, b,
           SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
    FROM th CROSS JOIN (SELECT UNNEST(generate_series(0, 59)) AS b) bits
    GROUP BY doc_id, b
),
sig0 AS (
    SELECT doc_id,
           SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END) AS sig
    FROM votes GROUP BY doc_id
),
sig AS (
    SELECT d.doc_id, COALESCE(s.sig, CAST(0 AS BIGINT)) AS sig
    FROM docs d LEFT JOIN sig0 s USING (doc_id)
),
banded AS (
    SELECT doc_id, sig, b AS band, (sig >> (15 * b)) & 32767 AS chunk
    FROM sig CROSS JOIN (SELECT UNNEST(generate_series(0, 3)) AS b) bs
),
cand AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           a.sig AS sig_a, b.sig AS sig_b
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(sig_a, sig_b)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= 8
"""

# Multimodal synthesis + fake decode, recomputed WITHOUT Spark: the media
# table is an md5-chain derivation keyed on (seed=42, media_id) — kind,
# size and the payload HEX are pure SQL; the fake decoder digests
# sha256(lowercase-hex(payload)), so the oracle never needs a BLOB sha.
# Feature word j = little-endian uint16 of digest bytes (2j, 2j+1):
# '0x' || hex[4j+3..4j+4] || hex[4j+1..4j+2], / 65535.
_MEDIA_BASE_SQL = """
ids AS (SELECT UNNEST(generate_series(0, 59)) AS media_id),
base AS (
    SELECT media_id,
           CAST('0x'||substr(md5('42:kind:'||media_id),1,15) AS BIGINT) % 3 AS kh,
           64 + CAST('0x'||substr(md5('42:size:'||media_id),1,15) AS BIGINT) % 4032 AS size
    FROM ids
),
kinds AS (
    SELECT media_id,
           CASE kh WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
           size
    FROM base
),
hexes AS (
    SELECT media_id, kind, size,
           substr(array_to_string(list_transform(
               generate_series(0, CAST((size + 15) // 16 AS INT) - 1),
               j -> md5('42:payload:'||media_id||':'||j)), ''), 1, 2 * size) AS phex
    FROM kinds
),
dig AS (SELECT media_id, kind, size, sha256(phex) AS h FROM hexes),
words AS (
    SELECT media_id, kind, size, j,
           CAST('0x'||substr(h, 4*j+3, 2)||substr(h, 4*j+1, 2) AS BIGINT) / 65535.0 AS f
    FROM dig CROSS JOIN (SELECT UNNEST(generate_series(0, 15)) AS j) js
)
"""

_MULTIMODAL_ORACLE = f"""
WITH {_MEDIA_BASE_SQL}
SELECT media_id, kind, CAST(size AS BIGINT) AS n_bytes,
       ROUND(MAX(CASE WHEN j = 0 THEN f END), 6) AS f0,
       ROUND(SUM(f * f), 6) AS feat_sq_norm
FROM words GROUP BY media_id, kind, size
"""

_FRAME_SAMPLING_ORACLE = f"""
WITH {_MEDIA_BASE_SQL},
vids AS (
    SELECT w.media_id,
           100 + CAST('0x'||substr(md5('42:dur:'||w.media_id),1,15) AS BIGINT) % 59900 AS dur,
           MAX(CASE WHEN j = 0 THEN f END) AS f0
    FROM words w WHERE kind = 'video'
    GROUP BY w.media_id
),
frames AS (
    SELECT media_id, f0, UNNEST(generate_series(0, CAST(dur AS INT), 5000)) AS fms
    FROM vids
)
SELECT media_id, CAST(COUNT(*) AS BIGINT) AS n_frames,
       ROUND(SUM(f0), 6) AS f0_sum
FROM frames GROUP BY media_id
"""

# Streaming oracles: complete-mode availableNow emits ALL windows/sessions,
# so the batch SQL over the same transcripts is exact. session_window range
# is [first_ts, last_ts + gap) => a new session starts when gap >= 300s.
_STREAM_SESSIONS_ORACLE = f"""
WITH transcripts AS ({TRANSCRIPTS_FROM_EVENTS_SQL}),
g AS (
    SELECT *, EPOCH(ts) - EPOCH(LAG(ts) OVER (PARTITION BY conv_id ORDER BY ts))
        AS gap
    FROM transcripts
),
f AS (
    SELECT *, CASE WHEN gap IS NULL OR gap >= 300.0 THEN 1 ELSE 0 END AS st
    FROM g
),
s AS (
    SELECT *, SUM(st) OVER (PARTITION BY conv_id ORDER BY ts
        ROWS UNBOUNDED PRECEDING) AS sid
    FROM f
)
SELECT conv_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 300 SECOND AS session_end,
       CAST(COUNT(*) AS BIGINT) AS n_turns,
       ROUND(SUM(CAST(LEN(STRING_SPLIT_REGEX(text, '\\s+')) AS DOUBLE)), 6)
           AS total_tokens,
       CAST(SUM(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_tool_calls
FROM s GROUP BY conv_id, sid
"""

_STREAM_RATES_ORACLE = f"""
WITH transcripts AS ({TRANSCRIPTS_FROM_EVENTS_SQL}),
w AS (
    SELECT CAST(TO_TIMESTAMP(FLOOR(EPOCH(ts) / 300) * 300) AS TIMESTAMP)
               AS window_start,
           role,
           CAST(LEN(STRING_SPLIT_REGEX(text, '\\s+')) AS DOUBLE) AS toks
    FROM transcripts
)
SELECT window_start,
       window_start + INTERVAL 300 SECOND AS window_end,
       role,
       CAST(COUNT(*) AS BIGINT) AS n_turns,
       ROUND(SUM(toks), 6) AS total_tokens
FROM w GROUP BY 1, 3
"""

# Streaming incremental OLS: the batch mirror is the expanding-window
# closure over (ts, turn_idx)-ordered turns — the state sums are exact
# integers, so every per-turn emission matches bit for bit (the double
# conversions are spelled CAST(... AS DOUBLE) * bigint exactly as the
# kernel's float(n)*sxy - float(sx)*sy operand order).
_STREAM_TRENDS_ORACLE = f"""
WITH transcripts AS ({TRANSCRIPTS_FROM_EVENTS_SQL}),
o AS (
    SELECT conv_id, turn_idx, ts,
        CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
             ELSE LEN(STRING_SPLIT_REGEX(TRIM(text), '\\s+')) END AS y
    FROM transcripts
),
e AS (
    SELECT conv_id, turn_idx,
        CAST(COUNT(*) OVER w AS BIGINT) AS n,
        SUM(CAST(turn_idx AS BIGINT)) OVER w AS sx,
        SUM(CAST(turn_idx AS BIGINT) * turn_idx) OVER w AS sxx,
        SUM(CAST(y AS BIGINT)) OVER w AS sy,
        SUM(CAST(y AS BIGINT) * y) OVER w AS syy,
        SUM(CAST(turn_idx AS BIGINT) * y) OVER w AS sxy
    FROM o
    WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx
                 ROWS UNBOUNDED PRECEDING)
)
SELECT conv_id, turn_idx, n AS n_so_far,
       ROUND(CASE WHEN CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx > 0
             THEN (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                  / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) END, 6)
           AS token_slope,
       ROUND(CASE WHEN CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx > 0
                   AND CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy > 0
             THEN (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                  / SQRT((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                         * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
             END, 6) AS token_r
FROM e
"""

_STREAM_STATEFUL_ORACLE = f"""
WITH transcripts AS ({TRANSCRIPTS_FROM_EVENTS_SQL}),
o AS (
    SELECT *, FLOOR(EPOCH(ts)) AS es,
        CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0.0
             ELSE CAST(LEN(STRING_SPLIT_REGEX(TRIM(text), '\\s+')) AS DOUBLE)
        END AS toks
    FROM transcripts
),
g AS (
    SELECT *, es - LAG(es) OVER (PARTITION BY conv_id ORDER BY ts, turn_idx)
        AS gap
    FROM o
)
SELECT conv_id, turn_idx,
       CAST(SUM(CASE WHEN gap > 300 THEN 1 ELSE 0 END) OVER w AS BIGINT)
           AS session_id,
       CAST(ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY ts, turn_idx)
           AS BIGINT) AS turns_so_far,
       ROUND(SUM(toks) OVER w, 6) AS tokens_so_far,
       CAST(SUM(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END) OVER w AS BIGINT)
           AS tool_calls_so_far
FROM g
WINDOW w AS (PARTITION BY conv_id ORDER BY ts, turn_idx
             ROWS UNBOUNDED PRECEDING)
"""

# Sliding windows (W=600s, S=300s, epoch-aligned like F.window): each event
# at t belongs to exactly W/S = 2 windows, starts floor(t/S)*S - k*S.
_STREAM_SLIDING_ORACLE = f"""
WITH transcripts AS ({TRANSCRIPTS_FROM_EVENTS_SQL}),
w AS (
    SELECT role,
           CAST(LEN(STRING_SPLIT_REGEX(text, '\\s+')) AS DOUBLE) AS toks,
           FLOOR(EPOCH(ts) / 300) * 300 AS base
    FROM transcripts
),
e AS (
    SELECT role, toks, base - k * 300 AS ws
    FROM w CROSS JOIN (VALUES (0), (1)) AS off(k)
)
SELECT CAST(TO_TIMESTAMP(ws) AS TIMESTAMP) AS window_start,
       CAST(TO_TIMESTAMP(ws + 600) AS TIMESTAMP) AS window_end,
       role,
       CAST(COUNT(*) AS BIGINT) AS n_turns,
       ROUND(SUM(toks), 6) AS total_tokens
FROM e GROUP BY 1, 2, 3
"""

_EMBED_TOPK_ORACLE = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
c AS (SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings),
z AS (
    SELECT query_id, neighbor_id, UNNEST(qe) AS x, UNNEST(ce) AS y
    FROM q, c WHERE query_id <> neighbor_id
),
s AS (
    SELECT query_id, neighbor_id,
           SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
           / (SQRT(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
              * SQRT(SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))) AS cosine
    FROM z GROUP BY 1, 2
),
r AS (
    SELECT query_id, neighbor_id, cosine,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id) AS rank
    FROM s
)
SELECT query_id, neighbor_id, ROUND(cosine, 6) AS cosine, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 5
"""


_SQ8_TOPK_ORACLE = """
WITH ex AS (
    SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
           CAST(UNNEST(embedding) AS DOUBLE) AS x
    FROM embeddings
),
b AS (SELECT MAX(ABS(x)) AS a FROM ex),
-- the symmetric SQ8 grid: identical float64 op sequence to
-- quantize._quantize (global absmax scale; see quantize.py on why a
-- per-dim affine grid would break inner-product ranking)
qc AS (
    SELECT vec_id, pos,
           CAST(LEAST(GREATEST(FLOOR(x * 127.0 / a + 0.5), -127), 127)
                AS BIGINT) AS code
    FROM ex, b
),
s AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           CAST(SUM(q.code * c.code) AS BIGINT) AS score
    FROM qc q JOIN qc c USING (pos)
    WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id
    GROUP BY 1, 2
),
r AS (
    SELECT query_id, neighbor_id, score,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY score DESC, neighbor_id) AS rank
    FROM s
)
SELECT query_id, neighbor_id, score, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 10
"""


def _ivf_sq8_topk_oracle_sql() -> str | None:
    """DuckDB oracle for ``ann_ivf_sq8_topk`` — same centroid-literal
    assignment + probing as ``_ivf_topk_oracle_sql`` (n_cells=8, nprobe=3,
    queries vec_id < 5), but the rerank is the exact-INTEGER symmetric-SQ8
    dot product, with the grid recomputed from the table itself
    (no grid literals; see _SQ8_TOPK_ORACLE). k=5."""
    import os

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    try:
        from fastselect_spark.similarity.ivf import train_ivf_centroids_numpy

        C = train_ivf_centroids_numpy(f"{sf_dir}/embeddings.parquet", n_cells=8)
    except Exception:
        return None
    cent_rows = ",\n    ".join(
        "({}, [{}])".format(c, ", ".join(repr(float(v)) for v in row))
        for c, row in enumerate(C)
    )
    return f"""
WITH cent(cell, cw) AS (VALUES
    {cent_rows}
),
c AS (SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
-- cell assignment: argmax dot (|v| constant per row == normalized argmax)
az AS (
    SELECT neighbor_id, cell, UNNEST(ce) AS x, UNNEST(cw) AS y FROM c, cent
),
adots AS (
    SELECT neighbor_id, cell, SUM(CAST(x AS DOUBLE) * y) AS dot
    FROM az GROUP BY 1, 2
),
assign AS (
    SELECT neighbor_id, cell FROM (
        SELECT neighbor_id, cell,
               ROW_NUMBER() OVER (PARTITION BY neighbor_id
                                  ORDER BY dot DESC, cell) AS rn
        FROM adots
    ) WHERE rn = 1
),
qz AS (
    SELECT query_id, cell, UNNEST(qe) AS x, UNNEST(cw) AS y FROM q, cent
),
qdots AS (
    SELECT query_id, cell, SUM(CAST(x AS DOUBLE) * y) AS dot
    FROM qz GROUP BY 1, 2
),
probes AS (
    SELECT query_id, cell FROM (
        SELECT query_id, cell,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY dot DESC, cell) AS rn
        FROM qdots
    ) WHERE rn <= 3
),
-- the symmetric SQ8 grid (identical float64 ops to quantize._quantize)
ex AS (
    SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
           CAST(UNNEST(embedding) AS DOUBLE) AS x
    FROM embeddings
),
b AS (SELECT MAX(ABS(x)) AS a FROM ex),
qc AS (
    SELECT vec_id, pos,
           CAST(LEAST(GREATEST(FLOOR(x * 127.0 / a + 0.5), -127), 127)
                AS BIGINT) AS code
    FROM ex, b
),
cand AS (
    SELECT p.query_id, a.neighbor_id
    FROM probes p JOIN assign a USING (cell)
    WHERE a.neighbor_id <> p.query_id
),
s AS (
    SELECT cand.query_id, cand.neighbor_id,
           CAST(SUM(qq.code * cc.code) AS BIGINT) AS score
    FROM cand
    JOIN qc qq ON qq.vec_id = cand.query_id
    JOIN qc cc ON cc.vec_id = cand.neighbor_id AND cc.pos = qq.pos
    GROUP BY 1, 2
),
r AS (
    SELECT query_id, neighbor_id, score,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY score DESC, neighbor_id) AS rank
    FROM s
)
SELECT query_id, neighbor_id, score, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 5
"""


def _ivf_topk_oracle_sql() -> str | None:
    """DuckDB oracle for ``ann_ivf_topk`` — IVF training is deterministic
    (lowest-id seeds, exact-mean Lloyd: similarity/ivf.py), so the trained
    centroids are injected as LITERALS (recomputed here by the independent
    single-process NumPy replica, bit-identical to Spark's tree reduction
    at the gate scale) and the SQL recomputes cell ASSIGNMENT (argmax dot,
    lowest-cell tie-break), query PROBING (top-nprobe cells, same
    tie-break) and the exact-cosine RERANK end-to-end. Parameters mirror
    _q_ann_ivf_topk: n_cells=8, nprobe=3, k=5, queries vec_id < 5. The
    gate's sf dir comes from SPARK_GRAFT_ORACLE_SF_DIR (default sf0.01,
    where the driver runs the correctness gate); returns None (rows-only
    fallback) if that parquet is unreadable."""
    import os

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    try:
        from fastselect_spark.similarity.ivf import train_ivf_centroids_numpy

        C = train_ivf_centroids_numpy(f"{sf_dir}/embeddings.parquet", n_cells=8)
    except Exception:
        return None
    cent_rows = ",\n    ".join(
        "({}, [{}])".format(c, ", ".join(repr(float(v)) for v in row))
        for c, row in enumerate(C)
    )
    return f"""
WITH cent(cell, cw) AS (VALUES
    {cent_rows}
),
c AS (SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 5),
-- cell assignment: argmax dot(v, centroid); |v| is constant per row so the
-- argmax equals Spark's normalized-vector assignment
az AS (
    SELECT neighbor_id, cell, UNNEST(ce) AS x, UNNEST(cw) AS y FROM c, cent
),
adots AS (
    SELECT neighbor_id, cell, SUM(CAST(x AS DOUBLE) * y) AS dot
    FROM az GROUP BY 1, 2
),
assign AS (
    SELECT neighbor_id, cell FROM (
        SELECT neighbor_id, cell,
               ROW_NUMBER() OVER (PARTITION BY neighbor_id
                                  ORDER BY dot DESC, cell) AS rn
        FROM adots
    ) WHERE rn = 1
),
-- query probing: top-nprobe cells by centroid dot, same tie-break
qz AS (
    SELECT query_id, cell, UNNEST(qe) AS x, UNNEST(cw) AS y FROM q, cent
),
qdots AS (
    SELECT query_id, cell, SUM(CAST(x AS DOUBLE) * y) AS dot
    FROM qz GROUP BY 1, 2
),
probes AS (
    SELECT query_id, cell FROM (
        SELECT query_id, cell,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY dot DESC, cell) AS rn
        FROM qdots
    ) WHERE rn <= 3
),
-- candidates: probed cells' members, exact cosine rerank
cand AS (
    SELECT p.query_id, a.neighbor_id
    FROM probes p JOIN assign a USING (cell)
    WHERE a.neighbor_id <> p.query_id
),
pz AS (
    SELECT cand.query_id, cand.neighbor_id, UNNEST(qe) AS x, UNNEST(ce) AS y
    FROM cand JOIN q USING (query_id) JOIN c USING (neighbor_id)
),
s AS (
    SELECT query_id, neighbor_id,
           SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
           / (SQRT(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
              * SQRT(SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))) AS cosine
    FROM pz GROUP BY 1, 2
),
r AS (
    SELECT query_id, neighbor_id, cosine,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id) AS rank
    FROM s
)
SELECT query_id, neighbor_id, ROUND(cosine, 6) AS cosine, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 5
"""


def _kmeans_clusters_oracle_sql() -> str | None:
    """DuckDB oracle for ``kmeans_clusters`` — same centroid-literal
    pattern as ``ann_ivf_topk``: the independent NumPy replica trains the
    8 spherical-k-means centroids from the gate's parquet; the SQL
    recomputes per-vector argmax-cosine assignment (lowest-cluster
    tie-break, matching np.argmax's first-max) and the cosine to the
    assigned centroid. Centroids are unit-norm, so cosine =
    dot(v, c) / |v|. Returns None (rows-only fallback) if the parquet is
    unreadable."""
    import os

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    try:
        from fastselect_spark.similarity.ivf import train_ivf_centroids_numpy

        C = train_ivf_centroids_numpy(f"{sf_dir}/embeddings.parquet", n_cells=8)
    except Exception:
        return None
    cent_rows = ",\n    ".join(
        "({}, [{}])".format(c, ", ".join(repr(float(v)) for v in row))
        for c, row in enumerate(C)
    )
    return f"""
WITH cent(cell, cw) AS (VALUES
    {cent_rows}
),
c AS (SELECT vec_id, embedding AS ce FROM embeddings),
norms AS (
    SELECT vec_id, SQRT(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS vnorm
    FROM (SELECT vec_id, UNNEST(ce) AS x FROM c) GROUP BY 1
),
az AS (
    SELECT vec_id, cell, UNNEST(ce) AS x, UNNEST(cw) AS y FROM c, cent
),
adots AS (
    SELECT vec_id, cell, SUM(CAST(x AS DOUBLE) * y) AS dot
    FROM az GROUP BY 1, 2
),
assign AS (
    SELECT vec_id, cell, dot FROM (
        SELECT vec_id, cell, dot,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dot DESC, cell) AS rn
        FROM adots
    ) WHERE rn = 1
)
SELECT a.vec_id, CAST(a.cell AS INT) AS cluster_id,
       ROUND(a.dot / n.vnorm, 6) AS sim
FROM assign a JOIN norms n USING (vec_id)
"""


def _semantic_dedup_oracle_sql() -> str | None:
    """DuckDB oracle for ``semantic_dedup``: NumPy-replica centroid
    literals, SQL argmax-cosine assignment (lowest-cluster tie-break),
    within-cluster a<b pairwise cosines, and the non-transitive
    lowest-id-wins keep rule as a bare NOT IN. Returns None (rows-only
    fallback) if the parquet is unreadable."""
    import os

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    try:
        from fastselect_spark.similarity.ivf import train_ivf_centroids_numpy

        C = train_ivf_centroids_numpy(f"{sf_dir}/embeddings.parquet", n_cells=8)
    except Exception:
        return None
    cent_rows = ",\n    ".join(
        "({}, [{}])".format(c, ", ".join(repr(float(v)) for v in row))
        for c, row in enumerate(C)
    )
    return f"""
WITH cent(cell, cw) AS (VALUES
    {cent_rows}
),
c AS (SELECT vec_id, embedding AS ce FROM embeddings),
norms AS (
    SELECT vec_id, SQRT(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS vnorm
    FROM (SELECT vec_id, UNNEST(ce) AS x FROM c) GROUP BY 1
),
az AS (
    SELECT vec_id, cell, UNNEST(ce) AS x, UNNEST(cw) AS y FROM c, cent
),
adots AS (
    SELECT vec_id, cell, SUM(CAST(x AS DOUBLE) * y) AS dot
    FROM az GROUP BY 1, 2
),
assign AS (
    SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dot DESC, cell) AS rn
        FROM adots
    ) WHERE rn = 1
),
pairs AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM assign a JOIN assign b
      ON a.cell = b.cell AND a.vec_id < b.vec_id
),
pz AS (
    SELECT p.id_a, p.id_b, UNNEST(ca.ce) AS x, UNNEST(cb.ce) AS y
    FROM pairs p
    JOIN c ca ON ca.vec_id = p.id_a
    JOIN c cb ON cb.vec_id = p.id_b
),
dup AS (
    SELECT id_a, id_b FROM (
        SELECT pz.id_a, pz.id_b,
               SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)) AS dot
        FROM pz GROUP BY 1, 2
    ) d
    JOIN norms na ON na.vec_id = d.id_a
    JOIN norms nb ON nb.vec_id = d.id_b
    WHERE d.dot / (na.vnorm * nb.vnorm) >= 0.42
)
SELECT a.vec_id, CAST(a.cell AS INT) AS cluster_id,
       a.vec_id NOT IN (SELECT id_b FROM dup) AS kept
FROM assign a
"""


# DSIR importance weights, end-to-end in SQL: same tokenization as the
# minhash oracle (lowercase, \s+ -> ' ', space-joined bigrams, whole-text
# fallback under 2 tokens), same portable 60-bit md5 bucket hash, add-1
# smoothing over 10000 buckets on both distributions. Occurrences, NOT
# distinct shingles — these are frequency distributions.
_DSIR_LOGWEIGHTS_SQL = """
WITH docs AS MATERIALIZED (
    SELECT doc_id, lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS norm
    FROM documents
),
tok AS (SELECT doc_id, norm, string_split(norm, ' ') AS t FROM docs),
sh AS MATERIALIZED (
    SELECT doc_id,
           CASE WHEN len(t) >= 2
                THEN list_transform(
                         generate_series(1, len(t) - 1),
                         i -> array_to_string(list_slice(t, i, i + 1), ' '))
                ELSE [norm] END AS grams
    FROM tok
),
b AS MATERIALIZED (
    SELECT doc_id,
           CAST('0x' || substr(md5(UNNEST(grams)), 1, 15) AS BIGINT)
               % 10000 AS bucket
    FROM sh
),
tcnt AS (SELECT bucket, COUNT(*) AS c FROM b WHERE doc_id % 23 = 0 GROUP BY 1),
scnt AS (SELECT bucket, COUNT(*) AS c FROM b WHERE doc_id % 23 <> 0 GROUP BY 1),
ttot AS (SELECT SUM(c) AS n FROM tcnt),
stot AS (SELECT SUM(c) AS n FROM scnt),
lw AS (
    SELECT b.doc_id,
           LN((COALESCE(tc.c, 0) + 1.0) / (ttot.n + 10000.0))
         - LN((COALESCE(sc.c, 0) + 1.0) / (stot.n + 10000.0)) AS lr
    FROM b
    LEFT JOIN tcnt tc USING (bucket)
    LEFT JOIN scnt sc USING (bucket),
    ttot, stot
    WHERE b.doc_id % 23 <> 0
)
SELECT doc_id, ROUND(SUM(lr), 6) AS logw FROM lw GROUP BY 1
"""


_PPL_TERTILES_SQL = """
WITH docs AS MATERIALIZED (
    SELECT doc_id, lang,
           lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS norm
    FROM documents
),
tok AS (SELECT doc_id, lang, string_split(norm, ' ') AS t FROM docs),
b AS MATERIALIZED (
    SELECT doc_id, lang,
           CAST('0x' || substr(md5(UNNEST(t)), 1, 15) AS BIGINT)
               % 10000 AS bucket
    FROM tok
),
refcnt AS (
    SELECT bucket, COUNT(*) AS c FROM b
    WHERE lang = 'en' GROUP BY 1
),
rtot AS (SELECT SUM(c) AS n FROM refcnt),
scored AS (
    SELECT b.doc_id, b.lang, COUNT(*) AS n_tokens,
           SUM(LN((COALESCE(rc.c, 0) + 1.0) / (rtot.n + 10000.0)))
               / COUNT(*) AS meanlp
    FROM b LEFT JOIN refcnt rc USING (bucket), rtot
    GROUP BY b.doc_id, b.lang
),
r AS (
    SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens,
           ROUND(EXP(-meanlp), 6) AS ppl
    FROM scored
),
t AS (
    SELECT *, NTILE(3) OVER (PARTITION BY lang ORDER BY ppl, doc_id) AS nt
    FROM r
)
SELECT doc_id, lang, n_tokens, ppl,
       CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS tier
FROM t
"""


def _quality_classifier_oracle_sql() -> str | None:
    """DuckDB oracle for ``quality_classifier``: the independent NumPy
    replica retrains the logistic weights from the gate's parquet (same
    zero init / iterations / lr / label rule); the SQL rebuilds hashed
    bigram features (the DSIR tokenization CTEs) and scores
    sigmoid(sum(w[bucket]) / n_grams + bias) from weight literals.
    Returns None (rows-only fallback) if the parquet is unreadable."""
    import os

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    try:
        from fastselect_spark.corpus import train_quality_classifier_numpy

        w = train_quality_classifier_numpy(
            f"{sf_dir}/documents.parquet", label_mod=23, n_buckets=4096
        )
    except Exception:
        return None
    bias = repr(float(w[-1]))
    wt_rows = ",\n    ".join(
        f"({b}, {float(v)!r})" for b, v in enumerate(w[:-1]) if v != 0.0
    )
    return f"""
WITH wt(bucket, w) AS (VALUES
    {wt_rows}
),
docs AS MATERIALIZED (
    SELECT doc_id, lower(regexp_replace(trim(text), '\\s+', ' ', 'g')) AS norm
    FROM documents
),
tok AS (SELECT doc_id, norm, string_split(norm, ' ') AS t FROM docs),
sh AS MATERIALIZED (
    SELECT doc_id,
           CASE WHEN len(t) >= 2
                THEN list_transform(
                         generate_series(1, len(t) - 1),
                         i -> array_to_string(list_slice(t, i, i + 1), ' '))
                ELSE [norm] END AS grams
    FROM tok
),
b AS MATERIALIZED (
    SELECT doc_id,
           CAST('0x' || substr(md5(UNNEST(grams)), 1, 15) AS BIGINT)
               % 4096 AS bucket
    FROM sh
),
z AS (
    SELECT b.doc_id,
           COALESCE(SUM(wt.w), 0.0) / COUNT(*) + {bias} AS z
    FROM b LEFT JOIN wt USING (bucket)
    GROUP BY 1
)
SELECT doc_id, ROUND(1.0 / (1.0 + EXP(-z)), 6) AS clf_score FROM z
"""


def _pq_literals() -> str | None:
    """Shared codebook-literal VALUES body for the PQ oracles:
    ``(s, code, cvec, cn2)`` rows from the independent NumPy-replica
    trainer (m=8, k=32 — the contract config)."""
    import os

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    try:
        from fastselect_spark.similarity import train_pq_codebooks_numpy

        C = train_pq_codebooks_numpy(f"{sf_dir}/embeddings.parquet", m=8, k=32)
    except Exception:
        return None
    return ",\n    ".join(
        "({}, {}, [{}], {!r})".format(
            s,
            code,
            ", ".join(repr(float(v)) for v in C[s, code]),
            float((C[s, code] ** 2).sum()),
        )
        for s in range(C.shape[0])
        for code in range(C.shape[1])
    )


# Shared PQ assignment CTE chain (after a cw(s, code, cvec, cn2) literal
# table): nearest codeword per (vector, subspace) via the scale-invariant
# argmin(|c|^2 * |x| - 2 x·c) — identical ranking to Spark's argmin over
# the normalized vector, without per-element division.
_PQ_ASSIGN_CTES = """
c AS (SELECT vec_id, embedding AS ce FROM embeddings),
norms AS (
    SELECT vec_id, SQRT(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS vnorm
    FROM (SELECT vec_id, UNNEST(ce) AS x FROM c) GROUP BY 1
),
sz AS (
    SELECT c.vec_id, cw.s, cw.code, cw.cn2,
           UNNEST(list_slice(c.ce, cw.s * 8 + 1, cw.s * 8 + 8)) AS x,
           UNNEST(cw.cvec) AS y
    FROM c, cw
),
sd AS MATERIALIZED (
    SELECT vec_id, s, code, ANY_VALUE(cn2) AS cn2,
           SUM(CAST(x AS DOUBLE) * y) AS dot
    FROM sz GROUP BY 1, 2, 3
),
assign AS MATERIALIZED (
    SELECT vec_id, s, code, dot FROM (
        SELECT sd.vec_id, sd.s, sd.code, sd.dot,
               ROW_NUMBER() OVER (PARTITION BY sd.vec_id, sd.s
                                  ORDER BY sd.cn2 * n.vnorm - 2 * sd.dot,
                                           sd.code) AS rn
        FROM sd JOIN norms n USING (vec_id)
    ) WHERE rn = 1
)
"""


def _pq_codes_oracle_sql() -> str | None:
    lits = _pq_literals()
    if lits is None:
        return None
    return f"""
WITH cw(s, code, cvec, cn2) AS (VALUES
    {lits}
),
{_PQ_ASSIGN_CTES}
SELECT vec_id, CAST(s AS INT) AS subspace, CAST(code AS INT) AS code
FROM assign
"""


def _pq_topk_oracle_sql() -> str | None:
    lits = _pq_literals()
    if lits is None:
        return None
    return f"""
WITH cw(s, code, cvec, cn2) AS (VALUES
    {lits}
),
{_PQ_ASSIGN_CTES},
-- query LUT: dot(normalized query subvector, codeword) per (q, s, code)
qlut AS MATERIALIZED (
    SELECT sd.vec_id AS query_id, sd.s, sd.code, sd.dot / n.vnorm AS qdot
    FROM sd JOIN norms n USING (vec_id)
    WHERE sd.vec_id < 5
),
adc AS (
    SELECT ql.query_id, a.vec_id AS neighbor_id, SUM(ql.qdot) AS adc
    FROM assign a JOIN qlut ql ON ql.s = a.s AND ql.code = a.code
    WHERE a.vec_id <> ql.query_id
    GROUP BY 1, 2
),
r AS (
    SELECT query_id, neighbor_id, adc,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY adc DESC, neighbor_id) AS rank
    FROM adc
)
SELECT query_id, neighbor_id, ROUND(adc, 6) AS adc, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 5
"""


def _cluster_balanced_sample_oracle_sql() -> str | None:
    """DuckDB oracle for ``cluster_balanced_sample``: centroid-literal
    assignment + cosine (as the kmeans_clusters oracle), then the
    per-cluster quota rank (sim DESC, vec_id tie-break, top 20). Returns
    None (rows-only fallback) if the parquet is unreadable."""
    import os

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    try:
        from fastselect_spark.similarity.ivf import train_ivf_centroids_numpy

        C = train_ivf_centroids_numpy(f"{sf_dir}/embeddings.parquet", n_cells=8)
    except Exception:
        return None
    cent_rows = ",\n    ".join(
        "({}, [{}])".format(c, ", ".join(repr(float(v)) for v in row))
        for c, row in enumerate(C)
    )
    return f"""
WITH cent(cell, cw) AS (VALUES
    {cent_rows}
),
c AS (SELECT vec_id, embedding AS ce FROM embeddings),
norms AS (
    SELECT vec_id, SQRT(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS vnorm
    FROM (SELECT vec_id, UNNEST(ce) AS x FROM c) GROUP BY 1
),
az AS (
    SELECT vec_id, cell, UNNEST(ce) AS x, UNNEST(cw) AS y FROM c, cent
),
adots AS (
    SELECT vec_id, cell, SUM(CAST(x AS DOUBLE) * y) AS dot
    FROM az GROUP BY 1, 2
),
assign AS (
    SELECT a.vec_id, a.cell, a.dot / n.vnorm AS sim FROM (
        SELECT vec_id, cell, dot,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dot DESC, cell) AS rn
        FROM adots
    ) a JOIN norms n USING (vec_id) WHERE a.rn = 1
),
ranked AS (
    SELECT vec_id, cell, sim,
           ROW_NUMBER() OVER (PARTITION BY cell
                              ORDER BY sim DESC, vec_id) AS cluster_rank
    FROM assign
)
SELECT vec_id, CAST(cell AS INT) AS cluster_id,
       CAST(cluster_rank AS INT) AS cluster_rank, ROUND(sim, 6) AS sim
FROM ranked WHERE cluster_rank <= 20
"""


def _pca_projection_oracle_sql() -> str | None:
    """DuckDB oracle for ``pca_projection``: the independent NumPy replica
    trains mean/components from the gate's parquet; the SQL projects
    (emb - mean) onto each component with zipped UNNESTs. Returns None
    (rows-only fallback) if the parquet is unreadable."""
    import os

    sf_dir = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
    try:
        from fastselect_spark.similarity import train_pca_numpy

        mean, comps, _ = train_pca_numpy(f"{sf_dir}/embeddings.parquet", 4)
    except Exception:
        return None
    mean_lit = "[{}]".format(", ".join(repr(float(v)) for v in mean))
    comp_rows = ",\n    ".join(
        "({}, [{}])".format(j, ", ".join(repr(float(v)) for v in row))
        for j, row in enumerate(comps)
    )
    return f"""
WITH comp(component, cw) AS (VALUES
    {comp_rows}
),
e AS (SELECT vec_id, embedding AS ce FROM embeddings),
z AS (
    SELECT vec_id, component,
           UNNEST(ce) AS x, UNNEST(cw) AS w, UNNEST({mean_lit}) AS m
    FROM e, comp
)
SELECT vec_id, CAST(component AS INT) AS component,
       ROUND(SUM((CAST(x AS DOUBLE) - m) * w), 6) AS value
FROM z GROUP BY 1, 2
"""


def _pearson_closure_sql(cols: list[str]) -> tuple[str, str]:
    """(sums select-list, UNION ALL pair rows) for the Pearson closure
    (n*Sij - Si*Sj) / (sqrt(n*Sii - Si*Si) * sqrt(n*Sjj - Sj*Sj)) over a
    CTE ``featc`` with columns x0..x{p-1} — shared by the Pearson and
    Spearman oracles; sums are exact (integer / half-integer features),
    so the quotient is IEEE-identical cross-engine before the shared
    half-away ROUND."""
    sums = ",\n           ".join(
        [f"SUM(x{i}) AS s{i}" for i in range(len(cols))]
        + [
            f"SUM(x{i} * x{j}) AS x{i}_{j}"
            for i in range(len(cols))
            for j in range(i, len(cols))
        ]
    )
    pair_rows = "\n        UNION ALL\n".join(
        f"""        SELECT '{cols[i]}' AS feature_a, '{cols[j]}' AS feature_b,
               ROUND((n * x{i}_{j} - s{i} * s{j})
                     / (SQRT(n * x{i}_{i} - s{i} * s{i})
                        * SQRT(n * x{j}_{j} - s{j} * s{j})), 6) AS corr
        FROM s"""
        for i in range(len(cols))
        for j in range(i + 1, len(cols))
    )
    return sums, pair_rows


def _corr_oracle_sql() -> str:
    """Mirror of _q_feature_correlations (see _pearson_closure_sql)."""
    sums, pair_rows = _pearson_closure_sql(_CORR_FEATURES)
    return (
        _FEATURIZE_BASE
        + f""",
    featc AS (
        SELECT CAST(n_tokens AS DOUBLE) AS x0,
               CAST(turn_gap_s AS DOUBLE) AS x1,
               CAST(ROW_NUMBER() OVER (PARTITION BY conv_id, role_run_id
                    ORDER BY turn_idx) AS DOUBLE) AS x2,
               CAST(tool_calls_so_far AS DOUBLE) AS x3,
               CAST(label AS DOUBLE) AS x4
        FROM feat
    ),
    s AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
           {sums}
        FROM featc
    )
{pair_rows}
    """
    )


def _spearman_oracle_sql() -> str:
    """Mirror of _q_spearman_correlations: average ranks = RANK() +
    (cnt_eq - 1)/2 per feature (== the distributed kernel's first_rn +
    (cnt - 1)/2, selection/rank.py), then the shared Pearson closure over
    the ranks (integer/half-integer, sums exact)."""
    cols = _CORR_FEATURES
    run_len = (
        "(ROW_NUMBER() OVER (PARTITION BY conv_id, role_run_id"
        " ORDER BY turn_idx))"
    )
    melt = "\n            UNION ALL ".join(
        f"SELECT conv_id || ':' || turn_idx AS id, '{c}' AS feature, "
        f"CAST({run_len if c == 'role_run_len' else c} AS DOUBLE)"
        f" AS value FROM feat"
        for c in cols
    )
    pivots = ",\n               ".join(
        f"MAX(CASE WHEN feature = '{cols[i]}' THEN rank END) AS x{i}"
        for i in range(len(cols))
    )
    sums, pair_rows = _pearson_closure_sql(cols)
    return (
        _FEATURIZE_BASE
        + f""",
    melted AS (
            {melt}
    ),
    ranked AS (
        SELECT id, feature,
               RANK() OVER (PARTITION BY feature ORDER BY value)
               + (COUNT(*) OVER (PARTITION BY feature, value) - 1) / 2.0
                   AS rank
        FROM melted
    ),
    featc AS (
        SELECT id,
               {pivots}
        FROM ranked GROUP BY id
    ),
    s AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
           {sums}
        FROM featc
    )
{pair_rows}
    """
    )


def _mmr_oracle_sql(lam: float = 0.7, k: int = 3, pool: int = 8) -> str:
    """Mirror of _q_mmr_rerank: the exact-top-pool CTE (unrounded-cosine
    rank, rounded rel output — same as _EMBED_TOPK_ORACLE), the rounded
    pool-pair sim table, then the greedy unrolled one MATERIALIZED CTE
    per step. The lambda / (1-lambda) literals are repr'd from the SAME
    Python floats the driver greedy multiplies with (1-0.7 is NOT the
    double 0.3 — injecting repr avoids that classic mismatch)."""
    lam_l = repr(float(lam))
    om_l = repr(1.0 - float(lam))
    steps = []
    selected = ["s1"]
    for t in range(2, k + 1):
        prev = selected[-1]
        sim_joins = "\n          ".join(
            f"JOIN simlk sl{i} ON sl{i}.query_id = p.query_id "
            f"AND sl{i}.i = p.nid AND sl{i}.j = {s}.nid"
            for i, s in enumerate(selected, 1)
        )
        sel_joins = "\n          ".join(
            f"JOIN {s} ON {s}.query_id = p.query_id" for s in selected
        )
        not_in = " AND ".join(f"p.nid <> {s}.nid" for s in selected)
        maxsim = (
            f"GREATEST({', '.join(f'sl{i}.sim' for i in range(1, len(selected) + 1))})"
            if len(selected) > 1
            else "sl1.sim"
        )
        steps.append(f"""
    c{t} AS MATERIALIZED (
        SELECT p.query_id, p.nid, p.rel,
               {lam_l} * p.rel - {om_l} * {maxsim} AS score
        FROM pool p
          {sel_joins}
          {sim_joins}
        WHERE {not_in}
    ),
    s{t} AS MATERIALIZED (
        SELECT query_id, nid, rel FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY score DESC, nid) AS rn FROM c{t}
        ) WHERE rn = 1
    )""")
        selected.append(f"s{t}")
    union = "\n    UNION ALL ".join(
        f"SELECT query_id, {t} AS rank, nid AS neighbor_id, rel AS relevance FROM s{t}"
        for t in range(1, k + 1)
    )
    return f"""
    WITH q AS MATERIALIZED (
        SELECT vec_id AS query_id, embedding AS qe
        FROM embeddings WHERE vec_id < 5
    ),
    c AS (SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings),
    z AS (
        SELECT query_id, neighbor_id, UNNEST(qe) AS x, UNNEST(ce) AS y
        FROM q, c WHERE query_id <> neighbor_id
    ),
    s AS (
        SELECT query_id, neighbor_id,
               SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
               / (SQRT(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
                  * SQRT(SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))) AS cosine
        FROM z GROUP BY 1, 2
    ),
    pool AS MATERIALIZED (
        SELECT query_id, neighbor_id AS nid, ROUND(cosine, 6) AS rel FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id) AS rk FROM s
        ) WHERE rk <= {pool}
    ),
    pe AS MATERIALIZED (
        SELECT vec_id AS id, embedding AS e FROM embeddings
        WHERE vec_id IN (SELECT nid FROM pool)
    ),
    pz AS (
        SELECT pa.query_id, pa.nid AS id_a, pb.nid AS id_b,
               UNNEST(ea.e) AS x, UNNEST(eb.e) AS y
        FROM pool pa
        JOIN pool pb ON pb.query_id = pa.query_id AND pa.nid < pb.nid
        JOIN pe ea ON ea.id = pa.nid
        JOIN pe eb ON eb.id = pb.nid
    ),
    psim AS MATERIALIZED (
        SELECT query_id, id_a, id_b,
               ROUND(SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
               / (SQRT(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
                  * SQRT(SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))), 6)
                   AS sim
        FROM pz GROUP BY 1, 2, 3
    ),
    simlk AS MATERIALIZED (
        SELECT query_id, id_a AS i, id_b AS j, sim FROM psim
        UNION ALL SELECT query_id, id_b, id_a, sim FROM psim
    ),
    s1 AS MATERIALIZED (
        SELECT query_id, nid, rel FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                       ORDER BY rel DESC, nid) AS rn FROM pool
        ) WHERE rn = 1
    ){''.join(',' + st for st in steps)}
    {union}
    """


def _cat_assoc_oracle_sql() -> str:
    """Mirror of _q_categorical_associations: per ordered pair, the
    contingency from nonzero cells + the missing-cell chi2 correction
    (zero cells contribute e, so chi2 = Σ_present (c−e)²/e + n − Σ_present e),
    entropies over nonzero cells, ROUND(.,6) absorbing SQL-vs-NumPy
    summation-order ulps (the anova/psi precedent)."""
    cols = ["lang", "source", "lb"]
    blocks = []
    for a in cols:
        for b in cols:
            if a == b:
                continue
            blocks.append(f"""
        SELECT '{a}' AS col_a, '{b}' AS col_b,
               ROUND(CASE WHEN LEAST(R - 1, C2 - 1) > 0
                    THEN SQRT((chi2 / n) / LEAST(R - 1, C2 - 1))
                    ELSE 0.0 END, 6) AS cramers_v,
               ROUND(CASE WHEN ha > 0.0 THEN (ha - hab) / ha
                    ELSE 1.0 END, 6) AS theils_u
        FROM (
            SELECT SUM((c - ri * cj / n) * (c - ri * cj / n) / (ri * cj / n))
                       + MAX(n) - SUM(ri * cj / n) AS chi2,
                   MAX(n) AS n,
                   COUNT(DISTINCT va) AS R, COUNT(DISTINCT vb) AS C2,
                   SUM(-(c / n) * LN(c / cj)) AS hab
            FROM (
                SELECT va, vb, c,
                       SUM(c) OVER () AS n,
                       SUM(c) OVER (PARTITION BY va) AS ri,
                       SUM(c) OVER (PARTITION BY vb) AS cj
                FROM (
                    SELECT {a} AS va, {b} AS vb,
                           CAST(COUNT(*) AS DOUBLE) AS c
                    FROM d GROUP BY 1, 2
                )
            )
        ),
        (
            SELECT -SUM((ri / n) * LN(ri / n)) AS ha FROM (
                SELECT DISTINCT va, ri, n FROM (
                    SELECT va, c,
                           SUM(c) OVER () AS n,
                           SUM(c) OVER (PARTITION BY va) AS ri
                    FROM (
                        SELECT {a} AS va, CAST(COUNT(*) AS DOUBLE) AS c
                        FROM d GROUP BY 1
                    )
                )
            )
        )""")
    body = "\n        UNION ALL".join(blocks)
    return f"""
    WITH d AS (
        SELECT CAST(lang AS STRING) AS lang, CAST(source AS STRING) AS source,
               CAST(CAST(FLOOR(LENGTH(text) / 400) AS INT) AS STRING) AS lb
        FROM documents
    )
    {body}
    """


def _profile_drift_oracle_sql() -> str:
    """Mirror of _q_profile_drift: the table_profile SQL body applied to
    each doc_id-parity half (same melt, same modal tie-break), full-outer
    joined; null fractions are exact-integer quotients."""
    cols = ["lang", "source", "LENGTH(text)"]
    names = ["lang", "source", "n_chars"]

    def half(g: int, tag: str) -> str:
        melt = "\n            UNION ALL ".join(
            f"SELECT '{n}' AS col, CAST({c} AS STRING) AS value "
            f"FROM documents WHERE doc_id % 2 = {g}"
            for c, n in zip(cols, names)
        )
        return f"""
    m{tag} AS (
            {melt}
    ),
    pv{tag} AS (SELECT col, value, COUNT(*) AS cnt FROM m{tag} GROUP BY 1, 2),
    p{tag} AS (
        SELECT col,
               CAST(SUM(cnt) AS BIGINT) AS n_rows,
               CAST(SUM(CASE WHEN value IS NULL THEN cnt ELSE 0 END)
                    AS BIGINT) AS n_null,
               CAST(COUNT(CASE WHEN value IS NOT NULL THEN 1 END) AS BIGINT)
                   AS n_distinct,
               MAX(CASE WHEN rk = 1 AND value IS NOT NULL THEN value END)
                   AS top_value
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY col
                ORDER BY (value IS NULL) ASC, cnt DESC, value ASC
            ) AS rk FROM pv{tag}
        ) GROUP BY col
    )"""

    return f"""
    WITH {half(0, 'a')},
    {half(1, 'b')}
    SELECT COALESCE(a.col, b.col) AS "column",
           a.n_rows AS n_rows_a, b.n_rows AS n_rows_b,
           ROUND(CAST(a.n_null AS DOUBLE) / CAST(a.n_rows AS DOUBLE), 9)
               AS null_frac_a,
           ROUND(CAST(b.n_null AS DOUBLE) / CAST(b.n_rows AS DOUBLE), 9)
               AS null_frac_b,
           ROUND(CAST(b.n_null AS DOUBLE) / CAST(b.n_rows AS DOUBLE)
                 - CAST(a.n_null AS DOUBLE) / CAST(a.n_rows AS DOUBLE), 9)
               AS null_frac_delta,
           a.n_distinct AS n_distinct_a, b.n_distinct AS n_distinct_b,
           a.top_value AS top_value_a, b.top_value AS top_value_b,
           CAST(NOT (a.top_value IS NOT DISTINCT FROM b.top_value) AS INT)
               AS top_changed
    FROM pa a FULL OUTER JOIN pb b ON a.col = b.col
    """


def _profile_oracle_sql() -> str:
    """Mirror of corpus/profile.py table_profile over _PROFILE_COLS:
    same string canonicalization, same (nulls-last, count DESC, value ASC)
    modal tie-break — binary string collation on both engines."""
    melt = "\n        UNION ALL ".join(
        f"SELECT '{c}' AS col, CAST({c} AS STRING) AS value FROM documents"
        for c in _PROFILE_COLS
    )
    return f"""
    WITH m AS (
        {melt}
    ),
    pv AS (SELECT col, value, COUNT(*) AS cnt FROM m GROUP BY 1, 2),
    rk AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY col
            ORDER BY (value IS NULL) ASC, cnt DESC, value ASC
        ) AS rk
        FROM pv
    )
    SELECT col AS "column",
           CAST(SUM(cnt) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN value IS NULL THEN cnt ELSE 0 END) AS BIGINT)
               AS n_null,
           CAST(COUNT(CASE WHEN value IS NOT NULL THEN 1 END) AS BIGINT)
               AS n_distinct,
           MIN(value) AS min_value,
           MAX(value) AS max_value,
           MAX(CASE WHEN rk = 1 AND value IS NOT NULL THEN value END)
               AS top_value,
           CAST(MAX(CASE WHEN rk = 1 AND value IS NOT NULL THEN cnt END)
               AS BIGINT) AS top_count
    FROM rk GROUP BY col
    """


def oracle_sql() -> dict[str, str]:
    out = {
        "feature_correlations": _corr_oracle_sql(),
        "spearman_correlations": _spearman_oracle_sql(),
        "table_profile": _profile_oracle_sql(),
        "dataset_checksum": _dataset_checksum_oracle_sql(),
        "profile_drift": _profile_drift_oracle_sql(),
        "categorical_associations": _cat_assoc_oracle_sql(),
        "kendall_correlations": _kendall_oracle_sql(),
        # thresholds: plain FLOOR truncation of (ratio*min/cnt)*1e6 — the
        # Spark side uses int() truncation on the same IEEE double, so no
        # rounding-mode divergence; hash = the shared 60-bit md5 family
        "class_rebalance": """
        WITH c AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang),
        t AS (
            SELECT lang,
                   CASE WHEN (1.0 * (SELECT MIN(cnt) FROM c)) / cnt >= 1.0
                        THEN 1000000
                        ELSE CAST(FLOOR(((1.0 * (SELECT MIN(cnt) FROM c)) / cnt)
                                        * 1000000) AS BIGINT)
                   END AS thr
            FROM c
        )
        SELECT d.doc_id, d.lang, d.source
        FROM documents d JOIN t USING (lang)
        WHERE CAST('0x' || substr(md5('42:' || CAST(d.doc_id AS STRING)), 1, 15)
                   AS BIGINT) % 1000000 < t.thr
        """,
        "fisher_scores": _FISHER_ORACLE,
        "text_stats": f"""
        SELECT doc_id,
               CAST(LEN(STRING_SPLIT_REGEX(TRIM(text), '\\s+')) AS INT) AS n_ws_tokens,
               CAST(LEN(REGEXP_EXTRACT_ALL(text,
                    '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS INT) AS n_bpe_tokens,
               ROUND({_QUALITY_EXPR}, 6) AS quality_score,
               ROUND(
                   LEN(LIST_FILTER(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+'),
                       t -> t IN ('the','a','an','and','or','of','to','in','is',
                                  'it','that','for','on','with','as','was','at',
                                  'by','be','this'))) * 1.0
                   / GREATEST(LEN(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+')), 1),
               6) AS stopword_ratio
        FROM documents
        """,
        "lang_quality_by_source": f"""
        SELECT lang, source, COUNT(*) AS n_docs,
               ROUND(AVG({_QUALITY_EXPR}), 6) AS avg_quality,
               ROUND(AVG(LENGTH(text)), 4) AS avg_chars
        FROM documents GROUP BY lang, source
        """,
        "fingerprints": """
        SELECT doc_id,
               MD5(LOWER(REGEXP_REPLACE(TRIM(text), '\\s+', ' ', 'g'))) AS fp_exact
        FROM documents
        """,
        # composition oracle: the pii_redaction chain (email+SSN planting) →
        # the dedup_spans CTEs on the redacted text → the exact-dedup
        # fingerprint keep-rule → per-(lang, source) rollup
        "corpus_prep_pipeline": r"""
        WITH planted AS (
            SELECT doc_id,
                   text
                   || CASE WHEN doc_id % 3 = 0 THEN ' contact user'
                        || CAST(doc_id AS STRING) || '@ex'
                        || CAST(doc_id % 7 AS STRING) || '.com' ELSE '' END
                   || CASE WHEN doc_id % 5 = 0 THEN ' ssn 123-45-'
                        || lpad(CAST(doc_id % 10000 AS STRING), 4, '0') ELSE '' END
                   AS t0
            FROM documents
        ),
        s1 AS (
            SELECT doc_id,
                   CAST(len(regexp_extract_all(t0,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
                   regexp_replace(t0,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g') AS t1
            FROM planted
        ),
        s2 AS (
            SELECT doc_id, n_email,
                   CAST(len(regexp_extract_all(t1,
                       '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ipv4,
                   regexp_replace(t1,
                       '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b',
                       '<IP>', 'g') AS t2
            FROM s1
        ),
        s3 AS (
            SELECT doc_id, n_email, n_ipv4,
                   CAST(len(regexp_extract_all(t2,
                       '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b')) AS BIGINT) AS n_ssn,
                   regexp_replace(t2,
                       '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '<SSN>', 'g') AS t3
            FROM s2
        ),
        s4 AS (
            SELECT doc_id, n_email, n_ipv4, n_ssn,
                   CAST(len(regexp_extract_all(t3,
                       '(?:\+|\b)[0-9][0-9 -]{7,13}[0-9]\b')) AS BIGINT) AS n_phone,
                   regexp_replace(t3,
                       '(?:\+|\b)[0-9][0-9 -]{7,13}[0-9]\b', '<PHONE>', 'g') AS t4
            FROM s3
        ),
        pii AS (
            SELECT doc_id, n_email + n_ipv4 + n_ssn + n_phone AS n_pii, t4
            FROM s4
        ),
        toks AS (
            SELECT doc_id,
                   string_split(regexp_replace(trim(lower(coalesce(t4, ''))),
                                               '\s+', ' ', 'g'), ' ') AS w
            FROM pii
        ),
        spans0 AS (
            SELECT doc_id, w,
                   unnest(range(CAST(ceil(len(w) / 8.0) AS BIGINT))) AS g
            FROM toks
        ),
        spans AS (
            SELECT doc_id, CAST(g AS INT) AS pos,
                   array_to_string(w[(g*8+1):((g+1)*8)], ' ') AS span
            FROM spans0
        ),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY span
                                         ORDER BY doc_id, pos) AS rn
            FROM spans
        ),
        sdoc AS (
            SELECT doc_id,
                   COUNT(*) AS n_spans,
                   CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                   COALESCE(STRING_AGG(CASE WHEN rn = 1 THEN span END, ' '
                                       ORDER BY pos), '') AS text_dedup
            FROM ranked GROUP BY doc_id
        ),
        fp AS (
            SELECT *, MD5(LOWER(REGEXP_REPLACE(TRIM(text_dedup),
                                               '\s+', ' ', 'g'))) AS fpx
            FROM sdoc
        ),
        keep AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY fpx
                                         ORDER BY doc_id) AS krn
            FROM fp
        )
        SELECT d.lang, d.source,
               COUNT(*) AS n_docs_out,
               CAST(SUM(p.n_pii) AS BIGINT) AS pii_total,
               CAST(SUM(k.n_spans) AS BIGINT) AS spans_total,
               CAST(SUM(k.n_kept) AS BIGINT) AS spans_kept
        FROM keep k
        JOIN pii p USING (doc_id)
        JOIN documents d USING (doc_id)
        WHERE krn = 1
        GROUP BY d.lang, d.source
        """,
        # full BM25 recomputation: same tokenizer, Lucene idf, rounded-score
        # ranking (round-then-rank on both engines, doc_id tie-break)
        "bm25_topk": r"""
        WITH toked AS (
            SELECT doc_id,
                   string_split(regexp_replace(trim(lower(coalesce(text, ''))),
                                               '\s+', ' ', 'g'), ' ') AS w
            FROM documents
        ),
        dls AS (SELECT doc_id, len(w) AS dl, w FROM toked),
        stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dls),
        qterms(query_id, term) AS (
            VALUES (0, 'spark'), (0, 'window'),
                   (1, 'hash'), (1, 'join'),
                   (2, 'batch'), (2, 'merge'), (2, 'stream')
        ),
        tok AS (SELECT doc_id, dl, unnest(w) AS term FROM dls),
        postings AS (
            SELECT doc_id, term, COUNT(*) AS tf, MIN(dl) AS dl
            FROM tok WHERE term IN (SELECT DISTINCT term FROM qterms)
            GROUP BY doc_id, term
        ),
        dfreq AS (SELECT term, COUNT(*) AS df FROM postings GROUP BY term),
        idf AS (
            SELECT term, ln(1 + (s.n_docs - df + 0.5) / (df + 0.5)) AS idf
            FROM dfreq, stats s
        ),
        contrib AS (
            SELECT q.query_id, p.doc_id,
                   i.idf * (p.tf * (1.2 + 1.0))
                   / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * p.dl / s.avgdl)) AS c
            FROM postings p
            JOIN idf i USING (term)
            JOIN qterms q USING (term), stats s
        ),
        scored AS (
            SELECT query_id, doc_id, ROUND(SUM(c), 6) AS score
            FROM contrib GROUP BY query_id, doc_id
        ),
        ranked AS (
            SELECT query_id, doc_id, score,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY score DESC, doc_id) AS rank
            FROM scored
        )
        SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rank AS INT) AS rank,
               doc_id, score
        FROM ranked WHERE rank <= 5
        """,
        # byte-identical regex patterns (Java-regex ∩ RE2 subset) and the
        # same staged priority chain as text/pii.py
        "pii_redaction": r"""
        WITH planted AS (
            SELECT doc_id,
                   text
                   || CASE WHEN doc_id % 3 = 0 THEN ' contact user'
                        || CAST(doc_id AS STRING) || '@ex'
                        || CAST(doc_id % 7 AS STRING) || '.com' ELSE '' END
                   || CASE WHEN doc_id % 4 = 0 THEN ' ip 10.'
                        || CAST(doc_id % 256 AS STRING) || '.0.'
                        || CAST(doc_id % 100 AS STRING) ELSE '' END
                   || CASE WHEN doc_id % 5 = 0 THEN ' ssn 123-45-'
                        || lpad(CAST(doc_id % 10000 AS STRING), 4, '0') ELSE '' END
                   || CASE WHEN doc_id % 6 = 0 THEN ' call +1 555-01'
                        || lpad(CAST(doc_id % 100 AS STRING), 2, '0') ELSE '' END
                   AS t0
            FROM documents
        ),
        s1 AS (
            SELECT doc_id,
                   CAST(len(regexp_extract_all(t0,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
                   regexp_replace(t0,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g') AS t1
            FROM planted
        ),
        s2 AS (
            SELECT doc_id, n_email,
                   CAST(len(regexp_extract_all(t1,
                       '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ipv4,
                   regexp_replace(t1,
                       '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b',
                       '<IP>', 'g') AS t2
            FROM s1
        ),
        s3 AS (
            SELECT doc_id, n_email, n_ipv4,
                   CAST(len(regexp_extract_all(t2,
                       '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b')) AS BIGINT) AS n_ssn,
                   regexp_replace(t2,
                       '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '<SSN>', 'g') AS t3
            FROM s2
        ),
        s4 AS (
            SELECT doc_id, n_email, n_ipv4, n_ssn,
                   CAST(len(regexp_extract_all(t3,
                       '(?:\+|\b)[0-9][0-9 -]{7,13}[0-9]\b')) AS BIGINT) AS n_phone,
                   regexp_replace(t3,
                       '(?:\+|\b)[0-9][0-9 -]{7,13}[0-9]\b', '<PHONE>', 'g') AS t4
            FROM s3
        )
        SELECT doc_id, n_email, n_ipv4, n_ssn, n_phone,
               n_email + n_ipv4 + n_ssn + n_phone AS n_pii,
               t4 AS text_redacted
        FROM s4
        """,
        "dedup_exact_groups": """
        WITH corpus AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000 AS doc_id, text FROM documents
            WHERE doc_id % 7 = 0
        ),
        fp AS (
            SELECT doc_id,
                   MD5(LOWER(REGEXP_REPLACE(TRIM(text), '\\s+', ' ', 'g'))) AS fp_exact
            FROM corpus
        )
        SELECT fp_exact, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        FROM fp GROUP BY 1 HAVING COUNT(*) > 1
        """,
        "ngram_jaccard": _NGRAM_ORACLE,
        # prefix filtering is exact: same brute-force threshold-join oracle
        "prefix_jaccard": _NGRAM_ORACLE,
        "dedup_spans": r"""
        WITH toks AS (
            SELECT doc_id,
                   string_split(regexp_replace(trim(lower(coalesce(text, ''))),
                                               '\s+', ' ', 'g'), ' ') AS w
            FROM documents
        ),
        spans0 AS (
            SELECT doc_id, w,
                   unnest(range(CAST(ceil(len(w) / 8.0) AS BIGINT))) AS g
            FROM toks
        ),
        spans AS (
            SELECT doc_id, CAST(g AS INT) AS pos,
                   array_to_string(w[(g*8+1):((g+1)*8)], ' ') AS span
            FROM spans0
        ),
        ranked AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY span
                                         ORDER BY doc_id, pos) AS rn
            FROM spans
        )
        SELECT doc_id,
               COUNT(*) AS n_spans,
               CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               COALESCE(STRING_AGG(CASE WHEN rn = 1 THEN span END, ' '
                                   ORDER BY pos), '') AS text_dedup
        FROM ranked GROUP BY doc_id
        """,
        "dedup_components": _COMPONENTS_ORACLE,
        "embedding_topk": _EMBED_TOPK_ORACLE,
        "mmr_rerank": _mmr_oracle_sql(),
        # seed-deterministic recall 1.0 at its operating point (12x6-bit
        # tables, multiprobe): the exact top-k SQL is the regression oracle
        "ann_lsh_topk": _EMBED_TOPK_ORACLE,
        "ann_sq8_topk": _SQ8_TOPK_ORACLE,
        # n_exact is genuinely recomputed (exact top-5 per query); the
        # recall>=0.8 claim hash-checks against TRUE — a probe-path recall
        # regression mismatches the row
        "ann_ivf_recall": f"""
        WITH q AS (SELECT vec_id AS query_id, embedding AS qe
                   FROM embeddings WHERE vec_id < 5),
        c AS (SELECT vec_id AS neighbor_id, embedding AS ce FROM embeddings),
        z AS (
            SELECT query_id, neighbor_id, UNNEST(qe) AS x, UNNEST(ce) AS y
            FROM q, c WHERE query_id <> neighbor_id
        ),
        s AS (
            SELECT query_id, neighbor_id,
                   SUM(CAST(x AS DOUBLE) * CAST(y AS DOUBLE))
                   / (SQRT(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
                      * SQRT(SUM(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))) AS cosine
            FROM z GROUP BY 1, 2
        ),
        r AS (
            SELECT query_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, neighbor_id) AS rank
            FROM s
        )
        SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_exact,
               TRUE AS recall_ge_080
        FROM r WHERE rank <= 5 GROUP BY query_id
        """,
        "transcripts_derive": TRANSCRIPTS_FROM_EVENTS_SQL,
        "featurize_sessions": _FEATURIZE_BASE
        + """
        SELECT conv_id, turn_idx, turn_gap_s,
               CAST(session_id AS BIGINT) AS session_id,
               CAST(ROW_NUMBER() OVER (PARTITION BY conv_id, role_run_id
                    ORDER BY turn_idx) AS BIGINT) AS role_run_len,
               CAST(tool_calls_so_far AS BIGINT) AS tool_calls_so_far,
               CAST(label AS INT) AS label
        FROM feat
        """,
        "featurize_rolling": _FEATURIZE_BASE
        + """
        SELECT conv_id, turn_idx, n_tokens,
               ROUND(SUM(n_tokens) OVER w5, 6)  AS tokens_sum_5,
               ROUND(AVG(n_tokens) OVER w5, 6)  AS tokens_avg_5,
               ROUND(SUM(n_tokens) OVER (PARTITION BY conv_id
                     ORDER BY FLOOR(EPOCH(ts))
                     RANGE BETWEEN 600 PRECEDING AND CURRENT ROW), 6) AS tokens_sum_10m
        FROM feat
        WINDOW w5 AS (PARTITION BY conv_id ORDER BY turn_idx
                      ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
        """,
        # boundaries: quantile_cont == Spark exact percentile (linear
        # interpolation, established bit-equal by the quantile_prep oracle);
        # fold columns are the same strict-> counting logic on both engines
        "walkforward_folds": f"""
        WITH transcripts AS ({TRANSCRIPTS_FROM_EVENTS_SQL}),
        t AS (
            SELECT conv_id, turn_idx,
                   CAST(FLOOR(EPOCH(ts)) AS DOUBLE) AS ep
            FROM transcripts
        ),
        b AS (
            SELECT quantile_cont(ep, [0.2, 0.4, 0.6, 0.8]) AS q FROM t
        )
        SELECT conv_id, turn_idx,
               CAST(CAST(ep > q[1] AS INT) + CAST(ep > q[2] AS INT)
                    + CAST(ep > q[3] AS INT) + CAST(ep > q[4] AS INT)
                    AS INT) AS val_fold,
               CASE WHEN 1 + CAST(ep > q[1] - 120.0 AS INT)
                         + CAST(ep > q[2] - 120.0 AS INT)
                         + CAST(ep > q[3] - 120.0 AS INT)
                         + CAST(ep > q[4] - 120.0 AS INT) <= 4
                    THEN CAST(1 + CAST(ep > q[1] - 120.0 AS INT)
                         + CAST(ep > q[2] - 120.0 AS INT)
                         + CAST(ep > q[3] - 120.0 AS INT)
                         + CAST(ep > q[4] - 120.0 AS INT) AS INT)
               END AS first_train_fold
        FROM t, b
        """,
        "multi_horizon_features": _FEATURIZE_BASE
        + """
        SELECT conv_id, turn_idx,
               CAST(COUNT(n_tokens) OVER h60 AS BIGINT)  AS n_tokens_cnt_60s,
               ROUND(SUM(n_tokens) OVER h60, 6)          AS n_tokens_sum_60s,
               ROUND(AVG(n_tokens) OVER h60, 6)          AS n_tokens_avg_60s,
               ROUND(COUNT(n_tokens) OVER h60 / 1.0, 6)  AS n_tokens_per_min_60s,
               CAST(COUNT(n_tokens) OVER h600 AS BIGINT) AS n_tokens_cnt_600s,
               ROUND(SUM(n_tokens) OVER h600, 6)         AS n_tokens_sum_600s,
               ROUND(AVG(n_tokens) OVER h600, 6)         AS n_tokens_avg_600s
        FROM feat
        WINDOW h60 AS (PARTITION BY conv_id ORDER BY FLOOR(EPOCH(ts))
                       RANGE BETWEEN 60 PRECEDING AND CURRENT ROW),
               h600 AS (PARTITION BY conv_id ORDER BY FLOOR(EPOCH(ts))
                        RANGE BETWEEN 600 PRECEDING AND CURRENT ROW)
        """,
        "role_transitions": f"""
        WITH transcripts AS ({TRANSCRIPTS_FROM_EVENTS_SQL}),
        pairs AS (
            SELECT role AS from_role,
                   LEAD(role) OVER (PARTITION BY conv_id
                                    ORDER BY turn_idx) AS to_role
            FROM transcripts
        ),
        cnt AS (
            SELECT from_role, to_role, COUNT(*) AS n
            FROM pairs WHERE to_role IS NOT NULL GROUP BY 1, 2
        )
        SELECT from_role, to_role, CAST(n AS BIGINT) AS n,
               ROUND(CAST(n AS DOUBLE)
                     / SUM(n) OVER (PARTITION BY from_role), 6) AS p
        FROM cnt
        """,
        "backfill_last_tool": f"""
        WITH transcripts AS ({TRANSCRIPTS_FROM_EVENTS_SQL})
        SELECT conv_id, turn_idx,
               LAST_VALUE(tool IGNORE NULLS) OVER (PARTITION BY conv_id
                   ORDER BY turn_idx ROWS UNBOUNDED PRECEDING) AS tool_ffill
        FROM transcripts
        """,
        "lag_lead": f"""
        WITH transcripts AS ({TRANSCRIPTS_FROM_EVENTS_SQL})
        SELECT conv_id, turn_idx,
               LAG(role) OVER w AS role_lag1,
               LEAD(role) OVER w AS role_lead1,
               LAG(role, 2) OVER w AS role_lag2,
               LEAD(role, 2) OVER w AS role_lead2
        FROM transcripts
        WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
        """,
        "asof_session_stats": _ASOF_ORACLE,
        "asof_tolerance": _ASOF_TOLERANCE_ORACLE,
        "asof_salted": _ASOF_ORACLE,
        "asof_pandas": _ASOF_ORACLE,
        "lang_id": _LANG_ID_ORACLE,
        "minhash_near_dups": _MINHASH_ORACLE,
        # the streaming bucket-state stage equals the batch operator on the
        # union of its micro-batches (state TTL > run; verified in pytest),
        # so the same transliterated SQL is its oracle
        "streaming_minhash_near_dups": _MINHASH_ORACLE,
        # batch clustering of the union of emitted (verified) pairs: the
        # incremental two-fold consolidation must equal this exactly
        "streaming_dedup_consolidation": f"""
        WITH RECURSIVE
        {_minhash_cte_sql("SELECT doc_id, text FROM documents", 0.5)},
        e AS (
            SELECT id_a AS src, id_b AS dst FROM mh_pairs
            UNION ALL
            SELECT id_b AS src, id_a AS dst FROM mh_pairs
        ),
        nodes AS (SELECT DISTINCT src AS node FROM e),
        reach(node, comp) AS (
            SELECT node, node AS comp FROM nodes
            UNION
            SELECT e.src, r.comp FROM reach r JOIN e ON e.dst = r.node
        )
        SELECT node AS doc_id, CAST(MIN(comp) AS BIGINT) AS comp
        FROM reach GROUP BY 1
        """,
        "dedup_pipeline": _DEDUP_PIPELINE_ORACLE,
        "simhash_near_dups": _SIMHASH_ORACLE,
        "multimodal_features": _MULTIMODAL_ORACLE,
        "video_frame_sampling": _FRAME_SAMPLING_ORACLE,
        "quality_filter": f"""
        WITH scored AS (
            SELECT doc_id,
                   (SELECT l.lang_pred FROM ({_LANG_ID_ORACLE}) l
                    WHERE l.doc_id = d.doc_id) AS lang_pred,
                   {_QUALITY_EXPR} AS quality_score,
                   LEN(LIST_FILTER(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+'),
                       t -> t IN ('the','a','an','and','or','of','to','in','is',
                                  'it','that','for','on','with','as','was','at',
                                  'by','be','this'))) * 1.0
                   / GREATEST(LEN(STRING_SPLIT_REGEX(TRIM(LOWER(text)), '\\s+')), 1)
                       AS stopword_ratio,
                   LEN(STRING_SPLIT_REGEX(TRIM(text), '\\s+')) AS n_ws_tokens
            FROM documents d
        )
        SELECT doc_id, lang_pred,
               ROUND(quality_score, 6) AS quality_score,
               ROUND(stopword_ratio, 6) AS stopword_ratio,
               CAST(n_ws_tokens AS INT) AS n_ws_tokens
        FROM scored
        WHERE quality_score >= 0.7
          AND stopword_ratio >= 0.05
          AND n_ws_tokens BETWEEN 10 AND 100000
          AND lang_pred = 'en'
        """,
        "pack_sequences": """
        WITH base AS (
            SELECT doc_id,
                   CAST('0x' || substr(md5('0:' || doc_id), 1, 15) AS BIGINT)
                       % 1000000 % 4 AS shard,
                   CASE WHEN LOWER(REGEXP_REPLACE(TRIM(text), '\\s+', ' ', 'g')) = ''
                        THEN 0
                        ELSE LEN(STRING_SPLIT(
                            LOWER(REGEXP_REPLACE(TRIM(text), '\\s+', ' ', 'g')), ' '))
                   END AS n_tokens
            FROM documents
        ),
        cum AS (
            SELECT doc_id, shard, CAST(n_tokens AS BIGINT) AS n_tokens,
                   COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
            FROM base
        )
        SELECT doc_id, shard, n_tokens,
               CAST(FLOOR(prev / 256) AS BIGINT) AS start_chunk,
               CAST(prev % 256 AS BIGINT) AS start_offset,
               CAST(FLOOR((prev + GREATEST(n_tokens - 1, 0)) / 256) AS BIGINT)
                   AS end_chunk
        FROM cum
        """,
        "hashed_term_vectors": _HASHED_VECTORS_ORACLE,
        "tfidf_keywords": """
        -- NB: score ordering is double-precision; distinct (tf, df) pairs
        -- on this corpus are separated far beyond the 1-ulp LN() skew
        -- between engines, and exact (tf, df) ties produce bit-identical
        -- scores resolved by the term tie-break
        WITH norm AS (
            SELECT doc_id,
                   LOWER(REGEXP_REPLACE(TRIM(text), '\\s+', ' ', 'g')) AS nrm
            FROM documents
        ),
        tk AS (
            SELECT doc_id, UNNEST(STRING_SPLIT(nrm, ' ')) AS term FROM norm
        ),
        tk2 AS (SELECT doc_id, term FROM tk WHERE term <> ''),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tk2 GROUP BY 1, 2),
        dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        nd AS (SELECT COUNT(*) AS n FROM documents),
        sc AS (
            SELECT t.doc_id, t.term, t.tf, d.df,
                   t.tf * (LN((n + 1.0) / (d.df + 1)) + 1.0) AS score
            FROM tf t JOIN dfq d USING (term), nd
        ),
        r AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                         ORDER BY score DESC, term) AS rn
            FROM sc
        )
        SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
               ROUND(score, 6) AS score, CAST(rn AS INT) AS rank
        FROM r WHERE rn <= 3
        """,
        "vocab_topk": """
        -- share/cum_share are IEEE quotients of the same integer pair on
        -- both engines (exact bigint counts / exact bigint total), so the
        -- ROUND(.,6) inputs are bit-identical doubles
        WITH norm AS (
            SELECT doc_id,
                   LOWER(REGEXP_REPLACE(TRIM(text), '\\s+', ' ', 'g')) AS nrm
            FROM documents
        ),
        tk AS (
            SELECT doc_id, UNNEST(STRING_SPLIT(nrm, ' ')) AS term FROM norm
        ),
        tk2 AS (SELECT doc_id, term FROM tk WHERE term <> ''),
        per_doc AS (
            SELECT term, doc_id, COUNT(*) AS tf FROM tk2 GROUP BY 1, 2
        ),
        counts AS (
            SELECT term, CAST(SUM(tf) AS BIGINT) AS cnt,
                   COUNT(*) AS doc_freq
            FROM per_doc GROUP BY 1
        ),
        tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM counts),
        r AS (
            SELECT term, cnt, doc_freq,
                   ROW_NUMBER() OVER (ORDER BY cnt DESC, term ASC) AS rank,
                   SUM(cnt) OVER (ORDER BY cnt DESC, term ASC
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS cum
            FROM counts
        )
        SELECT term, CAST(cnt AS BIGINT) AS "count",
               CAST(doc_freq AS BIGINT) AS doc_freq,
               CAST(rank AS INT) AS rank,
               ROUND(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE), 6) AS share,
               ROUND(CAST(cum AS DOUBLE) / CAST(n AS DOUBLE), 6) AS cum_share
        FROM r, tot WHERE rank <= 50
        """,
        "embedding_dedup_clusters": f"""
        WITH RECURSIVE
        pairs AS MATERIALIZED ({_EMBED_NEAR_DUP_ORACLE}),
        eg AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION ALL
            SELECT id_b AS src, id_a AS dst FROM pairs
        ),
        nodes AS (SELECT DISTINCT src AS node FROM eg),
        reach(node, comp) AS (
            SELECT node, node AS comp FROM nodes
            UNION
            SELECT eg.src, r.comp FROM reach r JOIN eg ON eg.dst = r.node
        ),
        labels AS (SELECT node, MIN(comp) AS comp FROM reach GROUP BY 1)
        SELECT comp, MIN(node) AS keep_id, CAST(COUNT(*) AS BIGINT) AS n_members
        FROM labels GROUP BY comp
        """,
        "repetition_stats": """
        WITH norm AS (
            SELECT doc_id,
                   LOWER(REGEXP_REPLACE(TRIM(text), '\\s+', ' ', 'g')) AS nrm
            FROM documents
        ),
        ln AS (
            SELECT doc_id,
                   LOWER(REGEXP_REPLACE(TRIM(l), '\\s+', ' ', 'g')) AS line
            FROM (SELECT doc_id, UNNEST(STRING_SPLIT(text, chr(10))) AS l
                  FROM documents)
            WHERE LOWER(REGEXP_REPLACE(TRIM(l), '\\s+', ' ', 'g')) <> ''
        ),
        lstat AS (
            SELECT doc_id, COUNT(*) AS n_lines,
                   (COUNT(*) - COUNT(DISTINCT line)) * 1.0 / COUNT(*) AS dlf
            FROM ln GROUP BY 1
        ),
        toks AS (
            SELECT doc_id, STRING_SPLIT(nrm, ' ') AS t, LENGTH(nrm) AS nc
            FROM norm
        ),
        wstat AS (
            SELECT doc_id,
                   (LEN(t) - LEN(LIST_DISTINCT(t))) * 1.0 / LEN(t) AS dwf
            FROM toks
        ),
        tk AS (
            SELECT doc_id, UNNEST(t) AS tok,
                   UNNEST(RANGE(1, LEN(t) + 1)) AS pos
            FROM toks
        ),
        g2 AS (
            SELECT doc_id, tok || ' ' || LEAD(tok) OVER w AS gram
            FROM tk WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        ),
        c2 AS (
            SELECT doc_id, gram, COUNT(*) AS c FROM g2
            WHERE gram IS NOT NULL GROUP BY 1, 2
        ),
        m2 AS (
            SELECT doc_id, c * LENGTH(gram) AS chars FROM (
                SELECT doc_id, gram, c,
                       ROW_NUMBER() OVER (PARTITION BY doc_id
                                          ORDER BY c DESC, gram) AS rn
                FROM c2 WHERE c > 1) WHERE rn = 1
        ),
        g3 AS (
            SELECT doc_id,
                   tok || ' ' || LEAD(tok) OVER w || ' ' || LEAD(tok, 2) OVER w AS gram
            FROM tk WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        ),
        c3 AS (
            SELECT doc_id, gram, COUNT(*) AS c FROM g3
            WHERE gram IS NOT NULL GROUP BY 1, 2
        ),
        m3 AS (
            SELECT doc_id, c * LENGTH(gram) AS chars FROM (
                SELECT doc_id, gram, c,
                       ROW_NUMBER() OVER (PARTITION BY doc_id
                                          ORDER BY c DESC, gram) AS rn
                FROM c3 WHERE c > 1) WHERE rn = 1
        )
        SELECT n.doc_id,
               CAST(COALESCE(l.n_lines, 0) AS INT) AS n_lines,
               ROUND(COALESCE(l.dlf, 0), 6) AS dup_line_frac,
               ROUND(w.dwf, 6) AS dup_word_frac,
               ROUND(COALESCE(m2.chars, 0) * 1.0 / t.nc, 6) AS top2gram_char_frac,
               ROUND(COALESCE(m3.chars, 0) * 1.0 / t.nc, 6) AS top3gram_char_frac
        FROM norm n
        JOIN toks t USING (doc_id)
        JOIN wstat w USING (doc_id)
        LEFT JOIN lstat l USING (doc_id)
        LEFT JOIN m2 USING (doc_id)
        LEFT JOIN m3 USING (doc_id)
        """,
        "bloom_decontaminate": _BLOOM_DECON_ORACLE,
        "decontaminate": """
        WITH norm AS (
            SELECT doc_id,
                   STRING_SPLIT(LOWER(REGEXP_REPLACE(TRIM(text), '\\s+', ' ', 'g')), ' ') AS toks
            FROM documents
        ),
        toks AS (
            SELECT doc_id, UNNEST(toks) AS tok, UNNEST(RANGE(1, LEN(toks) + 1)) AS pos
            FROM norm
        ),
        sh AS (
            SELECT doc_id,
                   tok || ' ' || LEAD(tok) OVER w || ' ' || LEAD(tok, 2) OVER w AS shingle
            FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        ),
        shd AS (SELECT DISTINCT doc_id, shingle FROM sh WHERE shingle IS NOT NULL),
        bench AS (SELECT DISTINCT shingle FROM shd WHERE doc_id % 37 = 0),
        corp AS (SELECT doc_id, shingle FROM shd WHERE doc_id % 37 <> 0),
        tot AS (SELECT doc_id, COUNT(*) AS n_sh FROM corp GROUP BY 1),
        hit AS (
            SELECT c.doc_id, COUNT(*) AS n_hit
            FROM corp c JOIN bench USING (shingle) GROUP BY 1
        )
        SELECT h.doc_id,
               CAST(n_hit AS BIGINT) AS n_hit_shingles,
               CAST(n_sh AS BIGINT) AS n_shingles,
               ROUND(n_hit * 1.0 / n_sh, 6) AS hit_frac
        FROM hit h JOIN tot t ON h.doc_id = t.doc_id
        """,
        "train_val_test_split": """
        SELECT doc_id,
               CASE
                 WHEN CAST('0x' || substr(md5('42:' || doc_id), 1, 15) AS BIGINT)
                      % 1000000 < 800000 THEN 'train'
                 WHEN CAST('0x' || substr(md5('42:' || doc_id), 1, 15) AS BIGINT)
                      % 1000000 < 900000 THEN 'val'
                 ELSE 'test'
               END AS split
        FROM documents
        """,
        "corpus_sample": """
        SELECT doc_id, source FROM documents
        WHERE CAST('0x'||substr(md5('7:'||doc_id),1,15) AS BIGINT) % 1000000
              < 250000
        """,
        "corpus_mix_by_source": """
        WITH kept AS (
            SELECT * FROM documents
            WHERE CAST('0x'||substr(md5('11:'||doc_id),1,15) AS BIGINT) % 1000000
                  < CASE source WHEN 'src0' THEN 1000000
                                WHEN 'src1' THEN 500000
                                WHEN 'src2' THEN 100000
                                ELSE 20000 END
        )
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept,
               MIN(doc_id) AS min_doc_id
        FROM kept GROUP BY source
        """,
        "source_quota_cap": """
        SELECT doc_id, source, n_chars, CAST(rn AS INT) AS source_rank FROM (
            SELECT doc_id, source, n_chars,
                   ROW_NUMBER() OVER (PARTITION BY source
                                      ORDER BY n_chars DESC, doc_id) AS rn
            FROM documents) t
        WHERE rn <= 5
        """,
        "embedding_near_dups": _EMBED_NEAR_DUP_ORACLE,
        # the LSH variant is seed-deterministic with measured recall 1.0 at
        # its operating point (12 tables x 6 planes, multiprobe), so the
        # exact SQL doubles as its regression oracle
        "embedding_near_dups_lsh": _EMBED_NEAR_DUP_ORACLE,
        "streaming_sessions": _STREAM_SESSIONS_ORACLE,
        "streaming_token_rates": _STREAM_RATES_ORACLE,
        "streaming_stateful_progress": _STREAM_STATEFUL_ORACLE,
        "streaming_conversation_trends": _STREAM_TRENDS_ORACLE,
        "chi2_scores": _CHI2_ORACLE,
        "mi_relevance": _MI_ORACLE,
        "gain_ratio_scores": _GAIN_RATIO_ORACLE,
        "oner_scores": _oner_oracle_sql(),
        "fdr_bh_selection": _fdr_oracle_sql(),
        "selection_stability": _stability_oracle_sql(),
        "dispersion_ratios": _dispersion_oracle_sql(),
        "stump_gains": _stump_oracle_sql(),
        "mrmr_selection": _MRMR_ORACLE,
        "jmi_selection": _JMI_ORACLE,
        "cmim_selection": _CMIM_ORACLE,
        # expanding windows over strictly-past rows; label sums are exact
        # integers so te divides bit-identically; hash = portable 60-bit md5
        "leakage_safe_encoding": f"""
        WITH transcripts AS ({TRANSCRIPTS_FROM_EVENTS_SQL}),
        lab AS (
            SELECT conv_id, turn_idx, role, text, ts,
                   CAST(tool IS NOT NULL AS INT) AS label
            FROM transcripts
        )
        SELECT conv_id, turn_idx,
               ROUND((COALESCE(SUM(CAST(label AS DOUBLE)) OVER w_past, 0)
                      + 10.0 * 0.5)
                     / (CAST(COUNT(label) OVER w_past AS DOUBLE) + 10.0),
                     9) AS te,
               CAST(ROW_NUMBER() OVER w_all - 1 AS BIGINT) AS ce,
               CAST(CAST('0x' || substr(md5('7:' || role), 1, 15) AS BIGINT)
                    % 64 AS INT) AS role_hb,
               CAST(CAST('0x' || substr(md5('7:' || text), 1, 15) AS BIGINT)
                    % 64 AS INT) AS text_hb
        FROM lab
        WINDOW w_past AS (PARTITION BY role ORDER BY ts, conv_id, turn_idx
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               w_all AS (PARTITION BY role ORDER BY ts, conv_id, turn_idx)
        """,
        "fcbf_selection": _FCBF_ORACLE,
        "anova_f_scores": _ANOVA_ORACLE,
        # WoE/IV: shares p, q defined once so iv_term reuses the same LN
        "woe_encoding": f"""
        WITH transcripts AS ({TRANSCRIPTS_FROM_EVENTS_SQL}),
        lab AS (
            SELECT role, CAST(tool IS NOT NULL AS INT) AS label
            FROM transcripts
        ),
        v AS (
            SELECT role, CAST(SUM(label) AS BIGINT) AS pos,
                   CAST(SUM(1 - label) AS BIGINT) AS neg
            FROM lab GROUP BY 1
        ),
        t AS (SELECT SUM(pos) AS pt, SUM(neg) AS nt FROM v),
        pq AS (
            SELECT role, pos, neg,
                   (CAST(pos AS DOUBLE) + 0.5) / CAST(pt AS DOUBLE) AS p,
                   (CAST(neg AS DOUBLE) + 0.5) / CAST(nt AS DOUBLE) AS q
            FROM v, t
        )
        SELECT role, pos, neg,
               ROUND(LN(p / q), 9) AS woe,
               ROUND((p - q) * LN(p / q), 9) AS iv_term
        FROM pq
        """,
        # same tokenization as vocab_topk; rank window per group
        "top_terms_per_source": r"""
        WITH norm AS (
            SELECT source,
                   LOWER(REGEXP_REPLACE(TRIM(text), '\s+', ' ', 'g')) AS nrm
            FROM documents
        ),
        tk AS (
            SELECT source AS "group",
                   UNNEST(STRING_SPLIT(nrm, ' ')) AS term
            FROM norm
        ),
        counts AS (
            SELECT "group", term, CAST(COUNT(*) AS BIGINT) AS count
            FROM tk WHERE term <> '' GROUP BY 1, 2
        )
        SELECT "group", term, count, CAST(rank AS INT) AS rank FROM (
            SELECT "group", term, count,
                   ROW_NUMBER() OVER (PARTITION BY "group"
                                      ORDER BY count DESC, term ASC) AS rank
            FROM counts
        ) WHERE rank <= 5
        """,
        # shared md5 bucket family; group integrity via per-fold summary
        "group_kfold": f"""
        WITH transcripts AS ({TRANSCRIPTS_FROM_EVENTS_SQL}),
        f AS (
            SELECT conv_id,
                   CAST(CAST('0x' || substr(md5('11:' || conv_id), 1, 15)
                             AS BIGINT) % 5 AS INT) AS fold
            FROM transcripts
        )
        SELECT fold, CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS n_convs
        FROM f GROUP BY 1
        """,
        # integer counts -> exact share quotients
        "source_mixture": r"""
        WITH a AS (
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(LEN(STRING_SPLIT_REGEX(text, '\s+')))
                        AS BIGINT) AS n_tokens
            FROM documents GROUP BY 1
        ),
        t AS (SELECT SUM(n_docs) AS td, SUM(n_tokens) AS tt FROM a)
        SELECT source, n_docs, n_tokens,
               ROUND(CAST(n_docs AS DOUBLE) / CAST(td AS DOUBLE), 9)
                   AS doc_share,
               ROUND(CAST(n_tokens AS DOUBLE) / CAST(tt AS DOUBLE), 9)
                   AS token_share
        FROM a, t
        """,
        # running suffix token sum per conversation, strict fit
        "truncate_token_budget": f"""
        WITH transcripts AS ({TRANSCRIPTS_FROM_EVENTS_SQL}),
        c AS (
            SELECT conv_id, turn_idx, role,
                   SUM(CAST(LEN(STRING_SPLIT_REGEX(text, '\\s+')) AS BIGINT))
                       OVER (PARTITION BY conv_id ORDER BY turn_idx DESC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum
            FROM transcripts
        )
        SELECT conv_id, turn_idx, role FROM c WHERE cum <= 120
        """,
        # min/max edges + the drift module's clipped-floor bin rule
        "uniform_discretize": r"""
        WITH d AS (
            SELECT doc_id, CAST(LENGTH(text) AS DOUBLE) AS n_chars,
                   CAST(LEN(STRING_SPLIT_REGEX(text, '\s+')) AS DOUBLE)
                       AS n_toks
            FROM documents
        ),
        e AS (
            SELECT MIN(n_chars) AS lc,
                   CASE WHEN MAX(n_chars) > MIN(n_chars)
                        THEN (MAX(n_chars) - MIN(n_chars)) / 8 ELSE 1.0 END
                       AS wc,
                   MIN(n_toks) AS lt,
                   CASE WHEN MAX(n_toks) > MIN(n_toks)
                        THEN (MAX(n_toks) - MIN(n_toks)) / 8 ELSE 1.0 END
                       AS wt
            FROM d
        )
        SELECT doc_id,
               CAST(LEAST(GREATEST(FLOOR((n_chars - lc) / wc), 0), 7) AS INT)
                   AS n_chars_u,
               CAST(LEAST(GREATEST(FLOOR((n_toks - lt) / wt), 0), 7) AS INT)
                   AS n_toks_u
        FROM d, e
        """,
        # asymmetric containment on the planted prefix-quote corpus
        "ngram_containment": """
        WITH src AS (
            SELECT doc_id, text FROM documents WHERE doc_id < 100
            UNION ALL
            SELECT doc_id + 100000, SUBSTRING(text, 1, 120)
            FROM documents WHERE doc_id < 100
        ),
        norm AS (
            SELECT doc_id,
                   STRING_SPLIT(LOWER(REGEXP_REPLACE(TRIM(text), '\\s+', ' ', 'g')), ' ') AS toks
            FROM src
        ),
        toks AS (
            SELECT doc_id, UNNEST(toks) AS tok, UNNEST(RANGE(1, LEN(toks) + 1)) AS pos
            FROM norm
        ),
        sh AS (
            SELECT doc_id,
                   tok || ' ' || LEAD(tok) OVER w || ' ' || LEAD(tok, 2) OVER w AS shingle
            FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        ),
        shd AS (SELECT DISTINCT doc_id, shingle FROM sh WHERE shingle IS NOT NULL),
        cnt AS (SELECT doc_id, COUNT(*) AS c FROM shd GROUP BY 1),
        inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
            FROM shd a JOIN shd b USING (shingle)
            WHERE a.doc_id < b.doc_id GROUP BY 1, 2
        )
        SELECT id_a, id_b,
               ROUND(i * 1.0 / ca.c, 6) AS c_a_in_b,
               ROUND(i * 1.0 / cb.c, 6) AS c_b_in_a,
               ROUND(i * 1.0 / (ca.c + cb.c - i), 6) AS jaccard
        FROM inter
        JOIN cnt ca ON ca.doc_id = id_a
        JOIN cnt cb ON cb.doc_id = id_b
        WHERE i * 1.0 / ca.c >= 0.8 OR i * 1.0 / cb.c >= 0.8
        """,
        "sft_pairs": f"""
        WITH transcripts AS ({TRANSCRIPTS_FROM_EVENTS_SQL}),
        led AS (
            SELECT conv_id, turn_idx, role, text AS prompt,
                   LEAD(role) OVER w AS next_role,
                   LEAD(text) OVER w AS response
            FROM transcripts
            WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
        )
        SELECT conv_id, turn_idx, prompt, response
        FROM led WHERE role = 'user' AND next_role = 'assistant'
        """,
        # bucket algorithm == plain hash-ordered prefix (range buckets)
        # precomputed-cost variants of the budget family: identical window
        # arithmetic with the synthetic deterministic cost column standing
        # in for a real tokenizer's counts
        "token_budget_sample_cost": r"""
        WITH d AS (
            SELECT doc_id, source,
                   CAST(doc_id % 97 + 1 AS BIGINT) AS nt,
                   CAST('0x' || substr(md5('tb0:' || CAST(doc_id AS STRING)),
                                       1, 15) AS BIGINT) AS h
            FROM documents
        )
        SELECT doc_id, source FROM (
            SELECT doc_id, source,
                   COALESCE(SUM(nt) OVER (PARTITION BY source
                       ORDER BY h, doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS before
            FROM d
        ) WHERE before < 300
        """,
        "truncate_token_budget_cost": f"""
        WITH transcripts AS ({TRANSCRIPTS_FROM_EVENTS_SQL}),
        c AS (
            SELECT conv_id, turn_idx, role,
                   SUM(CAST(turn_idx % 29 + 1 AS BIGINT))
                       OVER (PARTITION BY conv_id ORDER BY turn_idx DESC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum
            FROM transcripts
        )
        SELECT conv_id, turn_idx, role FROM c WHERE cum <= 40
        """,
        "pack_sequences_cost": """
        WITH base AS (
            SELECT doc_id,
                   CAST('0x' || substr(md5('0:' || doc_id), 1, 15) AS BIGINT)
                       % 1000000 % 4 AS shard,
                   doc_id % 97 + 1 AS n_tokens
            FROM documents
        ),
        cum AS (
            SELECT doc_id, shard, CAST(n_tokens AS BIGINT) AS n_tokens,
                   COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
            FROM base
        )
        SELECT doc_id, shard, n_tokens,
               CAST(FLOOR(prev / 128) AS BIGINT) AS start_chunk,
               CAST(prev % 128 AS BIGINT) AS start_offset,
               CAST(FLOOR((prev + GREATEST(n_tokens - 1, 0)) / 128) AS BIGINT)
                   AS end_chunk
        FROM cum
        """,
        "token_budget_sample": r"""
        WITH d AS (
            SELECT doc_id, source,
                   CAST(LEN(STRING_SPLIT_REGEX(text, '\s+')) AS BIGINT)
                       AS nt,
                   CAST('0x' || substr(md5('tb0:' || CAST(doc_id AS STRING)),
                                       1, 15) AS BIGINT) AS h
            FROM documents
        )
        SELECT doc_id, source FROM (
            SELECT doc_id, source,
                   COALESCE(SUM(nt) OVER (PARTITION BY source
                       ORDER BY h, doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING), 0) AS before
            FROM d
        ) WHERE before < 500
        """,
        # turn fps concatenated in turn order (STRING_AGG ORDER BY)
        "conversation_fingerprints": f"""
        WITH transcripts AS ({TRANSCRIPTS_FROM_EVENTS_SQL}),
        fp AS (
            SELECT conv_id, turn_idx,
                   md5(LOWER(REGEXP_REPLACE(TRIM(text), '\\s+', ' ', 'g')))
                       AS fpx
            FROM transcripts
        )
        SELECT conv_id, CAST(COUNT(*) AS BIGINT) AS n_turns,
               md5(STRING_AGG(fpx, '' ORDER BY turn_idx)) AS conv_fp
        FROM fp GROUP BY 1
        """,
        # session_id MUST be cast: DuckDB window SUM(int) is HUGEINT, which
        # the pandas client converts to float64 (0.0 vs Spark's 0) — the
        # driver's value-hash is dtype-sensitive (round-4 red row).
        "session_features": _FEATURIZE_BASE + """
        SELECT conv_id, CAST(session_id AS BIGINT) AS session_id,
               CAST(COUNT(*) AS BIGINT) AS n_turns,
               CAST(MIN(FLOOR(EPOCH(ts))) AS BIGINT) AS start_epoch,
               CAST(MAX(FLOOR(EPOCH(ts))) AS BIGINT) AS end_epoch,
               CAST(SUM(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_tool_calls,
               CAST(SUM(CAST(n_tokens AS BIGINT)) AS BIGINT) AS tokens
        FROM feat GROUP BY 1, 2
        """,
        # first occurrence per (conv, normalized-text md5)
        "dedup_turns": f"""
        WITH transcripts AS ({TRANSCRIPTS_FROM_EVENTS_SQL}),
        fp AS (
            SELECT conv_id, turn_idx, role, tool,
                   md5(LOWER(REGEXP_REPLACE(TRIM(text), '\\s+', ' ', 'g')))
                       AS fpx
            FROM transcripts
        )
        SELECT conv_id, turn_idx, role, tool FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY conv_id, fpx
                                         ORDER BY turn_idx) AS rn
            FROM fp
        ) WHERE rn = 1
        """,
        # same shingle derivation as decontaminate; novelty for no-hit docs
        "novelty_scores": """
        WITH norm AS (
            SELECT doc_id,
                   STRING_SPLIT(LOWER(REGEXP_REPLACE(TRIM(text), '\\s+', ' ', 'g')), ' ') AS toks
            FROM documents
        ),
        toks AS (
            SELECT doc_id, UNNEST(toks) AS tok, UNNEST(RANGE(1, LEN(toks) + 1)) AS pos
            FROM norm
        ),
        sh AS (
            SELECT doc_id,
                   tok || ' ' || LEAD(tok) OVER w || ' ' || LEAD(tok, 2) OVER w AS shingle
            FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        ),
        shd AS (SELECT DISTINCT doc_id, shingle FROM sh WHERE shingle IS NOT NULL),
        ref AS (SELECT DISTINCT shingle FROM shd WHERE doc_id % 37 = 0),
        corp AS (SELECT doc_id, shingle FROM shd WHERE doc_id % 37 <> 0),
        tot AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM corp GROUP BY 1),
        hit AS (
            SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hit
            FROM corp c JOIN ref USING (shingle) GROUP BY 1
        )
        SELECT t.doc_id, t.n_sh AS n_shingles,
               COALESCE(h.n_hit, 0) AS n_seen,
               ROUND(1.0 - CAST(COALESCE(h.n_hit, 0) AS DOUBLE)
                     / CAST(t.n_sh AS DOUBLE), 6) AS novelty
        FROM tot t LEFT JOIN hit h ON h.doc_id = t.doc_id
        """,
        # quantile_cont edges + the shared discrete-MI contingency form
        "binned_mi": r"""
        WITH d AS (
            SELECT CAST(LENGTH(text) AS DOUBLE) AS n_chars,
                   CAST(LEN(STRING_SPLIT_REGEX(text, '\s+')) AS DOUBLE)
                       AS n_toks,
                   CAST(doc_id % 3 = 0 AS INT) AS y
            FROM documents
        ),
        e AS (
            SELECT QUANTILE_CONT(n_chars, 0.25) AS c1,
                   QUANTILE_CONT(n_chars, 0.50) AS c2,
                   QUANTILE_CONT(n_chars, 0.75) AS c3,
                   QUANTILE_CONT(n_toks, 0.25) AS t1,
                   QUANTILE_CONT(n_toks, 0.50) AS t2,
                   QUANTILE_CONT(n_toks, 0.75) AS t3
            FROM d
        ),
        m AS (
            SELECT CAST(n_chars > c1 AS INT) + CAST(n_chars > c2 AS INT)
                       + CAST(n_chars > c3 AS INT) AS f_chars,
                   CAST(n_toks > t1 AS INT) + CAST(n_toks > t2 AS INT)
                       + CAST(n_toks > t3 AS INT) AS f_toks,
                   y
            FROM d, e
        ),
        long AS (
            SELECT 'n_chars_q' AS feature, f_chars AS v, y FROM m
            UNION ALL SELECT 'n_toks_q', f_toks, y FROM m
        ),
        joint AS (
            SELECT feature, v, y, CAST(COUNT(*) AS DOUBLE) AS c
            FROM long GROUP BY 1, 2, 3
        ),
        tot AS (SELECT feature, SUM(c) AS n FROM joint GROUP BY 1),
        px AS (SELECT feature, v, SUM(c) AS cx FROM joint GROUP BY 1, 2),
        py AS (SELECT feature, y, SUM(c) AS cy FROM joint GROUP BY 1, 2)
        SELECT j.feature,
               ROUND(SUM((c / n) * LOG2((c / n)
                     / ((cx / n) * (cy / n) + 1e-12))), 6) AS mi_bits
        FROM joint j
        JOIN tot USING (feature)
        JOIN px USING (feature, v)
        JOIN py USING (feature, y)
        GROUP BY j.feature
        """,
        # per-vector norms from UNNEST sums, MAD flags mirrored
        "embedding_health": r"""
        WITH u AS (
            SELECT vec_id, UNNEST(embedding) AS x FROM embeddings
        ),
        s AS (
            SELECT vec_id,
                   SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS s2,
                   CAST(SUM(CASE WHEN ISNAN(CAST(x AS DOUBLE))
                                 THEN 1 ELSE 0 END) > 0 AS INT) AS has_nan
            FROM u GROUP BY 1
        ),
        b AS (
            SELECT e.vec_id, CAST(LEN(e.embedding) AS INT) AS dim,
                   ROUND(SQRT(s.s2), 6) AS l2_norm,
                   CAST(s.s2 = 0.0 AS INT) AS is_zero,
                   s.has_nan
            FROM embeddings e JOIN s ON s.vec_id = e.vec_id
        ),
        m AS (SELECT QUANTILE_CONT(l2_norm, 0.5) AS med FROM b),
        md AS (
            SELECT QUANTILE_CONT(ABS(l2_norm - med), 0.5) AS mad FROM b, m
        )
        SELECT vec_id, dim, l2_norm, is_zero, has_nan,
               CAST(ABS(l2_norm - med) > 3.5 * 1.4826 * mad AS INT)
                   AS norm_out
        FROM b, m, md
        """,
        # term-for-term Pearson closure mirror; sums exact on int features
        "f_regression_scores": r"""
        WITH d AS (
            SELECT CAST(LENGTH(text) AS DOUBLE) AS n_chars,
                   CAST(LEN(STRING_SPLIT_REGEX(text, '\s+')) AS DOUBLE)
                       AS n_toks,
                   CAST(LENGTH(text) - LENGTH(REPLACE(text, 'e', ''))
                        AS DOUBLE) AS n_echars,
                   CAST(doc_id % 97 AS DOUBLE) AS target
            FROM documents
        ),
        s AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                   SUM(target) AS sy, SUM(target * target) AS syy,
                   SUM(n_chars) AS sx_n_chars, SUM(n_chars * n_chars) AS sxx_n_chars, SUM(n_chars * target) AS sxy_n_chars,
                   SUM(n_toks) AS sx_n_toks, SUM(n_toks * n_toks) AS sxx_n_toks, SUM(n_toks * target) AS sxy_n_toks,
                   SUM(n_echars) AS sx_n_echars, SUM(n_echars * n_echars) AS sxx_n_echars, SUM(n_echars * target) AS sxy_n_echars
            FROM d
        ),
        b AS (
            SELECT 'n_chars' AS feature,
                   (n * sxy_n_chars - sx_n_chars * sy) AS num,
                   (n * sxx_n_chars - sx_n_chars * sx_n_chars)
                       * (n * syy - sy * sy) AS den2,
                   n
            FROM s
            UNION ALL
            SELECT 'n_toks' AS feature,
                   (n * sxy_n_toks - sx_n_toks * sy) AS num,
                   (n * sxx_n_toks - sx_n_toks * sx_n_toks)
                       * (n * syy - sy * sy) AS den2,
                   n
            FROM s
            UNION ALL
            SELECT 'n_echars' AS feature,
                   (n * sxy_n_echars - sx_n_echars * sy) AS num,
                   (n * sxx_n_echars - sx_n_echars * sx_n_echars)
                       * (n * syy - sy * sy) AS den2,
                   n
            FROM s
        ),
        rr AS (
            SELECT feature, n,
                   CASE WHEN den2 > 0.0 THEN num / SQRT(den2) END AS r
            FROM b
        )
        SELECT feature, ROUND(r, 9) AS r,
               ROUND(CASE WHEN r * r < 1.0
                          THEN r * r / (1.0 - r * r) * (n - 2.0) END, 9) AS f
        FROM rr
        """,
        # leave-fold-out by window subtraction over the (key, fold) table
        "kfold_target_encoding": f"""
        WITH transcripts AS ({TRANSCRIPTS_FROM_EVENTS_SQL}),
        lab AS (
            SELECT conv_id, turn_idx, role,
                   CAST(tool IS NOT NULL AS INT) AS label,
                   CAST(CAST('0x' || substr(md5('11:' || conv_id), 1, 15)
                             AS BIGINT) % 5 AS INT) AS fold
            FROM transcripts
        ),
        pf AS (
            SELECT role, fold, SUM(label) AS s,
                   CAST(COUNT(*) AS BIGINT) AS c
            FROM lab GROUP BY 1, 2
        ),
        loo AS (
            SELECT role, fold,
                   SUM(s) OVER (PARTITION BY role) - s AS s_oof,
                   SUM(c) OVER (PARTITION BY role) - c AS c_oof
            FROM pf
        )
        SELECT l.conv_id, l.turn_idx, l.fold,
               ROUND((CAST(s_oof AS DOUBLE) + 10.0 * 0.5)
                     / (CAST(c_oof AS DOUBLE) + 10.0), 9) AS te_cv
        FROM lab l JOIN loo USING (role, fold)
        """,
        # Mann-Whitney AUC from average ranks (RANK + (cnt-1)/2)
        "auc_scores": r"""
        WITH d AS (
            SELECT CAST(doc_id AS STRING) AS id,
                   CAST(LENGTH(text) AS DOUBLE) AS n_chars,
                   CAST(LEN(STRING_SPLIT_REGEX(text, '\s+')) AS DOUBLE)
                       AS n_toks,
                   CAST(doc_id % 3 = 0 AS INT) AS y
            FROM documents
        ),
        long AS (
            SELECT id, y, 'n_chars' AS feature, n_chars AS v FROM d
            UNION ALL SELECT id, y, 'n_toks', n_toks FROM d
        ),
        ranked AS (
            SELECT id, y, feature,
                   RANK() OVER (PARTITION BY feature ORDER BY v)
                   + (COUNT(*) OVER (PARTITION BY feature, v) - 1) / 2.0
                       AS rank
            FROM long WHERE v IS NOT NULL
        ),
        agg AS (
            SELECT feature,
                   SUM(CASE WHEN y = 1 THEN rank END) AS r_pos,
                   CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_pos,
                   CAST(SUM(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_neg
            FROM ranked GROUP BY 1
        )
        SELECT feature, n_pos, n_neg,
               ROUND((r_pos - CAST(n_pos AS DOUBLE)
                              * (CAST(n_pos AS DOUBLE) + 1.0) / 2.0)
                     / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)), 9)
                   AS auc
        FROM agg
        """,
        # average ranks (RANK + (cnt-1)/2) scaled by 1/(n+1), pivoted wide
        "quantile_normalize": r"""
        WITH d AS (
            SELECT doc_id, CAST(LENGTH(text) AS DOUBLE) AS n_chars,
                   CAST(LEN(STRING_SPLIT_REGEX(text, '\s+')) AS DOUBLE) AS n_toks
            FROM documents
        ),
        long AS (
            SELECT doc_id, 'n_chars' AS feature, n_chars AS v FROM d
            UNION ALL SELECT doc_id, 'n_toks', n_toks FROM d
        ),
        ranked AS (
            SELECT doc_id, feature,
                   RANK() OVER (PARTITION BY feature ORDER BY v)
                   + (COUNT(*) OVER (PARTITION BY feature, v) - 1) / 2.0
                       AS rank,
                   COUNT(*) OVER (PARTITION BY feature) AS n
            FROM long WHERE v IS NOT NULL
        )
        SELECT doc_id,
               ROUND(MAX(CASE WHEN feature = 'n_chars'
                              THEN rank / CAST(n + 1 AS DOUBLE) END), 9)
                   AS n_chars_qn,
               ROUND(MAX(CASE WHEN feature = 'n_toks'
                              THEN rank / CAST(n + 1 AS DOUBLE) END), 9)
                   AS n_toks_qn
        FROM ranked GROUP BY doc_id
        """,
        # contrastive pairs: lead() positive + hash-bucket representative
        # negatives (rep = min (rank, conv, idx, text) per bucket)
        "contrastive_pairs": f"""
        WITH transcripts AS ({TRANSCRIPTS_FROM_EVENTS_SQL}),
        base AS (
            SELECT conv_id AS conv, turn_idx AS idx, text
            FROM transcripts WHERE text IS NOT NULL
        ),
        keyed AS (
            SELECT conv, idx, text,
                   conv || ':' || CAST(idx AS STRING) AS key
            FROM base
        ),
        anchors AS (
            SELECT conv, idx, text,
                   LEAD(text) OVER (PARTITION BY conv ORDER BY idx)
                       AS positive,
                   CAST(CAST('0x' || substr(md5('3:' || key), 1, 15)
                             AS BIGINT) % 16 AS INT) AS bucket
            FROM keyed
        ),
        rep_a AS (
            SELECT bucket, conv AS neg_conv_a, text AS neg_text_a FROM (
                SELECT CAST(CAST('0x' || substr(md5('3:' || key), 1, 15)
                                 AS BIGINT) % 16 AS INT) AS bucket,
                       conv, idx, text,
                       CAST('0x' || substr(md5('r3:' || key), 1, 15)
                            AS BIGINT) AS r
                FROM keyed
            ) QUALIFY ROW_NUMBER() OVER (PARTITION BY bucket
                                         ORDER BY r, conv, idx, text) = 1
        ),
        rep_b AS (
            SELECT bucket, conv AS neg_conv_b, text AS neg_text_b FROM (
                SELECT CAST(CAST('0x' || substr(md5('4:' || key), 1, 15)
                                 AS BIGINT) % 16 AS INT) AS bucket,
                       conv, idx, text,
                       CAST('0x' || substr(md5('r4:' || key), 1, 15)
                            AS BIGINT) AS r
                FROM keyed
            ) QUALIFY ROW_NUMBER() OVER (PARTITION BY bucket
                                         ORDER BY r, conv, idx, text) = 1
        )
        SELECT a.conv AS conv_id, a.idx AS turn_idx, a.text AS anchor,
               a.positive,
               CASE WHEN ra.neg_conv_a <> a.conv THEN ra.neg_text_a
                    WHEN rb.neg_conv_b <> a.conv THEN rb.neg_text_b
               END AS negative
        FROM anchors a
        LEFT JOIN rep_a ra USING (bucket)
        LEFT JOIN rep_b rb ON rb.bucket = a.bucket
        WHERE a.positive IS NOT NULL
          AND (CASE WHEN ra.neg_conv_a <> a.conv THEN ra.neg_text_a
                    WHEN rb.neg_conv_b <> a.conv THEN rb.neg_text_b
               END) IS NOT NULL
        """,
        # NFC + control-strip + ws-collapse chain, mirrored step order
        "text_clean": r"""
        WITH dirty AS (
            SELECT doc_id,
                   text || ' Cafe' || chr(769) || chr(9) || chr(9)
                        || 'x ' || chr(7) || ' end ' AS text
            FROM documents
        ),
        c AS (
            SELECT doc_id, text,
                   TRIM(REGEXP_REPLACE(REGEXP_REPLACE(nfc_normalize(text),
                            '[\x00-\x08\x0b-\x1f\x7f]', '', 'g'),
                        '[ \t]+', ' ', 'g'),
                        ' ' || chr(9) || chr(10) || chr(13)) AS text_clean
            FROM dirty
        )
        SELECT doc_id, LENGTH(text) AS len_dirty,
               LENGTH(text_clean) AS len_clean,
               RIGHT(text_clean, 14) AS tail
        FROM c
        """,
        # calibration: dyadic hash scores, ORDERED full-frame ECE window
        "calibration_report": r"""
        WITH s AS (
            SELECT (CAST('0x' || substr(md5('1:' || CAST(doc_id AS STRING)),
                                        1, 15) AS BIGINT) % 1024) AS h1,
                   (CAST('0x' || substr(md5('2:' || CAST(doc_id AS STRING)),
                                        1, 15) AS BIGINT) % 1024) AS h2
            FROM documents
        ),
        scored AS (
            SELECT CAST(h1 AS DOUBLE) / 1024.0 AS score,
                   CAST(h2 < h1 AS INT) AS label
            FROM s
        ),
        b AS (
            SELECT CAST(LEAST(GREATEST(FLOOR(score * 10.0), 0), 9) AS INT)
                       AS bin,
                   score, CAST(label AS BIGINT) AS y
            FROM scored
        ),
        agg AS (
            SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
                   SUM(score) AS ssum, SUM(y) AS ysum
            FROM b GROUP BY 1
        ),
        g AS (
            SELECT bin, n,
                   ssum / CAST(n AS DOUBLE) AS conf,
                   CAST(ysum AS DOUBLE) / CAST(n AS DOUBLE) AS acc,
                   ABS(CAST(ysum AS DOUBLE) / CAST(n AS DOUBLE)
                       - ssum / CAST(n AS DOUBLE)) AS gap
            FROM agg
        )
        SELECT bin, n, ROUND(conf, 9) AS conf, ROUND(acc, 9) AS acc,
               ROUND(gap, 9) AS gap,
               ROUND(SUM(CAST(n AS DOUBLE) * gap)
                         OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
                               AND UNBOUNDED FOLLOWING)
                     / CAST(SUM(n) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED
                            PRECEDING AND UNBOUNDED FOLLOWING) AS DOUBLE),
                     9) AS ece
        FROM g
        """,
        # MAD flags: medians via quantile_cont (== Spark percentile);
        # threshold multiplies left-assoc exactly as the Python literal
        "mad_outliers": r"""
        WITH d AS (
            SELECT doc_id, CAST(LENGTH(text) AS DOUBLE) AS n_chars,
                   CAST(LEN(STRING_SPLIT_REGEX(text, '\s+')) AS DOUBLE) AS n_toks
            FROM documents
        ),
        m AS (
            SELECT QUANTILE_CONT(n_chars, 0.5) AS mc,
                   QUANTILE_CONT(n_toks, 0.5) AS mt
            FROM d
        ),
        md AS (
            SELECT QUANTILE_CONT(ABS(n_chars - mc), 0.5) AS dc,
                   QUANTILE_CONT(ABS(n_toks - mt), 0.5) AS dt
            FROM d, m
        )
        SELECT doc_id,
               CAST(ABS(n_chars - mc) > 3.5 * 1.4826 * dc AS INT) AS n_chars_out,
               CAST(ABS(n_toks - mt) > 3.5 * 1.4826 * dt AS INT) AS n_toks_out
        FROM d, m, md
        """,
        # exact KS: cumulative integer counts over pooled distinct values;
        # CDF division int/double mirrors the NumPy kernel exactly
        "ks_drift": r"""
        WITH d AS (
            SELECT doc_id, CAST(LENGTH(text) AS DOUBLE) AS n_chars,
                   CAST(LEN(STRING_SPLIT_REGEX(text, '\s+')) AS DOUBLE) AS n_toks
            FROM documents
        ),
        long AS (
            SELECT doc_id % 2 AS g, 'n_chars' AS feature, n_chars AS v FROM d
            UNION ALL SELECT doc_id % 2, 'n_toks', n_toks FROM d
        ),
        counts AS (
            SELECT feature, v,
                   SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS c0,
                   SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS c1
            FROM long GROUP BY 1, 2
        ),
        tot AS (
            SELECT feature, GREATEST(SUM(c0), 1) AS n0,
                   GREATEST(SUM(c1), 1) AS n1
            FROM counts GROUP BY 1
        ),
        cdf AS (
            SELECT feature,
                   SUM(c0) OVER (PARTITION BY feature ORDER BY v) AS cum0,
                   SUM(c1) OVER (PARTITION BY feature ORDER BY v) AS cum1
            FROM counts
        )
        SELECT c.feature,
               ROUND(MAX(ABS(CAST(c.cum0 AS DOUBLE) / CAST(t.n0 AS DOUBLE)
                             - CAST(c.cum1 AS DOUBLE) / CAST(t.n1 AS DOUBLE))),
                     9) AS ks
        FROM cdf c JOIN tot t USING (feature) GROUP BY 1
        """,
        # PMI over distinct per-conversation tool sets
        "tool_pmi": f"""
        WITH transcripts AS ({TRANSCRIPTS_FROM_EVENTS_SQL}),
        items AS (
            SELECT DISTINCT conv_id, tool AS item
            FROM transcripts WHERE tool IS NOT NULL
        ),
        nc AS (SELECT CAST(COUNT(DISTINCT conv_id) AS DOUBLE) AS n FROM items),
        marg AS (
            SELECT item, CAST(COUNT(*) AS BIGINT) AS n FROM items GROUP BY 1
        ),
        pairs AS (
            SELECT a.item AS item_a, b.item AS item_b,
                   CAST(COUNT(*) AS BIGINT) AS n_ab
            FROM items a JOIN items b
              ON a.conv_id = b.conv_id AND a.item < b.item
            GROUP BY 1, 2
        )
        SELECT p.item_a, p.item_b, p.n_ab,
               ROUND(LN(CAST(p.n_ab AS DOUBLE) * nc.n
                        / (CAST(ma.n AS DOUBLE) * CAST(mb.n AS DOUBLE))),
                     9) AS pmi
        FROM pairs p
        JOIN marg ma ON ma.item = p.item_a
        JOIN marg mb ON mb.item = p.item_b, nc
        """,
        # vocab counts + deterministic (count desc, value) rank
        "frequency_encoding": r"""
        WITH vs AS (
            SELECT source, CAST(COUNT(*) AS BIGINT) AS source_freq
            FROM documents GROUP BY 1
        ),
        rs AS (
            SELECT source, source_freq,
                   CAST(ROW_NUMBER() OVER (ORDER BY source_freq DESC, source)
                        AS INT) AS source_rank
            FROM vs
        ),
        vl AS (
            SELECT lang, CAST(COUNT(*) AS BIGINT) AS lang_freq
            FROM documents GROUP BY 1
        ),
        rl AS (
            SELECT lang, lang_freq,
                   CAST(ROW_NUMBER() OVER (ORDER BY lang_freq DESC, lang)
                        AS INT) AS lang_rank
            FROM vl
        )
        SELECT d.doc_id, rs.source_rank, rs.source_freq,
               rl.lang_rank, rl.lang_freq
        FROM documents d JOIN rs USING (source) JOIN rl USING (lang)
        """,
        # one groupBy(conv_id) agg; duration via FLOOR(EPOCH()) whole
        # seconds (the engine's unix_timestamp convention); entropy summed
        # in the fixed user/assistant/tool order
        "conversation_trends": _conv_trends_oracle_sql(),
        "conversation_leadlag": _conv_leadlag_oracle_sql(),
        "scd2_intervals": _SCD2_ORACLE,
        "scd2_pointintime_lookup": _SCD2_LOOKUP_ORACLE,
        # sketch family: exact-integer register/counter math on the portable
        # 60-bit md5 hash; one mirrored float quotient (HLL) / all-int (CM)
        "hll_distinct_by_lang": _hll_oracle_sql(),
        "countmin_token_counts": _COUNTMIN_ORACLE,
        "decayed_features": _decayed_oracle_sql(),
        "weighted_sample_by_lang": _WEIGHTED_SAMPLE_ORACLE,
        "rrf_fusion": _RRF_ORACLE,
        "pool_embeddings": _POOL_EMB_ORACLE,
        "theilsen_trends": _theilsen_oracle_sql(),
        "conversation_integrity": _INTEGRITY_ORACLE,
        "leakage_audit": _LEAKAGE_ORACLE,
        "conversation_features": _FEATURIZE_BASE
        + """
, ra AS (
    SELECT conv_id,
           CAST(COUNT(*) AS BIGINT) AS n_turns,
           CAST(FLOOR(EPOCH(MAX(ts))) - FLOOR(EPOCH(MIN(ts))) AS DOUBLE)
               AS duration_s,
           CAST(MAX(session_id) + 1 AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_tool_calls,
           SUM(n_tokens) AS tokens_total,
           AVG(n_tokens) AS tokens_avg,
           SUM(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS nu,
           SUM(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) AS na,
           SUM(CASE WHEN role = 'tool' THEN 1 ELSE 0 END) AS nt
    FROM feat GROUP BY 1
)
SELECT conv_id, n_turns, duration_s, n_sessions, n_tool_calls,
       ROUND(CAST(n_tool_calls AS DOUBLE) / CAST(n_turns AS DOUBLE), 6)
           AS tool_rate,
       ROUND(tokens_total, 6) AS tokens_total,
       ROUND(tokens_avg, 6) AS tokens_avg,
       ROUND(
           (CASE WHEN nu > 0 THEN -(nu / CAST(n_turns AS DOUBLE))
                 * LN(nu / CAST(n_turns AS DOUBLE)) ELSE 0 END)
         + (CASE WHEN na > 0 THEN -(na / CAST(n_turns AS DOUBLE))
                 * LN(na / CAST(n_turns AS DOUBLE)) ELSE 0 END)
         + (CASE WHEN nt > 0 THEN -(nt / CAST(n_turns AS DOUBLE))
                 * LN(nt / CAST(n_turns AS DOUBLE)) ELSE 0 END), 6)
           AS role_entropy
FROM ra
""",
        # quantile_cont == Spark percentile == NumPy linear interpolation;
        # clip/scale mirrored as LEAST/GREATEST + the IQR-or-1 rule
        "quantile_prep": r"""
        WITH d AS (
            SELECT doc_id, CAST(LENGTH(text) AS DOUBLE) AS n_chars,
                   CAST(LEN(STRING_SPLIT_REGEX(text, '\s+')) AS DOUBLE) AS n_toks
            FROM documents
        ),
        q AS (
            SELECT
                quantile_cont(n_chars, 0.05) AS c_lo,
                quantile_cont(n_chars, 0.95) AS c_hi,
                quantile_cont(n_chars, 0.25) AS c_q1,
                quantile_cont(n_chars, 0.5)  AS c_med,
                quantile_cont(n_chars, 0.75) AS c_q3,
                quantile_cont(n_toks, 0.05) AS t_lo,
                quantile_cont(n_toks, 0.95) AS t_hi,
                quantile_cont(n_toks, 0.25) AS t_q1,
                quantile_cont(n_toks, 0.5)  AS t_med,
                quantile_cont(n_toks, 0.75) AS t_q3
            FROM d
        )
        SELECT d.doc_id,
               ROUND(LEAST(GREATEST(d.n_chars, q.c_lo), q.c_hi), 6) AS n_chars_w,
               ROUND((d.n_chars - q.c_med)
                     / (CASE WHEN q.c_q3 - q.c_q1 > 0
                             THEN q.c_q3 - q.c_q1 ELSE 1.0 END), 6) AS n_chars_r,
               ROUND(LEAST(GREATEST(d.n_toks, q.t_lo), q.t_hi), 6) AS n_toks_w,
               ROUND((d.n_toks - q.t_med)
                     / (CASE WHEN q.t_q3 - q.t_q1 > 0
                             THEN q.t_q3 - q.t_q1 ELSE 1.0 END), 6) AS n_toks_r
        FROM d CROSS JOIN q
        """,
        # grid = conversation-local daily sequence (capped), values via the
        # same backward ASOF pick; right side deduped to unique (conv, ts)
        "resample_grid": f"""
        WITH transcripts AS ({TRANSCRIPTS_FROM_EVENTS_SQL}),
        f AS (
            SELECT conv_id, ts,
                   MAX(CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1
                            AS DOUBLE)) AS n_tokens
            FROM transcripts GROUP BY 1, 2
        ),
        b AS (SELECT conv_id, MIN(ts) AS lo, MAX(ts) AS hi FROM f GROUP BY 1),
        grid AS (
            SELECT conv_id,
                   UNNEST(generate_series(
                       lo,
                       LEAST(hi, lo + INTERVAL '864000000 seconds'),
                       INTERVAL '86400 seconds')) AS ts
            FROM b
        )
        SELECT g.conv_id, g.ts, ROUND(f.n_tokens, 6) AS n_tokens_asof
        FROM grid g ASOF LEFT JOIN f
          ON g.conv_id = f.conv_id AND g.ts >= f.ts
        """,
        # PSI: ref (even doc_id) defines 10 uniform bins; clip-to-edge-bin,
        # 1e-6 proportion floor, (p-q)*ln(p/q) — ops mirrored from drift.py
        "psi_drift": r"""
        WITH d AS (
            SELECT doc_id, CAST(LENGTH(text) AS DOUBLE) AS n_chars,
                   CAST(LEN(STRING_SPLIT_REGEX(text, '\s+')) AS DOUBLE) AS n_toks
            FROM documents
        ),
        long AS (
            SELECT doc_id, 'n_chars' AS feature, n_chars AS v FROM d
            UNION ALL SELECT doc_id, 'n_toks', n_toks FROM d
        ),
        edges AS (
            SELECT feature, MIN(v) AS lo,
                   CASE WHEN MAX(v) > MIN(v) THEN (MAX(v) - MIN(v)) / 10
                        ELSE 1.0 END AS width
            FROM long WHERE doc_id % 2 = 0 GROUP BY 1
        ),
        binned AS (
            SELECT l.feature, l.doc_id % 2 AS grp,
                   CAST(LEAST(GREATEST(FLOOR((l.v - e.lo) / e.width), 0), 9)
                        AS INT) AS b
            FROM long l JOIN edges e USING (feature)
        ),
        counts AS (
            SELECT feature, grp, b, COUNT(*) AS c FROM binned GROUP BY 1, 2, 3
        ),
        grid AS (
            SELECT e.feature, g.grp, bb.b
            FROM edges e
            CROSS JOIN (VALUES (0), (1)) g(grp)
            CROSS JOIN (SELECT UNNEST(RANGE(10)) AS b) bb
        ),
        filled AS (
            SELECT g.feature, g.grp, g.b, COALESCE(c.c, 0) AS c
            FROM grid g LEFT JOIN counts c
              ON c.feature = g.feature AND c.grp = g.grp AND c.b = g.b
        ),
        tot AS (SELECT feature, grp, SUM(c) AS n FROM filled GROUP BY 1, 2),
        p0 AS (
            SELECT f.feature, f.b,
                   GREATEST(CAST(f.c AS DOUBLE)
                            / GREATEST(CAST(t.n AS DOUBLE), 1.0), 1e-6) AS p
            FROM filled f JOIN tot t USING (feature, grp) WHERE f.grp = 0
        ),
        p1 AS (
            SELECT f.feature, f.b,
                   GREATEST(CAST(f.c AS DOUBLE)
                            / GREATEST(CAST(t.n AS DOUBLE), 1.0), 1e-6) AS p
            FROM filled f JOIN tot t USING (feature, grp) WHERE f.grp = 1
        )
        SELECT p0.feature,
               ROUND(SUM((p0.p - p1.p) * LN(p0.p / p1.p)), 6) AS psi
        FROM p0 JOIN p1 USING (feature, b) GROUP BY 1
        """,
        # StandardScaler: mean = s/n, var = max(q/n - mean^2, 0),
        # std 0 -> 1.0; z = (v - mean)/std — same op order as univariate.py
        "standard_scale": r"""
        WITH d AS (
            SELECT doc_id, CAST(LENGTH(text) AS DOUBLE) AS n_chars,
                   CAST(LEN(STRING_SPLIT_REGEX(text, '\s+')) AS DOUBLE) AS n_toks
            FROM documents
        ),
        st AS (
            SELECT COUNT(*) AS n,
                   SUM(n_chars) AS s1, SUM(n_chars * n_chars) AS q1,
                   SUM(n_toks) AS s2, SUM(n_toks * n_toks) AS q2
            FROM d
        ),
        mm AS (
            SELECT n, s1 / n AS m1, s2 / n AS m2,
                   GREATEST(q1 / n - (s1 / n) * (s1 / n), 0) AS v1,
                   GREATEST(q2 / n - (s2 / n) * (s2 / n), 0) AS v2
            FROM st
        ),
        sc AS (
            SELECT m1, m2,
                   CASE WHEN SQRT(v1) > 0 THEN SQRT(v1) ELSE 1.0 END AS sd1,
                   CASE WHEN SQRT(v2) > 0 THEN SQRT(v2) ELSE 1.0 END AS sd2
            FROM mm
        )
        SELECT d.doc_id,
               ROUND((d.n_chars - sc.m1) / sc.sd1, 6) AS n_chars_z,
               ROUND((d.n_toks - sc.m2) / sc.sd2, 6) AS n_toks_z
        FROM d CROSS JOIN sc
        """,
        "variance_threshold": _VARIANCE_ORACLE,
        "mdr_interaction": _MDR_INTERACTION_ORACLE,
        "mdr_predictions": _MDR_PREDICTIONS_ORACLE,
        "turf_selection": _TURF_ORACLE,
        "cfs_selection": _cfs_oracle_sql(),
        "relieff_scores": _RELIEFF_ORACLE,
        "surf_scores": _SURF_ORACLE,
        "surf_star_scores": _SURF_STAR_ORACLE,
        "multisurf_scores": _MULTISURF_ORACLE,
        "multisurf_star_scores": _MULTISURF_STAR_ORACLE,
        "streaming_sliding_rates": _STREAM_SLIDING_ORACLE,
        "streaming_dedup": f"""
        WITH transcripts AS ({TRANSCRIPTS_FROM_EVENTS_SQL})
        SELECT DISTINCT
            MD5(LOWER(REGEXP_REPLACE(TRIM(text), '\\s+', ' ', 'g'))) AS fp_exact
        FROM transcripts
        """,
        # dropDuplicatesWithinWatermark over the planted 4-batch fixture:
        # the oracle recomputes the EMPIRICALLY-VERIFIED semantics from the
        # same literal rows — dropped duplicates EXTEND the state expiry
        # (exp(fp,b) = max fp-event-ts through batch b, + delay), and
        # eviction is lazy: state dies at the first batch whose ENTRY
        # watermark (max event ts of batches < b, minus delay) exceeds the
        # extended expiry; a second epoch's first arrival in any LATER
        # batch re-emits.
        "streaming_dedup_within_watermark": """
        WITH rows(batch, ts, text) AS (VALUES
            (1, TIMESTAMP '2024-01-01 10:00:00', 'alpha'),
            (1, TIMESTAMP '2024-01-01 10:00:30', 'beta'),
            (2, TIMESTAMP '2024-01-01 10:05:00', 'alpha'),
            (2, TIMESTAMP '2024-01-01 10:30:00', 'gamma'),
            (3, TIMESTAMP '2024-01-01 10:45:00', 'delta'),
            (4, TIMESTAMP '2024-01-01 11:00:00', 'alpha'),
            (4, TIMESTAMP '2024-01-01 11:01:00', 'beta'),
            (4, TIMESTAMP '2024-01-01 10:39:00', 'gamma')
        ),
        fp AS (
            SELECT batch, ts,
                   MD5(LOWER(REGEXP_REPLACE(TRIM(text), '\\s+', ' ', 'g'))) AS fp_exact
            FROM rows
        ),
        wmb AS (
            SELECT b.batch,
                   (SELECT MAX(p.ts) FROM fp p WHERE p.batch < b.batch)
                       - INTERVAL 10 MINUTE AS wm_start
            FROM (SELECT DISTINCT batch FROM fp) b
        ),
        expfb AS (
            SELECT k.fp_exact, b.batch,
                   (SELECT MAX(p.ts) FROM fp p
                    WHERE p.fp_exact = k.fp_exact AND p.batch <= b.batch)
                       + INTERVAL 10 MINUTE AS exp
            FROM (SELECT DISTINCT fp_exact FROM fp) k
            CROSS JOIN (SELECT DISTINCT batch FROM fp) b
        ),
        evict AS (
            SELECT e.fp_exact, MIN(e.batch) AS evict_b
            FROM expfb e JOIN wmb w ON w.batch = e.batch
            WHERE w.wm_start IS NOT NULL AND w.wm_start > e.exp
            GROUP BY e.fp_exact
        ),
        e1 AS (
            SELECT fp_exact, ts FROM (
                SELECT fp_exact, ts,
                       ROW_NUMBER() OVER (PARTITION BY fp_exact
                                          ORDER BY batch, ts) AS rn
                FROM fp) t
            WHERE rn = 1
        ),
        e2 AS (
            SELECT f.fp_exact, MIN(f.ts) AS ts
            FROM fp f JOIN evict v
              ON v.fp_exact = f.fp_exact AND f.batch > v.evict_b
            GROUP BY f.fp_exact
        ),
        emitted AS (
            SELECT fp_exact, ts FROM e1
            UNION ALL
            SELECT fp_exact, ts FROM e2
        )
        SELECT fp_exact, CAST(COUNT(*) AS BIGINT) AS n_emitted,
               MIN(ts) AS first_ts, MAX(ts) AS last_ts
        FROM emitted GROUP BY fp_exact
        """,
        "q1_pricing_summary": """
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 2)                  AS sum_qty,
               ROUND(SUM(l_extendedprice), 2)             AS sum_base_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               ROUND(AVG(l_quantity), 4)                  AS avg_qty,
               COUNT(*)                                   AS count_order
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
        """,
        "top_customers": """
        SELECT c.c_custkey, c.c_name,
               ROUND(SUM(o.o_totalprice), 2) AS revenue,
               COUNT(*)                      AS n_orders
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey, c.c_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 10
        """,
        "supplier_part_revenue": _SUPPLIER_PART_SQL,
        "nations_set_ops": _SET_OPS_SQL,
        "events_daily": _EVENTS_DAILY_SQL,
    }
    ivf = _ivf_topk_oracle_sql()
    if ivf is not None:
        out["ann_ivf_topk"] = ivf
    ivfsq = _ivf_sq8_topk_oracle_sql()
    if ivfsq is not None:
        out["ann_ivf_sq8_topk"] = ivfsq
    pcorr = _partial_corr_oracle_sql()
    if pcorr is not None:
        out["partial_correlations"] = pcorr
    maha = _mahalanobis_oracle_sql()
    if maha is not None:
        out["mahalanobis_outliers"] = maha
    pca = _pca_projection_oracle_sql()
    if pca is not None:
        out["pca_projection"] = pca
    km = _kmeans_clusters_oracle_sql()
    if km is not None:
        out["kmeans_clusters"] = km
    sd = _semantic_dedup_oracle_sql()
    if sd is not None:
        out["semantic_dedup"] = sd
    cbs = _cluster_balanced_sample_oracle_sql()
    if cbs is not None:
        out["cluster_balanced_sample"] = cbs
    out["dsir_logweights"] = _DSIR_LOGWEIGHTS_SQL
    out["perplexity_tertiles"] = _PPL_TERTILES_SQL
    qc = _quality_classifier_oracle_sql()
    if qc is not None:
        out["quality_classifier"] = qc
    pqc = _pq_codes_oracle_sql()
    if pqc is not None:
        out["pq_codes"] = pqc
    pqt = _pq_topk_oracle_sql()
    if pqt is not None:
        out["pq_topk"] = pqt
    # the streaming quality filter is a stateless projection of the same
    # rows — the batch filter SQL is its oracle verbatim
    out["streaming_quality_filter"] = out["quality_filter"]
    # streaming PSI == batch per-window PSI (complete mode, same literals):
    # ref = even doc_ids; ts = the _streamable_documents derivation
    out["streaming_psi_drift"] = r"""
    WITH base AS (
        SELECT doc_id,
               TIMESTAMP '2026-01-01 00:00:00'
                   + doc_id * INTERVAL '1 second' AS ts,
               CAST(LENGTH(text) AS DOUBLE) AS v
        FROM documents
    ),
    e AS (
        SELECT MIN(v) AS lo,
               CASE WHEN MAX(v) > MIN(v) THEN (MAX(v) - MIN(v)) / 10
                    ELSE 1.0 END AS width
        FROM base WHERE doc_id % 2 = 0
    ),
    grid AS (SELECT UNNEST(RANGE(10)) AS b),
    refc AS (
        SELECT CAST(LEAST(GREATEST(FLOOR((v - e.lo) / e.width), 0), 9) AS INT)
                   AS b,
               COUNT(*) AS c
        FROM base, e WHERE doc_id % 2 = 0 GROUP BY 1
    ),
    q AS (
        SELECT g.b,
               GREATEST(CAST(COALESCE(refc.c, 0) AS DOUBLE)
                        / GREATEST((SELECT CAST(SUM(c) AS DOUBLE) FROM refc),
                                   1.0),
                        1e-6) AS q
        FROM grid g LEFT JOIN refc ON refc.b = g.b
    ),
    win AS (
        SELECT CAST(TO_TIMESTAMP(FLOOR(EPOCH(ts) / 120) * 120) AS TIMESTAMP)
                   AS window_start,
               CAST(LEAST(GREATEST(FLOOR((v - e.lo) / e.width), 0), 9) AS INT)
                   AS b
        FROM base, e
    ),
    wc AS (SELECT window_start, b, COUNT(*) AS c FROM win GROUP BY 1, 2),
    wtot AS (SELECT window_start, SUM(c) AS n FROM wc GROUP BY 1),
    wp AS (
        SELECT t.window_start, g.b, t.n,
               GREATEST(CAST(COALESCE(wc.c, 0) AS DOUBLE)
                        / GREATEST(CAST(t.n AS DOUBLE), 1.0), 1e-6) AS p
        FROM wtot t CROSS JOIN grid g
        LEFT JOIN wc ON wc.window_start = t.window_start AND wc.b = g.b
    )
    SELECT wp.window_start, CAST(MAX(wp.n) AS BIGINT) AS n,
           ROUND(SUM((wp.p - q.q) * LN(wp.p / q.q)), 6) AS psi
    FROM wp JOIN q ON q.b = wp.b
    GROUP BY 1
    """
    # streaming categorical drift == batch per-window chi2 vs the
    # even-doc_id reference mix (complete mode; shares + chi2 terms are
    # exact-integer-derived; ordered-window sum pins the chi2 order)
    out["streaming_category_drift"] = r"""
    WITH base AS (
        SELECT d.doc_id,
               TIMESTAMP '2026-01-01 00:00:00'
                   + d.doc_id * INTERVAL '1 second' AS ts,
               d.lang
        FROM documents d
    ),
    refc AS (
        SELECT lang, COUNT(*) AS c FROM base
        WHERE doc_id % 2 = 0 AND lang IS NOT NULL GROUP BY 1
    ),
    reft AS (SELECT SUM(c) AS t FROM refc),
    props AS (
        SELECT lang AS category,
               CAST(c AS DOUBLE) / CAST(t AS DOUBLE) AS p
        FROM refc, reft
    ),
    win AS (
        SELECT CAST(TO_TIMESTAMP(FLOOR(EPOCH(ts) / 120) * 120) AS TIMESTAMP)
                   AS window_start,
               lang
        FROM base
    ),
    wc AS (
        SELECT w.window_start, p.category,
               CAST(COUNT(x.lang) AS BIGINT) AS o
        FROM (SELECT DISTINCT window_start FROM win) w
        CROSS JOIN props p
        LEFT JOIN win x
          ON x.window_start = w.window_start AND x.lang = p.category
        GROUP BY 1, 2
    ),
    wother AS (
        SELECT window_start,
               CAST(SUM(CASE WHEN lang NOT IN (SELECT category FROM props)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_other
        FROM win GROUP BY 1
    ),
    wn AS (SELECT window_start, SUM(o) AS n FROM wc GROUP BY 1),
    terms AS (
        SELECT wc.window_start, wc.category,
               CAST(wn.n AS BIGINT) AS n, wo.n_other, wc.o,
               CASE WHEN CAST(wn.n AS DOUBLE) * p.p > 0.0
                    THEN (CAST(wc.o AS DOUBLE) - CAST(wn.n AS DOUBLE) * p.p)
                         * (CAST(wc.o AS DOUBLE) - CAST(wn.n AS DOUBLE) * p.p)
                         / (CAST(wn.n AS DOUBLE) * p.p)
                    ELSE 0.0 END AS chi2_term
        FROM wc
        JOIN wn USING (window_start)
        JOIN wother wo USING (window_start)
        JOIN props p ON p.category = wc.category
    )
    SELECT window_start, category, n, n_other, o,
           ROUND(chi2_term, 6) AS chi2_term,
           ROUND(SUM(chi2_term) OVER (PARTITION BY window_start
                     ORDER BY category ROWS BETWEEN UNBOUNDED PRECEDING
                     AND UNBOUNDED FOLLOWING), 6) AS chi2
    FROM terms
    """
    # streaming quantiles == batch per-window quantile_cont (complete
    # mode; Spark exact percentile == DuckDB quantile_cont, proven by the
    # batch winsorize/RobustScaler family)
    # stream registers + batch fold == batch per-window HLL (identical
    # register projection by construction, corpus/sketches.py)
    out["streaming_hll_distinct"] = _streaming_hll_oracle_sql()
    out["streaming_countmin"] = _STREAMING_CM_ORACLE
    out["streaming_hll_sliding"] = _streaming_hll_sliding_oracle_sql()
    out["streaming_quantiles"] = r"""
    WITH base AS (
        SELECT doc_id,
               TIMESTAMP '2026-01-01 00:00:00'
                   + doc_id * INTERVAL '1 second' AS ts,
               CAST(LENGTH(text) AS DOUBLE) AS v
        FROM documents
    )
    SELECT CAST(TO_TIMESTAMP(FLOOR(EPOCH(ts) / 120) * 120) AS TIMESTAMP)
               AS window_start,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(QUANTILE_CONT(v, 0.5), 6) AS q50,
           ROUND(QUANTILE_CONT(v, 0.9), 6) AS q90
    FROM base GROUP BY 1
    """
    # in-order arrival + TTL > run ⇒ streaming as-of == batch as-of join
    # (streaming/asof.py exactness conditions); same DuckDB ASOF LEFT JOIN
    # as asof_session_stats, minus the n_turns column
    out["streaming_asof_enrich"] = (
        _FEATURIZE_BASE
        + """
, sess AS (
    SELECT conv_id, session_id, MAX(ts) AS ts,
           ROUND(AVG(n_tokens), 6) AS fval
    FROM feat GROUP BY conv_id, session_id
)
SELECT f.conv_id, f.turn_idx,
       ROUND(s.fval, 6) AS sess_avg_tokens_asof
FROM feat f ASOF LEFT JOIN sess s
    ON f.conv_id = s.conv_id AND f.ts >= s.ts
"""
    )
    # stateless scrub => stream result == batch result; email+SSN planting
    out["streaming_pii_redaction"] = r"""
        WITH planted AS (
            SELECT doc_id,
                   text
                   || CASE WHEN doc_id % 3 = 0 THEN ' contact user'
                        || CAST(doc_id AS STRING) || '@ex'
                        || CAST(doc_id % 7 AS STRING) || '.com' ELSE '' END
                   || CASE WHEN doc_id % 5 = 0 THEN ' ssn 123-45-'
                        || lpad(CAST(doc_id % 10000 AS STRING), 4, '0') ELSE '' END
                   AS t0
            FROM documents
        ),
        s1 AS (
            SELECT doc_id,
                   CAST(len(regexp_extract_all(t0,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
                   regexp_replace(t0,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g') AS t1
            FROM planted
        ),
        s2 AS (
            SELECT doc_id, n_email,
                   CAST(len(regexp_extract_all(t1,
                       '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) AS BIGINT) AS n_ipv4,
                   regexp_replace(t1,
                       '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b',
                       '<IP>', 'g') AS t2
            FROM s1
        ),
        s3 AS (
            SELECT doc_id, n_email, n_ipv4,
                   CAST(len(regexp_extract_all(t2,
                       '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b')) AS BIGINT) AS n_ssn,
                   regexp_replace(t2,
                       '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '<SSN>', 'g') AS t3
            FROM s2
        ),
        s4 AS (
            SELECT doc_id, n_email, n_ipv4, n_ssn,
                   CAST(len(regexp_extract_all(t3,
                       '(?:\+|\b)[0-9][0-9 -]{7,13}[0-9]\b')) AS BIGINT) AS n_phone,
                   regexp_replace(t3,
                       '(?:\+|\b)[0-9][0-9 -]{7,13}[0-9]\b', '<PHONE>', 'g') AS t4
            FROM s3
        )
        SELECT doc_id, n_email, n_ssn,
               n_email + n_ipv4 + n_ssn + n_phone AS n_pii,
               t4 AS text_redacted
        FROM s4
    """
    return out


# ----------------------------------------------------------------- entry --

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: transcripts -> featurize -> as-of join -> matrix -> scores."""
    sf_dir = "/root/testdata/sf0.001"
    feat = featurize_transcripts(_transcripts(spark, sf_dir))
    sess = feat.groupBy("conv_id", "session_id").agg(
        F.max("ts").alias("ts"), F.avg("n_tokens").alias("sess_avg_tokens")
    )
    mat = asof_join(
        feat,
        sess.select("conv_id", "ts", "sess_avg_tokens"),
        strategy="window",
    )
    # discretize into small integer codes for the MI pass
    codes = mat.select(
        F.least(F.col("session_id"), F.lit(7)).cast("int").alias("c_session"),
        F.least(F.col("role_run_len"), F.lit(5)).cast("int").alias("c_runlen"),
        F.least(F.floor(F.col("turn_gap_s") / 60.0), F.lit(10)).cast("int").alias("c_gap"),
        F.least(F.floor(F.col("sess_avg_tokens_asof")), F.lit(10)).cast("int").alias("c_stok"),
        F.col("label").cast("int").alias("label"),
    )
    fcols = ["c_session", "c_runlen", "c_gap", "c_stok"]
    stats, pvals = chi2(codes, fcols, "label")
    rel, _ = mi_matrices(codes, fcols, "label", compute_redundancy=False)
    return spark.createDataFrame(
        [
            (c, float(s), float(pv), float(r))
            for c, s, pv, r in zip(fcols, stats, pvals, rel)
        ],
        schema="feature string, chi2 double, p_value double, mi_bits double",
    )
