"""Maximal Marginal Relevance (MMR) diversified top-k retrieval
(Carbonell & Goldstein 1998): rerank a relevance-ranked candidate pool so
the result balances relevance against redundancy —

    mmr(i) = λ·rel(i) − (1−λ)·max_{s∈selected} sim(i, s)

The standard fix for near-duplicate-saturated retrieval results (the
retrieval-side twin of the dedup family: instead of deleting near-dups
from the corpus, keep them from crowding one query's top-k).

Distributed shape: stage 1 is the exact cosine top-``pool`` scan
(similarity/ann.py cosine_topk — broadcast queries, partition-local
top-k, corpus never shuffled); stage 2 computes the pool's pairwise
similarities with ONE small Spark job (pool²·|queries| rows — bounded by
parameters, not data); stage 3 is the greedy argmax on the driver over
those collected tables (the same driver-greedy discipline as mRMR — the
loop is O(k·pool) per query on k-row state, not cluster work).

Cross-engine determinism: every similarity is ROUNDED TO 6 ENGINE-SIDE
before the greedy consumes it (both relevance and pair sims), so the
driver's float arithmetic runs on values both engines agree on
bit-for-bit; ties break by ascending neighbor id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def pool_pair_sims(
    corpus: DataFrame,
    pool_df: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """(query_id, id_a, id_b, sim) — rounded cosine between every
    unordered pair of a query's pool members.

    The pool is bounded by parameters (pool × |queries| ids), so the pair
    table is DRIVER-built: one broadcast semi-join collects the pool
    embeddings, the unordered pairs are enumerated in Python, and the
    SAME Catalyst dot/norm/round expressions evaluate over the resulting
    LocalTableScan — bit-identical sims (same expression tree, same
    element types) without the former per-side broadcast builds of the
    embedding fetch join (round-6; each build re-ran the corpus
    semi-join)."""
    import pandas as pd
    from pyspark.sql import types as T

    spark = corpus.sparkSession
    ids = pool_df.select(F.col("neighbor_id").alias(id_col)).distinct()
    emb_pdf = (
        corpus.join(F.broadcast(ids), id_col, "left_semi")
        .select(F.col(id_col).alias("__id"), F.col(emb_col).alias("__e"))
        .toPandas()
    )
    e_of = dict(zip(emb_pdf["__id"].tolist(), emb_pdf["__e"].tolist()))
    by_q: dict = {}
    for r in pool_df.select("query_id", "neighbor_id").collect():
        by_q.setdefault(r["query_id"], []).append(r["neighbor_id"])
    rows = []
    for q in by_q:
        members = by_q[q]
        for i, a_id in enumerate(members):
            for b_id in members[i + 1 :]:
                # join semantics: a pair needs two distinct members,
                # each with a corpus embedding
                if a_id == b_id or a_id not in e_of or b_id not in e_of:
                    continue
                lo, hi = (a_id, b_id) if a_id < b_id else (b_id, a_id)
                rows.append((q, lo, hi, e_of[lo], e_of[hi]))
    q_t = pool_df.schema["query_id"].dataType
    id_t = pool_df.schema["neighbor_id"].dataType
    e_t = corpus.schema[emb_col].dataType
    schema = T.StructType(
        [
            T.StructField("query_id", q_t),
            T.StructField("id_a", id_t),
            T.StructField("id_b", id_t),
            T.StructField("e_a", e_t),
            T.StructField("e_b", e_t),
        ]
    )
    j = spark.createDataFrame(
        pd.DataFrame(rows, columns=["query_id", "id_a", "id_b", "e_a", "e_b"])
        if rows
        else [],
        schema=schema,
    )
    sim = _dot(F.col("e_a"), F.col("e_b")) / (
        F.sqrt(_dot(F.col("e_a"), F.col("e_a")))
        * F.sqrt(_dot(F.col("e_b"), F.col("e_b")))
    )
    return j.select(
        "query_id", "id_a", "id_b", F.round(sim, 6).alias("sim")
    )


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    pool: int = 20,
    lam: float = 0.7,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """(query_id, rank, neighbor_id, relevance) — the MMR-diversified
    top-``k`` out of each query's exact top-``pool``."""
    from fastselect_spark.similarity.ann import cosine_topk

    spark = corpus.sparkSession
    pool_df = cosine_topk(
        corpus, queries, k=pool, emb_col=emb_col, id_col=id_col
    ).select("query_id", "neighbor_id", F.col("cosine").alias("rel"))
    pool_df = pool_df.localCheckpoint()  # reused by the pair job + collect
    sims_df = pool_pair_sims(corpus, pool_df, id_col, emb_col)

    rel_rows = pool_df.collect()
    sim_rows = sims_df.collect()
    # ids pass through UNTOUCHED (no int() coercion): string or any
    # orderable id type works; pair canonicalization below uses the same
    # ordering as pool_pair_sims' `id_a < id_b`
    by_q: dict = {}
    for r in rel_rows:
        by_q.setdefault(r["query_id"], []).append(
            (r["neighbor_id"], float(r["rel"]))
        )
    sims: dict = {}
    for r in sim_rows:
        sims[(r["query_id"], r["id_a"], r["id_b"])] = float(r["sim"])

    def pair_sim(q, i, j) -> float:
        if i == j:
            return 1.0
        a, b = (i, j) if i < j else (j, i)
        return sims.get((q, a, b), 0.0)

    one_minus = 1.0 - float(lam)
    out = []
    for q, cands in by_q.items():
        cands = sorted(cands, key=lambda t: (-t[1], t[0]))
        selected: list[int] = []
        rel_of = dict(cands)
        remaining = [cid for cid, _ in cands]
        for rank in range(1, min(k, len(remaining)) + 1):
            best = None
            for cid in remaining:
                if selected:
                    maxsim = max(pair_sim(q, cid, s) for s in selected)
                else:
                    maxsim = 0.0
                score = float(lam) * rel_of[cid] - one_minus * maxsim
                key = (-score, cid)
                if best is None or key < best[0]:
                    best = (key, cid)
            cid = best[1]
            selected.append(cid)
            remaining.remove(cid)
            out.append((q, rank, cid, rel_of[cid]))
    # output schema derives from the pool frame, so non-integral id types
    # round-trip instead of raising at collect time
    from pyspark.sql import types as T

    pool_schema = {f.name: f.dataType for f in pool_df.schema.fields}
    schema = T.StructType(
        [
            T.StructField("query_id", pool_schema["query_id"]),
            T.StructField("rank", T.IntegerType()),
            T.StructField("neighbor_id", pool_schema["neighbor_id"]),
            T.StructField("relevance", T.DoubleType()),
        ]
    )
    return spark.createDataFrame(out, schema=schema)


def embedding_health(
    corpus: DataFrame,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    k: float = 3.5,
) -> DataFrame:
    """Per-vector health record for an embedding table — the data-quality
    gate an ANN/dedup pipeline should run before trusting cosine math:

    (id, dim, l2_norm, is_zero, has_nan, norm_out) where ``norm_out``
    flags MAD-outlier norms (|norm − median| > k·1.4826·MAD — collapsed
    or exploded vectors from a bad encoder batch) and ``is_zero`` marks
    exactly-zero vectors (cosine undefined). One projection scan for the
    per-vector stats + the two exact-percentile MAD aggs
    (selection/univariate.py); the flagging is a literal projection."""
    from fastselect_spark.selection import mad_outliers, mad_stats

    dot = F.aggregate(
        F.zip_with(
            F.col(emb_col),
            F.col(emb_col),
            lambda x, y: x.cast("double") * y.cast("double"),
        ),
        F.lit(0.0),
        lambda a, v: a + v,
    )
    has_nan = F.exists(F.col(emb_col), lambda v: F.isnan(v.cast("double")))
    # norms round to 6 ENGINE-side before the MAD fit: Spark's aggregate()
    # folds the array sequentially while SQL SUM(UNNEST) is unordered, so
    # the raw sums differ in ulps — the rounded norms are the cross-engine
    # contract surface. Persisted: the MAD fit reads it twice.
    base = corpus.select(
        F.col(id_col),
        F.size(F.col(emb_col)).alias("dim"),
        F.round(F.sqrt(dot), 6).alias("l2_norm"),
        (dot == 0.0).cast("int").alias("is_zero"),
        has_nan.cast("int").alias("has_nan"),
    ).persist()
    med, mad = mad_stats(base, ["l2_norm"])
    out = mad_outliers(base, ["l2_norm"], med, mad, k=k)
    out = out.withColumnRenamed("l2_norm_out", "norm_out").localCheckpoint()
    base.unpersist()
    return out
