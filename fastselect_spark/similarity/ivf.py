"""IVF (inverted-file) approximate nearest neighbor over an embedding
column — the centroid-partitioned scale path complementing the LSH variant
(similarity/ann.py).

Index = spherical k-means: unit-normalized centroids trained by distributed
Lloyd iterations (each iteration is ONE ``mapInPandas`` pass accumulating
per-cell (sum, count) via the tree reduction — no row ever reaches the
driver; the driver holds only the (n_cells, dim) centroid matrix; small
training frames run the same per-partition kernel on the driver over one
collect, see :func:`lloyd_reducer`). Vectors
are assigned to their max-dot-product cell; a query probes its ``nprobe``
nearest cells and candidates are re-ranked exactly.

Determinism: centroids are seeded from the ``n_cells`` lowest-id corpus
vectors and Lloyd's updates are exact means of integer-count partitions, so
the index is reproducible on any cluster layout (the per-cell sums are
float64 and merged in partition order by the tree reduction — differences
are at the 1e-15 level and never flip an argmax in practice).

At 100 TB: training runs on a bounded sample (``train_sample``), assignment
is a single scan, and the candidate join is bucket-bounded exactly like the
LSH path — a query touches nprobe/n_cells of the corpus.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fastselect_spark.runtime import gates
from fastselect_spark.selection._agg import local_reducer, tree_reduce_ndarrays


def _normalize(M: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(M, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return M / norms


def lloyd_reducer(train: DataFrame):
    """One Lloyd iteration's ``reduce(partial_fn)`` over ``train``: the
    driver-side :func:`local_reducer` for a small frame (the tree's merge
    order: bit-identical centroids), else one tree-reduced job per call."""
    if gates.use_driver(train, "lloyd"):
        return local_reducer(train)
    return lambda partial_fn: tree_reduce_ndarrays(train, partial_fn)


def train_ivf_centroids(
    corpus: DataFrame,
    n_cells: int = 16,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    max_iter: int = 20,
    tol: float = 1e-4,
    train_sample: int | None = None,
) -> np.ndarray:
    """Unit-normalized (n_cells, dim) centroid matrix via distributed
    spherical k-means. ``train_sample`` bounds the training scan at scale
    with a deterministic key-hash Bernoulli sample of ~train_sample rows
    (corpus/sampling.py) — a row-local filter, NOT ``orderBy().limit()``,
    which Spark executes by funneling the whole scan through a single
    partition (the round-3 finding).

    Small training frames reduce on the driver over one Arrow collect
    (:func:`lloyd_reducer`) — bit-identical centroids without max_iter
    job launches."""
    seed_rows = (
        # TakeOrderedAndProject: per-partition partial top-N merged on the
        # driver — distributed, collects only n_cells rows
        corpus.select(id_col, emb_col).orderBy(id_col).limit(n_cells).collect()
    )
    centroids = _normalize(
        np.stack([np.asarray(r[emb_col], dtype=np.float64) for r in seed_rows])
    )
    train = corpus.select(emb_col)
    if train_sample is not None:
        from fastselect_spark.corpus.sampling import deterministic_sample

        n = corpus.count()
        if train_sample < n:
            train = deterministic_sample(
                corpus.select(id_col, emb_col),
                fraction=train_sample / n,
                key_col=id_col,
                seed=0,
            ).select(emb_col)

    reduce = lloyd_reducer(train)
    for _ in range(max_iter):
        C = centroids  # captured by value in the closure below

        def partial(batches: Iterator[pd.DataFrame]) -> dict[str, np.ndarray]:
            s = np.zeros_like(C)
            cnt = np.zeros(len(C), dtype=np.int64)
            for pdf in batches:
                if pdf.empty:
                    continue
                V = _normalize(
                    np.stack(pdf[emb_col].to_numpy()).astype(np.float64)
                )
                cell = np.argmax(V @ C.T, axis=1)
                np.add.at(s, cell, V)
                cnt += np.bincount(cell, minlength=len(C))
            return {"s": s, "cnt": cnt}

        merged = reduce(partial)
        s, cnt = merged["s"], merged["cnt"]
        new = np.where(cnt[:, None] > 0, s / np.maximum(cnt, 1)[:, None], C)
        new = _normalize(new)
        shift = float(((new - centroids) ** 2).sum())
        centroids = new
        if shift <= tol:
            break
    return centroids


def train_ivf_centroids_numpy(
    parquet_path: str,
    n_cells: int = 16,
    max_iter: int = 20,
    tol: float = 1e-4,
) -> np.ndarray:
    """Single-process NumPy replica of :func:`train_ivf_centroids` reading
    the embeddings parquet directly (no Spark) — the independent oracle for
    the deterministic training contract (lowest-id seeds, exact-mean Lloyd
    updates, same tol/max_iter stopping rule). Spark's tree-reduced float64
    partition sums and this row-order sum agree to ~1e-15 per element,
    which never flips an argmax assignment in practice; the driver's
    DuckDB gate embeds THESE centroids as literals and recomputes
    assignment + probing + exact rerank in SQL."""
    import pyarrow.parquet as pq

    t = pq.read_table(parquet_path, columns=["vec_id", "embedding"])
    ids = t["vec_id"].to_numpy()
    emb = np.stack(t["embedding"].to_pylist()).astype(np.float64)
    order = np.argsort(ids, kind="stable")
    emb = emb[order]
    centroids = _normalize(emb[:n_cells].copy())
    V = _normalize(emb)
    for _ in range(max_iter):
        cell = np.argmax(V @ centroids.T, axis=1)
        s = np.zeros_like(centroids)
        np.add.at(s, cell, V)
        cnt = np.bincount(cell, minlength=len(centroids))
        new = np.where(
            cnt[:, None] > 0, s / np.maximum(cnt, 1)[:, None], centroids
        )
        new = _normalize(new)
        shift = float(((new - centroids) ** 2).sum())
        centroids = new
        if shift <= tol:
            break
    return centroids


def ivf_assign(
    corpus: DataFrame,
    centroids: np.ndarray,
    emb_col: str = "embedding",
) -> DataFrame:
    """Add the ``cell`` column (max-dot-product centroid) — one scan."""
    spark = corpus.sparkSession
    bc = spark.sparkContext.broadcast(centroids)
    cols = corpus.columns

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        C = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            V = _normalize(np.stack(pdf[emb_col].to_numpy()).astype(np.float64))
            out = pdf.copy()
            out["cell"] = np.argmax(V @ C.T, axis=1).astype(np.int32)
            yield out

    schema_str = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in corpus.schema.fields
    )
    return corpus.select(*cols).mapInPandas(assign, schema=f"{schema_str}, cell int")


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: np.ndarray | None = None,
    train_sample: int | None = None,
) -> DataFrame:
    """Approximate top-k: each query probes its ``nprobe`` nearest cells and
    is re-ranked exactly against just those cells' vectors. Returns
    (query_id, neighbor_id, cosine, rank)."""
    if centroids is None:
        centroids = train_ivf_centroids(
            corpus, n_cells, emb_col, id_col, train_sample=train_sample
        )
    cells = ivf_assign(corpus, centroids, emb_col).select(
        F.col(id_col).alias("neighbor_id"), F.col(emb_col).alias("e_c"), "cell"
    )

    # queries are small by definition: probe cells computed driver-side
    qpdf = queries.select(id_col, emb_col).toPandas()
    Q = _normalize(np.stack(qpdf[emb_col].to_numpy()).astype(np.float64))
    sims = Q @ centroids.T
    probe_rows = []
    for qi in range(len(qpdf)):
        order = np.argsort(-sims[qi], kind="stable")[:nprobe]
        for c in order:
            probe_rows.append(
                (int(qpdf[id_col].iloc[qi]), [float(v) for v in Q[qi]], int(c))
            )
    spark = corpus.sparkSession
    probes = spark.createDataFrame(
        probe_rows, schema="query_id long, e_q array<double>, cell int"
    )

    from fastselect_spark.dedup.embedding import _cosine_col

    # probes are (n_queries * nprobe) rows — always the broadcast side
    cand = cells.join(F.broadcast(probes), "cell").where(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = cand.withColumn("cosine", _cosine_col(F.col("e_q"), F.col("e_c")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", F.round("cosine", 6).alias("cosine"), "rank"
        )
    )


def kmeans_clusters(
    corpus: DataFrame,
    n_clusters: int = 8,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: np.ndarray | None = None,
    train_sample: int | None = None,
    max_iter: int = 20,
) -> DataFrame:
    """Corpus TOPIC/DOMAIN CLUSTERING over the embedding column — the
    spherical k-means index reused as a first-class operator (cluster a
    web corpus by domain/topic before per-cluster sampling or mixing).

    Returns ``(id_col, cluster_id, sim)`` — the max-cosine centroid and
    the cosine to it — via ONE narrow ``mapInPandas`` scan against the
    broadcast (n_clusters, dim) centroid matrix: no shuffle of the corpus,
    and the output carries no embedding array. Training is the same
    deterministic distributed Lloyd as :func:`train_ivf_centroids`
    (lowest-id seeds, exact-mean updates), so the DuckDB gate injects the
    independently NumPy-trained centroids as literals and recomputes
    assignment + cosine in SQL. At 100 TB: train on a bounded
    ``train_sample``, then assignment is a single embarrassingly-parallel
    pass.
    """
    if centroids is None:
        centroids = train_ivf_centroids(
            corpus,
            n_clusters,
            emb_col,
            id_col,
            max_iter=max_iter,
            train_sample=train_sample,
        )
    spark = corpus.sparkSession
    bc = spark.sparkContext.broadcast(centroids)

    def assign(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        C = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            V = _normalize(np.stack(pdf[emb_col].to_numpy()).astype(np.float64))
            D = V @ C.T
            cell = np.argmax(D, axis=1)  # first max = lowest cluster on ties
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "cluster_id": cell.astype(np.int32),
                    "sim": D[np.arange(len(cell)), cell],
                }
            )

    return corpus.select(id_col, emb_col).mapInPandas(
        assign, schema=f"`{id_col}` long, cluster_id int, sim double"
    )
