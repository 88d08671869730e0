"""Product quantization (PQ) for embedding search at scale (Jégou et al.
2011, "Product Quantization for Nearest Neighbor Search").

Vectors are unit-normalized, split into ``m`` contiguous subspaces, and
each subvector is replaced by the id of its nearest (L2) centroid from a
per-subspace codebook of ``k`` entries — the corpus compresses from
``dim * 4`` bytes to ``m`` bytes per vector (dim=64, m=8, k=256: 32x).
Query scoring is ADC (asymmetric distance computation): one (m, k)
lookup table of query-subvector · codebook-entry dots, then each corpus
vector's approximate cosine is ``sum_s LUT[s, code_s]`` — m table reads
per vector, no float vector ever touched at scan time.

Scale shape (the 100 TB story):
- Training: ONE tree-reduced ``mapInPandas`` pass per Lloyd iteration
  updates ALL m codebooks together (per-subspace assignment + exact-mean
  (sum, count) accumulators — selection/_agg.py); driver holds only the
  (m, k, dim/m) codebook tensor. Small training frames run the same
  kernel on the driver over one collect (ivf.lloyd_reducer).
  Deterministic: codebooks seed from the k lowest-id vectors'
  subvectors, assignment ties take the lowest code, so the independent
  NumPy replica retrains near-bit-identical codebooks and the DuckDB
  gate recomputes encoding + ADC from codebook LITERALS.
- Encoding: one broadcast row-local scan -> narrow ``(id, codes)``.
- Top-k: broadcast query LUTs over the CODES table (m bytes/row, not
  dim*4) + per-partition local top-k, merged like similarity/ann.py's
  exact path — the corpus is never shuffled or collected.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from fastselect_spark.similarity.ivf import _normalize, lloyd_reducer


def _split(V: np.ndarray, m: int) -> np.ndarray:
    """(n, dim) -> (m, n, dsub) contiguous subspace views."""
    n, dim = V.shape
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    return np.ascontiguousarray(V.reshape(n, m, dim // m).transpose(1, 0, 2))


def _assign_codes(S: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Per-subspace nearest-L2 codes: S (m, n, dsub), C (m, k, dsub) ->
    (n, m) int32. argmin(||x-c||^2) = argmin(||c||^2 - 2 x·c); ties take
    the lowest code (np.argmin first-min)."""
    m = S.shape[0]
    codes = np.empty((S.shape[1], m), dtype=np.int32)
    for s in range(m):
        d = (C[s] ** 2).sum(axis=1)[None, :] - 2.0 * (S[s] @ C[s].T)
        codes[:, s] = np.argmin(d, axis=1)
    return codes


def train_pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    k: int = 256,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    max_iter: int = 20,
    tol: float = 1e-6,
    train_sample: int | None = None,
) -> np.ndarray:
    """(m, k, dim/m) float64 codebook tensor via per-subspace Lloyd on
    unit-normalized vectors — all m subspaces updated by one tree-reduced
    pass per iteration. Seeds = the k lowest-id vectors' subvectors.
    ``train_sample`` bounds the training scan with the deterministic
    hash-sampler (never orderBy().limit() — the round-3 funnel)."""
    dim = int(corpus.select(F.size(emb_col).alias("d")).first()["d"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    seed_rows = corpus.select(id_col, emb_col).orderBy(id_col).limit(k).collect()
    if len(seed_rows) < k:
        raise ValueError(f"corpus has fewer than k={k} vectors")
    V0 = _normalize(
        np.stack([np.asarray(r[emb_col], dtype=np.float64) for r in seed_rows])
    )
    C = np.ascontiguousarray(_split(V0, m))  # (m, k, dsub)

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

    dsub = dim // m
    # small/sampled training frames reduce on the driver over one collect
    # (the train_ivf_centroids gate) — bit-identical codebooks
    reduce = lloyd_reducer(train)
    for _ in range(max_iter):
        CB = C

        def partial(batches: Iterator[pd.DataFrame]) -> dict[str, np.ndarray]:
            s_acc = np.zeros_like(CB)
            cnt = np.zeros((m, k), dtype=np.int64)
            for pdf in batches:
                if pdf.empty:
                    continue
                V = _normalize(
                    np.stack(pdf[emb_col].to_numpy()).astype(np.float64)
                )
                S = _split(V, m)
                codes = _assign_codes(S, CB)
                for s in range(m):
                    np.add.at(s_acc[s], codes[:, s], S[s])
                    cnt[s] += np.bincount(codes[:, s], minlength=k)
            return {"s": s_acc.reshape(m * k, dsub), "cnt": cnt}

        merged = reduce(partial)
        s_acc = merged["s"].reshape(m, k, dsub)
        cnt = merged["cnt"]
        new = np.where(
            cnt[:, :, None] > 0,
            s_acc / np.maximum(cnt, 1)[:, :, None],
            C,
        )
        shift = float(((new - C) ** 2).sum())
        C = new
        if shift <= tol:
            break
    return C


def train_pq_codebooks_numpy(
    parquet_path: str,
    m: int = 8,
    k: int = 256,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    max_iter: int = 20,
    tol: float = 1e-6,
) -> np.ndarray:
    """Single-process replica of :func:`train_pq_codebooks` reading the
    parquet directly — the independent oracle trainer (same seeds, same
    exact-mean Lloyd, same stopping rule)."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(parquet_path, columns=[id_col, emb_col])
    order = np.argsort(tbl[id_col].to_numpy(), kind="stable")
    V = _normalize(
        np.stack(
            [np.asarray(v, dtype=np.float64) for v in tbl[emb_col].to_pylist()]
        )[order]
    )
    if V.shape[0] < k:
        raise ValueError(f"corpus has fewer than k={k} vectors")
    C = np.ascontiguousarray(_split(V[:k].copy(), m))
    S = _split(V, m)
    for _ in range(max_iter):
        codes = _assign_codes(S, C)
        new = C.copy()
        for s in range(m):
            cnt = np.bincount(codes[:, s], minlength=k)
            s_acc = np.zeros_like(C[s])
            np.add.at(s_acc, codes[:, s], S[s])
            upd = cnt > 0
            new[s][upd] = s_acc[upd] / cnt[upd, None]
        shift = float(((new - C) ** 2).sum())
        C = new
        if shift <= tol:
            break
    return C


def pq_encode(
    corpus: DataFrame,
    codebooks: np.ndarray,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Narrow codes table ``(id_col, codes array<int>)`` — one broadcast
    row-local scan, no shuffle."""
    m = codebooks.shape[0]
    bc = corpus.sparkSession.sparkContext.broadcast(codebooks)

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        C = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            V = _normalize(np.stack(pdf[emb_col].to_numpy()).astype(np.float64))
            codes = _assign_codes(_split(V, m), C)
            yield pd.DataFrame(
                {id_col: pdf[id_col], "codes": list(codes)}
            )

    return corpus.select(id_col, emb_col).mapInPandas(
        encode, schema=f"`{id_col}` long, codes array<int>"
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: np.ndarray,
    k: int = 10,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    codes: DataFrame | None = None,
) -> DataFrame:
    """Approximate top-k by ADC over PQ codes:
    ``(query_id, neighbor_id, adc, rank)`` where ``adc`` approximates the
    cosine of unit-normalized vectors. Pass a pre-encoded ``codes`` frame
    to reuse a stored index; otherwise the corpus is encoded inline.
    Queries are collected (they are small by contract) and their (m, k)
    LUTs broadcast; the scan reads only the codes table; top-k is
    per-partition local then globally merged by a bounded Window over
    query_id (queries × k rows)."""
    m = codebooks.shape[0]
    if codes is None:
        codes = pq_encode(corpus, codebooks, emb_col, id_col)
    q_rows = queries.select(id_col, emb_col).collect()
    Q = _normalize(
        np.stack([np.asarray(r[emb_col], dtype=np.float64) for r in q_rows])
    )
    q_ids = np.array([r[id_col] for r in q_rows], dtype=np.int64)
    QS = _split(Q, m)  # (m, nq, dsub)
    # LUT[q, s, c] = q_sub · codebook entry
    lut = np.einsum("snd,skd->nsk", QS, codebooks)
    spark = corpus.sparkSession
    bc = spark.sparkContext.broadcast((q_ids, lut))
    kk = int(k)
    idc = id_col

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids, L = bc.value
        nq = len(qids)
        for pdf in batches:
            if pdf.empty:
                continue
            codes_arr = np.stack(pdf["codes"].to_numpy()).astype(np.int64)
            n = len(codes_arr)
            # adc[q, v] = sum_s L[q, s, codes[v, s]]
            adc = np.zeros((nq, n))
            for s in range(L.shape[1]):
                adc += L[:, s, :][:, codes_arr[:, s]]
            ids = pdf[idc].to_numpy()
            out = {"query_id": [], "neighbor_id": [], "adc": []}
            take = min(kk, n)
            for qi in range(nq):
                row = adc[qi]
                mask = ids != qids[qi]
                cand_idx = np.nonzero(mask)[0]
                if not len(cand_idx):
                    continue
                vals = row[cand_idx]
                top = cand_idx[
                    np.argsort(-vals, kind="stable")[:take]
                ]
                out["query_id"].extend([qids[qi]] * len(top))
                out["neighbor_id"].extend(ids[top].tolist())
                out["adc"].extend(row[top].tolist())
            yield pd.DataFrame(out)

    local = codes.mapInPandas(
        score, schema="query_id long, neighbor_id long, adc double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").desc(), F.col("neighbor_id").asc()
    )
    return (
        local.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= kk)
        .select("query_id", "neighbor_id", "adc", "rank")
    )
