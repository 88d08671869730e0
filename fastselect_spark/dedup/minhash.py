"""MinHash + LSH near-duplicate detection.

Pipeline: token shingles -> per-permutation min of a seeded hash (the
minhash signature), computed ONCE into one persisted narrow table
(id, shingles, minhash) -> band hashes of that table -> bucket self-join
on (band, band_hash) -> exact string-shingle Jaccard of the candidates,
both sides' shingles joined from the same table -> one localCheckpoint
of the result. Banding, the bucket join and verification are JVM
expressions; the default signature is a vectorized Arrow kernel (see
below), run over slot-sized partitions (:func:`ensure_parallelism`).

Two hash families, identical banding/join/verification pipeline:

- ``'md5'`` (default): ONE md5 per shingle (60-bit prefix folded into the
  Mersenne domain p = 2^31-1), then the classic universal-hash
  permutation family h_i(x) = (a_i * h(x) + b_i) mod p with seed-derived
  multipliers. The signature runs as a vectorized Arrow kernel (hashlib +
  one NumPy permutation-matrix broadcast per doc) — measured 18.9 s for a
  50k-doc corpus, 5.7x the JVM family below — AND every term is plain
  BIGINT arithmetic computable IDENTICALLY in ANSI SQL on any engine
  (a_i*h < 2^62, no overflow), which is what lets the driver-contract
  gate hash-check the full minhash pipeline end-to-end against an
  independent SQL oracle. The 31-bit slot domain is the standard minhash
  register width; collisions only perturb signatures at the birthday
  bound (~65k distinct shingles per doc).
- ``'xxhash64'``: h_i(x) = xxhash64(shingle, seed=i) as JVM higher-order
  expressions — full 64-bit slots, no Python workers on the signature
  path (108.5 s at the same 50k docs: Catalyst lambdas are interpreted
  per element, so per-(shingle x slot) work favors the Arrow kernel).

Scale notes: the only shuffles are the bucket join (keys are band hashes —
uniformly distributed, skew-free by construction unless a shingle-set is
pathologically common, which the exact-dup pass upstream removes), the
distinct on pairs and the two shingle fetches by id. Candidate count is
bounded by bucket sizes, never O(n²). The persisted table holds each
doc's shingle strings once; the band explode and the bucket join carry
no array. If shingle storage matters at scale, persist (id, text,
minhash) instead and shingle on each fetch side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fastselect_spark.runtime import gates


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Size a frame's partitions to the slots before a row-local kernel.

    Below half the slots (a single-file scan gives ONE task, measured 230 s
    for a 5k-doc signature that takes ~8 s spread across the cluster) it
    repartitions up to ``defaultParallelism``. Above the slots it
    ``coalesce``s down, without a shuffle, to the larger of
    ``defaultParallelism`` and Catalyst's size estimate over
    ``spark.sql.files.maxPartitionBytes``, the sizing Spark's file scans
    use. Every Python task pays a fixed launch cost (an identity Arrow pass
    over 400 cached rows: ~2 s as 32 tasks, ~0.35 s as 4, local[4]), and a
    persisted frame keeps all its shuffle partitions because AQE does not
    coalesce a cached plan. A frame Catalyst cannot size is left as it is."""
    target = df.sparkSession.sparkContext.defaultParallelism
    n = df.rdd.getNumPartitions()
    if n < max(2, target // 2):
        return df.repartition(target)
    if n > target:
        size = gates.plan_size_bytes(df)
        if size is not None:
            conf = df.sparkSession._jsparkSession.sessionState().conf()
            want = max(target, -(-size // conf.filesMaxPartitionBytes()))
            if want < n:
                return df.coalesce(want)
    return df


P31 = (1 << 31) - 1  # Mersenne prime slot domain for the md5 family
_A_MULT = 2654435761  # Knuth multiplicative constant
_B_MULT = 40503


def _md5_60bit(col: Column) -> Column:
    """60-bit integer from the first 15 hex chars of md5 — exactly
    reproducible in DuckDB/ANSI SQL (no engine-specific hash)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _minhash_md5_kernel(k: int, nh: int):
    """NumPy md5-family signature kernel (see add_minhash_signature)."""
    import hashlib
    import re

    import numpy as np
    import pandas as pd

    def kernel(texts):
        A = (np.arange(nh, dtype=np.int64) * _A_MULT + 1) % P31
        B = (np.arange(nh, dtype=np.int64) * _B_MULT + 17) % P31
        out = []
        for t in texts:
            norm = re.sub(r"\s+", " ", ("" if t is None else t).strip()).lower()
            toks = norm.split(" ")
            if len(toks) >= k:
                sh = {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}
            else:
                sh = {norm}
            hs = np.array(
                [
                    int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16) % P31
                    for s in sh
                ],
                dtype=np.int64,
            )
            sig = ((A[:, None] * hs[None, :] + B[:, None]) % P31).min(axis=1)
            out.append(sig.tolist())
        return pd.Series(out)

    kernel.__annotations__ = {"texts": pd.Series, "return": pd.Series}
    return kernel


def _shingles(text_col: Column, k: int) -> Column:
    """Distinct token k-shingles of whitespace-normalized lowercase text."""
    norm = F.lower(F.regexp_replace(F.trim(text_col), r"\s+", " "))
    toks = F.split(norm, " ")
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.array_distinct(
        F.when(
            n >= k,
            F.transform(
                idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k))
            ),
        ).otherwise(F.array(norm))
    )


def add_minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 64,
    hash_family: str = "md5",
) -> DataFrame:
    """Adds ``shingles`` and the ``minhash`` signature array (length
    num_hashes): one independent hash-family member per slot, min-reduced
    per doc. See module docstring for the family trade-off."""
    df = df.withColumn("shingles", _shingles(F.col(text_col), shingle_k))
    seeds = F.sequence(F.lit(0), F.lit(num_hashes - 1))
    if hash_family == "xxhash64":
        df = df.withColumn(
            "minhash",
            F.transform(
                seeds,
                lambda s: F.array_min(
                    F.transform(F.col("shingles"), lambda sh: F.xxhash64(sh, s))
                ),
            ),
        )
    elif hash_family == "md5":
        # Vectorized Arrow kernel: one hashlib md5 per shingle, then the
        # whole (num_hashes x shingles) permutation matrix in one NumPy
        # broadcast + min-reduce. Catalyst higher-order lambdas are
        # INTERPRETED per element — the equivalent JVM expression tree
        # measured ~16 s where this kernel is ~2 s on a 5k-doc corpus
        # (same lesson as simhash). Values are bit-identical to the SQL
        # oracle's arithmetic.
        from pyspark.sql.functions import pandas_udf

        mh_udf = pandas_udf(
            _minhash_md5_kernel(shingle_k, num_hashes), "array<long>"
        )
        df = df.withColumn("minhash", mh_udf(F.col(text_col)))
    else:
        raise ValueError(f"unknown hash_family: {hash_family!r}")
    return df


def _band_table(
    df: DataFrame,
    id_col: str,
    bands: int,
    rows_per_band: int,
    hash_family: str = "md5",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, [keep_cols...,] band, band_hash) rows — deliberately WITHOUT
    the shingle arrays: the band explode replicates every row ×bands, so
    carrying shingles here would amplify the self-join shuffle by the band
    count. Verification fetches each candidate side's shingles from the
    signature table by id instead. ``keep_cols`` carries additional NARROW
    columns (e.g. the event-time column the streaming stage watermarks on)."""
    band_hash = F.xxhash64 if hash_family == "xxhash64" else _md5_60bit
    band_ids = F.sequence(F.lit(0), F.lit(bands - 1))
    banded = df.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        F.posexplode(
            F.transform(
                band_ids,
                lambda b: band_hash(
                    F.concat_ws(
                        ",",
                        F.transform(
                            F.slice(F.col("minhash"), b * rows_per_band + 1, rows_per_band),
                            lambda v: v.cast("string"),
                        ),
                    )
                ),
            )
        ).alias("band", "band_hash"),
    )
    return banded


def _verified(
    cand: DataFrame, sh: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Exact string-shingle Jaccard of (id_a, id_b) pairs, each side's
    ``shingles`` fetched from ``sh`` (id_col, shingles) by one join."""
    cand = cand.join(
        sh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a")),
        "id_a",
    ).join(
        sh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b")),
        "id_b",
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return (
        cand.withColumn("jaccard", inter / union)
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def verify_candidate_pairs(
    df: DataFrame,
    cand: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Exact Jaccard verification of bare (id_a, id_b) candidate pairs
    against the static corpus ``df`` — shingles are computed ONLY for docs
    appearing in a candidate (semi-join first; the naive join-back
    re-shingles the whole corpus per fetch branch). For candidates that
    come from outside the corpus's own signature table: the streaming
    ingest-time candidate stage (streaming/minhash.py). The Jaccard is the
    batch operator's :func:`_verified`, so both paths verify identically."""
    cand_ids = (
        cand.select(F.col("id_a").alias(id_col))
        .unionByName(cand.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    cand_docs = df.select(id_col, text_col).join(cand_ids, id_col, "left_semi")
    # localCheckpoint: sh feeds BOTH the id_a and id_b fetch joins, and two
    # DIFFERENT projections of one frame each re-execute its whole plan per
    # join side (round-5 lesson) — without this the semi-join + shingling
    # of the candidate docs runs twice.
    sh = cand_docs.select(
        F.col(id_col), _shingles(F.col(text_col), shingle_k).alias("shingles")
    ).localCheckpoint()
    return _verified(cand, sh, id_col, threshold)


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    hash_family: str = "md5",
) -> DataFrame:
    """Return verified near-duplicate pairs (id_a < id_b, jaccard >= threshold).

    LSH recall: with 16 bands x 4 rows the S-curve crosses ~0.5 at
    jaccard ≈ (1/16)^(1/4) ≈ 0.5 — tune bands/num_hashes per threshold.
    """
    rows_per_band = num_hashes // bands
    sig = add_minhash_signature(
        ensure_parallelism(df.select(id_col, text_col)),
        text_col,
        shingle_k,
        num_hashes,
        hash_family,
    )
    # ONE persisted narrow table feeds every read: both sides of the bucket
    # self-join (through the band explode) and both shingle fetches of the
    # verification. Unpersisted, each of those four different projections
    # re-executes the signature kernel.
    table = sig.select(id_col, "shingles", "minhash").persist()
    banded = _band_table(table, id_col, bands, rows_per_band, hash_family)
    a = banded.select(F.col(id_col).alias("id_a"), "band", "band_hash")
    b = banded.select(F.col(id_col).alias("id_b"), "band", "band_hash")
    cand = (
        a.join(b, ["band", "band_hash"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    result = _verified(cand, table, id_col, threshold)
    # Materialize the (bounded) verified pair list, then RELEASE the table —
    # persists that outlive the operator accumulate for the session
    # lifetime (the repo's persist-hygiene rule). The function is therefore
    # EAGER; callers get a lineage-free frame.
    result = result.localCheckpoint()
    table.unpersist()
    return result
