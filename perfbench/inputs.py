"""Seeded input generators with an on-disk cache.

Each input is built once per (workload, seed, size) under
``<work>/cache/<workload>-seed<seed>-<size>/`` and reused by later runs with
the same key. A build writes to a temporary directory and renames it into
place when complete, so an interrupted build is never read.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd


def cached(work: str, workload: str, seed: int, size: str, build) -> tuple[str, bool]:
    """Return (directory, hit). On a miss ``build(tmp_dir)`` fills it."""
    path = os.path.join(work, "cache", f"{workload}-seed{seed}-{size}")
    if os.path.exists(os.path.join(path, "_DONE")):
        return path, True
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.replace(tmp, path)
    return path, False


def transcripts(spark, work: str, workload: str, seed: int, n_convs: int) -> tuple[str, bool]:
    """Parquet transcripts table written by the engine's distributed generator."""
    from fastselect_spark.data.transcripts import generate_transcripts_distributed

    def build(tmp: str) -> None:
        generate_transcripts_distributed(spark, n_convs, seed=seed).write.parquet(
            os.path.join(tmp, "transcripts.parquet")
        )

    path, hit = cached(work, workload, seed, f"c{n_convs}", build)
    return os.path.join(path, "transcripts.parquet"), hit


def _words(rng: np.random.Generator, vocab: int, n: int) -> list[str]:
    return [f"w{i:04d}" for i in rng.integers(0, vocab, n)]


def documents_frame(seed: int, n_base: int) -> pd.DataFrame:
    """A documents table (doc_id, text, source) with planted duplicates.

    Per base document: 10% get exact copies that differ only in case and
    whitespace (the exact stage folds them); 15% get a chain of one or two
    near copies with a few words replaced (MinHash pairs them, and a chain
    makes a component of three). Ids are shuffled so the canonical min id
    is not always the original.
    """
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for _ in range(n_base):
        words = _words(rng, 3000, int(rng.integers(40, 90)))
        texts.append(" ".join(words))
        u = rng.random()
        if u < 0.10:
            shout = [w.upper() if j % 3 == 0 else w for j, w in enumerate(words)]
            texts.append("  " + "   ".join(shout) + " ")
        elif u < 0.25:
            near = list(words)
            for _ in range(int(rng.integers(1, 3))):
                for j in rng.integers(0, len(near), 2):
                    near[j] = f"x{int(rng.integers(0, 10**6)):06d}"
                texts.append(" ".join(near))
    ids = rng.permutation(len(texts)).astype(np.int64)
    return pd.DataFrame(
        {
            "doc_id": ids,
            "text": texts,
            "source": [f"src{i % 5}" for i in ids],
        }
    )


def documents(work: str, seed: int, n_base: int) -> tuple[str, bool]:
    def build(tmp: str) -> None:
        documents_frame(seed, n_base).to_parquet(
            os.path.join(tmp, "documents.parquet"), index=False
        )

    path, hit = cached(work, "dedup_corpus", seed, f"b{n_base}", build)
    return os.path.join(path, "documents.parquet"), hit


def scorer_matrices(work: str, seed: int, shapes: dict) -> tuple[dict, bool]:
    """Seeded NumPy (X, y) pairs, one per scorer, at ``shapes[name] = (n, p)``.

    chi2/fisher: counts 0-9, 5 classes, the first 20 features shifted by the
    class. mrmr/jmi: codes 0-4, 10 classes, the first 20 features copy the
    label modulo 5 for a random quarter of rows. mdr: genotypes 0-2 with a
    planted two-locus interaction. relieff: standard normal, label from the
    sign of the first two features. Integer matrices are stored as uint8.
    """
    size = "-".join(f"{k}{n}x{p}" for k, (n, p) in sorted(shapes.items()))

    def build(tmp: str) -> None:
        rng = np.random.default_rng(seed)
        arrays = {}
        n, p = shapes["chi2"]
        y = rng.integers(0, 5, n, dtype=np.uint8)
        X = rng.integers(0, 10, (n, p), dtype=np.uint8)
        X[:, :20] += y[:, None]
        arrays["chi2_X"], arrays["chi2_y"] = X, y
        n, p = shapes["mrmr"]
        y = rng.integers(0, 10, n, dtype=np.uint8)
        X = rng.integers(0, 5, (n, p), dtype=np.uint8)
        mask = rng.random((n, 20)) < 0.25
        X[:, :20] = np.where(mask, (y % 5)[:, None], X[:, :20])
        arrays["mrmr_X"], arrays["mrmr_y"] = X, y
        n, p = shapes["mdr"]
        X = rng.integers(0, 3, (n, p), dtype=np.uint8)
        risk = (X[:, 3] == 2) ^ (X[:, 7] == 0)
        y = np.where(rng.random(n) < 0.8, risk, rng.random(n) < 0.5).astype(np.uint8)
        arrays["mdr_X"], arrays["mdr_y"] = X, y
        n, p = shapes["relieff"]
        X = rng.standard_normal((n, p))
        arrays["relieff_X"] = X
        arrays["relieff_y"] = (X[:, 0] + X[:, 1] > 0).astype(np.int64)
        np.savez(os.path.join(tmp, "matrices.npz"), **arrays)

    path, hit = cached(work, "scorer_suite", seed, size, build)
    with np.load(os.path.join(path, "matrices.npz")) as z:
        return {k: z[k].astype(np.result_type(z[k], np.int64)) for k in z.files}, hit
