"""Training-data pipeline operators: text analysis, dedup family,
similarity search, multimodal plumbing."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from fastselect_spark.dedup import (
    dedup_exact,
    embedding_near_duplicates,
    exact_duplicate_groups,
    minhash_near_duplicates,
    ngram_jaccard_pairs,
    simhash_near_duplicates,
)
from fastselect_spark.multimodal import (
    decode_and_featurize,
    sample_frames,
    synthesize_media_table,
)
from fastselect_spark.multimodal.binary import (
    FEATURE_DIM,
    deterministic_fake_decoder,
    unavailable_decoder,
)
from fastselect_spark.similarity import (
    cosine_topk,
    cosine_topk_ivf,
    cosine_topk_lsh,
    ivf_assign,
    kmeans_clusters,
    train_ivf_centroids,
)
from fastselect_spark.text import (
    add_fingerprint,
    add_language_id,
    add_quality_score,
    add_token_count,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def documents(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


# ---------- text analysis ----------

def test_token_counts(documents):
    out = add_token_count(documents).select("doc_id", "text", "n_ws_tokens", "n_bpe_tokens").toPandas()
    expect = out["text"].str.split().str.len()
    assert (out["n_ws_tokens"] == expect).all()
    assert (out["n_bpe_tokens"] >= out["n_ws_tokens"]).all()


def test_quality_score_bounds(documents):
    out = add_quality_score(documents).select("quality_score").toPandas()
    assert out["quality_score"].between(0, 1).all()


def test_language_id_markers(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2, 3],
            "text": [
                "the cat sat on the mat and it is nice",
                "el gato se sienta en la alfombra y es un gato",
                "der hund ist nicht ein katze und das ist gut",
                "zzz qqq xxx",
            ],
        }
    )
    out = (
        add_language_id(spark.createDataFrame(pdf))
        .orderBy("doc_id")
        .select("lang_pred")
        .toPandas()["lang_pred"]
        .tolist()
    )
    assert out == ["en", "es", "de", "und"]


def test_fingerprint_normalization(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": ["Hello   World", "hello world", "different text"],
        }
    )
    out = add_fingerprint(spark.createDataFrame(pdf)).orderBy("doc_id").toPandas()
    assert out["fp_exact"][0] == out["fp_exact"][1]
    assert out["fp_exact"][0] != out["fp_exact"][2]
    assert out["fp_rolling"][0] == out["fp_rolling"][1]
    assert out["fp_rolling"][0] != out["fp_rolling"][2]


# ---------- dedup ----------

def test_exact_dedup(near_dup_corpus):
    groups = exact_duplicate_groups(near_dup_corpus).toPandas()
    assert len(groups) == 5
    assert sorted(groups["keep_id"]) == [0, 1, 2, 3, 4]
    assert (groups["n_copies"] == 2).all()
    deduped = dedup_exact(near_dup_corpus)
    assert deduped.count() == 55
    # survivors are the min ids
    assert deduped.where(F.col("doc_id").isin([100, 101, 102, 103, 104])).count() == 0


def test_bm25_topk(spark):
    """BM25 vs a NumPy hand-oracle on a 4-doc corpus."""
    from fastselect_spark.text.bm25 import bm25_topk

    texts = [
        "cat dog cat",          # tf(cat)=2, dl=3
        "dog bird",             # dl=2
        "cat cat cat cat",      # tf(cat)=4, dl=4
        "fish",                 # dl=1
    ]
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(4), "text": texts})
    )
    out = (
        bm25_topk(docs, [(0, "cat"), (1, "dog fish")], k=3)
        .orderBy("query_id", "rank")
        .toPandas()
    )

    k1, b = 1.2, 0.75
    n, avgdl = 4, 10 / 4
    def score(tf, dl, df):
        idf = np.log(1 + (n - df + 0.5) / (df + 0.5))
        return idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

    # query 0 = cat: docs 0 and 2 match (df=2)
    q0 = out[out.query_id == 0]
    assert q0.doc_id.tolist() == [2, 0]  # tf=4/dl=4 beats tf=2/dl=3
    np.testing.assert_allclose(
        q0.score.values,
        np.round([score(4, 4, 2), score(2, 3, 2)], 6),
        atol=1e-9,
    )
    # query 1 = dog fish: docs 0, 1 (dog, df=2) and 3 (fish, df=1)
    q1 = out[out.query_id == 1]
    assert set(q1.doc_id) == {0, 1, 3}
    assert q1["rank"].tolist() == [1, 2, 3]


def test_pii_redaction(spark):
    """Staged priority scrub: each char claimed by at most one PII class."""
    from fastselect_spark.text import redact_pii

    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "text": [
                    "mail a.b+c@ex.co and ip 192.168.0.1 ok",
                    "ssn 123-45-6789 call +1 555-0123 ok",  # ssn wins over phone
                    "no pii here at all",
                    None,  # null text -> empty, zero counts
                ],
            }
        )
    )
    out = redact_pii(docs).orderBy("doc_id").toPandas()
    assert out["n_email"].tolist() == [1, 0, 0, 0]
    assert out["n_ipv4"].tolist() == [1, 0, 0, 0]
    assert out["n_ssn"].tolist() == [0, 1, 0, 0]
    assert out["n_phone"].tolist() == [0, 1, 0, 0]
    assert out["n_pii"].tolist() == [2, 2, 0, 0]
    assert out["text_redacted"].tolist() == [
        "mail <EMAIL> and ip <IP> ok",
        "ssn <SSN> call <PHONE> ok",
        "no pii here at all",
        "",
    ]


def test_duplicate_span_removal(spark):
    """C4-style span dedup: global first occurrence wins, later copies drop,
    docs rebuild from surviving spans in order."""
    from fastselect_spark.dedup import explode_spans, remove_duplicate_spans

    shared = "a b c d"  # one full 4-token span, duplicated across docs
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "text": [
                    f"{shared} e f g h",        # spans: [a b c d][e f g h]
                    f"x y z w {shared}",        # second span loses to doc 1
                    f"{shared} {shared}",       # within-doc dup: pos 1 loses
                    "unique tail",              # short doc -> one tail span
                ],
            }
        )
    )
    out = (
        remove_duplicate_spans(docs, span_tokens=4)
        .orderBy("doc_id")
        .toPandas()
    )
    assert out["n_spans"].tolist() == [2, 2, 2, 1]
    assert out["n_kept"].tolist() == [2, 1, 0, 1]
    assert out["text_dedup"].tolist() == ["a b c d e f g h", "x y z w", "", "unique tail"]

    # reconstruction invariant: concatenating ALL spans = normalized text
    spans = explode_spans(docs, span_tokens=4).orderBy("doc_id", "pos").toPandas()
    rebuilt = spans.groupby("doc_id")["span"].apply(" ".join)
    assert rebuilt.loc[2] == "x y z w a b c d"


def test_minhash_near_duplicates(near_dup_corpus):
    pairs = minhash_near_duplicates(
        near_dup_corpus, threshold=0.6, num_hashes=64, bands=16
    ).toPandas()
    got = {tuple(sorted(t)) for t in zip(pairs["id_a"], pairs["id_b"])}
    # exact dups (jaccard 1.0) must all be found
    for i in range(5):
        assert (i, 100 + i) in got
    # near dups (1 of 40 tokens changed -> shingle jaccard ~0.86) found
    found_near = sum((i, 100 + i) in got for i in range(5, 10))
    assert found_near >= 4
    # verified jaccard values are sane
    assert (pairs["jaccard"] >= 0.6).all() and (pairs["jaccard"] <= 1.0).all()


def test_simhash_near_duplicates(near_dup_corpus):
    pairs = simhash_near_duplicates(near_dup_corpus, max_hamming=3).toPandas()
    got = {tuple(sorted(t)) for t in zip(pairs["id_a"], pairs["id_b"])}
    for i in range(5):  # identical docs -> hamming 0
        assert (i, 100 + i) in got
    assert (pairs["hamming"] <= 3).all()


def test_ngram_jaccard_matches_bruteforce(spark, near_dup_corpus):
    pairs = ngram_jaccard_pairs(near_dup_corpus, threshold=0.5).toPandas()
    got = {
        (a, b): j
        for a, b, j in zip(pairs["id_a"], pairs["id_b"], pairs["jaccard"])
    }
    # brute-force numpy oracle
    pdf = near_dup_corpus.toPandas()
    def sh(t):
        toks = " ".join(t.lower().split()).split(" ")
        return {" ".join(toks[i : i + 3]) for i in range(max(len(toks) - 2, 1))}
    docs = {r.doc_id: sh(r.text) for r in pdf.itertuples()}
    expect = {}
    keys = sorted(docs)
    for i, a in enumerate(keys):
        for b in keys[i + 1 :]:
            inter = len(docs[a] & docs[b])
            if inter == 0:
                continue
            j = inter / len(docs[a] | docs[b])
            if j >= 0.5:
                expect[(a, b)] = round(j, 6)
    assert set(got) == set(expect)
    for k in expect:
        assert abs(got[k] - expect[k]) < 1e-6


def test_ngram_doc_freq_cap_bounds_candidates(spark):
    """A planted hot shingle (a phrase shared by every doc) must not blow
    candidate generation up to O(n²) when the df cap is on (the default:
    dedup/ngram.py max_doc_freq=1000); verification stays exact, so true
    near-dup pairs with discriminative shingles survive either way."""
    from pyspark.sql import functions as F

    from fastselect_spark.dedup.minhash import _shingles
    from fastselect_spark.dedup.ngram import _candidate_pairs

    n = 60
    rows = [
        (i, f"common hot phrase in every doc unique{i} token{i} word{i}")
        for i in range(n)
    ]
    # one genuine near-dup pair with discriminative (df=2) shingles
    rows += [
        (100, "alpha beta gamma delta epsilon zeta eta theta"),
        (101, "alpha beta gamma delta epsilon zeta eta iota"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    docs = df.select(
        "doc_id", _shingles(F.col("text"), 3).alias("shingles")
    ).persist()
    uncapped = _candidate_pairs(docs, "doc_id", None).count()
    capped = _candidate_pairs(docs, "doc_id", 10).count()
    docs.unpersist()
    assert uncapped == n * (n - 1) // 2 + 1  # hot shingles pair everyone
    assert capped == 1  # cap drops the hot keys; the df=2 pair survives
    # final verified pairs identical with and without the cap (the hot
    # docs' full-set Jaccard is 0.4 — below threshold — so the only
    # qualifying pair has discriminative shingles and survives the cap)
    full = ngram_jaccard_pairs(df, threshold=0.5, max_doc_freq=None).toPandas()
    dflt = ngram_jaccard_pairs(df, threshold=0.5, max_doc_freq=10).toPandas()
    as_set = lambda p: {  # noqa: E731
        (a, b, j) for a, b, j in zip(p["id_a"], p["id_b"], p["jaccard"])
    }
    assert as_set(full) == as_set(dflt)
    assert (100, 101) in {(a, b) for a, b, _ in as_set(dflt)}


@pytest.fixture(scope="module")
def planted_embeddings(spark):
    rng = np.random.default_rng(11)
    base = rng.standard_normal((60, 32)).astype(np.float32)
    rows = [{"vec_id": i, "embedding": base[i].tolist()} for i in range(60)]
    # plant 10 near-identical copies of vectors 0..9
    for i in range(10):
        v = base[i] + rng.standard_normal(32).astype(np.float32) * 0.01
        rows.append({"vec_id": 200 + i, "embedding": v.tolist()})
    return spark.createDataFrame(pd.DataFrame(rows))


def test_embedding_near_duplicates_bruteforce(planted_embeddings):
    pairs = embedding_near_duplicates(
        planted_embeddings, threshold=0.99, brute_force=True
    ).toPandas()
    got = {tuple(sorted(t)) for t in zip(pairs["id_a"], pairs["id_b"])}
    assert got == {(i, 200 + i) for i in range(10)}


def test_embedding_near_duplicates_lsh_recall(planted_embeddings):
    pairs = embedding_near_duplicates(
        planted_embeddings, threshold=0.99, n_planes=10, seed=42
    ).toPandas()
    got = {tuple(sorted(t)) for t in zip(pairs["id_a"], pairs["id_b"])}
    exact = {(i, 200 + i) for i in range(10)}
    assert got <= exact
    assert len(got & exact) >= 8  # recall >= 0.8 with 10 planes on ~1deg pairs


@pytest.fixture(scope="module")
def midrange_embeddings(spark):
    """Pairs planted at cosine 0.4-0.6 — the REALISTIC near-dup regime where
    a single AND-only signature collapses to ~7% recall (the round-2
    finding). v2 = c*u + sqrt(1-c^2)*w with w ⊥ u pins the exact cosine."""
    rng = np.random.default_rng(23)
    base = rng.standard_normal((80, 32))
    rows = [{"vec_id": i, "embedding": base[i].astype(np.float32).tolist()}
            for i in range(80)]
    targets = {}
    for i in range(15):
        c = 0.4 + 0.2 * (i / 14.0)  # cosines 0.40 .. 0.60
        u = base[i] / np.linalg.norm(base[i])
        w = rng.standard_normal(32)
        w -= (w @ u) * u
        w /= np.linalg.norm(w)
        v = c * u + np.sqrt(1 - c * c) * w
        rows.append({"vec_id": 300 + i, "embedding": v.astype(np.float32).tolist()})
        targets[(i, 300 + i)] = c
    return spark.createDataFrame(pd.DataFrame(rows)), targets


def test_embedding_lsh_recall_at_realistic_threshold(midrange_embeddings):
    """OR-amplified multi-table LSH must recover >=90% of the exact pairs at
    threshold 0.42 (where the pairs sit at cosine 0.4-0.6, NOT 0.9998)."""
    df, _targets = midrange_embeddings
    exact = embedding_near_duplicates(df, threshold=0.42, brute_force=True).toPandas()
    epairs = {tuple(sorted(t)) for t in zip(exact["id_a"], exact["id_b"])}
    lsh = embedding_near_duplicates(
        df, threshold=0.42, n_planes=6, n_tables=12, seed=42
    ).toPandas()
    lpairs = {tuple(sorted(t)) for t in zip(lsh["id_a"], lsh["id_b"])}
    # no false positives (exact verification) and high recall
    assert lpairs <= epairs
    assert len(epairs) >= 14  # the planted pairs are present in exact
    assert len(lpairs & epairs) / len(epairs) >= 0.9


# ---------- similarity search ----------

def test_cosine_topk_matches_numpy(embeddings):
    queries = embeddings.where(F.col("vec_id") < 3)
    out = cosine_topk(embeddings, queries, k=5).toPandas()
    pdf = embeddings.toPandas()
    M = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    M = M / np.linalg.norm(M, axis=1, keepdims=True)
    ids = pdf["vec_id"].to_numpy()
    for q in range(3):
        qv = M[ids == q][0]
        sims = M @ qv
        mask = ids != q
        order = np.argsort(-sims[mask], kind="stable")[:5]
        expect_ids = ids[mask][order]
        got = out[out.query_id == q].sort_values("rank")
        assert got["neighbor_id"].tolist() == expect_ids.tolist()
        np.testing.assert_allclose(
            got["cosine"].to_numpy(), np.round(sims[mask][order], 6), atol=2e-6
        )


def test_cosine_topk_lsh_recall(planted_embeddings):
    """On clustered data (planted near-identical pairs) LSH must place the
    true top-1 in the candidate set for nearly every query; approximate
    results are always a subset of exact candidates."""
    queries = planted_embeddings.where(F.col("vec_id") < 10)
    approx = cosine_topk_lsh(
        planted_embeddings, queries, k=1, n_planes=10, n_tables=4, seed=42
    ).toPandas()
    top1 = {r.query_id: r.neighbor_id for r in approx.itertuples()}
    hits = sum(top1.get(i) == 200 + i for i in range(10))
    assert hits >= 9


def test_cosine_topk_lsh_subset_of_exact(embeddings):
    """Approximate neighbors are real corpus rows with correct cosines:
    every (q, n, cosine) triple must appear in the exact brute-force scores."""
    queries = embeddings.where(F.col("vec_id") < 5)
    approx = cosine_topk_lsh(
        embeddings, queries, k=3, n_planes=8, n_tables=2, seed=42
    ).toPandas()
    exact = cosine_topk(embeddings, queries, k=embeddings.count()).toPandas()
    escore = {(r.query_id, r.neighbor_id): r.cosine for r in exact.itertuples()}
    for r in approx.itertuples():
        assert abs(escore[(r.query_id, r.neighbor_id)] - r.cosine) < 2e-6


def test_ivf_centroids_unit_norm_and_assign_partition(planted_embeddings):
    centroids = train_ivf_centroids(planted_embeddings, n_cells=6)
    np.testing.assert_allclose(np.linalg.norm(centroids, axis=1), 1.0, rtol=1e-9)
    cells = ivf_assign(planted_embeddings, centroids).toPandas()
    assert cells["cell"].between(0, 5).all()
    assert len(cells) == planted_embeddings.count()
    # planted near-identical pairs land in the same cell
    by_id = dict(zip(cells["vec_id"], cells["cell"]))
    same = sum(by_id[i] == by_id[200 + i] for i in range(10))
    assert same == 10


def test_cosine_topk_ivf_recall(planted_embeddings):
    """Planted near-duplicates must be found as top-1 through the IVF probe
    path (the planted pair shares a cell; nprobe covers the rest)."""
    queries = planted_embeddings.where(F.col("vec_id") < 10)
    approx = cosine_topk_ivf(
        planted_embeddings, queries, k=1, n_cells=6, nprobe=2
    ).toPandas()
    top1 = {r.query_id: r.neighbor_id for r in approx.itertuples()}
    assert sum(top1.get(i) == 200 + i for i in range(10)) == 10


def test_cosine_topk_ivf_subset_of_exact(embeddings):
    queries = embeddings.where(F.col("vec_id") < 5)
    approx = cosine_topk_ivf(embeddings, queries, k=3, n_cells=8, nprobe=3).toPandas()
    exact = cosine_topk(embeddings, queries, k=embeddings.count()).toPandas()
    escore = {(r.query_id, r.neighbor_id): r.cosine for r in exact.itertuples()}
    for r in approx.itertuples():
        assert abs(escore[(r.query_id, r.neighbor_id)] - r.cosine) < 2e-6


def test_kmeans_clusters_assignment_matches_numpy(planted_embeddings):
    """kmeans_clusters = argmax-cosine assignment against the trained
    centroids: cluster ids and sims must match a NumPy recomputation, the
    planted near-identical pairs must co-cluster, and the output schema is
    narrow (no embedding array)."""
    out = kmeans_clusters(planted_embeddings, n_clusters=6).toPandas()
    assert sorted(out.columns) == ["cluster_id", "sim", "vec_id"]
    assert len(out) == planted_embeddings.count()
    C = train_ivf_centroids(planted_embeddings, n_cells=6)
    pdf = planted_embeddings.toPandas().sort_values("vec_id")
    V = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    V = V / np.linalg.norm(V, axis=1, keepdims=True)
    D = V @ C.T
    want_cell = dict(zip(pdf["vec_id"], np.argmax(D, axis=1)))
    want_sim = dict(zip(pdf["vec_id"], np.max(D, axis=1)))
    by_id = dict(zip(out["vec_id"], out["cluster_id"]))
    for r in out.itertuples():
        assert r.cluster_id == want_cell[r.vec_id]
        assert abs(r.sim - want_sim[r.vec_id]) < 1e-9
    assert sum(by_id[i] == by_id[200 + i] for i in range(10)) == 10


def test_semantic_dedup_drops_planted_pairs(planted_embeddings):
    """SemDeDup: each planted near-identical copy (200+i, cos≈1 to base i)
    co-clusters with its base and is dropped by the lowest-id-wins rule;
    every base/unique vector survives."""
    from fastselect_spark.dedup import semantic_dedup, semantic_dedup_keep

    out = semantic_dedup(planted_embeddings, threshold=0.9, n_clusters=6).toPandas()
    assert len(out) == planted_embeddings.count()
    dropped = set(out.loc[~out["kept"], "vec_id"])
    assert dropped == {200 + i for i in range(10)}
    kept_rows = semantic_dedup_keep(
        planted_embeddings, threshold=0.9, n_clusters=6
    ).toPandas()
    assert set(kept_rows["vec_id"]) == set(range(60))


def test_semantic_dedup_block_chunking_invariant(planted_embeddings, monkeypatch):
    """The blocked pairwise pass must give identical verdicts at any block
    size (exercises the strip-mask path with blocks smaller than clusters)."""
    import fastselect_spark.dedup.semdedup as sd

    full = sd.semantic_dedup(planted_embeddings, 0.9, 6).toPandas()
    monkeypatch.setattr(sd, "_BLOCK_ROWS", 3)
    small = sd.semantic_dedup(planted_embeddings, 0.9, 6).toPandas()
    a = full.sort_values("vec_id").reset_index(drop=True)
    b = small.sort_values("vec_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_cluster_balanced_sample_quota(planted_embeddings):
    """kmeans_clusters ∘ cap_per_source: at most `quota` rows per cluster,
    ranked by centroid cosine descending (rank 1 = most prototypical)."""
    from fastselect_spark.corpus import cap_per_source

    clustered = kmeans_clusters(planted_embeddings, n_clusters=6)
    capped = cap_per_source(
        clustered, quota=5, source_col="cluster_id",
        order_by=[F.col("sim").desc()], key_col="vec_id",
    ).toPandas()
    by_cluster = capped.groupby("cluster_id")
    assert (by_cluster.size() <= 5).all()
    for _, g in by_cluster:
        g = g.sort_values("source_rank")
        assert (g["sim"].diff().dropna() <= 1e-12).all()


def test_pq_planted_pairs_top1(planted_embeddings):
    """ADC over PQ codes must rank each planted near-identical copy
    (cos≈1) as top-1 for its base query — near-dups share codes in every
    subspace, so their ADC is the maximal self-similarity estimate."""
    from fastselect_spark.similarity import pq_encode, pq_topk, train_pq_codebooks

    C = train_pq_codebooks(planted_embeddings, m=4, k=16)
    codes = pq_encode(planted_embeddings, C).toPandas()
    assert set(codes.columns) == {"vec_id", "codes"}
    assert all(len(c) == 4 for c in codes["codes"])
    by_id = dict(zip(codes["vec_id"], (tuple(c) for c in codes["codes"])))
    same = sum(by_id[i] == by_id[200 + i] for i in range(10))
    assert same == 10
    queries = planted_embeddings.where(F.col("vec_id") < 10)
    top = pq_topk(planted_embeddings, queries, C, k=1).toPandas()
    top1 = {r.query_id: r.neighbor_id for r in top.itertuples()}
    assert sum(top1.get(i) == 200 + i for i in range(10)) == 10


def test_pq_adc_approximates_cosine(embeddings):
    """ADC scores must track exact cosine: mean absolute quantization
    error bounded, and stored-codes reuse gives identical results."""
    import numpy as np

    from fastselect_spark.similarity import (
        cosine_topk,
        pq_encode,
        pq_topk,
        train_pq_codebooks,
    )

    C = train_pq_codebooks(embeddings, m=8, k=32)
    queries = embeddings.where(F.col("vec_id") < 3)
    codes = pq_encode(embeddings, C)
    a = pq_topk(embeddings, queries, C, k=5).toPandas()
    b = pq_topk(embeddings, queries, C, k=5, codes=codes).toPandas()
    pd.testing.assert_frame_equal(
        a.sort_values(["query_id", "rank"]).reset_index(drop=True),
        b.sort_values(["query_id", "rank"]).reset_index(drop=True),
    )
    exact = cosine_topk(embeddings, queries, k=embeddings.count()).toPandas()
    escore = {(r.query_id, r.neighbor_id): r.cosine for r in exact.itertuples()}
    errs = [abs(escore[(r.query_id, r.neighbor_id)] - r.adc) for r in a.itertuples()]
    assert np.mean(errs) < 0.25


# ---------- multimodal ----------

def test_multimodal_fake_decoder_end_to_end(spark):
    media = synthesize_media_table(spark, n=50, seed=42)
    feats = decode_and_featurize(media, decoder=deterministic_fake_decoder).toPandas()
    assert len(feats) == 50
    assert all(len(f) == FEATURE_DIM for f in feats["features"])
    # deterministic across runs
    feats2 = decode_and_featurize(media, decoder=deterministic_fake_decoder).toPandas()
    a = feats.sort_values("media_id").reset_index(drop=True)
    b = feats2.sort_values("media_id").reset_index(drop=True)
    assert all(np.allclose(x, y) for x, y in zip(a["features"], b["features"]))


def test_multimodal_default_decoder_raises(spark):
    media = synthesize_media_table(spark, n=3, seed=1)
    with pytest.raises(Exception, match="NotImplementedError|media decoding"):
        decode_and_featurize(media, decoder=unavailable_decoder).collect()


def test_sample_frames_counts(spark):
    media = synthesize_media_table(spark, n=60, seed=42)
    frames = sample_frames(media, every_ms=5000, decoder=deterministic_fake_decoder)
    fp = frames.toPandas()
    vids = media.where(F.col("kind") == "video").toPandas()
    expect = sum(int(d) // 5000 + 1 for d in vids["duration_ms"])
    assert len(fp) == expect
    assert all(len(f) == FEATURE_DIM for f in fp["features"])


# ---------- duplicate clustering (connected components) ----------

def test_connected_components_chain_and_island(spark):
    """A 4-node chain and a separate pair resolve to two components with
    min-id labels; a chain exercises multi-round propagation."""
    from fastselect_spark.dedup import connected_components, duplicate_clusters

    pairs = spark.createDataFrame(
        [(3, 7), (7, 12), (12, 20), (40, 41)], "id_a long, id_b long"
    )
    comp = connected_components(pairs).toPandas()
    got = dict(zip(comp["doc_id"], comp["comp"]))
    assert got == {3: 3, 7: 3, 12: 3, 20: 3, 40: 40, 41: 40}

    clusters = duplicate_clusters(pairs).toPandas().sort_values("comp")
    assert clusters["comp"].tolist() == [3, 40]
    assert clusters["keep_id"].tolist() == [3, 40]
    assert clusters["n_members"].tolist() == [4, 2]


def test_stopword_ratio(spark):
    from fastselect_spark.text import add_stopword_ratio

    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1, 2],
            "text": [
                "the cat is on the mat",      # 4 of 6 stopwords
                "zebra quokka wombat",         # 0 of 3
                "THE THE the",                 # case-folded: 3 of 3
            ],
        }
    )
    out = (
        add_stopword_ratio(spark.createDataFrame(pdf))
        .orderBy("doc_id")
        .toPandas()["stopword_ratio"]
        .tolist()
    )
    assert abs(out[0] - 4 / 6) < 1e-9
    assert out[1] == 0.0
    assert out[2] == 1.0


def test_connected_components_string_ids(spark):
    """Label propagation is id-type-agnostic: string doc ids work (the old
    label-SUM convergence check required numeric ids and could overflow
    a long under ANSI mode for large id domains)."""
    from fastselect_spark.dedup import connected_components

    pairs = spark.createDataFrame(
        [("docC", "docA"), ("docA", "docB"), ("docX", "docY")],
        "id_a string, id_b string",
    )
    comp = connected_components(pairs).toPandas()
    got = dict(zip(comp["doc_id"], comp["comp"]))
    assert got == {
        "docA": "docA", "docB": "docA", "docC": "docA",
        "docX": "docX", "docY": "docX",
    }


def test_connected_components_max_iter_warns(spark, force_path):
    """Exhausting max_iter without a fixpoint must WARN (silently returning
    partially-propagated labels splits long chains) when the star fallback
    is opted out."""
    import warnings as _w

    from fastselect_spark.dedup import connected_components

    # a 6-node chain needs ~5 rounds to converge; cap at 2
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "id_a long, id_b long"
    )
    force_path("distributed")
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        connected_components(pairs, max_iter=2, star_fallback=False).count()
    assert any("did not converge" in str(r.message) for r in rec)


def test_connected_components_star_matches_union_find(spark):
    """Large-star/small-star labels == a NumPy union-find oracle on a
    random pair graph (mixed components, isolated pairs, triangles)."""
    import numpy as np_

    from fastselect_spark.dedup import connected_components_star

    rng = np_.random.default_rng(3)
    edges = [(int(a), int(b)) for a, b in rng.integers(0, 80, size=(120, 2)) if a != b]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        int(r["doc_id"]): int(r["comp"])
        for r in connected_components_star(pairs).collect()
    }
    # union-find oracle
    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expect = {x: find(x) for x in parent}
    assert got == expect


def test_connected_components_long_chain_fallback(spark, force_path):
    """A 500-node chain (diameter 499 ≫ max_iter 25) must converge via the
    automatic large-star/small-star fallback: every node labeled 0."""
    import warnings as _w

    from fastselect_spark.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(499)], "id_a long, id_b long"
    )
    force_path("distributed")
    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        comp = connected_components(pairs).toPandas()
    assert any("falling back" in str(r.message) for r in rec)
    assert len(comp) == 500
    assert (comp["comp"] == 0).all()


def _both_lloyd_paths(train, force_path, driver_calls):
    """A trainer's result on the driver-reduced and the tree-reduced path,
    failing unless each call took its own path."""
    import fastselect_spark.similarity.ivf as ivfmod

    local = driver_calls(ivfmod, "local_reducer")
    tree = driver_calls(ivfmod, "tree_reduce_ndarrays")
    fast = train()
    assert local and not tree, "the driver path did not run"
    local.clear()
    force_path("distributed")
    slow = train()
    assert tree and not local, "the distributed path did not run"
    return fast, slow


def test_lloyd_driver_path_bit_identical(
    spark, monkeypatch, force_path, driver_calls
):
    """The driver-side Lloyd reduction must produce BIT-identical
    centroids to the distributed tree-reduced loop — the declared
    IVF/kmeans/SQ8 oracles embed these centroids as literals."""
    import numpy as np

    from fastselect_spark.similarity import train_ivf_centroids

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    for n_cells in (4, 8):
        fast, slow = _both_lloyd_paths(
            lambda: train_ivf_centroids(emb, n_cells=n_cells),
            force_path,
            driver_calls,
        )
        assert np.array_equal(fast, slow)
        monkeypatch.undo()


def test_pq_driver_path_bit_identical(spark, force_path, driver_calls):
    """train_pq_codebooks' driver fast path must match the distributed
    tree-reduced loop bit-for-bit (codebook literals feed the PQ oracles)."""
    import numpy as np

    from fastselect_spark.similarity.pq import train_pq_codebooks

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    fast, slow = _both_lloyd_paths(
        lambda: train_pq_codebooks(emb, m=8, k=8), force_path, driver_calls
    )
    assert np.array_equal(fast, slow)


def test_connected_components_driver_path_matches_distributed(
    spark, force_path, driver_calls
):
    """The driver union-find fast path (round-6 optimization) must return
    exactly the distributed min-label rows — mixed components, a chain,
    a triangle, string ids, and duplicate/reversed pairs."""
    import fastselect_spark.dedup.components as compmod
    from fastselect_spark.dedup import connected_components

    edges = [
        ("a", "b"), ("b", "c"), ("c", "a"),       # triangle
        ("d", "e"), ("e", "f"), ("f", "g"),       # chain
        ("x", "y"), ("y", "x"),                   # duplicate/reversed
        ("lone1", "lone2"),
    ]
    pairs = spark.createDataFrame(edges, "id_a string, id_b string")
    calls = driver_calls(compmod, "_components_driver")
    fast = (
        connected_components(pairs)
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    assert calls, "the driver path did not run"
    calls.clear()
    force_path("distributed")
    slow = (
        connected_components(pairs)
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    assert not calls, "the distributed path ran union-find on the driver"
    assert fast.equals(slow)


@pytest.mark.parametrize(
    "scorer", ["mi_matrices", "scores_from_cube", "gain_ratio", "jmi_select"]
)
def test_mi_cube_rejects_unsafe_codes(spark, scorer):
    """Codes with |value| >= 2^53 silently collide in the double-cast cube
    groupBy — every scorer on the shared cube must raise instead of
    mis-counting."""
    import pandas as pd_

    from fastselect_spark import selection

    calls = {
        "mi_matrices": lambda df: selection.mi_matrices(
            df, ["f0"], "y", compute_redundancy=False
        ),
        "scores_from_cube": lambda df: selection.scores_from_cube(df, ["f0"], "y"),
        "gain_ratio": lambda df: selection.gain_ratio(df, ["f0"], "y"),
        "jmi_select": lambda df: selection.jmi_select(df, ["f0"], "y", n_select=1),
    }
    big = 2**53 + 1
    df = spark.createDataFrame(
        pd_.DataFrame({"f0": [big, big + 2, big], "y": [0, 1, 0]})
    )
    with pytest.raises(ValueError, match="2\\^53"):
        calls[scorer](df)


def test_pca_training_parity_and_projection(spark):
    """Distributed sufficient-statistics PCA == the single-process NumPy
    replica (same parquet), and the projection reconstructs variance:
    top-k projections' variance equals the top-k eigenvalues."""
    import numpy as np_

    from fastselect_spark.similarity import pca_project, train_pca, train_pca_numpy

    path = "/root/testdata/sf0.001/embeddings.parquet"
    emb = spark.read.parquet(path).repartition(8)  # multi-partition sums
    m1, c1, e1 = train_pca(emb, 4)
    m2, c2, e2 = train_pca_numpy(path, 4)
    assert np_.allclose(m1, m2, atol=1e-12)
    assert np_.allclose(c1, c2, atol=1e-9)
    assert np_.allclose(e1, e2, atol=1e-12)
    # orthonormal components
    assert np_.allclose(c1 @ c1.T, np_.eye(4), atol=1e-10)
    # projections: sample variance along comp j == eigenvalue j
    P = np_.stack(
        pca_project(emb, m1, c1).select("pca").toPandas()["pca"].to_numpy()
    )
    import pyarrow.parquet as pq_

    M = np_.stack(pq_.read_table(path)["embedding"].to_pylist()).astype(float)
    cov = np_.cov(M.T)
    vals = np_.sort(np_.linalg.eigvalsh(cov))[::-1][:4]
    assert np_.allclose(P.var(axis=0, ddof=1), vals, rtol=1e-6)


# ---------- SQ8 scalar quantization ----------

def test_sq8_encode_matches_numpy(embeddings):
    """Distributed scale + encode are bit-identical to the single-process
    replica (absmax involves no float rounding; the grid is a fixed
    float64 op sequence)."""
    from fastselect_spark.similarity import sq_encode, train_sq_scale
    from fastselect_spark.similarity.quantize import _quantize

    emb8 = embeddings.repartition(8)  # multi-partition scale
    a = train_sq_scale(emb8)
    pdf = embeddings.toPandas()
    M = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    assert a == np.abs(M).max()
    codes = sq_encode(emb8, a).toPandas()
    got = {r.vec_id: np.frombuffer(r.code, dtype=np.int8) for r in codes.itertuples()}
    want = _quantize(M, a)
    ids = pdf["vec_id"].to_numpy()
    for i, vid in enumerate(ids):
        np.testing.assert_array_equal(got[vid], want[i])
    # the grid's extremes are hit (scale is tight)
    allc = np.stack([got[v] for v in ids])
    assert allc.max() == 127 or allc.min() == -127


def test_sq8_topk_matches_quantized_bruteforce(embeddings):
    """Exact-integer scores and (score desc, id asc) tie-break match the
    NumPy brute-force replica row-for-row — including across partitions
    (the local-topk lexsort tie discipline)."""
    from fastselect_spark.similarity import sq8_topk
    from fastselect_spark.similarity.quantize import _quantize

    queries = embeddings.where(F.col("vec_id") < 5)
    out = sq8_topk(embeddings.repartition(8), queries, k=7).toPandas()
    pdf = embeddings.toPandas()
    M = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    Q = _quantize(M, np.abs(M).max()).astype(np.int64)
    ids = pdf["vec_id"].to_numpy()
    for q in range(5):
        qv = Q[ids == q][0]
        s = Q @ qv
        mask = ids != q
        order = np.lexsort((ids[mask], -s[mask]))[:7]
        got = out[out.query_id == q].sort_values("rank")
        assert got["neighbor_id"].tolist() == ids[mask][order].tolist()
        assert got["score"].tolist() == s[mask][order].tolist()


def test_sq8_topk_recall_vs_exact_cosine(embeddings):
    """On unit-normalized vectors, quantized-IP ranking approximates cosine
    ranking: recall@10 of the exact top-10 stays high."""
    from fastselect_spark.similarity import sq8_topk

    norm = embeddings.withColumn(
        "nrm",
        F.sqrt(F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x * x)),
    ).select(
        "vec_id",
        F.transform("embedding", lambda x: x / F.col("nrm")).alias("embedding"),
    )
    queries = norm.where(F.col("vec_id") < 10)
    approx = sq8_topk(norm, queries, k=10).toPandas()
    exact = cosine_topk(norm, queries, k=10).toPandas()
    recalls = []
    for q in range(10):
        a = set(approx[approx.query_id == q]["neighbor_id"])
        e = set(exact[exact.query_id == q]["neighbor_id"])
        recalls.append(len(a & e) / len(e))
    assert np.mean(recalls) >= 0.9


def test_sq8_topk_ivf_matches_replica(embeddings):
    """IVF×SQ8 end-to-end (assign → probe → integer rerank within probed
    cells) matches the NumPy replica row-for-row given the same trained
    centroids — probing never scores an unprobed cell, and scores stay
    exact integers."""
    from fastselect_spark.similarity import sq8_topk_ivf, train_ivf_centroids
    from fastselect_spark.similarity.quantize import _quantize

    cent = train_ivf_centroids(embeddings, n_cells=6)
    out = sq8_topk_ivf(
        embeddings.repartition(8),
        embeddings.where(F.col("vec_id") < 4),
        k=5,
        n_cells=6,
        nprobe=2,
        centroids=cent,
    ).toPandas()
    pdf = embeddings.toPandas()
    M = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    ids = pdf["vec_id"].to_numpy()
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    assign = np.argmax(Mn @ cent.T, axis=1)
    a = np.abs(M).max()
    Q = _quantize(M, a).astype(np.int64)
    for q in range(4):
        qsims = (Mn[ids == q][0]) @ cent.T
        probed = set(np.argsort(-qsims, kind="stable")[:2])
        mask = np.isin(assign, list(probed)) & (ids != q)
        s = Q[mask] @ Q[ids == q][0]
        cm = ids[mask]
        order = np.lexsort((cm, -s))[:5]
        got = out[out.query_id == q].sort_values("rank")
        assert got["neighbor_id"].tolist() == cm[order].tolist()
        assert got["score"].tolist() == s[order].tolist()


# ------------------------------------------------------- feature hashing --

def test_hashed_term_vectors_matches_hashlib(spark):
    """HashingVectorizer semantics vs a pure-Python hashlib oracle:
    bucket = md5-60bit('fh0:'+term) % k, sign from an independent bit."""
    import hashlib
    from collections import defaultdict

    from fastselect_spark.text import hashed_term_vectors

    docs = [
        (1, "  The  quick Brown fox\tjumps over the LAZY dog the fox "),
        (2, "spark spark spark duckdb"),
        (3, ""),
        (4, "solo"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string").repartition(3)
    out = hashed_term_vectors(df, n_features=16, seed=0).collect()

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    exp = defaultdict(int)
    for did, text in docs:
        toks = [t for t in " ".join(text.split()).lower().split(" ") if t]
        for t in toks:
            exp[(did, h60(f"fh0:{t}") % 16)] += 1 - 2 * (h60(f"fs0:{t}") % 2)
    got = {(r["doc_id"], r["bucket"]): r["value"] for r in out}
    assert got == dict(exp)
    # doc 3 (empty) contributes no rows; doc 4 exactly one
    assert not any(k[0] == 3 for k in got)
    assert sum(1 for k in got if k[0] == 4) == 1


def test_hashed_term_vectors_binary_and_unsigned(spark):
    from fastselect_spark.text import hashed_term_vectors

    df = spark.createDataFrame(
        [(1, "a a a b"), (2, "a b")], "doc_id long, text string"
    )
    uns = hashed_term_vectors(df, n_features=8, alternate_sign=False)
    tot = {r["doc_id"]: r for r in uns.groupBy("doc_id").sum("value").collect()}
    assert tot[1]["sum(value)"] == 4 and tot[2]["sum(value)"] == 2
    binr = hashed_term_vectors(
        df, n_features=8, alternate_sign=False, binary=True
    )
    tot2 = {r["doc_id"]: r for r in binr.groupBy("doc_id").sum("value").collect()}
    assert tot2[1]["sum(value)"] == 2 and tot2[2]["sum(value)"] == 2
