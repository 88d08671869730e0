"""Physical-plan audit: prints the executed plans of the engine's key
operators and checks the properties the scale design promises —
filter/column pushdown into the parquet scan, a single exchange feeding the
featurize window stack, whole-stage codegen coverage, and broadcast joins
for small dimensions.

Usage: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from fastselect_spark.data.transcripts import transcripts_from_events  # noqa: E402
from fastselect_spark.featurize import asof_join, featurize_transcripts  # noqa: E402
from fastselect_spark.runtime.session import get_spark  # noqa: E402


def plan_of(df, execute: bool = False) -> str:
    """Executed-plan string. ``execute=True`` runs the frame first so AQE
    finalizes it — before execution an AdaptiveSparkPlan shows
    ``isFinalPlan=false`` with no WholeStageCodegen nodes materialized."""
    if execute:
        df.collect()
    s = df._jdf.queryExecution().executedPlan().toString()
    # A finalized AdaptiveSparkPlan prints "Final Plan" AND "Initial Plan"
    # sections — audit only the final one (the initial would double-count
    # exchanges).
    return s.split("== Initial Plan ==")[0]


def formatted_plan(df) -> str:
    """Formatted explain (per-node Input/Output column listings) — the only
    plan rendering that shows which columns each Exchange actually moves."""
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def check(name: str, ok: bool, detail: str = "") -> bool:
    print(f"{'PASS' if ok else 'FAIL'}  {name}  {detail}")
    return ok


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="explain-audit", master="local[4]", shuffle_partitions=8)
    failures = 0

    # 1. featurize: exactly one exchange for the whole window stack
    feat = featurize_transcripts(transcripts_from_events(spark, sf_dir))
    p = plan_of(feat, execute=True)
    n_ex = len(re.findall(r"Exchange hashpartitioning", p))
    failures += not check(
        "featurize window stack shares one conv_id exchange",
        n_ex <= 2,  # one for events->transcripts row_number, one for conv_id
        f"(exchanges={n_ex})",
    )
    failures += not check(
        "featurize stays in whole-stage codegen",
        # codegen stages print as "*(n) Project/Sort/..." in plan strings
        re.search(r"\*\(\d+\) ", p) is not None,
    )

    # 2. filter + column pruning reach the parquet scan
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    q = ev.where(F.col("event_type") == "purchase").select("user_id", "value")
    p = plan_of(q)
    failures += not check(
        "predicate pushdown into parquet scan",
        "PushedFilters: [" in p and "event_type" in p.split("PushedFilters")[1][:200],
    )
    rs = re.search(r"ReadSchema: ([^\n]+)", p)
    failures += not check(
        "column pruning (ReadSchema only needs 3 cols)",
        rs is not None and rs.group(1).count(":") <= 4,
        rs.group(1)[:120] if rs else "",
    )

    # 3. small-dimension join broadcasts
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    j = orders.join(cust, orders.o_custkey == cust.c_custkey)
    p = plan_of(j)
    failures += not check("small-dim join is broadcast", "BroadcastHashJoin" in p)

    # 4. as-of join window strategy: one exchange on the key, no cross join
    tr = transcripts_from_events(spark, sf_dir)
    right = tr.groupBy("conv_id").agg(F.max("ts").alias("ts"), F.count(F.lit(1)).alias("v"))
    a = asof_join(tr.select("conv_id", "turn_idx", "ts"), right, value_cols=["v"])
    p = plan_of(a)
    failures += not check(
        "as-of join has no cartesian/broadcast-nested-loop",
        "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p,
    )

    # 5. corpus ops: sampling is a row-local filter (no exchange) with
    # column pruning; quota capping is ONE hash exchange + Window
    from fastselect_spark.corpus import cap_per_source, deterministic_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    s = deterministic_sample(docs, 0.25).select("doc_id")
    p = plan_of(s)
    failures += not check(
        "deterministic_sample adds no exchange",
        "Exchange" not in p,
    )
    rs = re.search(r"ReadSchema: ([^\n]+)", p)
    failures += not check(
        "deterministic_sample prunes to the key column",
        rs is not None and rs.group(1).count(":") <= 1,
        rs.group(1)[:80] if rs else "",
    )
    c = cap_per_source(docs, 5, order_by=[F.col("n_chars").desc()])
    p = plan_of(c, execute=True)
    failures += not check(
        "cap_per_source is one exchange + Window",
        len(re.findall(r"Exchange hashpartitioning", p)) == 1 and "Window" in p,
    )

    # 6. dedup joins: minhash band bucket join and embedding LSH bucket
    # join must be shuffled/broadcast HASH joins, never nested-loop.
    # minhash_near_duplicates returns an (eager) checkpointed frame whose
    # plan no longer shows the join — audit the candidate-join sub-plan
    # the operator builds internally.
    from fastselect_spark.dedup import embedding_near_duplicates
    from fastselect_spark.dedup.minhash import _band_table, add_minhash_signature

    sig = add_minhash_signature(docs, hash_family="md5")
    banded = _band_table(sig, "doc_id", 16, 4, "md5")
    a = banded.select(F.col("doc_id").alias("id_a"), "band", "band_hash")
    b = banded.select(F.col("doc_id").alias("id_b"), "band", "band_hash")
    cand = (
        a.join(b, ["band", "band_hash"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    p = plan_of(cand)
    failures += not check(
        "minhash bucket join is a hash join",
        "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
        and ("SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p),
    )
    # embedding_near_duplicates returns a localCheckpoint'd frame (bare
    # scan plan), so — exactly like minhash above — audit the candidate
    # bucket self-join sub-plan the operator builds internally.
    from fastselect_spark.dedup.embedding import lsh_signature_table

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dim = int(emb.select(F.size("embedding").alias("d")).first()["d"])
    sigs = lsh_signature_table(emb, "vec_id", "embedding", dim, 6, 4, 42)
    ea = sigs.select(F.col("vec_id").alias("id_a"), "table", F.col("__sig").alias("bucket"))
    eb = sigs.select(F.col("vec_id").alias("id_b"), "table", F.col("__sig").alias("bucket"))
    ecand = (
        ea.join(eb, ["table", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    p = plan_of(ecand)
    failures += not check(
        "embedding LSH bucket self-join is a hash join",
        "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
        and ("SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p),
    )

    # 7. ANN LSH top-k: the bucket join and the candidate dedup must move
    # only bare (id, table, bucket) rows — no embedding array may cross
    # those exchanges (arrays are re-joined once AFTER the pair dedup).
    from fastselect_spark.similarity import cosine_topk_lsh

    topk = cosine_topk_lsh(emb, emb.where(F.col("vec_id") < 5), k=5)
    fp = formatted_plan(topk)
    bad = []
    for block in re.split(r"\n(?=\(\d+\) )", fp):
        if not re.match(r"\(\d+\) Exchange", block):
            continue
        inputs = " ".join(re.findall(r"Input \[\d+\]: \[([^\]]*)\]", block))
        args = " ".join(re.findall(r"Arguments: ([^\n]*)", block))
        is_bucket_join_ex = "bucket#" in inputs
        is_pair_dedup_ex = (
            "hashpartitioning(query_id#" in args and "neighbor_id#" in args
        ) or ("hashpartitioning(" in args and "query_id#" in args and "neighbor_id#" in args
             and "cosine" not in inputs and "bucket#" not in inputs)
        if (is_bucket_join_ex or is_pair_dedup_ex) and re.search(
            r"\b(e_q|e_c|embedding)#", inputs
        ):
            bad.append(block.splitlines()[0])
    failures += not check(
        "ANN LSH top-k: no embedding array crosses bucket-join/pair-dedup exchanges",
        "Exchange" in fp and not bad,
        f"(offending={bad})" if bad else "",
    )

    # 8. IVF training scan: the train_sample subset is a row-local
    # deterministic hash filter — no exchange at all, and specifically no
    # single-partition funnel (the round-3 orderBy().limit() defect)
    from fastselect_spark.corpus.sampling import deterministic_sample

    train = deterministic_sample(
        emb.select("vec_id", "embedding"), fraction=0.4, key_col="vec_id", seed=0
    ).select("embedding")
    p = plan_of(train)
    failures += not check(
        "IVF training sample is exchange-free (no single-partition funnel)",
        "Exchange" not in p and "GlobalLimit" not in p,
    )

    # 9. decontamination: benchmark shingle set broadcasts; the corpus side
    # is never shuffled for the semi-join
    from fastselect_spark.corpus import contamination_hits

    hits = contamination_hits(
        docs.where(F.col("doc_id") % 37 != 0),
        docs.where(F.col("doc_id") % 37 == 0),
        shingle_k=3,
    )
    p = plan_of(hits)
    failures += not check(
        "decontamination joins the broadcast benchmark shingle set",
        "BroadcastHashJoin" in p and "SortMergeJoin" not in p,
    )

    # 10. sequence packing: sharded streams — exactly ONE hash exchange
    # (on the shard) + a window; never a global single-partition sort
    from fastselect_spark.corpus import pack_sequences

    m = pack_sequences(docs, max_tokens=256, n_shards=4)
    p = plan_of(m, execute=True)
    failures += not check(
        "pack_sequences is one shard exchange + window (no global sort)",
        len(re.findall(r"Exchange hashpartitioning", p)) == 1
        and "Window" in p
        and "Exchange SinglePartition" not in p,
    )

    # 11. k-means cluster assignment is ONE broadcast mapInPandas scan —
    # the corpus is never shuffled and the output carries no array
    from fastselect_spark.similarity import kmeans_clusters, train_ivf_centroids

    C = train_ivf_centroids(emb, n_cells=4)
    cl = kmeans_clusters(emb, n_clusters=4, centroids=C)
    p = plan_of(cl)
    failures += not check(
        "kmeans_clusters assignment scan is exchange-free",
        "Exchange" not in p and "MapInPandas" in p,
    )

    # 12. semantic dedup: exactly one exchange (the cluster_id group) and
    # the verdict output is narrow — no embedding column downstream of the
    # per-cluster prune
    from fastselect_spark.dedup import semantic_dedup

    sd = semantic_dedup(emb, threshold=0.42, n_clusters=4, centroids=C)
    p = plan_of(sd, execute=True)
    failures += not check(
        "semantic_dedup is one cluster_id exchange + per-cluster Arrow pass",
        len(re.findall(r"Exchange hashpartitioning", p)) == 1
        and "FlatMapGroupsInPandas" in p
        and "Exchange SinglePartition" not in p,
    )

    # 13. span dedup: exactly two exchanges (span election + doc
    # reassembly), the chunk explode stays narrow
    from fastselect_spark.dedup import remove_duplicate_spans

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sp = remove_duplicate_spans(docs, span_tokens=8)
    p = plan_of(sp, execute=True)
    failures += not check(
        "span dedup is two exchanges (span election, doc reassembly)",
        len(re.findall(r"Exchange hashpartitioning", p)) == 2
        and "Generate posexplode" in p
        and "Exchange SinglePartition" not in p,
    )

    # 14. PII scrub: pure narrow projection — zero exchanges
    from fastselect_spark.text import redact_pii

    p = plan_of(redact_pii(docs), execute=True)
    failures += not check(
        "pii redaction plans zero exchanges", "Exchange" not in p
    )

    # 15. BM25: vocabulary filter sits below the postings aggregate, the
    # idf/query-id attachment is JOIN-FREE (driver-collected df counts
    # folded back as literal CASE/explode projections — round 6), and the
    # scoring plan reads the persisted postings handle instead of
    # re-running the corpus explode
    from fastselect_spark.text.bm25 import _bm25_scored

    scored, postings = _bm25_scored(
        docs, [(0, "spark window"), (1, "hash join")]
    )
    p = plan_of(scored, execute=True)
    postings.unpersist()
    failures += not check(
        "bm25 join-free scoring + postings branch-point cached",
        "Join" not in p  # no BroadcastHashJoin/SortMergeJoin at all
        and "InMemoryTableScan" in p
        # the ONE FileScan sits inside the cached postings' definition:
        # the scoring side never re-reads the corpus
        and len(re.findall(r"FileScan", p)) == 1
        and "CASE WHEN" in p
        and re.search(r"Filter term#\d+ IN \(", p) is not None,
    )

    # 16. perplexity scoring is one broadcast Arrow scan; the only
    # exchange is the per-language tertile window
    from fastselect_spark.corpus import perplexity_tertiles

    pt = perplexity_tertiles(docs, docs.where(F.col("lang") == "en"))
    p = plan_of(pt, execute=True)
    failures += not check(
        "perplexity tertiles: one lang exchange + one Arrow scoring scan",
        len(re.findall(r"Exchange hashpartitioning", p)) == 1
        and "MapInPandas" in p
        and "Exchange SinglePartition" not in p,
    )

    # 17. leakage-safe encoders: te + ce share ONE role exchange (same
    # partition key + order), and the hashing trick adds no exchange at all
    from fastselect_spark.featurize import (
        count_encode_expanding,
        hash_encode,
        target_encode_expanding,
    )

    lab = tr.withColumn("label", F.col("tool").isNotNull().cast("int"))
    enc = count_encode_expanding(
        target_encode_expanding(lab, ["role"], "label"), ["role"]
    )
    p = plan_of(enc, execute=True)
    # transcripts derivation itself costs one user_id exchange; the two
    # expanding windows must add exactly ONE more (shared role exchange)
    n_ex = len(re.findall(r"Exchange hashpartitioning", p))
    failures += not check(
        "expanding encoders share one role exchange",
        n_ex <= 2,
        f"(exchanges={n_ex})",
    )
    h = hash_encode(docs.select("doc_id", "source"), ["source"], 64, 7)
    p = plan_of(h)
    failures += not check(
        "hash_encode is a shuffle-free projection", "Exchange" not in p
    )

    # 18. StandardScaler transform is a literal projection (no exchange,
    # no extra scan beyond the input)
    from fastselect_spark.selection import standard_scale

    sc = standard_scale(
        docs.select("doc_id", F.length("text").cast("double").alias("x")),
        ["x"],
        [100.0],
        [10.0],
    )
    p = plan_of(sc)
    failures += not check(
        "standard_scale transform plans zero exchanges",
        "Exchange" not in p and len(re.findall(r"FileScan", p)) == 1,
    )

    # 19. the pair job behind every pairwise scorer (full MI matrix,
    # step-wise MI engine, CFS redundancy) must plan ZERO exchanges —
    # native range partitioning straight into mapInPandas (the measured
    # 3.5 s -> 0.41 s per-greedy-step win rests on this)
    import numpy as np

    from fastselect_spark.selection._agg import pair_frame

    frame = pair_frame(spark, 10, lambda ids: ids.astype(np.float64), 4)
    p = plan_of(frame)
    failures += not check(
        "pair job plans zero exchanges",
        "Exchange" not in p and "Range" in p,
    )

    # 20. multi-horizon stats: every horizon rides the SAME conv_id
    # exchange + sort — adding horizons must not add exchanges
    from fastselect_spark.featurize import add_multi_horizon_stats

    tr = transcripts_from_events(spark, sf_dir)
    mh = add_multi_horizon_stats(tr, horizons_s=(60, 600, 3600))
    p = plan_of(mh, execute=True)
    n_ex = len(re.findall(r"Exchange hashpartitioning", p))
    failures += not check(
        "multi-horizon stack shares one conv_id exchange",
        n_ex <= 2,  # one for events->transcripts row_number, one conv_id
        f"(exchanges={n_ex}, horizons=3)",
    )

    # 20b. table_profile: ONE scan + the melted (column,value) exchange +
    # the tiny rollup exchange — never p countDistinct/groupBy jobs
    from fastselect_spark.corpus.profile import table_profile

    prof = table_profile(docs.select("doc_id", "lang", "source"))
    p = plan_of(prof, execute=True)
    n_ex = len(re.findall(r"Exchange", p))
    n_scan = len(re.findall(r"FileScan", p))
    failures += not check(
        "table_profile is one scan + melt exchange + rollup exchange",
        n_scan == 1 and n_ex <= 2,
        f"(scans={n_scan}, exchanges={n_ex})",
    )

    # 20c. distributed ranking: range-partitioned two-pass, NEVER a
    # single-partition global Window (Spark's only built-in for this)
    from fastselect_spark.selection.rank import average_ranks_long

    melted = docs.select(
        F.lit("n_chars").alias("feature"),
        F.col("n_chars").cast("double").alias("value"),
        F.col("doc_id").cast("string").alias("id"),
    )
    rk = average_ranks_long(melted, num_partitions=8)
    p = plan_of(rk)
    # the returned frame is checkpointed; audit the scan's own sort step
    from fastselect_spark.selection._agg import range_sort

    sorted_plan = plan_of(range_sort(melted, ["feature", "value"], 8))
    failures += not check(
        "average ranks use range partitioning (no global-window funnel)",
        "rangepartitioning" in sorted_plan and "SinglePartition" not in sorted_plan
        and "Window" not in sorted_plan,
    )

    # 21. walk-forward fold assignment is a shuffle-free literal projection
    from fastselect_spark.featurize import purged_walkforward_folds

    wf = purged_walkforward_folds(tr, n_folds=4, embargo_s=120.0)
    n_base = len(re.findall(r"Exchange", plan_of(tr)))
    n_wf = len(re.findall(r"Exchange", plan_of(wf)))
    failures += not check(
        "walkforward fold columns add zero exchanges over the input",
        n_wf == n_base,
        f"(input={n_base}, with folds={n_wf})",
    )

    # 22. WoE transform: the row table is broadcast-joined to the vocab —
    # no shuffle of the corpus-sized side
    from fastselect_spark.featurize import woe_iv_encode

    lab = tr.withColumn("label", F.col("tool").isNotNull().cast("int"))
    enc, _ = woe_iv_encode(lab, "role", "label")
    p = plan_of(enc, execute=True)
    failures += not check(
        "woe transform is a broadcast join (row side unshuffled)",
        "BroadcastHashJoin" in p and "SortMergeJoin" not in p,
    )

    # 23. exact KS: the value reduction is range-partitioned for the prefix
    # passes — never a single-partition global Window
    from fastselect_spark.featurize import ks_statistics

    ref_d = docs.where(F.col("doc_id") % 2 == 0).select(
        F.col("n_chars").cast("double").alias("n_chars")
    )
    cur_d = docs.where(F.col("doc_id") % 2 == 1).select(
        F.col("n_chars").cast("double").alias("n_chars")
    )
    ks = ks_statistics(ref_d, cur_d, ["n_chars"], num_partitions=8)
    # the scan output is checkpointed; audit KS's own count table through
    # the scan's own sort step
    from fastselect_spark.featurize.drift import _ks_counts

    sub = plan_of(
        range_sort(_ks_counts(ref_d, cur_d, ["n_chars"]), ["feature", "v"], 8)
    )
    failures += not check(
        "KS prefix passes are range-partitioned (no global-window funnel)",
        "rangepartitioning" in sub
        and "SinglePartition" not in sub
        and "Window" not in sub
        and ks.count() == 1,
    )

    # 24. tool PMI: marginal joins broadcast; the only corpus-keyed
    # exchange is the conv_id pair join
    from fastselect_spark.featurize import tool_cooccurrence_pmi

    pmi = tool_cooccurrence_pmi(tr)
    p = plan_of(pmi, execute=True)
    n_bhj = len(re.findall(r"BroadcastHashJoin", p))
    failures += not check(
        "tool PMI marginals broadcast (2 broadcast joins)",
        n_bhj >= 2 and "CartesianProduct" not in p,
        f"(broadcast joins={n_bhj})",
    )

    # 24b. per-group top terms: the rank window is PARTITIONED by group —
    # never a single-partition global sort
    from fastselect_spark.text import top_terms_per_group

    tt = top_terms_per_group(docs.select("source", "doc_id", "text"), "source", 5)
    p = plan_of(tt, execute=True)
    failures += not check(
        "per-group top terms rank window is group-partitioned",
        "SinglePartition" not in p and "Window" in p,
    )

    # 24c. profile drift: two melt scans (one per snapshot), no
    # corpus-sized join (the full-outer join runs on p-row profiles)
    from fastselect_spark.corpus import profile_drift

    pd_ = profile_drift(
        docs.select("lang", "source"), docs.select("lang", "source")
    )
    p = plan_of(pd_, execute=True)
    n_scan = len(re.findall(r"FileScan", p))
    failures += not check(
        "profile drift is two profile passes joined on p rows",
        n_scan <= 2 and "CartesianProduct" not in p,
        f"(scans={n_scan})",
    )

    # 24d. K-fold target encoding: the row table joins the tiny
    # (key, fold) stats by BROADCAST — no row-table shuffle
    from fastselect_spark.featurize import group_kfold, kfold_target_encode

    tr_te = group_kfold(tr, "conv_id", 5, 11).withColumn(
        "label", F.col("tool").isNotNull().cast("int")
    )
    te = kfold_target_encode(tr_te, ["role"], "label", "fold")
    p = plan_of(te, execute=True)
    failures += not check(
        "kfold target encoding broadcasts the oof stats",
        "BroadcastHashJoin" in p and "SortMergeJoin" not in p,
    )

    # 25. contrastive pairs: both representative tables broadcast; the
    # corpus is never shuffled by bucket (reps come from partial aggs)
    from fastselect_spark.corpus import contrastive_pairs

    cp = contrastive_pairs(tr, n_buckets=16, seed=3)
    p = plan_of(cp, execute=True)
    n_bhj = len(re.findall(r"BroadcastHashJoin", p))
    failures += not check(
        "contrastive pairs: reps broadcast, no corpus bucket shuffle",
        n_bhj >= 2 and "SortMergeJoin" not in p,
        f"(broadcast joins={n_bhj})",
    )

    # 26. text cleaning is a row-local Arrow projection — no exchange
    from fastselect_spark.text import clean_text

    ct = clean_text(docs.select("doc_id", "text"), "text")
    p = plan_of(ct)
    failures += not check(
        "clean_text plans zero exchanges (Arrow-batched projection)",
        "Exchange" not in p and "ArrowEvalPython" in p,
    )

    # 27. calibration report: one bin agg; window runs over the
    # n_bins-bounded table, never the corpus
    from fastselect_spark.corpus import calibration_report

    scored = docs.select(
        (F.col("n_chars") % 100 / 100.0).alias("s"),
        (F.col("n_chars") % 2).alias("y"),
    )
    cal = calibration_report(scored, "s", "y", n_bins=10)
    p = plan_of(cal, execute=True)
    n_ex = len(re.findall(r"Exchange", p))
    failures += not check(
        "calibration report is one bin agg + bounded window",
        n_ex <= 3 and "Window" in p,
        f"(exchanges={n_ex})",
    )

    # 28. wide-matrix reductions run through mapInArrow (zero-copy flat
    # buffers), NOT the pandas object-column path (round-5 drift fix)
    import numpy as np

    from fastselect_spark.selection._agg import tree_reduce_ndarrays_arrow
    from fastselect_spark.selection.matrix import matrix_table

    X = np.arange(40.0).reshape(8, 5)
    y = np.array([0.0, 1.0] * 4)
    mdf = matrix_table(spark, X, y, n_partitions=2).select("features", "y")
    arrow_probe = mdf.mapInArrow(lambda it: it, schema="features array<double>, y double")
    p = plan_of(arrow_probe)
    failures += not check(
        "wide-matrix kernels plan MapInArrow (no pandas object columns)",
        "MapInArrow" in p or "ArrowEvalPython" in p,
    )
    assert tree_reduce_ndarrays_arrow is not None  # import surface intact

    # 29. token-budget sampling: broadcast bounds join, and the only
    # Window runs AFTER the boundary-bucket filter (never a global sort)
    from fastselect_spark.corpus import sample_token_budget

    tb = sample_token_budget(docs.select("doc_id", "source", "text"), 500)
    p = plan_of(tb)
    has_bcast = "BroadcastHashJoin" in p
    no_global_sort = "Sort [" not in p.split("Window")[0] or "Exchange rangepartitioning" not in p
    failures += not check(
        "token-budget sample: broadcast bounds join, no global sort",
        has_bcast and no_global_sort,
    )

    # 30. SQ8 ANN: encode + local-topk are row-local Arrow passes — the
    # corpus/codes side is NEVER shuffled; the only Exchange in the whole
    # top-k plan is the bounded query_id window merge (queries x k rows)
    from fastselect_spark.similarity import sq8_topk

    emb30 = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    sq = sq8_topk(emb30, emb30.where("vec_id < 3"), k=5)
    p = plan_of(sq)
    n_ex = p.count("Exchange")
    failures += not check(
        "sq8 top-k: codes never shuffled (1 exchange = query_id merge)",
        n_ex == 1 and p.count("MapInPandas") >= 2,
        f"(exchanges={n_ex})",
    )

    # 31. BH-FDR: the step-up never plans a global single-partition Window
    # funnel — one range exchange, partition-local suffix mins, and the
    # carry join is a broadcast
    from fastselect_spark.selection import fdr_bh

    pv31 = spark.range(5000).selectExpr(
        "CAST(id AS STRING) AS feature",
        "((id * 37) % 101) / 101.0 AS p_value",
    )
    # an explicit num_partitions selects the distributed (scale) plan
    fd = fdr_bh(pv31, num_partitions=4)
    p = plan_of(fd)
    failures += not check(
        "fdr_bh: no global-window funnel, broadcast carry join",
        "Window" not in p and "BroadcastHashJoin" in p,
    )

    # 32. conversation trends + lead-lag: the whole stack (window shifts +
    # sufficient-stats groupBy) shares ONE conv_id exchange on top of the
    # transcripts derivation
    from fastselect_spark.featurize import conversation_leadlag

    ll = conversation_leadlag(feat)
    p = plan_of(ll)
    n_conv_ex = len(re.findall(r"Exchange hashpartitioning\(conv_id", p))
    failures += not check(
        "lead-lag shares one conv_id exchange with the featurize stack",
        n_conv_ex <= 1,
        f"(conv_id exchanges={n_conv_ex})",
    )

    # 33. hashed term vectors: one map-side-combining aggregation, all-JVM
    # expressions (no Python eval in the plan)
    from fastselect_spark.text import hashed_term_vectors

    hv = hashed_term_vectors(docs.select("doc_id", "text"))
    p = plan_of(hv)
    failures += not check(
        "hashed vectors: JVM-only, partial-aggregated",
        "EvalPython" not in p and "MapInPandas" not in p
        and p.count("HashAggregate") >= 2,
    )

    # 34. SCD2 interval build: the change-collapse lag pass and the
    # valid_to lead pass share ONE key exchange (a second exchange would
    # double the dominant shuffle of a dimension build at ingest scale)
    from fastselect_spark.featurize import scd2_intervals

    ch = docs.selectExpr(
        "CAST(doc_id % 50 AS STRING) AS k",
        "CAST(doc_id AS TIMESTAMP) AS ts",
        "source AS v",
    )
    sc2 = scd2_intervals(ch, ["k"], "ts", ["v"])
    p = plan_of(sc2)
    n_k_ex = len(re.findall(r"Exchange hashpartitioning\(k#", p))
    failures += not check(
        "scd2: lag-collapse and lead-interval windows share one key exchange",
        n_k_ex == 1,
        f"(key exchanges={n_k_ex})",
    )

    # 35. HLL distinct: two aggregation levels (register max, then the
    # per-group fold), all-JVM expressions — a distinct sketch that plans
    # a Python eval or more than two exchanges is not the bounded-state
    # scale path it claims to be
    from fastselect_spark.corpus import hll_distinct

    hd = hll_distinct(docs, ["lang"], "text", p=8)
    p = plan_of(hd)
    n_ex = p.count("Exchange")
    failures += not check(
        "hll_distinct: all-JVM, <=2 exchanges (register agg + group fold)",
        "EvalPython" not in p and "MapInPandas" not in p and n_ex <= 2,
        f"(exchanges={n_ex})",
    )

    # 36. count-min lookup: the sketch side is BROADCAST (it is depth*width
    # cells by construction) so the probe stream never shuffles for the join
    from fastselect_spark.corpus import countmin_lookup, countmin_sketch

    toks = docs.selectExpr("explode(split(text, ' ')) AS token").where(
        F.col("token") != ""
    )
    sk = countmin_sketch(toks, "token", depth=4, width=1024)
    keys = docs.selectExpr("source AS token").distinct()
    cl = countmin_lookup(sk, keys, "token", depth=4, width=1024)
    p = plan_of(cl)
    failures += not check(
        "countmin lookup: sketch broadcast, probe side join-shuffle-free",
        "BroadcastHashJoin" in p,
    )

    # 37. decay features: the turn-decay running window and all k+1
    # time-decay lag windows share ONE conv_id exchange on top of the
    # already-partitioned featurize stack
    from fastselect_spark.featurize import time_decayed_lastk, turn_decayed_sum

    dec = turn_decayed_sum(
        time_decayed_lastk(feat, "n_tokens", 300.0, k=3), "n_tokens", 0.5
    )
    p = plan_of(dec)
    n_conv_ex = len(re.findall(r"Exchange hashpartitioning\(conv_id", p))
    failures += not check(
        "decay features share one conv_id exchange with the featurize stack",
        n_conv_ex <= 1,
        f"(conv_id exchanges={n_conv_ex})",
    )

    # 38. SCD2 point-in-time lookup: resolved as an as-of window join —
    # a raw BETWEEN interval join would plan BroadcastNestedLoopJoin
    # (quadratic per key); the lookup plan must contain none
    from fastselect_spark.featurize import scd2_lookup

    dim38 = scd2_intervals(ch, ["k"], "ts", ["v"])
    probes38 = docs.selectExpr(
        "CAST(doc_id % 50 AS STRING) AS k",
        "CAST(doc_id + 7 AS TIMESTAMP) AS at",
    )
    lk = scd2_lookup(probes38, dim38, ["k"], "at", value_cols=["v"])
    p = plan_of(lk)
    failures += not check(
        "scd2 lookup: as-of window plan, no nested-loop interval join",
        "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p,
    )

    # 39. Theil-Sen: the pair generation is a conv_id-co-partitioned
    # equi-join (SortMergeJoin/ShuffledHashJoin), never a nested loop —
    # the O(L^2) blowup is bounded per key, not global
    from fastselect_spark.featurize import theilsen_trends

    ts39 = theilsen_trends(feat.select("conv_id", "turn_idx", "n_tokens"))
    p = plan_of(ts39)
    failures += not check(
        "theilsen: co-partitioned pair join, no nested loop",
        "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p,
    )

    print(f"\n{'ALL CHECKS PASS' if not failures else f'{failures} CHECK(S) FAILED'}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
