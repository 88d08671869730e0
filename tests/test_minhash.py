"""MinHash near-duplicates: partition sizing, parity with a brute force
over the signatures, and the operator's job and task budget."""

from __future__ import annotations

import itertools

import pytest

from fastselect_spark.dedup.minhash import (
    add_minhash_signature,
    ensure_parallelism,
    minhash_near_duplicates,
)
from fastselect_spark.runtime import gates


def _parts(df) -> int:
    return df.rdd.getNumPartitions()


def test_ensure_parallelism_sizes_to_slots(spark, monkeypatch):
    """Two-sided rule: up to the slots below half of them, down by
    coalesce above them, untouched without statistics. The rule reads
    partition counts and plan statistics only, so it launches no job."""
    sc = spark.sparkContext
    slots = sc.defaultParallelism
    cached = spark.range(0, 100, 1, 32).persist()
    cached.count()
    no_stats = spark.createDataFrame(
        sc.parallelize([(i,) for i in range(64)], 32), "id long"
    )
    max_bytes = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    group = "ensure-parallelism"
    sc.setJobGroup(group, group)
    try:
        single = ensure_parallelism(spark.range(0, 10, 1, 1))
        small = ensure_parallelism(cached)
        unsized = ensure_parallelism(no_stats)
        with monkeypatch.context() as m:
            m.setattr(gates, "plan_size_bytes", lambda df: 100 * max_bytes)
            big_cached = ensure_parallelism(cached)
            big_wide = ensure_parallelism(spark.range(0, 1000, 1, 200))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert gates.plan_size_bytes(no_stats) is None
    assert [_parts(d) for d in (single, small, unsized, big_cached, big_wide)] == [
        slots, slots, 32, 32, 100
    ]
    cached.unpersist()


def _brute_force(df, threshold, num_hashes, bands, hash_family):
    """Band buckets over the collected signatures, then exact shingle
    Jaccard, in plain Python."""
    rows = add_minhash_signature(
        df, num_hashes=num_hashes, hash_family=hash_family
    ).select("doc_id", "shingles", "minhash").collect()
    r = num_hashes // bands
    buckets: dict = {}
    for row in rows:
        for b in range(bands):
            key = (b, tuple(row.minhash[b * r : (b + 1) * r]))
            buckets.setdefault(key, []).append(row)
    out = set()
    for members in buckets.values():
        for x, y in itertools.combinations(members, 2):
            if x.doc_id == y.doc_id:
                continue
            a, b = (x, y) if x.doc_id < y.doc_id else (y, x)
            sa, sb = set(a.shingles), set(b.shingles)
            j = len(sa & sb) / len(sa | sb)
            if j >= threshold:
                out.add((a.doc_id, b.doc_id, j))
    return out


@pytest.mark.parametrize("hash_family", ["md5", "xxhash64"])
@pytest.mark.parametrize("corpus", ["near_dup_corpus", "messy_docs"])
def test_minhash_matches_brute_force_at_any_partitioning(
    spark, request, corpus, hash_family
):
    df = request.getfixturevalue(corpus)
    kw = dict(threshold=0.5, num_hashes=64, bands=16, hash_family=hash_family)
    want = _brute_force(df, **kw)
    assert want
    for n in (1, 4, 32):
        inp = df.repartition(n).persist()
        inp.count()
        try:
            got = {
                (r.id_a, r.id_b, r.jaccard)
                for r in minhash_near_duplicates(inp, **kw).collect()
            }
        finally:
            inp.unpersist()
        assert got == want, n


def test_minhash_job_and_task_budget(spark, near_dup_corpus):
    """On a persisted 32-partition corpus the operator runs a fixed number
    of jobs, and no stage, the Python signature stage included, runs more
    tasks than there are slots."""
    sc = spark.sparkContext
    corpus = near_dup_corpus.repartition(32).persist()
    corpus.count()
    group = "minhash-budget"
    sc.setJobGroup(group, group)
    try:
        pairs = minhash_near_duplicates(corpus, threshold=0.5)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        corpus.unpersist()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = [
        tracker.getStageInfo(s) for j in jobs for s in tracker.getJobInfo(j).stageIds
    ]
    ran = [s.numCompletedTasks for s in stages if s is not None]
    assert pairs.count() > 0
    assert len(jobs) == 9
    assert 0 < max(ran) <= sc.defaultParallelism
