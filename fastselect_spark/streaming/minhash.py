"""Streaming MinHash-LSH near-duplicate CANDIDATE generation — the
ingest-time counterpart of the batch bucket self-join (dedup/minhash.py),
completing the ingest-time dedup story: exact streaming dedup
(streaming/dedup.py) drops identical re-crawls; this stage surfaces
NEAR-duplicates of anything still alive in LSH-bucket state as documents
arrive.

Shape: the signature + banding stack is the SAME stateless expression
plan the batch path uses (`add_minhash_signature` + the band hash — both
are ordinary projections, so they run unchanged on a streaming frame).
Each (band, band_hash) bucket is then a key of
``applyInPandasWithState``: state holds the bucket's live member ids, and
every newly-arriving doc emits a bare (id_a, id_b) candidate pair against
each live member before joining the bucket. Pairs are emitted exactly
once per bucket; cross-band duplicates are deduped downstream (exactly
like the batch path's ``dropDuplicates`` on bare pairs — arrays never
enter the stateful shuffle).

State is bounded two ways: bucket membership is capped at
``max_bucket_size`` ids (a hot bucket is boilerplate by definition — the
same skew defense as the n-gram index's df cap, and at cap the bucket
stops ACCUMULATING but keeps emitting pairs against its cap-sized
membership), and whole buckets are evicted after ``state_ttl_minutes`` of
event-time inactivity via the watermark-driven timer (the stateful.py
timer pattern). With a TTL longer than the run, the emitted candidate set
equals the batch bucket self-join's on the union of all micro-batches —
the oracle used by the driver contract and tests.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from fastselect_spark.dedup.minhash import _band_table, add_minhash_signature

PAIR_SCHEMA = T.StructType(
    [
        T.StructField("id_a", T.LongType()),
        T.StructField("id_b", T.LongType()),
    ]
)

BUCKET_STATE_SCHEMA = T.StructType(
    [
        T.StructField("members", T.ArrayType(T.LongType())),
        T.StructField("last_ts_us", T.LongType()),
    ]
)


def _bucket_fn(state_ttl_minutes: int, max_bucket_size: int):
    def fn(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            members_raw, last_ts_us = state.get
            members = list(members_raw)
        else:
            members, last_ts_us = [], -1
        seen = set(members)
        out_a: list[int] = []
        out_b: list[int] = []
        for pdf in pdfs:
            if pdf.empty:
                continue
            # deterministic in-batch order (micro-batch rows are unordered)
            pdf = pdf.sort_values(["ts", "doc_id"], kind="mergesort")
            for doc_id, t in zip(pdf["doc_id"], pdf["ts"]):
                doc_id = int(doc_id)
                t_us = int(t.value // 1_000)
                last_ts_us = max(last_ts_us, t_us)
                if doc_id in seen:
                    continue
                for m in members:
                    out_a.append(min(m, doc_id))
                    out_b.append(max(m, doc_id))
                if len(members) < max_bucket_size:
                    members.append(doc_id)
                    seen.add(doc_id)
        state.update((members, int(last_ts_us)))
        # event-time TTL, clamped above the current watermark (stateful.py)
        expiry_ms = last_ts_us // 1000 + int(state_ttl_minutes) * 60_000
        state.setTimeoutTimestamp(max(expiry_ms, state.getCurrentWatermarkMs() + 1))
        if out_a:
            yield pd.DataFrame({"id_a": out_a, "id_b": out_b})

    return fn


def streaming_minhash_candidates(
    stream: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ts_col: str = "ts",
    shingle_k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    hash_family: str = "md5",
    watermark: str = "10 minutes",
    state_ttl_minutes: int = 60,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Bare (id_a, id_b) near-dup candidate pairs from a document stream
    (cross-band duplicates included — dedup downstream, then verify with
    :func:`fastselect_spark.dedup.minhash.verify_candidate_pairs` against
    the accumulated corpus: it shingles only the candidates' docs and
    scores them with the batch operator's own Jaccard, so the verified
    pairs equal :func:`~fastselect_spark.dedup.minhash_near_duplicates`
    on the union while the bucket state outlives the run)."""
    rows_per_band = num_hashes // bands
    sig = add_minhash_signature(
        stream.select(
            F.col(id_col).alias("doc_id"),
            F.col(text_col).alias("text"),
            F.col(ts_col).alias("ts"),
        ),
        "text",
        shingle_k,
        num_hashes,
        hash_family,
    )
    # ts rides through the band explode (narrow column — NOT the arrays);
    # a post-hoc re-join would be a stream-stream join
    banded = _band_table(
        sig.select("doc_id", "ts", "minhash"),
        "doc_id",
        bands,
        rows_per_band,
        hash_family,
        keep_cols=("ts",),
    )
    return (
        banded.withWatermark("ts", watermark)
        .groupBy("band", "band_hash")
        .applyInPandasWithState(
            _bucket_fn(state_ttl_minutes, max_bucket_size),
            outputStructType=PAIR_SCHEMA,
            stateStructType=BUCKET_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
