"""Capture explain('formatted') for the INTERNAL sub-plans of operators
whose public queries return eagerly-materialized (localCheckpoint'd)
frames — the checkpointed scan hides the interesting plan. Round-6
deliverable helper; run once per tree:

  FS_TREE=<tree> python tools/capture_subplans.py <out_dir> <suffix> [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.environ.get("FS_TREE", "/root/repo"))


def main() -> None:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.01"
    from pyspark.sql import functions as F

    from fastselect_spark.runtime.session import get_spark

    spark = get_spark(
        app_name="capture-subplans", master="local[4]", shuffle_partitions=8
    )
    jvm = spark._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    os.makedirs(out_dir, exist_ok=True)

    def dump(name: str, df) -> None:
        txt = df._jdf.queryExecution().explainString(mode)
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(txt)
        print(f"wrote {name}_{suffix}.txt ({len(txt)} chars)")

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    # bm25 scoring plan (pre-checkpoint)
    from fastselect_spark.text.bm25 import _bm25_scored

    scored, postings = _bm25_scored(docs, [(0, "spark window"), (1, "hash join")])
    dump("bm25_scored_subplan", scored)
    postings.unpersist()

    # minhash verify plan (pre-checkpoint): signature table -> bands ->
    # bucket join -> candidate pairs -> jaccard verification off the table
    from fastselect_spark.dedup.minhash import (
        _band_table,
        _verified,
        add_minhash_signature,
        ensure_parallelism,
    )

    sig = add_minhash_signature(
        ensure_parallelism(docs.select("doc_id", "text")), "text", 3, 64, "md5"
    )
    table = sig.select("doc_id", "shingles", "minhash").persist()
    banded = _band_table(table, "doc_id", 16, 4, "md5")
    a = banded.select(F.col("doc_id").alias("id_a"), "band", "band_hash")
    b = banded.select(F.col("doc_id").alias("id_b"), "band", "band_hash")
    cand = (
        a.join(b, ["band", "band_hash"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    dump("minhash_verify_subplan", _verified(cand, table, "doc_id", 0.5))
    table.unpersist()

    spark.stop()


if __name__ == "__main__":
    main()
