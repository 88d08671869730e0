"""The workloads. Each is a closed loop of passes: one batch job whose next
pass starts only after the previous one finished and was checked.

A workload builds its inputs in ``load_inputs`` and its oracle in
``build_oracle``; ``run_pass`` calls the layers (each call inside a tracer
span) and returns the pass's outputs; ``check`` compares them with the
oracle and returns one message per wrong layer call.

Input sizes keep one pass at three to ten seconds on four cores: large enough
that featurize is the largest part of a pit_features pass (about half of it,
the rest as-of join and cube), small enough that a run with its set-up
stays under a minute.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np

from perfbench import inputs, oracles

PIT_CONVS = 8_000
BACKFILL_CONVS = 1_500
BACKFILL_CELLS = 2
DEDUP_BASE_DOCS = 300
# (n, p): p >> n for chi2/fisher/mRMR/JMI, n >> p for ReliefF, as in the
# reference's published benchmark configurations, scaled down. mRMR's p
# keeps p(p-1)/2 above 2M pairs, so its "auto" strategy takes the
# step-wise path that wide inputs at the reference scale take.
SCORER_SHAPES = {
    "chi2": (400, 2_000),
    "mrmr": (200, 2_100),
    "mdr": (200, 40),
    "relieff": (400, 40),
}
# input matrix of each scorer call: fisher reuses chi2's, JMI reuses mRMR's
SCORER_INPUT = {
    "chi2": "chi2",
    "fisher": "chi2",
    "mrmr": "mrmr",
    "jmi": "mrmr",
    "mdr": "mdr",
    "relieff": "relieff",
}
SCORER_SELECT = 3

PIT_FEATURE_COLS = ["c_session", "c_runlen", "c_gap", "c_stok", "c_ntok"]


class Workload:
    name = ""
    item_unit = ""
    # passes run before timing: the first pass in a process runs up to
    # twice as long (JIT compilation); a fixed count leaves the JVM equally
    # warm on a slow host
    warmup_passes = 1
    # timed passes at least, whatever --seconds says
    min_passes = 1

    def __init__(self, spark, tracer, root: str, work: str, scratch: str, seed: int) -> None:
        self.spark = spark
        self.tracer = tracer
        self.root = root
        self.work = work
        self.scratch = scratch
        self.seed = seed
        self.items = 0
        self.calls = 0  # layer calls attempted in the current pass
        self.cache_hit = False

    def call(self, layer: str, fn, *args, **kwargs):
        self.calls += 1
        with self.tracer.span(layer):
            return fn(*args, **kwargs)

    def load_inputs(self) -> None:
        """Generate (or read from the cache) the seeded inputs."""
        raise NotImplementedError

    def build_oracle(self) -> None:
        """Compute the expected outputs, independently of the timed path."""
        raise NotImplementedError

    def run_pass(self) -> dict:
        raise NotImplementedError

    def check(self, out: dict) -> list[str]:
        raise NotImplementedError

    def cleanup(self, out: dict) -> None:
        """Release what a pass left behind, outside the timed region."""

    def counts(self, out: dict) -> dict[str, int]:
        """Counts a pass's outputs report, for the per-layer metrics."""
        return {}

    def details(self, out: dict) -> dict[str, tuple[float, str]]:
        """This workload's own figures for the report: name -> (value, unit)."""
        return {}


def _close(name: str, got, want, rtol: float = 1e-7, atol: float = 1e-10) -> list[str]:
    got, want = np.asarray(got, dtype=np.float64), np.asarray(want, dtype=np.float64)
    if got.shape != want.shape:
        return [f"{name}: shape {got.shape} != {want.shape}"]
    if not np.allclose(got, want, rtol=rtol, atol=atol):
        worst = float(np.nanmax(np.abs(got - want)))
        return [f"{name}: max abs diff {worst:.3g}"]
    return []


def _same(name: str, got, want) -> list[str]:
    return [] if got == want else [f"{name}: {got!r} != {want!r}"]


def _failures(by_layer: dict[str, list[str]]) -> list[str]:
    """One message per layer call whose output is wrong."""
    return [f"{layer} " + "; ".join(msgs) for layer, msgs in by_layer.items() if msgs]


# --- pit_features -------------------------------------------------------------


def _pit_features(tr):
    from fastselect_spark.featurize import featurize_transcripts

    return featurize_transcripts(tr).select(
        "conv_id", "ts", "turn_gap_s", "session_id", "role_run_len", "n_tokens", "label"
    )


def _pit_codes(feat):
    """Session summaries as of each turn, binned into small integer codes."""
    from pyspark.sql import functions as F

    from fastselect_spark.featurize import asof_join

    sess = feat.groupBy("conv_id", "session_id").agg(
        F.max("ts").alias("ts"), F.avg("n_tokens").alias("sess_avg_tokens")
    )
    mat = asof_join(feat, sess.select("conv_id", "ts", "sess_avg_tokens"), strategy="window")
    return mat.select(
        F.least(F.col("session_id"), F.lit(7)).cast("int").alias("c_session"),
        F.least(F.col("role_run_len"), F.lit(5)).cast("int").alias("c_runlen"),
        F.least(F.floor(F.col("turn_gap_s") / 60.0), F.lit(10)).cast("int").alias("c_gap"),
        F.least(F.floor(F.col("sess_avg_tokens_asof")), F.lit(10)).cast("int").alias("c_stok"),
        F.least(F.col("n_tokens"), F.lit(60)).cast("int").alias("c_ntok"),
        F.col("label").cast("int").alias("label"),
    )


def _materialize(df):
    df = df.persist()
    df.count()
    return df


class PitFeatures(Workload):
    """featurize -> as-of join -> contingency cube scores -> mRMR, one pass."""

    name = "pit_features"
    item_unit = "turns"

    def load_inputs(self) -> None:
        self.path, self.cache_hit = inputs.transcripts(
            self.spark, self.work, self.name, self.seed, PIT_CONVS
        )

    def build_oracle(self) -> None:
        tr = self.spark.read.parquet(self.path)
        self.items = tr.count()  # every input turn must reach the cube
        X, y = oracles.pit_codes(_pit_features(tr).toPandas())
        orc = oracles.test_oracle(self.root)
        rel, red = orc.mi_matrices_oracle(X, y)
        self.want = {
            "n": self.items,
            "chi2": orc.chi2_oracle(X, y),
            "relevance": rel,
            "redundancy": red,
            "mrmr": oracles.mrmr_mid(rel, lambda s: red[:, s], 3),
        }

    def run_pass(self) -> dict:
        from fastselect_spark.selection import scores_from_cube
        from fastselect_spark.selection.mrmr import mrmr_greedy

        tr = self.spark.read.parquet(self.path)
        feat = self.call("featurize.windows", lambda: _materialize(_pit_features(tr)))
        codes = self.call(
            "featurize.asof", lambda: _materialize(_pit_codes(feat))
        )
        scores = self.call("selection.cube", scores_from_cube, codes, PIT_FEATURE_COLS, "label")
        picked = self.call(
            "selection.mrmr", mrmr_greedy, scores["relevance"], scores["redundancy"], 3, "MID"
        )
        return {"scores": scores, "mrmr": [int(i) for i in picked], "frames": (feat, codes)}

    def check(self, out: dict) -> list[str]:
        s, w = out["scores"], self.want
        return _failures({
            "selection.cube": _same("n", s["n"], w["n"])
            + _close("chi2", s["chi2"], w["chi2"])
            + _close("relevance", s["relevance"], w["relevance"])
            + _close("redundancy", s["redundancy"], w["redundancy"]),
            "selection.mrmr": _same("picked", out["mrmr"], w["mrmr"]),
        })

    def cleanup(self, out: dict) -> None:
        for df in out.get("frames", ()):
            df.unpersist()


# --- resumable_backfill -------------------------------------------------------


def _backfill_columns():
    from fastselect_spark.featurize.windows import DEFAULT_FEATURE_COLS

    return ["conv_id", "turn_idx", "ts", *DEFAULT_FEATURE_COLS, "label"]


class ResumableBackfill(Workload):
    """The same featurize, one job chain per hash bucket with a parquet write
    and a checksummed manifest commit per cell, then a resume pass that must
    skip every cell."""

    name = "resumable_backfill"
    item_unit = "turns"

    def load_inputs(self) -> None:
        self.path, self.cache_hit = inputs.transcripts(
            self.spark, self.work, self.name, self.seed, BACKFILL_CONVS
        )
        self.passes = 0

    def build_oracle(self) -> None:
        from pyspark.sql import functions as F

        from fastselect_spark.featurize import featurize_transcripts

        cols = _backfill_columns()
        tr = self.spark.read.parquet(self.path)
        self.items = tr.count()  # the cells' rows must sum to the input turns
        feat = featurize_transcripts(tr).select(*cols)
        # the manifest checksum: sum of per-row xxhash64 over every column
        # cast to string (null as U+2205), in decimal(38,0), modulo 2^61
        row_hash = F.xxhash64(
            *[F.coalesce(F.col(c).cast("string"), F.lit("∅")) for c in cols]
        ).cast("decimal(38,0)")
        rows = (
            feat.groupBy(F.pmod(F.xxhash64("conv_id"), F.lit(BACKFILL_CELLS)).alias("cell"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum(row_hash).alias("cs"))
            .collect()
        )
        self.want = {int(r["cell"]): (int(r["n"]), int(r["cs"]) % (1 << 61)) for r in rows}

    def _featurize(self, df):
        from fastselect_spark.featurize import featurize_transcripts

        return self.call("featurize.windows", featurize_transcripts, df).select(
            *_backfill_columns()
        )

    def run_pass(self) -> dict:
        from fastselect_spark.runtime.checkpoint import BackfillManifest, run_resumable_backfill

        self.passes += 1
        out_dir = os.path.join(self.scratch, f"backfill{self.passes}")
        path = self.path

        def run():
            return run_resumable_backfill(
                self.spark,
                lambda s: s.read.parquet(path),
                self._featurize,
                out_dir,
                n_buckets=BACKFILL_CELLS,
                lineage={"input": "transcripts"},
            )

        first = self.call("runtime.checkpoint", run)
        t = time.perf_counter()
        resume = self.call("runtime.checkpoint.resume", run)
        return {
            "first": first,
            "resume": resume,
            "resume_s": time.perf_counter() - t,
            "manifest": BackfillManifest(out_dir).entries(),
            "dir": out_dir,
        }

    def check(self, out: dict) -> list[str]:
        got = {e["cell"]: (e["n_rows"], e["checksum"]) for e in out["manifest"]}
        return _failures({
            "runtime.checkpoint": _same("cells", got, self.want)
            + _same("rows", out["first"]["rows"], self.items),
            "runtime.checkpoint.resume": _same("cells_run", out["resume"]["cells_run"], 0)
            + _same("cells_skipped", out["resume"]["cells_skipped"], BACKFILL_CELLS),
        })

    def cleanup(self, out: dict) -> None:
        if "dir" in out:
            shutil.rmtree(out["dir"], ignore_errors=True)

    def counts(self, out: dict) -> dict[str, int]:
        return {
            "cells_run": out["first"]["cells_run"],
            "resume_cells_run": out["resume"]["cells_run"],
        }

    def details(self, out: dict) -> dict[str, tuple[float, str]]:
        return {"resume_s": (out["resume_s"], "s")}


# --- scorer_suite -------------------------------------------------------------


class ScorerSuite(Workload):
    """Six selection scorers on seeded NumPy matrices."""

    name = "scorer_suite"
    item_unit = "cells"
    # six short launch-bound calls: one slow job on a busy host moves a
    # single pass by a quarter; the median of two passes damps that
    min_passes = 2

    def load_inputs(self) -> None:
        import pandas as pd

        from fastselect_spark.selection import matrix_table
        from fastselect_spark.selection.mdr import stratified_kfold_assign

        self.m, self.cache_hit = inputs.scorer_matrices(self.work, self.seed, SCORER_SHAPES)
        self.items = sum(int(np.prod(SCORER_SHAPES[key])) for key in SCORER_INPUT.values())
        m, spark = self.m, self.spark
        self.wide = _materialize(matrix_table(spark, m["chi2_X"], m["chi2_y"]))

        def narrow(X, y, prefix, **extra):
            cols = [f"{prefix}{i}" for i in range(X.shape[1])]
            pdf = pd.DataFrame(X, columns=cols).assign(label=y, **extra)
            df = spark.createDataFrame(pdf).repartition(spark.sparkContext.defaultParallelism)
            return _materialize(df), cols

        # explicit CV folds: the fit then does not depend on row order
        self.mdr_folds = stratified_kfold_assign(m["mdr_y"], 10, seed=42)
        self.mdr_df, self.mdr_cols = narrow(m["mdr_X"], m["mdr_y"], "g", fold=self.mdr_folds)
        self.rf_df, self.rf_cols = narrow(m["relieff_X"], m["relieff_y"], "f")

    def build_oracle(self) -> None:
        m = self.m
        orc = oracles.test_oracle(self.root)
        X, y = m["mrmr_X"], m["mrmr_y"]
        rel = np.array([orc.mi_oracle(X[:, f], y) for f in range(X.shape[1])])
        cols = {}  # redundancy columns of the selected features

        def column(s: int) -> np.ndarray:
            cols[s] = np.array([orc.mi_oracle(X[:, f], X[:, s]) for f in range(X.shape[1])])
            return cols[s]

        self.want = {
            "chi2": orc.chi2_oracle(m["chi2_X"], m["chi2_y"]),
            "fisher": oracles.fisher(m["chi2_X"], m["chi2_y"]),
            "mrmr": (oracles.mrmr_mid(rel, column, SCORER_SELECT), rel, cols),
            "jmi": (oracles.jmi_select(orc.mi_oracle, rel, X, y, SCORER_SELECT), rel),
            "mdr": oracles.mdr(m["mdr_X"], m["mdr_y"], self.mdr_folds),
            "relieff": orc.relieff_oracle(m["relieff_X"], m["relieff_y"], n_neighbors=3),
        }

    def run_pass(self) -> dict:
        from fastselect_spark.selection import (
            MDRClassifier,
            ReliefFSelector,
            chi2_matrix,
            fisher_matrix,
            jmi_select_matrix,
            mrmr_select_matrix,
        )

        spark, m, out = self.spark, self.m, {"seconds": {}}

        def timed(key: str, layer: str, fn, *args):
            t = time.perf_counter()
            out[key] = self.call(layer, fn, *args)
            out["seconds"][key] = time.perf_counter() - t

        timed("chi2", "selection.chi2", chi2_matrix, self.wide)
        timed("fisher", "selection.fisher", fisher_matrix, self.wide)
        timed(
            "mrmr", "selection.mrmr_matrix",
            mrmr_select_matrix, spark, m["mrmr_X"], m["mrmr_y"], SCORER_SELECT,
        )
        timed(
            "jmi", "selection.jmi",
            jmi_select_matrix, spark, m["mrmr_X"], m["mrmr_y"], SCORER_SELECT,
        )
        timed(
            "mdr", "selection.mdr",
            lambda: MDRClassifier(k=2, cv=10).fit(
                self.mdr_df, self.mdr_cols, "label", fold_col="fold"
            ),
        )
        timed(
            "relieff", "selection.relieff",
            lambda: ReliefFSelector(n_features_to_select=SCORER_SELECT).fit(
                self.rf_df, self.rf_cols, "label"
            ),
        )
        return out

    def check(self, out: dict) -> list[str]:
        w = self.want
        picked, rel, cols = w["mrmr"]
        # the step-wise path fills only the columns of the features selected
        # before the last, at the rows still candidates at that step
        red = out["mrmr"][2]
        red_msgs = []
        for i, s in enumerate(picked[:-1]):
            rows = np.setdiff1d(np.arange(len(rel)), picked[: i + 1])
            red_msgs += _close(f"redundancy[:, {s}]", red[rows, s], cols[s][rows])
        msgs = {
            "selection.chi2": _close("stats", out["chi2"][0], w["chi2"]),
            "selection.fisher": _close("scores", out["fisher"], w["fisher"], rtol=1e-6),
            "selection.mrmr_matrix": _same("picked", [int(i) for i in out["mrmr"][0]], picked)
            + _close("relevance", out["mrmr"][1], rel)
            + red_msgs,
            "selection.jmi": _same("picked", [int(i) for i in out["jmi"][0]], w["jmi"][0])
            + _close("relevance", out["jmi"][1], w["jmi"][1]),
            "selection.mdr": _same(
                "interaction", tuple(int(i) for i in out["mdr"].best_interaction_),
                w["mdr"]["interaction"],
            )
            + _same("cvc", int(out["mdr"].best_cvc_), w["mdr"]["cvc"])
            + _close("mean_test_ba", out["mdr"].best_mean_testing_ba_, w["mdr"]["mean_test_ba"])
            + _same(
                "lookup", out["mdr"].best_model_lookup_table_.tolist(),
                w["mdr"]["lookup"].tolist(),
            ),
            "selection.relieff": _close(
                "importances", out["relieff"].feature_importances_, w["relieff"],
                rtol=1e-5, atol=1e-7,
            ),
        }
        return _failures(msgs)

    def details(self, out: dict) -> dict[str, tuple[float, str]]:
        return {f"{k}_s": (v, "s") for k, v in out["seconds"].items()}


# --- dedup_corpus -------------------------------------------------------------


class DedupCorpus(Workload):
    """exact dedup -> MinHash near-duplicate pairs -> connected components ->
    keep each cluster's canonical member."""

    name = "dedup_corpus"
    item_unit = "docs"

    def load_inputs(self) -> None:
        self.path, self.cache_hit = inputs.documents(self.work, self.seed, DEDUP_BASE_DOCS)

    def build_oracle(self) -> None:
        import pandas as pd

        import __spark_entry__

        docs = pd.read_parquet(self.path)
        self.items = len(docs)
        self.want = oracles.dedup_kept(docs, __spark_entry__.oracle_sql()["dedup_pipeline"])

    def run_pass(self) -> dict:
        from pyspark.sql import functions as F

        from fastselect_spark.dedup import connected_components, dedup_exact, minhash_near_duplicates

        docs = self.spark.read.parquet(self.path)
        survivors = self.call("dedup.exact", lambda: _materialize(dedup_exact(docs)))
        # materialized inside its span, so that the span holds the pair
        # computation and counting the pairs does not run it again
        pairs = self.call(
            "dedup.minhash",
            lambda: _materialize(minhash_near_duplicates(
                survivors, threshold=0.5, num_hashes=64, bands=16, hash_family="md5"
            )),
        )
        comp = self.call("dedup.components", connected_components, pairs)
        dropped = comp.where(F.col("doc_id") != F.col("comp")).select("doc_id")
        kept = survivors.join(dropped, "doc_id", "left_anti").select("doc_id", "source")
        rows = kept.collect()
        out = {"kept": {(int(r[0]), r[1]) for r in rows}, "pairs_out": pairs.count()}
        pairs.unpersist()
        survivors.unpersist()
        return out

    def check(self, out: dict) -> list[str]:
        got, want = out["kept"], self.want
        msgs = [] if got == want else [
            f"kept {len(got)} docs, oracle {len(want)}: "
            f"{len(got - want)} extra, {len(want - got)} missing"
        ]
        return _failures({"dedup.components": msgs})

    def counts(self, out: dict) -> dict[str, int]:
        return {"pairs_out": out["pairs_out"]}


# --- backfill_dedup -----------------------------------------------------------


class BackfillDedup(Workload):
    """The launch-bound layers in one pass: the resumable backfill with its
    resume pass, then the dedup chain. Both run many small jobs; one process
    measures both, which keeps the benchmark inside its time budget."""

    name = "backfill_dedup"
    item_unit = "rows"  # input turns plus input documents
    PARTS = (ResumableBackfill, DedupCorpus)

    def __init__(self, *args) -> None:
        super().__init__(*args)
        self.parts = [cls(*args) for cls in self.PARTS]

    def load_inputs(self) -> None:
        for part in self.parts:
            part.load_inputs()
        self.cache_hit = all(part.cache_hit for part in self.parts)

    def build_oracle(self) -> None:
        for part in self.parts:
            part.build_oracle()
        self.items = sum(part.items for part in self.parts)

    def run_pass(self) -> dict:
        out = {}
        for part in self.parts:
            part.calls = 0
            t = time.perf_counter()
            try:
                out[part.name] = part.run_pass()
            finally:
                self.calls += part.calls
            out[f"{part.name}_s"] = time.perf_counter() - t
        return out

    def check(self, out: dict) -> list[str]:
        return [msg for part in self.parts for msg in part.check(out[part.name])]

    def cleanup(self, out: dict) -> None:
        for part in self.parts:
            if part.name in out:
                part.cleanup(out[part.name])

    def counts(self, out: dict) -> dict[str, int]:
        return {k: v for part in self.parts for k, v in part.counts(out[part.name]).items()}

    def details(self, out: dict) -> dict[str, tuple[float, str]]:
        rows = {}
        for part in self.parts:
            unit = part.item_unit
            rows[f"{unit}_per_s"] = (part.items / out[f"{part.name}_s"], f"{unit}/s")
            rows.update(part.details(out[part.name]))
        return rows


WORKLOADS = {w.name: w for w in (PitFeatures, ScorerSuite, BackfillDedup)}
