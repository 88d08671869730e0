"""Seeded closed-loop benchmark of fastselect_spark.

Run from the root of a repository checkout:

    python3 perfbench/run.py --workload pit_features --seed 1 --seconds 10 --trace 0

Workloads: pit_features, scorer_suite and backfill_dedup (see workloads.py).

One run is one process: a SparkSession at local[<nproc>] with the engine's
default configuration, inputs generated from ``--seed`` (cached under
``.perfbench_work/cache``), the oracle, a launch-floor canary, checked
warm-up passes, then checked closed-loop passes for ``--seconds``. The
human-readable report comes first, including each workload's own figures
(turns_per_s, resume_s, chi2_s, ...); the last stdout line is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``:

- ``--trace 0``: the end-to-end metrics, tracing off: ``setup_s`` (process
  start to the end of warm-up), ``items_per_s`` (input items over the
  median pass's wall time) and ``driver_rss_mb`` (peak RSS of the Python
  driver during the timed passes).
- ``--trace 1``: the per-layer metrics. Untraced and traced passes
  alternate; per-layer figures are per-pass sums, medians over the traced
  passes, and ``trace.overhead_s`` is the difference of the two medians.
  The spans go to ``.perfbench_work/spans/<workload>-seed<seed>.jsonl``.

A layer a workload does not call reports 0. ``failed`` counts layer calls
that raised or returned a wrong output; ``attempted`` counts layer calls.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import host  # noqa: E402
from perfbench.tracer import Tracer  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402


# layer -> the public call it wraps (see workloads.py)
LAYERS = [
    "runtime.session",
    "featurize.windows",
    "featurize.asof",
    "selection.cube",
    "selection.mrmr",
    "runtime.checkpoint",
    "runtime.checkpoint.resume",
    "selection.chi2",
    "selection.fisher",
    "selection.mrmr_matrix",
    "selection.jmi",
    "selection.mdr",
    "selection.relieff",
    "dedup.exact",
    "dedup.minhash",
    "dedup.components",
]
LAYER_METRICS = {
    "wall_s": "s",
    "driver_s": "s",
    "jobs": "count",
    "tasks": "count",
    "executor_cpu_s": "s",
    "shuffle_bytes": "bytes",
    "spill_bytes": "bytes",
}
EXTRA_METRICS = {
    "runtime.launch_floor_s": "s",
    "runtime.jvm_rss_mb": "MB",
    "runtime.checkpoint.jobs_per_cell": "count",
    "runtime.checkpoint.resume.cells_run": "count",
    "selection.cube.result_bytes": "bytes",
    "selection.relieff.result_bytes": "bytes",
    "dedup.minhash.pairs_out": "count",
    "trace.overhead_s": "s",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_environment(run_dir: str) -> None:
    """Keep every file a run writes inside the checkout, and put the
    repository on the Python workers' path (mapInPandas workers import
    fastselect_spark)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["FS_SCRATCH_DIR"] = tmp
    # no hsperfdata files in the system temp directory, for the launcher JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def layer_totals(spans: list[dict]) -> dict[str, dict[str, float]]:
    """Per layer, the sum of each span metric over the given spans."""
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        acc = out.setdefault(s["layer"], {})
        for k in (*LAYER_METRICS, "result_bytes"):
            acc[k] = acc.get(k, 0) + s[k]
    return out


def per_layer_metrics(
    passes: list[dict], session: dict, floor: list[float], jvm_rss_mb: float
) -> dict:
    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if not p["traced"]]

    def med(fn) -> float:
        return median([fn(p) for p in traced])

    def get(p, layer, key):
        return p["layers"].get(layer, {}).get(key, 0)

    metrics = {}
    for layer in LAYERS:
        for key, unit in LAYER_METRICS.items():
            if layer == "runtime.session":
                value = session.get(key, 0)
            else:
                value = med(lambda p: get(p, layer, key))
            metrics[f"{layer}.{key}"] = (value, unit)
    extras = {
        "runtime.launch_floor_s": median(floor),
        "runtime.jvm_rss_mb": jvm_rss_mb,
        "runtime.checkpoint.jobs_per_cell": med(
            lambda p: get(p, "runtime.checkpoint", "jobs") / max(1, p["counts"].get("cells_run", 0))
        ),
        "runtime.checkpoint.resume.cells_run": med(
            lambda p: p["counts"].get("resume_cells_run", 0)
        ),
        "selection.cube.result_bytes": med(lambda p: get(p, "selection.cube", "result_bytes")),
        "selection.relieff.result_bytes": med(
            lambda p: get(p, "selection.relieff", "result_bytes")
        ),
        "dedup.minhash.pairs_out": med(lambda p: p["counts"].get("pairs_out", 0)),
        "trace.overhead_s": med(lambda p: p["wall_s"])
        - median([p["wall_s"] for p in untraced]),
    }
    for key, value in extras.items():
        metrics[key] = (value, EXTRA_METRICS[key])
    return metrics


def run_one_pass(wl, tracer, traced: bool) -> dict:
    tracer.enabled = traced
    first_span = len(tracer.spans)
    wl.calls = 0
    t = time.perf_counter()
    out, failures = {}, []
    try:
        out = wl.run_pass()
    except Exception as exc:  # a raising layer call counts as one failure
        failures.append(f"{type(exc).__name__}: {exc}"[:300])
    wall = time.perf_counter() - t
    if not failures:
        failures = wl.check(out)
    rec = {
        "traced": traced,
        "wall_s": wall,
        "calls": wl.calls,
        "failures": failures,
        "layers": layer_totals(tracer.spans[first_span:]),
        "counts": wl.counts(out) if out else {},
        "details": wl.details(out) if out else {},
    }
    wl.cleanup(out)
    return rec


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "fastselect_spark", "__init__.py")):
        print(
            f"perfbench: no fastselect_spark package beside perfbench/ in {ROOT}; "
            "run from the root of a repository checkout",
            file=sys.stderr,
        )
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    run_dir = os.path.join(WORK, "runs", f"{os.getpid()}")
    prepare_environment(run_dir)
    tracer = Tracer(bool(args.trace), trace_id=f"{args.workload}-seed{args.seed}")
    info = {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_start": os.getloadavg(),
    }
    spark = None
    try:
        from fastselect_spark.runtime.session import get_spark

        with tracer.span("runtime.session"):
            spark = get_spark(
                app_name="perfbench",
                master=f"local[{info['nproc']}]",
                extra_conf={
                    "spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={run_dir}/tmp -XX:-UsePerfData"
                },
            )
            tracer.bind(spark)
        spark.sparkContext.setLogLevel("ERROR")
        jvm_pid = int(spark.sparkContext._jvm.ProcessHandle.current().pid())
        scratch = os.path.join(run_dir, "scratch")
        os.makedirs(scratch, exist_ok=True)
        wl = WORKLOADS[args.workload](
            spark, tracer, ROOT, WORK, scratch, args.seed
        )
        phases = {"session": time.perf_counter() - T_START}
        for phase, step in (("inputs", wl.load_inputs), ("oracle", wl.build_oracle)):
            t = time.perf_counter()
            step()
            phases[phase] = time.perf_counter() - t
        info["launch_floor_s"] = floor = host.launch_floor(spark)
        t = time.perf_counter()
        warm = [run_one_pass(wl, tracer, traced=False) for _ in range(wl.warmup_passes)]
        phases["warm_up"] = time.perf_counter() - t
        setup_s = time.perf_counter() - T_START

        # closed loop; a traced run alternates untraced and traced passes,
        # at least untraced-traced-untraced, so that the two untraced passes
        # around a traced one cancel the warm-up trend in trace.overhead_s
        passes = []
        min_passes = 3 if args.trace else wl.min_passes
        with host.RssSampler({"driver": os.getpid(), "jvm": jvm_pid}) as rss:
            t0 = time.perf_counter()
            while len(passes) < min_passes or time.perf_counter() - t0 < args.seconds:
                traced = bool(args.trace) and len(passes) % 2 == 1
                passes.append(run_one_pass(wl, tracer, traced))
        info["loadavg_end"] = os.getloadavg()
        info["cache_hit"] = wl.cache_hit
        if args.trace:
            os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
            tracer.write(os.path.join(WORK, "spans", f"{tracer.trace_id}.jsonl"), info)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    failures = [f for p in warm + passes for f in p["failures"]]
    attempted = sum(p["calls"] for p in passes)
    failed = sum(len(p["failures"]) for p in passes)
    untraced = [p for p in passes if not p["traced"]]
    items_per_s = wl.items / median([p["wall_s"] for p in untraced])

    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"nproc={info['nproc']} load={info['loadavg_start'][0]:.2f}->{info['loadavg_end'][0]:.2f} "
          f"launch_floor_s={median(floor):.3f} input_cache={'hit' if wl.cache_hit else 'miss'}")
    print(f"  passes            {len(passes)} timed ({len(untraced)} untraced) + {len(warm)} warm-up; "
          f"pass_s {[round(p['wall_s'], 3) for p in passes]}")
    print(f"  items             {wl.items} {wl.item_unit}")
    print(f"  setup_s           {setup_s:.3f} s ("
          + ", ".join(f"{k} {v:.2f} s" for k, v in phases.items()) + ")")
    print(f"  {wl.item_unit}_per_s{'':<{max(1, 12 - len(wl.item_unit))}}{items_per_s:.1f} {wl.item_unit}/s")
    details: dict[str, list[float]] = {}
    for p in untraced:
        for k, (v, unit) in p["details"].items():
            details.setdefault((k, unit), []).append(v)
    for (k, unit), vs in details.items():
        print(f"  {k:<17} {median(vs):.4f} {unit}")
    print(f"  driver_rss_mb     {rss.peak_mb['driver']:.1f} MB (JVM {rss.peak_mb['jvm']:.1f} MB)")
    print(f"  fail_ratio        {failed / max(1, attempted):.4f} ({failed}/{attempted} layer calls)")
    for f in failures[:10]:
        print(f"  FAILED {f}")

    if args.trace:
        session = tracer.spans[0] if tracer.spans else {}
        metrics = per_layer_metrics(passes, session, floor, rss.peak_mb["jvm"])
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "items_per_s": (items_per_s, "items/s"),
            "driver_rss_mb": (rss.peak_mb["driver"], "MB"),
        }
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
