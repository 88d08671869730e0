"""Out-of-band layer tracer: one span per layer call, recorded around the
call from the benchmark's side.

A traced call runs under its own Spark job group. When the call returns,
the tracer drains the listener bus and resolves the group's jobs, their
stages and each stage's metrics through the status store, which works with
the UI disabled. ``driver_s`` is the part of the call's wall time that no
stage interval [submission, completion] covers: planning, collects and
driver-side NumPy.

Disabled, ``span`` yields without touching Spark, so untraced passes run
exactly the benchmark's own work.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time

# per-call totals every span carries (summed over the call's stages)
SPAN_METRICS = (
    "wall_s",
    "driver_s",
    "jobs",
    "tasks",
    "executor_cpu_s",
    "shuffle_bytes",
    "spill_bytes",
    "result_bytes",
    "jvm_gc_s",
)


def covered_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    def __init__(self, enabled: bool, trace_id: str) -> None:
        self.enabled = enabled
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._sc = None
        self._stack: list[int] = []
        self._ids = itertools.count(1)

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    @contextlib.contextmanager
    def span(self, layer: str):
        """Record one call of ``layer``. Before ``bind`` (the session call
        itself) the span collects the jobs that ran without a group."""
        if not self.enabled:
            yield
            return
        sid = next(self._ids)
        rec = {
            "trace": self.trace_id,
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "layer": layer,
        }
        sc = self._sc
        group = f"perfbench.{sid}.{layer}" if sc is not None else None
        outer = sc.getLocalProperty("spark.jobGroup.id") if sc is not None else None
        if sc is not None:
            sc.setJobGroup(group, layer)
        self._stack.append(sid)
        start = time.time()
        t0 = time.perf_counter()
        try:
            yield
        except BaseException as exc:
            rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
            raise
        finally:
            wall = time.perf_counter() - t0
            self._stack.pop()
            if sc is not None:
                if outer is None:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
                else:
                    sc.setJobGroup(outer, outer)
            rec.update(start=start, end=start + wall, wall_s=wall)
            rec.update(self._stage_totals(group, start, start + wall))
            self.spans.append(rec)

    def _stage_totals(self, group: str | None, start: float, end: float) -> dict:
        sc = self._sc
        out = {k: 0 for k in SPAN_METRICS if k != "wall_s"}
        out["driver_s"] = end - start
        if sc is None:
            return out
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        intervals: list[tuple[float, float]] = []
        seen: set[int] = set()
        for job in jobs:
            info = tracker.getJobInfo(job)
            for sid in (info.stageIds if info is not None else ()):
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # never submitted: no attempt recorded
                    continue
                sub, done = sd.submissionTime(), sd.completionTime()
                if not sub.isDefined():  # skipped: its shuffle output was reused
                    continue
                t_sub = sub.get().getTime() / 1e3
                t_done = done.get().getTime() / 1e3 if done.isDefined() else end
                intervals.append((t_sub, t_done))
                out["tasks"] += sd.numTasks()
                out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                out["shuffle_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled()
                out["result_bytes"] += sd.resultSize()
                out["jvm_gc_s"] += sd.jvmGcTime() / 1e3
        out["jobs"] = len(jobs)
        out["driver_s"] = (end - start) - covered_seconds(intervals, start, end)
        return out

    def self_seconds(self) -> dict[int, float]:
        """Span id -> wall time minus the part its child spans cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        return {
            s["id"]: s["wall_s"]
            - covered_seconds(kids.get(s["id"], []), s["start"], s["end"])
            for s in self.spans
        }

    def write(self, path: str, host: dict) -> None:
        """Write the spans as JSON lines, after one header line."""
        self_s = self.self_seconds()
        with open(path, "w") as f:
            f.write(json.dumps({"trace": self.trace_id, "host": host}) + "\n")
            for s in self.spans:
                f.write(json.dumps({**s, "self_s": self_s[s["id"]]}) + "\n")
