"""In-memory spans, engine counters and the statistics the benchmark reports.

A span records a name, start, end, its parent and attributes (row counts and
the Spark job/stage/task deltas it caused). Spans stay in memory and are
written as JSON once, at exit. A span's self time is its duration minus the
part of its interval that its children cover.
"""

from __future__ import annotations

import json
import math
import statistics
import time
from contextlib import contextmanager, nullcontext


# ------------------------------------------------------------------ engine
def engine_counters(spark) -> tuple[int, int]:
    """(next job id, next stage id) of the driver's DAG scheduler."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    return int(dag.nextJobId()), int(dag.nextStageId())


def engine_delta(spark, before: tuple[int, int]) -> dict:
    """Jobs, stages and task-level totals launched since ``before``.

    Stage totals come from the status store; skipped stages ran no tasks and
    count as stages only."""
    jobs0, stages0 = before
    jobs1, stages1 = engine_counters(spark)
    store = spark.sparkContext._jsc.sc().statusStore()
    tasks = shuffle = run_ms = gc_ms = 0
    for sid in range(stages0, stages1):
        try:
            sd = store.lastStageAttempt(sid)
        except Exception:  # py4j wraps the store's NoSuchElementException
            continue
        if sd.status().toString() != "COMPLETE":
            continue
        tasks += int(sd.numTasks())
        shuffle += int(sd.shuffleWriteBytes())
        run_ms += int(sd.executorRunTime())
        gc_ms += int(sd.jvmGcTime())
    return {
        "jobs": jobs1 - jobs0,
        "stages": stages1 - stages0,
        "tasks": tasks,
        "shuffle_write_bytes": shuffle,
        "executor_run_s": run_ms / 1000.0,
        "gc_s": gc_ms / 1000.0,
    }


# ------------------------------------------------------------------- spans
class Tracer:
    """Nested spans on one thread. ``spark`` (optional) adds engine deltas."""

    def __init__(self, spark=None, clock=time.perf_counter):
        self.spark = spark
        self.clock = clock
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "attrs": dict(attrs),
        }
        before = engine_counters(self.spark) if self.spark is not None else None
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = self.clock()
        try:
            yield rec["attrs"]
        finally:
            rec["end"] = self.clock()
            self._stack.pop()
            if before is not None:
                rec["attrs"].update(engine_delta(self.spark, before))

    def self_times(self) -> dict[int, float]:
        return self_times(self.spans)

    def totals(self, name: str, under: int | None = None) -> float:
        """Summed self time of the spans called ``name`` (below span
        ``under`` when given)."""
        st = self.self_times()
        return sum(
            st[s["id"]] for s in self.spans
            if s["name"] == name and (under is None or self._below(s, under))
        )

    def _below(self, span: dict, ancestor: int) -> bool:
        while span["parent"] is not None:
            if span["parent"] == ancestor:
                return True
            span = self.spans[span["parent"]]
        return False

    def dump(self, path: str, extra: dict | None = None) -> None:
        st = self.self_times()
        out = [
            {**s, "duration_s": s["end"] - s["start"], "self_s": st[s["id"]]}
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"spans": out, **(extra or {})}, f, indent=1, default=str)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """span id -> duration minus the part its direct children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - covered(children.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


# -------------------------------------------------------------- statistics
def samples_beyond(n: int, q: float) -> int:
    """How many of n sorted samples lie above the q-quantile's position."""
    return n - math.ceil(q * n - 1e-9)


def reportable_percentile(values: list[float], q: float) -> float | None:
    """The q-quantile, or None unless at least 10 samples lie beyond it."""
    if samples_beyond(len(values), q) < 10:
        return None
    ordered = sorted(values)
    return ordered[min(len(ordered) - 1, math.ceil(q * len(ordered) - 1e-9) - 1)]


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    if len(values) < 2:
        v = float(values[0])
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


class Stages:
    """Stage hooks for code shared by timed and traced runs.

    Without a tracer both hooks pass through. With one, ``force``
    materializes the lazy DataFrame as a local checkpoint and counts it
    inside a span, so the span times that stage's own work and later stages
    read the result instead of planning and running its lineage again. A
    checkpoint rather than a cache: a later stage that reads a cache still
    plans over the cached lineage, which made the link and state stages of
    a traced superstep take 3 to 5 times their untraced time."""

    def __init__(self, tracer: Tracer | None = None):
        self.tracer = tracer
        self.rows = 0  # row count of the last forced stage
        self._forced: list = []

    def force(self, name: str, df, **attrs):
        """``df``, or a function that builds it: then the span also times
        building the plan and any jobs that takes."""
        if self.tracer is None:
            return df() if callable(df) else df
        with self.tracer.span(name, **attrs) as a:
            df = (df() if callable(df) else df).localCheckpoint(eager=True)
            a["rows"] = self.rows = df.count()
        self._forced.append(df)
        return df

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs) if self.tracer else nullcontext({})

    def release(self) -> None:
        """Drop the forced results: Spark frees a checkpoint's blocks once
        no DataFrame refers to it."""
        self._forced.clear()
