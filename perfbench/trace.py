"""Tracing for the benchmark's traced run, all from outside the program.

``Tracer`` records spans around calls into the program's layers: name,
start, end, parent span and operation id, kept in memory and written
out once at the end.  ``SparkAccounting`` reads Spark's own accounting:
jobs, stages and tasks from the application status store, and the
Catalyst phase times of a query from its ``QueryPlanningTracker``.
"""

from __future__ import annotations

import contextlib
import functools
import json
import statistics
import threading
import time
from collections import defaultdict


class Tracer:
    """Span recorder.  Spans opened on a thread with no open span of its
    own (such as the py4j callback thread that runs a streaming
    ``foreachBatch`` body) take the main thread's innermost open span as
    their parent, so the work a stream does on the caller's behalf nests
    under the call that awaited it."""

    def __init__(self) -> None:
        self.enabled = False
        self.op_id: int | None = None
        self.spans: list[dict] = []
        self._stacks: dict[int, list[int]] = defaultdict(list)
        self._main = threading.main_thread().ident
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        tid = threading.get_ident()
        stack = self._stacks[tid]
        parent_stack = stack or self._stacks[self._main]
        parent = parent_stack[-1] if parent_stack else None
        with self._lock:
            sid = len(self.spans)
            self.spans.append(
                {"id": sid, "name": name, "parent": parent, "op": self.op_id,
                 "start": time.monotonic(), "end": None}
            )
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            self.spans[sid]["end"] = time.monotonic()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span per
        outermost call (recursive calls stay inside the outer span)."""
        fn = getattr(owner, attr)
        depth = threading.local()
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if getattr(depth, "n", 0):
                return fn(*args, **kwargs)
            depth.n = 1
            try:
                with tracer.span(name):
                    return fn(*args, **kwargs)
            finally:
                depth.n = 0

        setattr(owner, attr, wrapper)

    def op_durations(self, op: int, prefix: str) -> float:
        """Σ ms of the spans of operation ``op`` whose name starts with
        ``prefix``."""
        return sum(
            (s["end"] - s["start"]) * 1e3
            for s in self.spans
            if s["op"] == op and s["name"].startswith(prefix) and s["end"] is not None
        )

    def self_ms(self) -> dict[str, float]:
        """Σ self time per span name: each span's duration minus the part
        its direct children cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["end"] is not None:
                out[s["name"]] += (s["end"] - s["start"] - child[s["id"]]) * 1e3
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "self_ms": self.self_ms()}, fh)


def _seq(jseq) -> list:
    """A Scala Seq proxied by py4j, as a Python list."""
    return [jseq.apply(i) for i in range(jseq.size())]


class SparkAccounting:
    """Jobs, stages and tasks from the status store; Catalyst phases."""

    def __init__(self, spark) -> None:
        self.spark = spark
        jsc = spark.sparkContext._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._cores = spark.sparkContext.defaultParallelism

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event to the
        status store."""
        self._bus.waitUntilEmpty()

    def last_job_id(self) -> int:
        """Highest job id so far (-1 before the first job)."""
        self.settle()
        jobs = self._store.jobsList(None)
        return max((j.jobId() for j in _seq(jobs)), default=-1)

    def label(self, group: str | None) -> None:
        """Tag the jobs this thread starts from now on with ``group``."""
        sc = self.spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(group, group)

    def group_jobs(self, group: str) -> set[int]:
        self.settle()
        return set(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))

    def stages(self, job_ids: set[int]) -> list:
        """Completed stage attempts of the jobs ``job_ids``."""
        ids: set[int] = set()
        for jid in job_ids:
            ids.update(_seq(self._store.job(jid).stageIds()))
        store = self._store
        out = []
        for sid in sorted(ids):
            attempts = store.stageData(
                sid,
                False,
                getattr(store, "stageData$default$3")(),
                False,
                getattr(store, "stageData$default$5")(),
            )
            out.extend(a for a in _seq(attempts) if a.status().toString() == "COMPLETE")
        return out

    def job_stats(self, job_ids: set[int], wall_ms: float) -> dict:
        """Counts and Σ task metrics over the jobs ``job_ids``, which ran
        in ``wall_ms`` of wall time."""
        stages = self.stages(job_ids)
        run_ms = sum(s.executorRunTime() for s in stages)
        mb = 1 / (1 << 20)
        skew = 1.0
        if stages:
            longest = max(stages, key=lambda s: s.executorRunTime())
            tasks = _seq(self._store.taskList(longest.stageId(), longest.attemptId(), 1 << 20))
            durs = [t.taskMetrics().get().executorRunTime() for t in tasks if t.taskMetrics().isDefined()]
            if durs and statistics.median(durs) > 0:
                skew = max(durs) / statistics.median(durs)
        return {
            "jobs": len(job_ids),
            "stages": len(stages),
            "tasks": sum(s.numTasks() for s in stages),
            "task_run_ms": run_ms,
            "busy_ratio": run_ms / (wall_ms * self._cores) if wall_ms > 0 else 0.0,
            "shuffle_read_mb": sum(s.shuffleReadBytes() for s in stages) * mb,
            "shuffle_write_mb": sum(s.shuffleWriteBytes() for s in stages) * mb,
            "spill_mb": sum(s.memoryBytesSpilled() + s.diskBytesSpilled() for s in stages) * mb,
            "skew": skew,
        }

    @staticmethod
    def catalyst_phases(df) -> dict:
        """Analysis, optimization and planning ms of ``df``'s query, read
        from its planning tracker after forcing the physical plan."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        out = {}
        for name in ("analysis", "optimization", "planning"):
            got = phases.get(name)
            out[name] = got.get().durationMs() if got.isDefined() else 0
        return out

    def udf_ms(self) -> float:
        """Python-worker ms from the UDF profiler since the last call."""
        results = self.spark._profiler_collector._perf_profile_results
        self.spark.profile.clear(type="perf")
        return sum(s.total_tt for s in results.values()) * 1e3
