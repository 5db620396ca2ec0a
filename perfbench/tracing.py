"""Spans, Spark stage counters and /proc readings for the benchmark.

Spans are recorded from the benchmark's side only: ``install`` wraps the
package's layer entry points (compile, validate, fingerprint, manifest,
sketch store, result serialisation) so every call into a layer opens a span
(name, start, end, parent, run id).  Spans use the wall clock, so they
line up with the engine's own partition timestamps; they stay in memory
and are written out once, at the end of a traced run.

Spark counters come from the driver's status store.  The planner submits
jobs from its own pool threads, which do not inherit a job group, so work
is attributed to a call by the stage ids that appeared between its start
and its end; calls are therefore measured one at a time.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from typing import Any, Callable, Dict, List, Optional


class Tracer:
    def __init__(self) -> None:
        self.spans: List[Dict[str, Any]] = []
        self.enabled = False
        self.run_id: Optional[str] = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._call_span: Optional[int] = None

    def _stack(self) -> List[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str, fn: Callable, *args, **kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        stack = self._stack()
        # pool threads have no parent on their own stack: they belong to
        # the call that submitted them
        parent = stack[-1] if stack else self._call_span
        sid = next(self._ids)
        stack.append(sid)
        start = time.time()
        try:
            return fn(*args, **kwargs)
        finally:
            end = time.time()
            stack.pop()
            with self._lock:
                self.spans.append({
                    "id": sid, "name": name, "start": start, "end": end,
                    "parent": parent, "run_id": self.run_id,
                })

    def call(self, run_id: str, fn: Callable, *args, **kwargs):
        """Run one workload call as the root span ``call``."""
        self.run_id = run_id
        sid = next(self._ids)
        self._call_span = sid
        start = time.time()
        try:
            return fn(*args, **kwargs)
        finally:
            end = time.time()
            self._call_span = None
            with self._lock:
                self.spans.append({
                    "id": sid, "name": "call", "start": start, "end": end,
                    "parent": None, "run_id": run_id,
                })

    def wrap(self, owner: Any, attr: str, name: str) -> None:
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            return tracer.span(name, original, *args, **kwargs)

        setattr(owner, attr, wrapper)

    def of_run(self, run_id: str, name: str) -> List[Dict[str, Any]]:
        return [
            s for s in self.spans
            if s["run_id"] == run_id and s["name"] == name
        ]

    def total(self, run_id: str, name: str) -> float:
        """Summed duration of the ``name`` spans of one run."""
        return sum(s["end"] - s["start"] for s in self.of_run(run_id, name))

    def self_times(self, run_id: str) -> Dict[str, float]:
        """Per span name: duration minus the union of its children."""
        spans = [s for s in self.spans if s["run_id"] == run_id]
        children: Dict[int, List[Dict[str, Any]]] = {}
        for s in spans:
            children.setdefault(s["parent"], []).append(s)
        out: Dict[str, float] = {}
        for s in spans:
            covered = union_length(
                [(c["start"], c["end"]) for c in children.get(s["id"], [])],
                s["start"], s["end"],
            )
            out[s["name"]] = out.get(s["name"], 0.0) + (
                s["end"] - s["start"] - covered
            )
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def install(tracer: Tracer) -> None:
    """Wrap the package's layer entry points with spans."""
    from great_expectations_spark.checkpoint import runner
    from great_expectations_spark.checkpoint.manifest import (
        CheckpointManifest,
    )
    from great_expectations_spark.checkpoint.sketches import (
        PartitionSketchStore,
    )
    from great_expectations_spark.core.results import (
        ExpectationSuiteValidationResult,
    )
    from great_expectations_spark.plans import planner

    tracer.wrap(planner, "compile_expectation", "planner.compile")
    tracer.wrap(planner.SuiteValidator, "validate", "planner.validate")
    tracer.wrap(runner, "partition_fingerprints", "runner.fingerprint")
    tracer.wrap(CheckpointManifest, "completed_partitions", "manifest.read")
    tracer.wrap(CheckpointManifest, "record", "manifest.record")
    tracer.wrap(PartitionSketchStore, "update", "sketches.update")
    tracer.wrap(PartitionSketchStore, "merged_distinct", "sketches.merge")
    tracer.wrap(PartitionSketchStore, "merged_moments", "sketches.merge")
    tracer.wrap(ExpectationSuiteValidationResult, "to_json", "results.to_json")


# -- Spark status store ------------------------------------------------------


class StageCounters:
    """Stage-level counters of the Spark jobs a call ran."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._gw = sc._gateway
        self._store = self._sc.statusStore()
        self._no_quantiles = self._gw.new_array(self._gw.jvm.double, 0)
        self._quantiles = self._gw.new_array(self._gw.jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0

    def _drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()

    def _stages(self):
        lst = self._store.stageList(
            None, False, False, self._no_quantiles, None
        )
        return [lst.apply(i) for i in range(lst.size())]

    def mark(self) -> Dict[str, int]:
        self._drain()
        jobs = self._store.jobsList(None)
        return {
            "stage": max((s.stageId() for s in self._stages()), default=-1),
            "job": max(
                (jobs.apply(i).jobId() for i in range(jobs.size())),
                default=-1,
            ),
        }

    def since(self, mark: Dict[str, int], wall: tuple) -> Dict[str, float]:
        """Counters of stages and jobs newer than ``mark``; ``wall`` is the
        call's (start, end) in epoch seconds, for the driver-only time."""
        self._drain()
        jobs = self._store.jobsList(None)
        n_jobs = sum(
            1 for i in range(jobs.size())
            if jobs.apply(i).jobId() > mark["job"]
        )
        out = {
            "spark_jobs": n_jobs, "spark_stages": 0, "spark_tasks": 0,
            "failed_tasks": 0, "task_time_s": 0.0, "input_bytes": 0,
            "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
            "spill_bytes": 0, "task_skew": 1.0,
        }
        intervals = []
        for s in self._stages():
            if s.stageId() <= mark["stage"] or str(s.status()) == "SKIPPED":
                continue
            out["spark_stages"] += 1
            out["spark_tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            out["failed_tasks"] += s.numFailedTasks()
            out["task_time_s"] += s.executorRunTime() / 1000.0
            out["input_bytes"] += s.inputBytes()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["shuffle_read_bytes"] += s.shuffleReadBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            if (
                s.submissionTime().isDefined()
                and s.completionTime().isDefined()
            ):
                intervals.append((
                    s.submissionTime().get().getTime() / 1000.0,
                    s.completionTime().get().getTime() / 1000.0,
                ))
            if s.shuffleReadBytes() > 0:
                dist = self._store.taskSummary(
                    s.stageId(), s.attemptId(), self._quantiles
                )
                if dist.isDefined():
                    run = dist.get().executorRunTime()
                    median, longest = run.apply(0), run.apply(1)
                    out["task_skew"] = max(
                        out["task_skew"], longest / max(median, 1.0)
                    )
        out["driver_s"] = (wall[1] - wall[0]) - union_length(
            intervals, wall[0], wall[1]
        )
        return out


# -- /proc -------------------------------------------------------------------


def cpu_ticks() -> tuple:
    """(total, steal) jiffies from the aggregate /proc/stat line."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), (v[7] if len(v) > 7 else 0)


def steal_share(before: tuple, after: tuple) -> float:
    total = after[0] - before[0]
    return (after[1] - before[1]) / total if total > 0 else 0.0


def _children(pid: int) -> List[int]:
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; the ppid follows the ")"
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            out.append(int(name))
    return out


def descendants(pid: int) -> List[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out.extend(kids)
        todo.extend(kids)
    return out


def peak_rss_mb(pids: List[int]) -> float:
    """Sum of VmHWM (peak resident set) over ``pids``, in MiB."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0
