"""Spans around the benchmark's calls into the engine, with Spark counters.

Every span gets its own Spark job group, so the jobs a call launches can
be found again from outside the library: ``statusTracker()`` maps the
group to job ids and stage ids, and the application status store gives
each stage's task count, executor run and CPU time, shuffle-write
bytes, input records and bytes, output bytes, spill and GC time. The
status store keeps these with ``spark.ui.enabled=false``.

Spans are kept in memory; ``write_jsonl`` writes them out once the run
ends. With ``enabled=False`` a span only yields, so the untraced run
sets no job group and reads no counters.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: stage counters summed per span (status-store StageData accessors)
STAGE_COUNTERS = {
    "tasks": "numTasks",
    "executor_run_ms": "executorRunTime",
    "executor_cpu_ns": "executorCpuTime",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "input_records": "inputRecords",
    "input_bytes": "inputBytes",
    "output_bytes": "outputBytes",
    "disk_spill_bytes": "diskBytesSpilled",
    "gc_ms": "jvmGcTime",
}


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    op_id: str | None
    start: float
    end: float = 0.0
    group: str = ""
    jobs: int = 0
    counters: dict[str, float] = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans and, when enabled, tags each with a job group."""

    def __init__(self, spark, enabled: bool, tag: str = "pb") -> None:
        self.spark = spark
        self.enabled = enabled
        self.tag = tag
        self.spans: list[Span] = []
        self._pending: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str, op_id: str | None = None):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            span_id=next(self._ids),
            name=name,
            parent=parent.span_id if parent else None,
            op_id=op_id if op_id is not None else (parent.op_id if parent else None),
            start=time.perf_counter(),
        )
        sp.group = f"{self.tag}-{sp.span_id}"
        sc.setJobGroup(sp.group, name, False)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent.group, parent.name, False)
            else:
                sc._jsc.clearJobGroup()
            self.spans.append(sp)
            self._pending.append(sp)

    def collect(self) -> None:
        """Read the Spark counters of every span closed since the last
        call. Call between rounds: the status store retains a bounded
        number of jobs and stages."""
        if not self.enabled or not self._pending:
            return
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        jvm = sc._jvm
        no_quantiles = sc._gateway.new_array(jvm.double, 0)
        for sp in self._pending:
            sp.counters = dict.fromkeys(STAGE_COUNTERS, 0.0)
            job_ids = tracker.getJobIdsForGroup(sp.group)
            sp.jobs = len(job_ids)
            stage_ids = set()
            for j in job_ids:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stage_ids.update(int(s) for s in info.stageIds)
            for s in stage_ids:
                attempts = store.stageData(s, False, jvm.java.util.ArrayList(), False, no_quantiles)
                it = attempts.iterator()
                while it.hasNext():
                    data = it.next()
                    for key, accessor in STAGE_COUNTERS.items():
                        sp.counters[key] += float(getattr(data, accessor)())
        self._pending.clear()

    def subtree(self, root: Span) -> list[Span]:
        """``root`` and every span below it."""
        children: dict[int | None, list[Span]] = {}
        for sp in self.spans:
            children.setdefault(sp.parent, []).append(sp)
        out, todo = [], [root]
        while todo:
            sp = todo.pop()
            out.append(sp)
            todo.extend(children.get(sp.span_id, []))
        return out

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in sorted(self.spans, key=lambda sp: sp.span_id):
                f.write(
                    json.dumps(
                        {
                            "span_id": sp.span_id,
                            "name": sp.name,
                            "parent": sp.parent,
                            "op_id": sp.op_id,
                            "start": round(sp.start, 6),
                            "end": round(sp.end, 6),
                            "jobs": sp.jobs,
                            "counters": sp.counters,
                        }
                    )
                    + "\n"
                )
