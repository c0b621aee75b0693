"""Spans around the benchmark's calls into each layer, and the Spark
jobs each span launched.

A span records its name, start, end, parent and operation id.  Every
span runs under its own Spark job group, so the jobs it launches (and
their stages, tasks, bytes and retries) can be attributed to it
afterwards through ``statusTracker()`` and the JVM status store; both
are populated with the UI disabled.  Spans are kept in memory and
written out when the run ends.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from typing import Iterator, List, Optional

# stage metrics summed per span: name in the output -> StageData getter
_STAGE_SUMS = {
    "executor_ms": "executorRunTime",
    "shuffle_bytes": "shuffleWriteBytes",
    "spill_bytes": "diskBytesSpilled",
}


@dataclass
class Span:
    name: str
    op_id: str
    start: float
    parent: Optional[int]
    group: str
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_ms: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    retries: int = 0
    files: int = 0  # parquet files written, on sources.write spans
    bytes_written: int = 0
    bookkeeping: float = 0.0  # seconds of the span's own entry and exit

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; otherwise every span is a no-op."""

    def __init__(self, spark, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: List[Span] = []
        self._sc = spark.sparkContext
        self._stack: List[int] = []
        self._pending: List[int] = []

    @contextmanager
    def span(self, name: str, op_id: Optional[str] = None) -> Iterator[None]:
        """A span under the innermost open one; ``op_id`` defaults to
        that span's."""
        if not self.enabled:
            yield
            return
        entered = time.perf_counter()
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if op_id is None:
            op_id = self.spans[parent].op_id
        span = Span(name, op_id, 0.0, parent, f"perfbench-{idx}")
        self.spans.append(span)
        self._pending.append(idx)
        self._stack.append(idx)
        self._sc.setJobGroup(span.group, f"{op_id} {name}")
        span.start = time.perf_counter()
        try:
            yield
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            if parent is None:
                self._sc._jsc.clearJobGroup()
            else:
                self._sc.setJobGroup(self.spans[parent].group, "")
            span.bookkeeping = span.start - entered + time.perf_counter() - span.end

    def attribute(self) -> None:
        """Fill job/stage/task counts of the spans closed since the last
        call.  Call between operations: the status store keeps a bounded
        number of jobs and stages."""
        if not self._pending:
            return
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self._sc.statusTracker()
        no_quantiles = self._sc._gateway.new_array(self._sc._jvm.double, 0)
        for idx in self._pending:
            span = self.spans[idx]
            stage_ids = set()
            jobs = tracker.getJobIdsForGroup(span.group)
            span.jobs = len(jobs)
            for job in jobs:
                info = tracker.getJobInfo(job)
                if info is not None:
                    stage_ids.update(info.stageIds)
            for sid in sorted(stage_ids):
                attempts = store.stageData(sid, False, None, False, no_quantiles)
                ran = False
                for i in range(attempts.size()):
                    st = attempts.apply(i)
                    if st.status().toString() == "SKIPPED":
                        continue
                    ran = True
                    span.tasks += (
                        st.numCompleteTasks() + st.numFailedTasks() + st.numKilledTasks()
                    )
                    span.retries += st.numFailedTasks() + st.numKilledTasks()
                    for key, getter in _STAGE_SUMS.items():
                        setattr(span, key, getattr(span, key) + getattr(st, getter)())
                span.stages += ran
        self._pending.clear()

    def note_files(self, out: str) -> None:
        """Record the parquet files under ``out`` on the last
        ``sources.write`` span."""
        if not self.enabled:
            return
        sizes = [
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(out)
            for f in files
            if f.endswith(".parquet")
        ]
        span = next(s for s in reversed(self.spans) if s.name == "sources.write")
        span.files, span.bytes_written = len(sizes), sum(sizes)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for span in self.spans:
                f.write(json.dumps(asdict(span)) + "\n")


def self_seconds(spans: List[Span], idx: int) -> float:
    """A span's duration minus the part its direct children cover."""
    span = spans[idx]
    return span.seconds - sum(s.seconds for s in spans if s.parent == idx)
