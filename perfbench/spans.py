"""Spans and Spark counters for the traced run.

Spans are recorded only around calls the benchmark makes into the engine
(session start, passes, builder calls, executions, micro-batches, sink
calls); nothing inside the engine is instrumented. Spans live in memory and
are written once, at the end, with each layer's self time.

Spark counters come from two places that work with the UI off:
``statusTracker()`` (public: job ids per job group, stage ids per job) and
the in-process ``AppStatusStore`` (job intervals, task time, shuffle bytes).
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    pass_id: str | None
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. Times are epoch seconds so spans line up
    with the job timestamps of the Spark status store."""

    def __init__(self) -> None:
        self.spans: list[Span] = []

    def add(self, name, layer, start, end, parent=None, pass_id=None, **attrs) -> Span:
        span = Span(len(self.spans), name, layer, start, end, parent, pass_id, attrs)
        self.spans.append(span)
        return span

    def self_times(self) -> dict[str, float]:
        """Per layer: summed span time not covered by the span's children."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append((s.start, s.end))
        out: dict[str, float] = {}
        for s in self.spans:
            covered = union_length(
                [(max(a, s.start), min(b, s.end)) for a, b in children.get(s.id, [])]
            )
            out[s.layer] = out.get(s.layer, 0.0) + max(0.0, (s.end - s.start) - covered)
        return out

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [asdict(s) for s in self.spans],
                    "self_s": self.self_times(),
                    **extra,
                },
                f,
            )


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


@dataclass
class JobStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_s: float = 0.0
    shuffle_mb: float = 0.0
    intervals: list = field(default_factory=list)

    def add(self, other: JobStats) -> None:
        self.jobs += other.jobs
        self.stages += other.stages
        self.tasks += other.tasks
        self.task_s += other.task_s
        self.shuffle_mb += other.shuffle_mb
        self.intervals += other.intervals


class SparkCounters:
    """Reads job/stage counters for finished work from the driver."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._empty = self.sc._gateway.new_array(self.sc._gateway.jvm.double, 0)
        self._no_status = spark._jvm.java.util.ArrayList()
        self._jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status store is complete for work that has returned."""
        self._jsc.listenerBus().waitUntilEmpty()

    def gc_s(self) -> float:
        beans = self.spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1000.0

    def jvm_cpu_s(self) -> float:
        """CPU time of the driver JVM (in local mode, executors included)."""
        with open(f"/proc/{self._jvm_pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")

    def cached(self) -> tuple[int, float]:
        """Persisted RDDs with at least one cached partition, and their
        memory plus disk footprint in MB."""
        infos = [i for i in self._jsc.getRDDStorageInfo() if i.numCachedPartitions() > 0]
        return len(infos), sum(i.memSize() + i.diskSize() for i in infos) / 1e6

    def job_ids(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def job_interval(self, job_id: int) -> tuple[float, float] | None:
        jd = self._jsc.statusStore().job(job_id)
        sub, done = jd.submissionTime(), jd.completionTime()
        if sub.isEmpty() or done.isEmpty():
            return None
        return sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0

    def stats(self, job_ids: list[int], seen_stages: set[int]) -> JobStats:
        """Counters for ``job_ids``; a stage already in ``seen_stages`` (a
        reused shuffle stage listed by a later job) is not counted again."""
        st = self._jsc.statusStore()
        out = JobStats(jobs=len(job_ids))
        for j in job_ids:
            iv = self.job_interval(j)
            if iv is not None:
                out.intervals.append(iv)
            info = self.sc.statusTracker().getJobInfo(j)
            for sid in info.stageIds if info else []:
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                try:
                    seq = st.stageData(sid, False, self._no_status, False, self._empty)
                except Py4JJavaError:  # evicted from the status store
                    continue
                for k in range(seq.size()):
                    sd = seq.apply(k)
                    if sd.status().toString() == "SKIPPED":
                        continue
                    out.stages += 1
                    out.tasks += sd.numCompleteTasks()
                    out.task_s += sd.executorRunTime() / 1000.0
                    out.shuffle_mb += (sd.shuffleReadBytes() + sd.shuffleWriteBytes()) / 1e6
        return out
