"""Spans and Spark stage metrics, recorded from outside the program.

Each layer call runs under its own Spark job group.  After the call, the
group's jobs are read back through ``statusTracker().getJobIdsForGroup()``
and the JVM status store (``statusStore().lastStageAttempt()``,
``taskSummary()``, ``job()``), which work with ``spark.ui.enabled=false``.
Spans (name, start, end, parent) stay in memory until ``Tracer.write``.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class GroupStats:
    """Stage metrics summed over the distinct stages a job group ran."""

    wall_s: float = 0.0
    jobs: int = 0
    tasks: int = 0
    task_s_sum: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    # max/median task run time of the group's busiest stage
    task_skew: float = 1.0
    # wall time inside the span with at least one Spark job running
    job_busy_s: float = 0.0


@dataclass
class Tracer:
    spark: object
    spans: list = field(default_factory=list)
    _stack: list = field(default_factory=list)
    _seq: int = 0

    @contextmanager
    def span(self, name: str):
        """Run the body under a fresh job group; yields the GroupStats that
        is filled in when the body returns."""
        sc = self.spark.sparkContext
        self._seq += 1
        group = f"perfbench-{self._seq}-{name}"
        parent = self._stack[-1] if self._stack else None
        stats = GroupStats()
        sc.setJobGroup(group, name)
        self._stack.append((name, group))
        start = time.time()
        try:
            yield stats
        finally:
            end = time.time()
            self._stack.pop()
            # jobs count toward the innermost span only
            sc.setLocalProperty("spark.jobGroup.id", parent[1] if parent else None)
            stats.wall_s = end - start
            _fill(sc, group, start, end, stats)
            self.spans.append(
                {"name": name, "start": start, "end": end,
                 "parent": parent[0] if parent else None,
                 "jobs": stats.jobs, "tasks": stats.tasks}
            )

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


def _fill(sc, group: str, start: float, end: float, stats: GroupStats) -> None:
    store = sc._jsc.sc().statusStore()
    jvm = sc._jvm
    job_ids = list(sc.statusTracker().getJobIdsForGroup(group))
    stats.jobs = len(job_ids)
    stage_ids: set[int] = set()
    intervals = []
    for jid in job_ids:
        info = sc.statusTracker().getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
        job = store.job(jid)
        sub, done = job.submissionTime(), job.completionTime()
        if sub.isDefined():
            t0 = sub.get().getTime() / 1000.0
            t1 = done.get().getTime() / 1000.0 if done.isDefined() else end
            intervals.append((max(t0, start), min(t1, end)))
    stats.job_busy_s = _union_length(intervals)

    quantiles = sc._gateway.new_array(jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    busiest = -1.0
    for sid in stage_ids:
        try:
            sd = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 - stage never submitted (skipped)
            continue
        if sd.numCompleteTasks() == 0:
            continue
        stats.tasks += sd.numCompleteTasks()
        run_s = sd.executorRunTime() / 1000.0
        stats.task_s_sum += run_s
        stats.shuffle_read_bytes += sd.shuffleReadBytes()
        stats.shuffle_write_bytes += sd.shuffleWriteBytes()
        stats.spill_bytes += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        if run_s > busiest:
            busiest = run_s
            summary = store.taskSummary(sid, sd.attemptId(), quantiles)
            if summary.isDefined():
                times = summary.get().executorRunTime()
                median, top = times.apply(0), times.apply(1)
                stats.task_skew = top / median if median > 0 else 1.0


def _union_length(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
