"""Outside-in tracing for the benchmark's ``--trace 1`` runs.

Nothing here touches the library's code: layers are measured from outside
by timing and counting the calls into them.

- ``Py4jCounter`` wraps the py4j gateway client's ``send_command`` and
  counts Python-to-JVM round trips while it is armed.
- ``Tracer.job_group`` runs a block under its own Spark job group;
  ``Tracer.settle`` then drains Spark's listener bus and reads the group's
  jobs, stages, tasks, executor run time, shuffle write bytes and spill
  bytes from the status tracker and the application status store.
- ``Tracer.span`` keeps (name, start, end, parent) spans in memory; they
  are written out once, at the end of the run.
- ``Tracer.wrap_steps`` times every pipeline ``Step.fn`` from outside.
"""

from __future__ import annotations

import contextlib
import itertools
import time

from py4j.protocol import Py4JJavaError


class Py4jCounter:
    def __init__(self, spark) -> None:
        self.client = spark.sparkContext._gateway._gateway_client
        self.real = self.client.send_command
        self.calls = 0
        self.armed = False

        def counting_send(*args, **kwargs):
            if self.armed:
                self.calls += 1
            return self.real(*args, **kwargs)

        self.client.send_command = counting_send

    @contextlib.contextmanager
    def count(self):
        """Yields a one-item list that holds the call count on exit."""
        out = [0]
        before, self.armed = self.calls, True
        try:
            yield out
        finally:
            self.armed = False
            out[0] = self.calls - before

    def close(self) -> None:
        self.client.send_command = self.real


def stage_totals(spark, group: str) -> dict[str, float]:
    """Jobs, stages, tasks, executor run time, shuffle write and spill of
    every job started under ``group``, read from the status store."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "exec_s": 0.0,
           "shuffle_bytes": 0, "spill_bytes": 0}
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        out["jobs"] += 1
        for sid in info.stageIds:
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage never ran (skipped): nothing to add
                continue
            if sd.completionTime().isEmpty():
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["exec_s"] += sd.executorRunTime() / 1000.0
            out["shuffle_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    return out


class Tracer:
    """Spans, per-op job groups, the py4j counter and step timers.
    ``enabled=False`` gives the untraced run, where all of them are no-ops."""

    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._groups: list[tuple[str, dict]] = []  # ended, not yet settled
        self._stack: list[int] = []
        self._ids = itertools.count()
        self.py4j = Py4jCounter(spark) if enabled else None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent, "start": time.time()}
        self._stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec["end"] = time.time()
            self._stack.pop()
            self.spans.append(rec)

    @contextlib.contextmanager
    def job_group(self, name: str):
        """Run the block under a fresh job group; yields a dict that
        ``settle`` fills with the group's stage totals (empty when untraced)."""
        stats: dict = {}
        if not self.enabled:
            yield stats
            return
        sc = self.spark.sparkContext
        group = f"perfbench-{next(self._ids)}-{name}"
        sc.setJobGroup(group, name)
        try:
            yield stats
        finally:
            sc.setJobGroup(None, None)
            self._groups.append((group, stats))

    def settle(self) -> None:
        """Fill in the stage totals of every ended job group. Spark posts job,
        stage and task ends to its asynchronous listener bus, and the status
        store lags until the bus has delivered them, so drain it first."""
        if not self._groups:
            return
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        for group, stats in self._groups:
            stats.update(stage_totals(self.spark, group))
        self._groups.clear()

    def wrap_steps(self, pipes: dict) -> dict[str, float]:
        """Wrap each ``Step.fn`` of the named pipelines with a timer; returns
        the dict ``{"<pipeline>.<step>": seconds}`` the wrappers fill.
        Untraced, nothing is wrapped and the dict stays empty."""
        times: dict[str, float] = {}
        if not self.enabled:
            return times
        for pname, pipe in pipes.items():
            for step in pipe.steps:
                def timed(pl, ctx, _fn=step.fn, _name=f"{pname}.{step.name}"):
                    t0 = time.perf_counter()
                    try:
                        return _fn(pl, ctx)
                    finally:
                        times[_name] = times.get(_name, 0.0) + time.perf_counter() - t0

                step.fn = timed
        return times

    def close(self) -> None:
        if self.py4j is not None:
            self.py4j.close()
