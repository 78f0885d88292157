"""Spans and Spark counters recorded from outside the engine.

A span is one call into an engine layer, timed by the benchmark around
that call: name, layer, start, end, parent span, run id, plus the Spark
work the call caused. Spark is lazy, so a traced layer call forces its
output at the boundary (persist + count); otherwise the span would time
only plan construction and the work would land in whichever later span
happens to trigger it.

Counters come from Spark's own bookkeeping, read after the span ends:

* every span runs under its own job group (the ``spark.jobGroup.id``
  local property of the calling JVM thread); jobs, tasks and failed tasks
  come from ``SparkContext.statusTracker()`` for that group;
* shuffle read/write bytes come from the app status store
  (``AppStatusStore.lastStageAttempt``), which is populated with the web
  UI disabled too.

A child span's jobs belong to the child only, so a layer's counters are
the sum over its own spans and never double count.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

COUNTERS = ("jobs", "tasks", "failed_tasks", "shuffle_write_bytes", "shuffle_read_bytes")

_GROUP_PROP = "spark.jobGroup.id"


@dataclass
class Span:
    span_id: int
    name: str
    layer: str | None
    run_id: str
    parent: int | None
    start: float
    end: float = 0.0
    counters: dict = field(default_factory=dict)
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


def spark_counters(sc, groups) -> dict:
    """Jobs, tasks, failed tasks and shuffle bytes of every job in
    ``groups``. A stage shared by several jobs (a reused shuffle) is
    counted once."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(COUNTERS, 0)
    stages = set()
    for group in groups:
        for jid in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(jid)
            if info is not None:
                stages.update(int(s) for s in info.stageIds)
    for sid in stages:
        info = tracker.getStageInfo(sid)
        if info is None:
            continue
        out["tasks"] += info.numCompletedTasks
        out["failed_tasks"] += info.numFailedTasks
        data = store.lastStageAttempt(sid)
        out["shuffle_write_bytes"] += int(data.shuffleWriteBytes())
        out["shuffle_read_bytes"] += int(data.shuffleReadBytes())
    return out


class Tracer:
    """Records spans of one traced run; kept in memory until the run ends.

    ``layer(name, build)`` is the one entry point the workloads use: it
    calls ``build`` inside a span and, when the result is a DataFrame,
    persists and counts it so the layer's work happens inside its span.
    """

    enabled = True

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._open: list[Span] = []
        self._pinned: list[DataFrame] = []
        self.outputs: dict[str, DataFrame] = {}

    @contextmanager
    def span(self, name: str, layer: str | None = None, extra_groups=tuple):
        """Time the body as one span. ``extra_groups()``, called when the
        span ends, names job groups set by Spark itself (a streaming query
        runs its micro-batches under its run id) whose jobs also belong to
        this span."""
        sp = Span(
            span_id=len(self.spans) + len(self._open),
            name=name,
            layer=layer,
            run_id=self.run_id,
            parent=self._open[-1].span_id if self._open else None,
            start=time.time(),
        )
        group = f"{self.run_id}/{sp.span_id}/{name}"
        prev = self.sc.getLocalProperty(_GROUP_PROP)
        self._open.append(sp)
        self.sc.setLocalProperty(_GROUP_PROP, group)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self.sc.setLocalProperty(_GROUP_PROP, prev)
            self._open.pop()
            sp.counters = spark_counters(self.sc, [group, *extra_groups()])
            self.spans.append(sp)

    def layer(self, name: str, build):
        with self.span(name, layer=name.split(".")[0]) as sp:
            out = build()
            if isinstance(out, DataFrame):
                out = out.persist()
                self._pinned.append(out)
                self.outputs[name] = out
                sp.attrs["rows"] = out.count()
        return out

    def release(self) -> None:
        """Unpersist every layer output this tracer forced."""
        for df in self._pinned:
            df.unpersist()
        self._pinned.clear()
        self.outputs.clear()


class NullTracer:
    """The untraced run: layers are plain calls, nothing is forced."""

    enabled = False
    spans = ()

    @contextmanager
    def span(self, name, layer=None, extra_groups=tuple):
        yield None

    def layer(self, name, build):
        return build()

    def release(self) -> None:
        pass
