"""Spans recorded by the benchmark around its calls into the package.

A span is (name, start, end, parent, run id) plus the Spark work launched
inside it. Each span runs under its own job group, so an event-log reader
can tell which call launched a job. The span's jobs are the job ids the
DAG scheduler handed out while it was open, and likewise its stages (ids
are sequential across threads, so streaming micro-batches count too); a
child's counts are removed from its parent's self counts.

Per span, from the status store (both work with ``spark.ui.enabled=false``):
jobs, stages and tasks run and failed (``statusTracker``), and executor run
time, shuffle read/write, spill and input/output bytes (``statusStore``).

Nothing here patches the package's code: :meth:`Tracer.wrap` swaps a
module or class attribute for a spanning wrapper and :meth:`Tracer.close`
puts every original back. :class:`NullTracer` is the untraced run: the
same calls, no spans, no patches.
"""

from __future__ import annotations

import contextlib
import functools
import json
import statistics
import time
from collections import defaultdict

STAGE_FIELDS = (
    "executorRunTime",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
    "inputBytes",
    "outputBytes",
)


def next_ids(sc) -> tuple[int, int]:
    """The DAG scheduler's next job id and next stage id."""
    ds = sc._jsc.sc().dagScheduler()
    return int(ds.numTotalJobs()), int(ds.nextStageId())


def counters(sc, job_ids: range, stage_ids: range) -> dict:
    """Spark counters of the jobs and stages with these ids; a stage a job
    reused (SKIPPED) did no work and is not counted."""
    out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
    out.update({f: 0 for f in STAGE_FIELDS})
    if not job_ids:
        return out
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    tracker, store = sc.statusTracker(), jsc.statusStore()
    no_tasks, no_quantiles = sc._jvm.java.util.ArrayList(), sc._gateway.new_array(sc._jvm.double, 0)
    out["jobs"] = sum(tracker.getJobInfo(j) is not None for j in job_ids)
    for sid in stage_ids:
        if tracker.getStageInfo(sid) is None:
            continue
        attempts = store.stageData(sid, False, no_tasks, False, no_quantiles)
        for i in range(attempts.size()):
            sd = attempts.apply(i)
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks() + sd.numKilledTasks()
            out["failed_tasks"] += sd.numFailedTasks()
            for f in STAGE_FIELDS:
                out[f] += getattr(sd, f)()
    return out


class NullTracer:
    """Tracing off: spans and wraps cost one call and record nothing."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name: str):
        yield None

    def wrap(self, owner, attr: str, name: str) -> None:
        pass

    def timed(self, fn, name: str):
        return fn

    def ticked(self, fn, name: str):
        return fn

    def ticked_iter(self, items, name: str):
        return items

    def close(self) -> None:
        pass


class Tracer(NullTracer):
    enabled = True

    def __init__(self, spark, run_id: str) -> None:
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self.ticks: dict[str, list] = defaultdict(lambda: [0, 0.0])
        self.overhead_s = 0.0
        self._stack: list[dict] = []
        self._patches: list[tuple] = []

    # -- spans ---------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str):
        c0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": parent["id"] if parent else None, "children": [],
               "overhead_s": 0.0}
        self.spans.append(rec)
        if parent:
            parent["children"].append(rec["id"])
        self._stack.append(rec)
        self.sc.setJobGroup(f"{self.run_id}/{rec['id']}", name)
        rec["job0"], rec["stage0"] = next_ids(self.sc)
        rec["start"] = time.perf_counter()
        rec["overhead_s"] += rec["start"] - c0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(f"{self.run_id}/{parent['id']}", parent["name"])
            else:
                self.sc._jsc.clearJobGroup()
            rec["job1"], rec["stage1"] = next_ids(self.sc)
            rec.update(counters(self.sc, range(rec["job0"], rec["job1"]),
                                range(rec["stage0"], rec["stage1"])))
            spent = time.perf_counter() - rec["end"]
            rec["overhead_s"] += spent
            self.overhead_s += time.perf_counter() - c0 - (rec["end"] - rec["start"])

    # -- hooks ---------------------------------------------------------------

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper that runs it inside a span."""
        original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        self._patches.append((owner, attr, original))
        setattr(owner, attr, self.timed(original, name))

    def timed(self, fn, name: str):
        """``fn`` called inside a span named ``name``."""

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return spanned

    def ticked(self, fn, name: str):
        """``fn`` with its calls counted and timed in ``ticks[name]``, for
        calls too many and too small for a span each (API pages)."""
        tick = self.ticks[name]

        @functools.wraps(fn)
        def counted(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                tick[0] += 1
                tick[1] += time.perf_counter() - t0

        return counted

    def ticked_iter(self, items, name: str):
        """``items`` with the time spent producing each one in ``ticks[name]``."""
        tick, it = self.ticks[name], iter(items)
        while True:
            t0 = time.perf_counter()
            try:
                item = next(it)
            except StopIteration:
                return
            finally:
                tick[0] += 1
                tick[1] += time.perf_counter() - t0
            yield item

    def close(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    # -- reduction -----------------------------------------------------------

    def find(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def value(self, span: dict, field: str) -> float:
        if field == "seconds":
            return span["end"] - span["start"]
        return span[field]

    def self_value(self, span: dict, field: str) -> float:
        """``field`` of ``span`` minus what its child spans account for
        (for time: minus the children's intervals and tracing overhead)."""
        kids = [self.spans[i] for i in span["children"]]
        own = self.value(span, field) - sum(self.value(k, field) for k in kids)
        if field == "seconds":
            own -= sum(k["overhead_s"] for k in kids)
        return own

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0
