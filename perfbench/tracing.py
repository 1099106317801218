"""Spans and counters for the traced run, recorded from outside the program.

The benchmark times its own calls into each layer (setup, ``builder``, the
forced physical plan, materialization) and swaps a timing wrapper in for
``tables.load`` wherever the operator modules bound it at import. Spans live
in memory and are written out once, at the end of the run. Spark's status
store is read per query through the query's job group; jobs that Spark runs
on its own threads (the micro-batches of a streaming query) carry their own
group and are not attributed.
"""

from __future__ import annotations

import json
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    query: str | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; each thread keeps its own stack of open spans."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def active(self) -> bool:
        """Whether this thread has an open span."""
        return bool(self._stack())

    @contextmanager
    def span(self, name: str, query: str | None = None, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            s = Span(len(self.spans), name, parent.id if parent else None,
                     query if query is not None else (parent.query if parent else None),
                     time.perf_counter(), attrs=dict(attrs))
            self.spans.append(s)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the time its children cover (children
        of one span run on its thread, one after another)."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] = child_time.get(s.parent, 0.0) + s.duration
        return {s.id: s.duration - child_time.get(s.id, 0.0) for s in self.spans}

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def wrap_load(tracer: Tracer) -> None:
    """Route every ``tables.load`` call through a span. Operator modules do
    ``from toy_map_reduce_spark.tables import load`` at import, so each
    module's own binding is replaced, not only the one in ``tables``. Calls
    made outside any open span pass straight through."""
    from toy_map_reduce_spark import tables

    original = tables.load

    def load(spark, sf_dir, name):
        if not tracer.active():  # untraced round
            return original(spark, sf_dir, name)
        with tracer.span("tables.load", table=name):
            return original(spark, sf_dir, name)

    for mod in list(sys.modules.values()):
        if (getattr(mod, "__name__", "") or "").startswith("toy_map_reduce_spark") \
                and getattr(mod, "load", None) is original:
            mod.load = load


STAGE_FIELDS = {
    # status-store field -> (per-layer counter, scale)
    "executorRunTime": ("executor_run_s", 1e-3),
    "executorCpuTime": ("executor_cpu_s", 1e-9),
    "jvmGcTime": ("gc_s", 1e-3),
    "inputBytes": ("input_mb", 1 / 2**20),
    "shuffleReadBytes": ("shuffle_read_mb", 1 / 2**20),
    "shuffleWriteBytes": ("shuffle_write_mb", 1 / 2**20),
    "memoryBytesSpilled": ("spill_mb", 1 / 2**20),
    "diskBytesSpilled": ("spill_mb", 1 / 2**20),
    "outputBytes": ("output_mb", 1 / 2**20),
}
COUNTERS = ("jobs", "stages", "stages_skipped", "tasks", "tasks_failed",
            *dict.fromkeys(v[0] for v in STAGE_FIELDS.values()))


def wait_for_listeners(spark) -> None:
    """Block until Spark's listener bus has delivered every event, so the
    status store holds the finished query's stages."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def group_counters(spark, group: str) -> dict[str, float]:
    """Sum the status store's per-stage metrics over every job of ``group``."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    out = dict.fromkeys(COUNTERS, 0.0)
    seen: set[int] = set()
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        out["jobs"] += 1
        for sid in info.stageIds:
            if sid in seen:
                continue
            seen.add(sid)
            out["stages"] += 1
            attempts = store.stageData(sid, False, None, False, None).iterator()
            while attempts.hasNext():
                sd = attempts.next()
                if sd.status().toString() == "SKIPPED":
                    out["stages_skipped"] += 1
                    continue
                out["tasks"] += sd.numTasks()
                out["tasks_failed"] += sd.numFailedTasks()
                for fname, (counter, scale) in STAGE_FIELDS.items():
                    out[counter] += getattr(sd, fname)() * scale
    return out
