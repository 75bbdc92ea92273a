"""Spans around calls into the engine, with Spark stage rollups.

The benchmark's traced run wraps public functions of the package from the
outside (:func:`instrument`); nothing inside ``etl_sber_spark`` knows it is
being traced. Each span runs under its own Spark job group
(``sc.setJobGroup``); when it ends, the group's jobs are rolled up stage by
stage from the application status store
(``statusTracker().getJobIdsForGroup`` + ``statusStore().lastStageAttempt``),
which works with ``spark.ui.enabled=false``: no REST call, no port.

A span's rollup counts only the jobs submitted while it was the innermost
span on its thread; :meth:`Tracer.totals` adds the descendants back in.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import threading
import time
from dataclasses import dataclass, field

#: per-stage numbers summed by a rollup; times in ms, sizes in bytes
STAGE_FIELDS = (
    "tasks",
    "executor_run_ms",
    "gc_ms",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "output_bytes",
)


@dataclass
class Rollup:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_ms: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0

    def add(self, other: "Rollup") -> None:
        for k in ("jobs", "stages", *STAGE_FIELDS):
            setattr(self, k, getattr(self, k) + getattr(other, k))


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    thread: int
    start: float
    end: float = 0.0
    rollup: Rollup = field(default_factory=Rollup)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder for one Spark session.

    ``span(name)`` nests per thread; spans from a second thread (a
    stream's ``foreachBatch``) start their own tree. Spans are kept in
    memory and summarised when the run ends."""

    def __init__(self, spark, prefix: str = "perfbench"):
        self.sc = spark.sparkContext
        self.prefix = prefix
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._stack: dict[int, list[Span]] = {}
        self._lock = threading.Lock()

    def group(self, span: Span) -> str:
        return f"{self.prefix}-{span.id}"

    @contextlib.contextmanager
    def span(self, name: str):
        tid = threading.get_ident()
        with self._lock:
            stack = self._stack.setdefault(tid, [])
            s = Span(next(self._ids), name, stack[-1].id if stack else None, tid, 0.0)
            stack.append(s)
            self.spans.append(s)
        self.sc.setJobGroup(self.group(s), name)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            if stack:
                self.sc.setJobGroup(self.group(stack[-1]), stack[-1].name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            s.rollup = rollup_group(self.sc, self.group(s))

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    # -- summaries ---------------------------------------------------------

    def children(self) -> dict[int | None, list[Span]]:
        out: dict[int | None, list[Span]] = {}
        for s in self.spans:
            out.setdefault(s.parent, []).append(s)
        return out

    def self_time(self, span: Span, kids: dict | None = None) -> float:
        """Duration minus the union of the child spans' intervals."""
        kids = self.children() if kids is None else kids
        covered, edge = 0.0, span.start
        for c in sorted(kids.get(span.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, edge), min(c.end, span.end)
            if hi > lo:
                covered += hi - lo
                edge = hi
        return span.wall - covered

    def totals(self, span: Span, kids: dict | None = None) -> Rollup:
        """The span's rollup plus every descendant's."""
        kids = self.children() if kids is None else kids
        out = Rollup()
        out.add(span.rollup)
        for c in kids.get(span.id, []):
            out.add(self.totals(c, kids))
        return out


def rollup_group(sc, group: str) -> Rollup:
    """Sum the stages of every job in ``group`` from the status store.

    Skipped stages (shuffle output reused from an earlier job) did no
    work and are not counted; a stage shared by two jobs of the group is
    counted once."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    out = Rollup()
    seen: set[int] = set()
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        out.jobs += 1
        for sid in info.stageIds:
            if sid in seen:
                continue
            seen.add(sid)
            st = store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                continue
            out.stages += 1
            out.tasks += st.numCompleteTasks()
            out.executor_run_ms += st.executorRunTime()
            out.gc_ms += st.jvmGcTime()
            out.shuffle_write_bytes += st.shuffleWriteBytes()
            out.shuffle_read_bytes += st.shuffleReadBytes()
            out.spill_bytes += st.diskBytesSpilled()
            out.output_bytes += st.outputBytes()
    return out


def spark_metrics(r: Rollup, wall: float, cores: int, prefix: str = "spark") -> dict[str, float]:
    """The ``spark.*`` per-layer block for a rollup over ``wall`` seconds
    of a ``cores``-slot session; ``driver_frac`` is the share of the
    slot-seconds no task was running in."""
    task_s = r.executor_run_ms / 1000.0
    return {
        f"{prefix}.jobs": r.jobs,
        f"{prefix}.stages": r.stages,
        f"{prefix}.tasks": r.tasks,
        f"{prefix}.task_s": task_s,
        f"{prefix}.gc_s": r.gc_ms / 1000.0,
        f"{prefix}.shuffle_write_mb": r.shuffle_write_bytes / 1e6,
        f"{prefix}.shuffle_read_mb": r.shuffle_read_bytes / 1e6,
        f"{prefix}.spill_mb": r.spill_bytes / 1e6,
        f"{prefix}.driver_frac": 1.0 - task_s / (wall * cores) if wall > 0 else 0.0,
    }


# ---------------------------------------------------------------------------
# Outside-in instrumentation of the package's public functions
# ---------------------------------------------------------------------------

#: (attribute, span name) pairs that :func:`instrument` wraps in spans
PIPELINE_CALLS = (
    ("load_terminals", "pipeline.load_terminals"),
    ("load_blacklist", "pipeline.load_blacklist"),
    ("load_transactions", "pipeline.load_transactions"),
    ("build_mart", "pipeline.build_mart"),
)
WAREHOUSE_CALLS = (
    ("append", "sinks.append"),
    ("overwrite_versioned", "sinks.overwrite_versioned"),
    ("overwrite_partitions", "sinks.overwrite_partitions"),
    ("read", "sinks.read"),
)
#: the warehouse spans that write files
SINK_WRITES = ("sinks.append", "sinks.overwrite_versioned", "sinks.overwrite_partitions")


class Instrumentation:
    """Patches installed by :func:`instrument`; ``close()`` restores the
    originals. ``pin_calls`` counts ``operators.materialize.pin`` calls
    made through any module of the package."""

    def __init__(self):
        self._undo: list[tuple[object, str, object]] = []
        self.pin_calls = 0

    def patch(self, owner, attr: str, new) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def close(self) -> None:
        while self._undo:
            owner, attr, old = self._undo.pop()
            setattr(owner, attr, old)


def instrument(tracer: Tracer) -> Instrumentation:
    """Wrap the pipeline phases and warehouse calls in spans and count
    ``pin`` calls. ``pin`` is imported by name into many operator
    modules, so every loaded module of the package that holds the
    original function gets the counting wrapper."""
    import sys

    from etl_sber_spark import pipeline
    from etl_sber_spark.operators import materialize
    from etl_sber_spark.sinks.warehouse import Warehouse

    inst = Instrumentation()
    for attr, name in PIPELINE_CALLS:
        inst.patch(pipeline, attr, tracer.wrap(name, getattr(pipeline, attr)))
    for attr, name in WAREHOUSE_CALLS:
        inst.patch(Warehouse, attr, tracer.wrap(name, getattr(Warehouse, attr)))

    original_pin = materialize.pin

    @functools.wraps(original_pin)
    def counted_pin(df):
        inst.pin_calls += 1
        return original_pin(df)

    for mod_name, mod in list(sys.modules.items()):
        if mod_name.startswith("etl_sber_spark") and getattr(mod, "pin", None) is original_pin:
            inst.patch(mod, "pin", counted_pin)
    return inst
