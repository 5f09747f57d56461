"""Span recording for the traced run, installed from outside the program.

``install`` replaces, for the length of the traced phase, the names the
program's callers resolve at call time (module globals and class
attributes) with wrappers that record a span around the original call:

    plans.safety.gate      engine.validate_sql_safety
    plans.limits.auto_limit engine.apply_auto_limit
    engine.analyze         SparkSession.sql
    engine.collect         DataFrame.collect
    engine.scalarize       engine.scalarize (summed into one span per execute)
    engine.execute         ExecutionEngine.execute
    engine.to_dict         ExecutionResult.to_dict
    api.execute_endpoint   api.execute_endpoint
    api.generate_sql_endpoint api.generate_sql_endpoint
    generation.generate    api.generate_sql
    etl.run                ETLPipelineExecutor.run
    sources.mutations.merge sources.mutations.merge_parquet

Registered query functions are wrapped by the pipeline workload itself,
which is their only caller here. Each span runs its Spark jobs under a
job group of its own, and py4j round trips are counted by wrapping the
gateway client's ``send_command``; the untraced runs install nothing.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    req: object
    start: float
    end: float = 0.0
    round_trips: int = 0  # inclusive of child spans
    group: str = ""
    counts: dict[str, float] = field(default_factory=dict)  # Spark work of this span alone

    @property
    def dur(self) -> float:
        return self.end - self.start

    def to_json(self) -> dict:
        return {
            "id": self.id, "parent": self.parent, "name": self.name, "req": self.req,
            "start": self.start, "end": self.end, "round_trips": self.round_trips,
            "counts": self.counts,
        }


class NullTracer:
    """What the untraced runs use: every hook is a no-op."""

    def span(self, name, req=None):
        return nullcontext()


class Tracer:
    """Spans in memory, py4j round trips counted per thread, and one Spark
    job group per span, read back by ``resolve``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._ids = itertools.count(1)

    # -- thread state --------------------------------------------------------
    def _state(self):
        tls = self._tls
        if not hasattr(tls, "stack"):
            tls.stack, tls.rt, tls.paused, tls.agg = [], 0, 0, {}
        return tls

    def count_round_trip(self) -> None:
        tls = self._state()
        if not tls.paused:
            tls.rt += 1

    @contextmanager
    def _quiet(self):
        """Our own JVM calls are not the program's round trips."""
        tls = self._state()
        tls.paused += 1
        try:
            yield
        finally:
            tls.paused -= 1

    def _set_group(self, group: str | None) -> None:
        with self._quiet():
            if group:
                self.sc.setJobGroup(group, group)
            else:
                self.sc._jsc.clearJobGroup()

    # -- spans ---------------------------------------------------------------
    @contextmanager
    def span(self, name: str, req=None):
        tls = self._state()
        parent = tls.stack[-1] if tls.stack else None
        s = Span(
            id=next(self._ids),
            parent=parent.id if parent else None,
            name=name,
            req=req if req is not None else (parent.req if parent else None),
            start=time.perf_counter(),
        )
        s.group = f"perfbench-{s.id}"
        self._set_group(s.group)
        rt0 = tls.rt
        tls.stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            tls.stack.pop()
            s.round_trips = tls.rt - rt0
            self._set_group(parent.group if parent else None)
            with self._lock:
                self.spans.append(s)

    def add_time(self, name: str, t0: float, dt: float) -> None:
        """Accumulate a call too frequent for a span of its own (one
        value's scalarization) under the innermost open span."""
        agg = self._state().agg
        first, total = agg.get(name, (t0, 0.0))
        agg[name] = (first, total + dt)

    def flush_time(self, name: str, parent: Span) -> None:
        first, total = self._state().agg.pop(name, (None, 0.0))
        if first is None:
            return
        s = Span(next(self._ids), parent.id, name, parent.req, first, first + total)
        with self._lock:
            self.spans.append(s)

    # -- Spark counts ----------------------------------------------------------
    def resolve(self, spans: list[Span]) -> None:
        """Fill each span's Spark counts from its job group: jobs, and over
        the stages that ran, tasks, executor run time, input records,
        shuffle-write bytes and spilled bytes."""
        with self._quiet():
            jsc = self.sc._jsc.sc()
            bus = jsc.listenerBus()
            try:
                bus.waitUntilEmpty()
            except Exception:
                bus.waitUntilEmpty(10_000)
            tracker = self.sc.statusTracker()
            store = jsc.statusStore()
            for s in spans:
                if not s.group:
                    continue
                c = dict(jobs=0, stages=0, tasks=0, busy_ms=0, input_records=0,
                         shuffle_write_bytes=0, spill_bytes=0)
                seen: set[int] = set()
                for job in tracker.getJobIdsForGroup(s.group):
                    c["jobs"] += 1
                    info = tracker.getJobInfo(job)
                    for sid in (info.stageIds if info else []):
                        if sid in seen:
                            continue
                        seen.add(sid)
                        try:
                            sd = store.lastStageAttempt(sid)
                        except Exception:
                            continue  # skipped stage: never attempted
                        if str(sd.status()) != "COMPLETE":
                            continue
                        c["stages"] += 1
                        c["tasks"] += sd.numCompleteTasks()
                        c["busy_ms"] += sd.executorRunTime()
                        c["input_records"] += sd.inputRecords()
                        c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                        c["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                s.counts = c

    def dump(self, path) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.to_json(), default=str) + "\n")


# ---------------------------------------------------------------------------
# analysis


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of its interval its child spans
    cover (overlapping children are merged, so nothing counts twice)."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = {}
    for s in spans:
        iv = sorted(
            (max(c.start, s.start), min(c.end, s.end))
            for c in children.get(s.id, ())
            if c.end > s.start and c.start < s.end
        )
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in iv:
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s.id] = s.dur - covered
    return out


def subtree_counts(spans: list[Span], root: Span) -> dict[str, float]:
    """Spark counts of ``root`` and everything below it."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    total: dict[str, float] = defaultdict(float)
    todo = [root]
    while todo:
        s = todo.pop()
        for k, v in s.counts.items():
            total[k] += v
        todo.extend(children.get(s.id, ()))
    return dict(total)


# ---------------------------------------------------------------------------
# installation


def _wrap(tracer: Tracer, fn, name: str):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    return traced


def install(tracer: Tracer):
    """Patch the program's call sites; returns a function that restores
    them."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession
    from pyspark.sql.classic.dataframe import DataFrame

    from etl_generator_demo_spark import api, engine, etl
    from etl_generator_demo_spark.sources import mutations

    saved: list[tuple[object, str, object]] = []

    def patch(owner, attr, new):
        saved.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    for owner, attr, name in (
        (engine, "validate_sql_safety", "plans.safety.gate"),
        (engine, "apply_auto_limit", "plans.limits.auto_limit"),
        (SparkSession, "sql", "engine.analyze"),
        (DataFrame, "collect", "engine.collect"),
        (engine.ExecutionResult, "to_dict", "engine.to_dict"),
        (api, "execute_endpoint", "api.execute_endpoint"),
        (api, "generate_sql_endpoint", "api.generate_sql_endpoint"),
        (api, "generate_sql", "generation.generate"),
        (etl.ETLPipelineExecutor, "run", "etl.run"),
        (mutations, "merge_parquet", "sources.mutations.merge"),
    ):
        patch(owner, attr, _wrap(tracer, owner.__dict__[attr], name))

    scalarize = engine.scalarize
    tls = threading.local()

    @functools.wraps(scalarize)
    def scalarize_traced(value):
        if getattr(tls, "inside", False):  # the recursion into containers
            return scalarize(value)
        tls.inside = True
        t0 = time.perf_counter()
        try:
            return scalarize(value)
        finally:
            tls.inside = False
            tracer.add_time("engine.scalarize", t0, time.perf_counter() - t0)

    patch(engine, "scalarize", scalarize_traced)

    execute = engine.ExecutionEngine.__dict__["execute"]

    @functools.wraps(execute)
    def execute_traced(self, *args, **kwargs):
        with tracer.span("engine.execute") as s:
            try:
                return execute(self, *args, **kwargs)
            finally:
                tracer.flush_time("engine.scalarize", s)

    patch(engine.ExecutionEngine, "execute", execute_traced)

    client = SparkContext._gateway._gateway_client
    send = client.send_command

    @functools.wraps(send)
    def send_counted(*args, **kwargs):
        tracer.count_round_trip()
        return send(*args, **kwargs)

    client.send_command = send_counted

    def restore():
        del client.send_command  # back to the class's method
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)

    return restore
