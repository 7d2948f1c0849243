"""In-memory span tracer for the benchmark's traced run.

Spans are recorded only here, by timing calls into each layer's public
functions; nothing inside ``cassandra_sql_spark`` is changed. A span is
``(id, parent, op, layer, name, start, end)`` with wall-clock epoch seconds,
the clock Spark's status store also uses, so Spark jobs read back from the
status store become child spans of the Python span they ran under.

A span's self time is its duration minus the part of it that its children
cover. Summing self time by layer over an op's spans gives exactly the op's
wall time, which is how the benchmark splits each op across layers.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import sys
import time
from collections import Counter

from py4j import protocol as proto

_WRAPPED_NAMES = {
    # attribute name -> (layer, span name); every module of the program
    # that bound the original function gets the wrapper
    "split_statements": ("sqlfront", "split"),
    "preprocess": ("sqlfront", "preprocess"),
    "load": ("io", "load"),
    "optimize_layout": ("sources", "layout"),
}


class Span:
    __slots__ = ("id", "parent", "op", "layer", "name", "start", "end",
                 "attrs")

    def __init__(self, sid, parent, op, layer, name, start, end=None,
                 attrs=None):
        self.id, self.parent, self.op = sid, parent, op
        self.layer, self.name = layer, name
        self.start, self.end = start, end
        self.attrs = attrs or {}

    def as_dict(self) -> dict:
        return {k: getattr(self, k) for k in self.__slots__}


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Duration minus the union of the children's (clipped) intervals."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        cover = [
            (max(c.start, s.start), min(c.end, s.end))
            for c in kids.get(s.id, ())
            if min(c.end, s.end) > max(c.start, s.start)
        ]
        out[s.id] = (s.end - s.start) - _union(cover)
    return out


class Tracer:
    """Records spans and counters for one process; install() patches the
    program's module bindings, uninstall() restores them."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_id = 1
        self._op = None
        self.py4j_calls = 0
        self._counting = True
        self.counts: Counter = Counter()
        self.overhead_s = 0.0
        self._seen_stages: set[int] = set()
        self._patches: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, layer: str, name: str, **attrs):
        parent = self._stack[-1].id if self._stack else None
        s = Span(self._next_id, parent, self._op, layer, name, time.time(),
                 attrs=attrs)
        self._next_id += 1
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self.spans.append(s)

    @contextlib.contextmanager
    def op(self, op_id: str, name: str, cls: str):
        """Root span of one op; Spark jobs run under job group ``op_id``."""
        self._op = op_id
        with self.bookkeeping():
            self.sc.setJobGroup(op_id, name)
        try:
            with self.span("harness", "op", op_name=name, op_class=cls) as s:
                yield s
        finally:
            with self.bookkeeping():
                self.sc.setJobGroup("", "")
                self._add_jobs(op_id, s)
            self._op = None

    @contextlib.contextmanager
    def bookkeeping(self):
        """Tracer work: not counted as py4j calls, summed as overhead."""
        t0 = time.perf_counter()
        was, self._counting = self._counting, False
        try:
            yield
        finally:
            self._counting = was
            self.overhead_s += time.perf_counter() - t0

    def wrap(self, fn, layer: str, name: str, on_exit=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            self.counts[f"{layer}.{name}_calls"] += 1
            with self.span(layer, name):
                out = fn(*args, **kwargs)
            if on_exit is not None:
                with self.bookkeeping():
                    on_exit(*args)
            return out

        return traced

    # -- installation --------------------------------------------------------

    def _patch(self, owner, attr: str, value) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def install(self) -> None:
        from cassandra_sql_spark import engine, io, sources
        from cassandra_sql_spark.catalog import Catalog
        from cassandra_sql_spark.sqlfront import preprocess as pre

        originals = {
            "split_statements": engine.split_statements,
            "preprocess": pre.preprocess,
            "load": io.load,
            "optimize_layout": sources.optimize_layout,
        }
        for mod in [m for n, m in sys.modules.items()
                    if n.startswith("cassandra_sql_spark") and m]:
            for attr, orig in originals.items():
                if getattr(mod, attr, None) is orig and not (
                    mod is pre and attr == "preprocess"
                ):
                    # the defining module's own recursive calls stay
                    # inside the caller's span
                    layer, name = _WRAPPED_NAMES[attr]
                    self._patch(mod, attr, self.wrap(orig, layer, name))

        def saved(cat):
            self.counts["catalog.bytes_written"] += os.path.getsize(
                cat._meta_path)

        self._patch(Catalog, "save",
                    self.wrap(Catalog.save, "catalog", "save", saved))

        client = self.sc._gateway._gateway_client
        send = client.send_command
        # releases of Python-side proxies run whenever Python's GC does:
        # not counted, so the count repeats exactly from pass to pass
        release = proto.MEMORY_COMMAND_NAME + proto.MEMORY_DEL_SUBCOMMAND_NAME

        def counted(command, *args, **kwargs):
            if self._counting and not command.startswith(release):
                self.py4j_calls += 1
            return send(command, *args, **kwargs)

        self._patch(client, "send_command", counted)

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            if attr == "send_command":
                # instance attribute: drop it so the class method shows
                del owner.send_command
            else:
                setattr(owner, attr, orig)

    # -- Spark jobs from the status store ------------------------------------

    def _add_jobs(self, group: str, op_span: Span) -> None:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(60_000)
        store = jsc.statusStore()
        op_spans = [s for s in self.spans if s.op == self._op]
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            jd = store.job(jid)
            if jd.submissionTime().isEmpty() or jd.completionTime().isEmpty():
                continue
            start = jd.submissionTime().get().getTime() / 1000.0
            end = jd.completionTime().get().getTime() / 1000.0
            # parent: the innermost span of this op open at submission
            # (JVM timestamps are whole milliseconds)
            holders = [s for s in op_spans
                       if s.start - 0.002 <= start <= s.end + 0.002]
            parent = max(holders, key=lambda s: s.start, default=op_span)
            job = Span(self._next_id, parent.id, self._op, "spark.exec",
                       "job", max(start, parent.start),
                       min(max(end, start), parent.end), {"job_id": jid})
            self._next_id += 1
            job.attrs["stages"] = self._add_stages(store, jd.stageIds())
            self.counts["spark.jobs"] += 1
            self.spans.append(job)

    def _add_stages(self, store, stage_ids) -> int:
        n = 0
        for i in range(stage_ids.size()):
            sid = stage_ids.apply(i)
            if sid in self._seen_stages:
                continue
            try:
                sd = store.lastStageAttempt(sid)
            except Exception:  # evicted from the store: nothing to count
                continue
            if sd.status().toString() != "COMPLETE":
                continue
            self._seen_stages.add(sid)
            n += 1
            c = self.counts
            c["spark.stages"] += 1
            c["spark.tasks"] += sd.numCompleteTasks()
            c["spark.task_run_ms"] += sd.executorRunTime()
            c["spark.task_cpu_ns"] += sd.executorCpuTime()
            c["spark.task_gc_ms"] += sd.jvmGcTime()
            c["spark.input_rows"] += sd.inputRecords()
            c["spark.shuffle_write_bytes"] += sd.shuffleWriteBytes()
            c["spark.shuffle_read_bytes"] += sd.shuffleReadBytes()
            c["spark.spill_bytes"] += (
                sd.memoryBytesSpilled() + sd.diskBytesSpilled())
        return n

    # -- output --------------------------------------------------------------

    def op_spans(self, op_id: str) -> list[Span]:
        return [s for s in self.spans if s.op == op_id]

    @staticmethod
    def layer_split(spans: list[Span]) -> dict[str, float]:
        """Self time by ``layer:name`` over one op's spans; the values sum
        to the op's wall time. Spark jobs count as the time at least one
        job of the parent span was running."""
        st = self_times(spans)
        out: Counter = Counter()
        jobs: dict[int, list[tuple[float, float]]] = {}
        for s in spans:
            if s.layer == "spark.exec":
                jobs.setdefault(s.parent, []).append((s.start, s.end))
            else:
                out[f"{s.layer}:{s.name}"] += st[s.id]
        # jobs of one parent can run concurrently (AQE submits query
        # stages as separate jobs): count the time any of them ran
        for intervals in jobs.values():
            out["spark.exec:job"] += _union(intervals)
        return dict(out)

    def write(self, path: str, meta: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"meta": meta,
                       "spans": [s.as_dict() for s in self.spans]}, fh)
