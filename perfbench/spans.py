"""Spans around the benchmark's calls into each engine layer.

Only the traced run (``--trace 1``) installs the wrappers; the untraced
runs that produce the end-to-end metrics call the engine unwrapped.
All wrapping happens here, from the benchmark's side: module attributes
of the engine are swapped for timing shims while a :class:`Tracer` is
installed and restored when it is removed.

A span records name, start, end, parent and the unit op it belongs to,
plus counts taken at its boundaries: py4j calls, checkpoints, and the
Spark jobs run under the span's own job group (read back from the
status tracker and status store when the op ends).  Spans stay in
memory; :meth:`Tracer.dump` writes them out when the run ends.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time


class Span:
    __slots__ = (
        "sid", "name", "op", "parent", "start", "end", "group",
        "py4j", "checkpoints", "jobs", "stages", "tasks",
        "shuffle_read", "shuffle_write",
    )

    def __init__(self, sid, name, op, parent, group):
        self.sid, self.name, self.op, self.parent = sid, name, op, parent
        self.group = group
        self.start = self.end = 0.0
        self.py4j = self.checkpoints = 0
        self.jobs = self.stages = self.tasks = 0
        self.shuffle_read = self.shuffle_write = 0

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0

    def as_dict(self) -> dict:
        return {k: getattr(self, k) for k in self.__slots__}


class Tracer:
    """Records spans while installed and ``enabled``."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op = None
        self._ids = itertools.count(1)
        self._restore: list = []
        self._internal = 0
        self.py4j_calls = 0
        self.checkpoints = 0

    # ------------------------------------------------------------ patching
    def _patch(self, owner, attr, make):
        orig = getattr(owner, attr)
        setattr(owner, attr, make(orig))
        self._restore.append((owner, attr, orig))

    def _timed(self, name):
        def make(orig):
            def wrapper(*args, **kwargs):
                with self.span(name):
                    return orig(*args, **kwargs)
            return wrapper
        return make

    def install(self) -> None:
        import py4j.clientserver as cs

        from database_spark.operators import lifecycle
        from database_spark.sparql import compiler, engine

        tracer = self

        def count_calls(orig):
            def send_command(conn, *args, **kwargs):
                if not tracer._internal:
                    tracer.py4j_calls += 1
                return orig(conn, *args, **kwargs)
            return send_command

        def count_checkpoints(orig):
            def checkpoint(*args, **kwargs):
                tracer.checkpoints += 1
                return orig(*args, **kwargs)
            return checkpoint

        self._patch(cs.ClientServerConnection, "send_command", count_calls)
        self._patch(engine, "parse_query", self._timed("parse"))
        self._patch(engine, "parse_update", self._timed("parse"))
        self._patch(compiler.Compiler, "compile_select", self._timed("compile"))
        self._patch(compiler.Compiler, "compile_group", self._timed("compile"))
        self._patch(lifecycle, "checkpoint", count_checkpoints)
        self._patch(lifecycle, "protected_checkpoint", self._timed("compaction"))

    def uninstall(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)

    # --------------------------------------------------------------- spans
    @contextlib.contextmanager
    def _quiet(self):
        """Bookkeeping py4j calls are not the engine's: keep them out."""
        self._internal += 1
        try:
            yield
        finally:
            self._internal -= 1

    def span(self, name: str):
        if not self.enabled:
            return contextlib.nullcontext()
        return self._span(name)

    @contextlib.contextmanager
    def _span(self, name: str):
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        s = Span(sid, name, self._op, parent.sid if parent else None, f"perfbench-{sid}")
        with self._quiet():
            self.sc.setJobGroup(s.group, name)
        py4j0, ck0 = self.py4j_calls, self.checkpoints
        self._stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            s.py4j = self.py4j_calls - py4j0
            s.checkpoints = self.checkpoints - ck0
            with self._quiet():
                if parent is not None:
                    self.sc.setJobGroup(parent.group, parent.name)
                else:
                    self.sc._jsc.clearJobGroup()
            self.spans.append(s)

    @contextlib.contextmanager
    def op(self, op_id: int):
        """Root span of one unit op; resolves its spans' job counts."""
        self._op = op_id
        first = len(self.spans)
        try:
            with self.span("op"):
                yield
        finally:
            self._op = None
            with self._quiet():
                self._resolve_jobs(self.spans[first:])

    def _resolve_jobs(self, spans: list) -> None:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        for s in spans:
            for job in tracker.getJobIdsForGroup(s.group):
                info = tracker.getJobInfo(job)
                if info is None:
                    continue
                s.jobs += 1
                for stage in info.stageIds:
                    attempts = store.stageData(stage, False, None, False, None)
                    if attempts.size() == 0:
                        continue
                    data = attempts.apply(0)
                    if data.status().toString() != "COMPLETE":
                        continue  # skipped: its shuffle output was reused
                    s.stages += 1
                    s.tasks += data.numCompleteTasks()
                    s.shuffle_read += data.shuffleReadBytes()
                    s.shuffle_write += data.shuffleWriteBytes()

    def catalyst_phases(self, df) -> dict:
        """Catalyst phase times (ms) of a result plan already executed."""
        with self._quiet():
            phases = df._jdf.queryExecution().tracker().phases()
            out = {}
            it = phases.iterator()
            while it.hasNext():
                kv = it.next()
                out[kv._1()] = float(kv._2().durationMs())
        return out

    # ------------------------------------------------------------- results
    def self_ms(self) -> dict:
        """Per span name: total duration minus the time children cover."""
        children: dict = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict = {}
        for s in self.spans:
            covered = 0.0
            lo = s.start
            for c in sorted(children.get(s.sid, ()), key=lambda c: c.start):
                a, b = max(c.start, lo), c.end
                if b > a:
                    covered += b - a
                    lo = b
            out[s.name] = out.get(s.name, 0.0) + s.ms - covered * 1000.0
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({
                "spans": [s.as_dict() for s in self.spans],
                "self_ms": self.self_ms(),
            }, f)
