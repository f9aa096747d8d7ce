"""In-memory span tracing around the program's public callables.

Spans are recorded only from the benchmark's side: :func:`install` wraps
public functions and methods of ``jsi_spark`` modules in place (module
and class attributes), so nothing inside the package changes. Each span
keeps name, start, end, parent span and op id; parent linkage follows a
``contextvars`` variable, which :meth:`Tracer.propagate_to_threads`
carries into ``ThreadPoolExecutor`` workers (``incremental`` submits its
four stage appends concurrently).

Spark executes lazily: a builder call (``valid_column``, ``partition_
verdicts``...) only builds a plan, and the job runs inside the table
write that consumes it. Job time therefore lands on the write spans.
"""

from __future__ import annotations

import contextlib
import contextvars
import functools
import itertools
import json
import os
import sys
import threading
import time
from collections import defaultdict
from dataclasses import asdict, dataclass, field

from metrics import self_time, union_length

_CURRENT = contextvars.ContextVar("perfbench_span", default=None)
_OP = contextvars.ContextVar("perfbench_op", default=None)


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float
    op: str | None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self):
        self.enabled = False
        self.spans: list[Span] = []
        self.counts: dict = defaultdict(float)   # (op, name) -> total
        self._ids = itertools.count(1)
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        parent = _CURRENT.get()
        token = _CURRENT.set(sid)
        t0 = time.perf_counter()
        try:
            yield sid
        finally:
            t1 = time.perf_counter()
            _CURRENT.reset(token)
            with self._lock:
                self.spans.append(Span(sid, parent, name, t0, t1,
                                       _OP.get(), attrs))

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            with self._lock:
                self.counts[(_OP.get(), name)] += n

    @contextlib.contextmanager
    def op(self, op_id: str):
        token = _OP.set(op_id)
        try:
            yield
        finally:
            _OP.reset(token)

    @contextlib.contextmanager
    def propagate_to_threads(self):
        """Run every ``ThreadPoolExecutor.submit``-ted callable inside a
        copy of the submitter's context, so spans opened in pool threads
        keep their parent and op id."""
        from concurrent.futures import ThreadPoolExecutor

        orig = ThreadPoolExecutor.submit

        def submit(pool, fn, /, *args, **kwargs):
            return orig(pool, contextvars.copy_context().run, fn,
                        *args, **kwargs)

        ThreadPoolExecutor.submit = submit
        try:
            yield
        finally:
            ThreadPoolExecutor.submit = orig

    def op_spans(self, op_ids) -> list[Span]:
        ops = set(op_ids)
        return [s for s in self.spans if s.op in ops]

    def op_count(self, op_ids, name: str) -> float:
        ops = set(op_ids)
        return sum(v for (op, n), v in self.counts.items()
                   if n == name and op in ops)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(asdict(s)) + "\n")


def children_of(spans) -> dict:
    kids = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    return kids


def layer_table(spans) -> list[dict]:
    """Per span name: calls, busy (sum of durations), wall (union of
    its intervals; below busy when calls overlap) and self time (each
    span minus the union of its children)."""
    kids = children_of(spans)
    rows: dict[str, dict] = {}
    for s in spans:
        r = rows.setdefault(s.name, {"layer": s.name, "calls": 0,
                                     "busy_s": 0.0, "self_s": 0.0,
                                     "_iv": []})
        r["calls"] += 1
        r["busy_s"] += s.duration
        r["self_s"] += self_time(s.start, s.end,
                                 [(c.start, c.end) for c in kids[s.id]])
        r["_iv"].append((s.start, s.end))
    out = []
    for r in rows.values():
        r["wall_s"] = union_length(r.pop("_iv"))
        out.append(r)
    return sorted(out, key=lambda r: -r["busy_s"])


# -- wrapping the program -----------------------------------------------------


def dir_usage(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``, without checksum files and
    ``_SUCCESS`` markers."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue  # checksum / _SUCCESS markers
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def _table_attrs(table, *args, **kwargs) -> dict:
    meta = kwargs.get("meta")
    if meta is None:
        meta = next((a for a in args if isinstance(a, dict)), None)
    attrs = {"table": os.path.basename(table.dir)}
    if meta and "stage" in meta:
        attrs["stage"] = meta["stage"]
    return attrs


def schema_node_count(compiled) -> int:
    """Distinct compiled schema nodes reachable from the root through
    the compiled keyword values."""
    from jsi_spark.compile.compiler import SchemaNode

    seen: set[int] = set()
    stack = [compiled.root]
    while stack:
        v = stack.pop()
        if isinstance(v, SchemaNode):
            if id(v) in seen:
                continue
            seen.add(id(v))
            stack.extend(v.kw.values())
        elif isinstance(v, dict):
            stack.extend(v.values())
        elif isinstance(v, (list, tuple)):
            stack.extend(v)
    return len(seen)


def install(tracer: Tracer) -> None:
    """Wrap the program's public callables with spans. The wrappers pass
    straight through while ``tracer.enabled`` is False."""
    from jsi_spark.compile import compiler
    from jsi_spark.exec.columnar import TypedValidator
    from jsi_spark.incremental import IncrementalValidator
    from jsi_spark.io.checkpoint import RunState
    from jsi_spark.io.tableio import SnapshotTable
    from jsi_spark.pipeline import ValidationPipeline

    def wrap(owner, attr, name, attrs=None, before=None, after=None):
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            if not tracer.enabled:
                return orig(*a, **kw)
            with tracer.span(name, **(attrs(*a, **kw) if attrs else {})):
                if before:
                    before(*a, **kw)
                out = orig(*a, **kw)
            if after:
                after(out, *a, **kw)
            return out

        # a function imported by name elsewhere (``from x import f``) is
        # bound in several module namespaces: rebind every one of them
        owners = [owner]
        if isinstance(owner, type(sys)):
            owners = [m for n, m in list(sys.modules.items())
                      if n.startswith("jsi_spark") and m is not None
                      and getattr(m, attr, None) is orig]
        for o in owners:
            setattr(o, attr, wrapper)

    wrap(compiler, "compile_schema", "compile.compile_schema",
         after=lambda out, *a, **k: tracer.count(
             "compile.schema_nodes", schema_node_count(out)))
    wrap(TypedValidator, "__init__", "exec.columnar.init")
    wrap(TypedValidator, "valid_column", "exec.columnar.build",
         attrs=lambda self: {"column": "valid"})
    wrap(TypedValidator, "violations_column", "exec.columnar.build",
         attrs=lambda self: {"column": "violations"})
    wrap(ValidationPipeline, "run", "pipeline.run")
    wrap(ValidationPipeline, "drift_metrics", "pipeline.drift_metrics")

    def force_plan(table, df, *a, **k):
        # driver-side analyse + optimise + physical planning, forced
        # before the write so it is timed apart from execution
        with tracer.span("spark.plan", table=os.path.basename(table.dir)):
            df._jdf.queryExecution().executedPlan()

    def count_written(batch, table, *a, **k):
        files, size = dir_usage(os.path.join(table.dir, batch))
        tracer.count("io.tableio.files_written", files)
        tracer.count("io.tableio.bytes_written", size)

    wrap(SnapshotTable, "stage_batch", "io.tableio.stage_batch",
         attrs=_table_attrs, before=force_plan, after=count_written)
    wrap(SnapshotTable, "commit", "io.tableio.commit", attrs=_table_attrs)
    wrap(SnapshotTable, "append", "io.tableio.append", attrs=_table_attrs)
    wrap(SnapshotTable, "read", "io.tableio.read", attrs=_table_attrs)
    wrap(SnapshotTable, "manifest", "io.tableio.manifest",
         attrs=_table_attrs,
         after=lambda out, *a, **k: tracer.count(
             "io.tableio.manifest_reads"))
    wrap(RunState, "commit_parts", "io.checkpoint.commit")
    wrap(IncrementalValidator, "run_once", "incremental.run_once")
    wrap(IncrementalValidator, "pending", "incremental.pending")
    wrap(IncrementalValidator, "cross_snapshot_dups",
         "incremental.cross_snapshot_dups")
