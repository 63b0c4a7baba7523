"""Span tracing from outside the package.

``Tracer.install`` swaps public functions of the framework layers for
wrappers that record one span per call: (name, start, end, parent, op id,
bytes written). Spans are recorded only while an op is open, so set-up and
correctness checks stay out of the trace. ``uninstall`` puts the original
functions back, so untraced ops run the unmodified code.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from collections import defaultdict

from artigraph_spark import io
from artigraph_spark.executors import LocalSparkExecutor
from artigraph_spark.graphs import Graph
from artigraph_spark.storage import LocalFile, StoragePartition

BACKEND_METHODS = (
    "write_snapshot",
    "write_artifact_partitions",
    "read_artifact_partitions",
    "link_snapshot_partitions",
    "read_snapshot_partitions",
)
_MISSING = object()


def process_wchar() -> int:
    """Bytes this process has passed to write() so far (/proc/self/io)."""
    with open("/proc/self/io") as f:
        for line in f:
            if line.startswith("wchar:"):
                return int(line.split()[1])
    return 0


class Tracer:
    def __init__(self) -> None:
        # [name, start, end, parent index, op id, bytes written]
        self.spans: list[list] = []
        self._stack: list[int] = []
        self._op: int | None = None
        self._patches: list[tuple[object, str, object]] = []

    # -- recording ----------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, *, count_bytes: bool = False):
        if self._op is None:
            yield
            return
        idx = len(self.spans)
        rec = [name, time.perf_counter(), 0.0, self._stack[-1] if self._stack else None, self._op, 0]
        self.spans.append(rec)
        self._stack.append(idx)
        w0 = process_wchar() if count_bytes else 0
        try:
            yield
        finally:
            if count_bytes:
                rec[5] = process_wchar() - w0
            rec[2] = time.perf_counter()
            self._stack.pop()

    @contextlib.contextmanager
    def op(self, op_id: int, name: str):
        self._op = op_id
        try:
            with self.span(name):
                yield
        finally:
            self._op = None

    def _wrap(self, name: str, fn, count_bytes: bool):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name, count_bytes=count_bytes):
                return fn(*args, **kwargs)

        return wrapper

    # -- patching -----------------------------------------------------------

    def _patch(self, owner, attr: str, name: str, *, count_bytes: bool = False) -> None:
        own = owner.__dict__.get(attr, _MISSING)
        raw = own if own is not _MISSING else next(
            c.__dict__[attr] for c in owner.__mro__ if attr in c.__dict__
        )
        if isinstance(raw, classmethod):
            new = classmethod(self._wrap(name, raw.__func__, count_bytes))
        else:
            new = self._wrap(name, raw, count_bytes)
        self._patches.append((owner, attr, own))
        setattr(owner, attr, new)

    def install(self, backend_cls=None, producer_classes=()) -> None:
        """Wrap the public entry points of every framework layer."""
        if backend_cls is not None:
            for m in BACKEND_METHODS:
                self._patch(backend_cls, m, f"backends.{m}", count_bytes=True)
        self._patch(io, "read", "io.read")
        self._patch(io, "write", "io.write")
        self._patch(LocalFile, "discover_partitions", "storage.discover")
        self._patch(StoragePartition, "compute_content_fingerprint", "storage.content_fp")
        self._patch(Graph, "snapshot", "graphs.snapshot")
        self._patch(LocalSparkExecutor, "build", "executors.build")
        for cls in producer_classes:
            self._patch(cls, "map", "producers.map")
            self._patch(cls, "compute_input_fingerprint", "producers.input_fp")
            self._patch(cls, "build", "producers.body")

    def uninstall(self) -> None:
        for owner, attr, own in reversed(self._patches):
            if own is _MISSING:
                delattr(owner, attr)
            else:
                setattr(owner, attr, own)
        self._patches.clear()

    # -- reduction ----------------------------------------------------------

    def _self_seconds(self) -> list[float]:
        """Each span's duration minus the part its direct children cover."""
        out = [end - start for _name, start, end, _parent, _op, _b in self.spans]
        for _name, start, end, parent, _op, _b in self.spans:
            if parent is not None:
                out[parent] -= end - start
        return out

    def totals(self) -> dict[str, list[float]]:
        """name -> [calls, inclusive seconds, self seconds, bytes written]."""
        out: dict[str, list[float]] = defaultdict(lambda: [0, 0.0, 0.0, 0])
        for (name, start, end, _parent, _op, nbytes), self_s in zip(self.spans, self._self_seconds()):
            t = out[name]
            t[0] += 1
            t[1] += end - start
            t[2] += self_s
            t[3] += nbytes
        return out

    def layer_tables(self) -> dict[str, list[tuple[str, float, float]]]:
        """op kind -> [(layer, self seconds, share of the ops' time)], largest
        first. Root spans are the ops; their self time is the code between
        the wrapped calls."""
        kind_of = {op: name.split(".", 1)[1] for name, _s, _e, parent, op, _b in self.spans if parent is None}
        op_time: dict[str, float] = defaultdict(float)
        layers: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for (name, start, end, parent, op, _b), self_s in zip(self.spans, self._self_seconds()):
            kind = kind_of[op]
            if parent is None:
                op_time[kind] += end - start
            layers[kind]["(between calls)" if parent is None else name.split(".", 1)[0]] += self_s
        return {
            kind: sorted(((layer, t, t / op_time[kind]) for layer, t in rows.items()), key=lambda r: -r[1])
            for kind, rows in layers.items()
        }

    def dump(self, path: str) -> None:
        keys = ("name", "start", "end", "parent", "op", "bytes_written")
        with open(path, "w") as f:
            for span in self.spans:
                f.write(json.dumps(dict(zip(keys, span))) + "\n")
