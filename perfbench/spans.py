"""Span tracer for the benchmark's traced run.

It wraps the public functions and methods of each engine layer from the
outside (no engine code changes). A span records its name, start, end,
parent, op id and thread. The parent is the innermost open span on the same
thread; a span opened on a thread with no open span (an engine pool thread,
which does not inherit the caller's context) attaches to the current op's
root span. Spans stay in memory until ``dump``.
"""

from __future__ import annotations

import collections
import functools
import json
import threading
import time
from contextlib import contextmanager
from typing import Any, Callable, Iterator, Optional


class Span:
    __slots__ = ("id", "name", "start", "end", "parent", "op", "thread")

    def __init__(self, sid: int, name: str, parent: Optional[int], op: int, thread: int):
        self.id = sid
        self.name = name
        self.start = time.perf_counter()
        self.end: Optional[float] = None
        self.parent = parent
        self.op = op
        self.thread = thread

    def as_dict(self) -> dict[str, Any]:
        return {s: getattr(self, s) for s in self.__slots__}


class Tracer:
    """Collects spans for ops; ``install`` wraps the engine's layers."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._op_root: Optional[Span] = None
        self._op_count = 0

    # -- recording -----------------------------------------------------

    def _open(self, name: str, parent: Optional[int], op: int) -> Span:
        with self._lock:
            span = Span(len(self.spans), name, parent, op, threading.get_ident())
            self.spans.append(span)
        return span

    @contextmanager
    def op(self, name: str) -> Iterator[Span]:
        """Root span of one benchmark op; spans opened meanwhile belong to it."""
        self._op_count += 1
        root = self._open(name, None, self._op_count)
        self._op_root = root
        self._local.stack = [root]
        try:
            yield root
        finally:
            root.end = time.perf_counter()
            self._op_root = None
            self._local.stack = []

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        root = self._op_root
        if stack:
            parent, op = stack[-1].id, stack[-1].op
        elif root is not None:
            parent, op = root.id, root.op
        else:
            parent, op = None, 0  # outside any op
        span = self._open(name, parent, op)
        stack.append(span)
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            stack.pop()

    def wrap(self, owner: Any, attr: str, name: str,
             result: Optional[Callable[[Any], Any]] = None) -> None:
        """Replace ``owner.attr`` with a version that runs inside a span.
        ``result`` may rewrap the return value (used for closures)."""
        orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with tracer.span(name):
                out = orig(*args, **kwargs)
            return result(out) if result is not None else out

        setattr(owner, attr, traced)

    def install(self) -> None:
        """Wrap every layer the benchmark reports on, for the rest of the
        process."""
        import odbc2deltalake_spark as pkg
        from odbc2deltalake_spark import plans, tablestore
        from odbc2deltalake_spark.plans import db_to_delta as d2d
        from odbc2deltalake_spark.plans import destination as dst
        from odbc2deltalake_spark.sources import base, dataframe, parquet
        from odbc2deltalake_spark.streaming import driver

        for fn in ("make_writer", "exec_write_db_to_delta", "do_full_load",
                   "do_delta_load", "read_current_rows"):
            self.wrap(d2d, fn, f"plans.{fn}")
        # write_db_to_delta is re-exported by value: wrap every binding once
        self.wrap(d2d, "write_db_to_delta", "plans.write_db_to_delta")
        for owner in (pkg, plans, driver):
            owner.write_db_to_delta = d2d.write_db_to_delta
        pkg.read_current_rows = d2d.read_current_rows

        for meth in ("acquire_lock", "release_lock", "write_schema_json",
                     "maintain_side_tables"):
            self.wrap(dst.DeltaDestination, meth, f"destination.{meth}")
        self.wrap(dst.DeltaLogger, "flush", "destination.log_flush")

        for cls in (base.Source, parquet.ParquetTableSource, dataframe.DataFrameSource):
            for meth in ("col_infos", "primary_keys", "default_delta_col", "read",
                         "read_where_gt", "read_where_ge", "read_keys",
                         "read_for_keys", "max_and_count"):
                if meth in cls.__dict__:
                    self.wrap(cls, meth, f"sources.{meth}")

        for cls in (tablestore.TableStore, tablestore.VersionedParquetTable):
            for meth in ("write", "write_counted", "write_counted_minmax",
                         "write_empty", "read", "merge_upsert", "fold_patches",
                         "count_rows", "version", "schema", "exists",
                         "auto_maintain", "vacuum", "delete_table", "restore"):
                if meth in cls.__dict__ and not getattr(cls.__dict__[meth],
                                                        "__isabstractmethod__", False):
                    self.wrap(cls, meth, f"tablestore.{meth}")

        def traced_apply(apply: Callable) -> Callable:
            @functools.wraps(apply)
            def run(batch_df, batch_id):
                with self.span("streaming.apply"):
                    return apply(batch_df, batch_id)
            return run

        self.wrap(driver, "foreach_batch_scd2", "streaming.foreach_batch_scd2",
                  result=traced_apply)

    # -- analysis ------------------------------------------------------

    def self_times(self, op: int) -> dict[int, float]:
        """Exclusive time of each span of ``op``, by span id.

        A sweep over the op's interval gives each instant to the open spans
        with no open child ("leaves"). When a leaf on an engine pool thread
        is open, the op thread's leaves are waiting on it and get nothing;
        concurrent leaves split the instant equally. The self times of an
        op therefore sum to its wall time."""
        spans = [s for s in self.spans if s.op == op and s.end is not None]
        if not spans:
            return {}
        root = min(spans, key=lambda s: s.id)
        events = sorted([(s.start, 1, s.id) for s in spans]
                        + [(s.end, 0, s.id) for s in spans])
        by_id = {s.id: s for s in spans}
        open_children: collections.Counter = collections.Counter()
        open_ids: set[int] = set()
        out = {s.id: 0.0 for s in spans}
        prev = events[0][0]
        for t, is_start, sid in events:
            if t > prev and open_ids:
                leaves = [i for i in open_ids if open_children[i] == 0]
                pooled = [i for i in leaves if by_id[i].thread != root.thread]
                share = pooled or leaves
                for i in share:
                    out[i] += (t - prev) / len(share)
            prev = t
            parent = by_id[sid].parent
            if is_start:
                open_ids.add(sid)
                if parent in open_ids:
                    open_children[parent] += 1
            else:
                open_ids.discard(sid)
                if parent in open_ids:
                    open_children[parent] -= 1
        return out

    def dump(self, path: str, extra: Optional[dict] = None) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": [s.as_dict() for s in self.spans], **(extra or {})}, fh)
