"""Per-layer metrics of a traced run, computed from its spans and counts.

Times are self times (``Tracer.self_times``) summed over the measured ops
and divided by the number of measured cycles (one changed load, the
no-op poll and one current-rows read). Counts named ``*_per_load`` or
``*_per_read`` are medians over the measured ops of that kind. A layer the
workload never reaches reads 0.
"""

from __future__ import annotations

import collections
import json
import statistics
import time
import types
from pathlib import Path

# name -> unit, in the order BENCHMARK.json lists the per-layer metrics
PER_LAYER = {m["name"]: m["unit"] for m in json.loads(
    (Path(__file__).resolve().parents[1] / "BENCHMARK.json").read_text())["per_layer"]}

# per-cycle self time of these span names
_SELF = {
    "plans.make_writer_s": ("plans.make_writer",),
    "plans.do_delta_load_s": ("plans.do_delta_load",),
    "destination.maintain_side_tables_s": ("destination.maintain_side_tables",),
    "destination.log_flush_s": ("destination.log_flush",),
    "destination.lock_s": ("destination.acquire_lock", "destination.release_lock"),
    "sources.max_and_count_s": ("sources.max_and_count",),
    "sources.col_infos_s": ("sources.col_infos",),
}
_SELF.update({
    f"tablestore.{m}_s": (f"tablestore.{m}",)
    for m in ("write", "write_counted", "write_counted_minmax", "write_empty", "read",
              "merge_upsert", "fold_patches", "count_rows", "version", "schema", "exists",
              "auto_maintain", "vacuum")
})

_LOADS = ("plans.do_delta_load", "plans.do_full_load")


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _duration(span) -> float:
    return span.end - span.start


def span_cost(n: int = 20_000) -> float:
    """Seconds one wrapped call adds: a traced no-op minus a plain one."""
    from spans import Tracer

    tracer = Tracer()
    holder = types.SimpleNamespace(f=lambda: None)
    plain = holder.f
    t0 = time.perf_counter()
    for _ in range(n):
        plain()
    base = time.perf_counter() - t0
    tracer.wrap(holder, "f", "calibrate")
    traced = holder.f
    with tracer.op("calibrate"):
        t0 = time.perf_counter()
        for _ in range(n):
            traced()
        cost = time.perf_counter() - t0
    return max(0.0, cost - base) / n


def per_layer(bench, tracer) -> dict[str, tuple[float, str]]:
    """Every metric of ``PER_LAYER`` for a finished traced ``bench`` run."""
    cycles = max(1, bench.cycles)
    ops = collections.defaultdict(list)  # kind -> op ids
    for kind, op in bench.measured_ops:
        ops[kind].append(op)
    by_op = collections.defaultdict(list)
    for s in tracer.spans:
        if s.end is not None:
            by_op[s.op].append(s)

    self_total: collections.Counter = collections.Counter()
    calls: collections.Counter = collections.Counter()
    lifecycle = apply_overhead = 0.0
    reads = 0  # outermost sources.read* calls of the changed loads
    for kind in ("load", "noop", "read"):
        for op in ops[kind]:
            selfs = tracer.self_times(op)
            spans = {s.id: s for s in by_op[op]}
            for sid, t in selfs.items():
                self_total[spans[sid].name] += t
            for s in spans.values():
                parent = spans.get(s.parent)
                calls[(kind, s.name)] += 1
                if kind == "load" and s.name.startswith("sources.read") and not (
                        parent is not None and parent.name.startswith("sources.")):
                    # a read* made by another Source method (the derived reads
                    # and max_and_count all call read) is not a read of its own
                    reads += 1
                if s.name == "plans.write_db_to_delta":
                    lifecycle += _duration(s)
                elif s.name in _LOADS and parent is not None and parent.name not in _LOADS:
                    # the outermost do_* runs inside write_db_to_delta
                    lifecycle -= _duration(s)
                if s.name == "streaming.apply":
                    apply_overhead += _duration(s)
                elif s.name == "plans.write_db_to_delta" and parent is not None \
                        and parent.name == "streaming.apply":
                    apply_overhead -= _duration(s)

    full_self = []
    for op in ops["full"]:
        selfs = tracer.self_times(op)
        names = {s.id: s.name for s in by_op[op]}
        full_self.append(sum(t for sid, t in selfs.items()
                             if names[sid] == "plans.do_full_load"))

    n_loads = max(1, len(ops["load"]))
    layer = bench.layer
    out = {name: sum(self_total[n] for n in names) / cycles for name, names in _SELF.items()}
    out.update({
        "plans.do_full_load_s": _median(full_self),
        "plans.lifecycle_s": lifecycle / cycles,
        "destination.log_flushes": sum(n for (_, name), n in calls.items()
                                       if name == "destination.log_flush") / cycles,
        "sources.read_calls": reads / n_loads,
        "tablestore.commits_per_load": _median(layer.get("load.commits", [])),
        "tablestore.bytes_written_per_load": _median(layer.get("load.bytes", [])),
        "tablestore.files_written_per_load": _median(layer.get("load.files", [])),
        "tablestore.history_scan_ratio": _median(layer.get("read.history_scan_ratio", [])),
        "streaming.apply_overhead_s": apply_overhead / cycles,
        "spark.jobs_per_load": _median(layer.get("load.jobs", [])),
        "spark.stages_per_load": _median(layer.get("load.stages", [])),
        "spark.tasks_per_load": _median(layer.get("load.tasks", [])),
        "spark.jobs_per_read": _median(layer.get("read.jobs", [])),
        "trace.load_p50_s": _median(bench.samples.get("load", [])),
        "trace.spans_per_load": _median(len(by_op[op]) for op in ops["load"]),
    })
    out["trace.overhead_per_load_s"] = out["trace.spans_per_load"] * span_cost()
    return {name: (float(out[name]), unit) for name, unit in PER_LAYER.items()}
