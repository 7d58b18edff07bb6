#!/usr/bin/env python3
"""CDC ingestion benchmark: one closed-loop client on the engine's public API.

Run from the repository root:

    python3 perfbench/run.py --workload trickle --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``; progress goes to standard error.
``--trace 1`` wraps the engine's layers (``spans.py``) and reports the
per-layer metrics instead of the end-to-end ones. ``perfbench/README.md``
documents the workloads and metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path
from typing import Any, Callable, Optional

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

# Each workload is a closed loop with one client. A cycle is one source
# tick, then one changed-source load, one poll that finds nothing and one
# current-rows read, each timed and verified.
WORKLOADS: dict[str, dict[str, Any]] = {
    # Control-plane-bound: 100k-row events with ~80 changed rows per tick,
    # so wall time is set by the ~30 Spark jobs, probes, commits and log
    # flush of a delta load (ROADMAP item 2), not by data volume.
    "trickle": dict(rows=100_000, updates=50, inserts=20, deletes=10,
                    recent=0, mode="batch", untimed_loads=0),
    # Micro-batches through foreach_batch_scd2 (simple_delta): 2k new rows
    # plus 500 late corrections of recent keys per batch. The only path
    # through merge_upsert's patch (merge-on-read) route on
    # latest_pk_version and the fold that follows it: "auto" merges patch
    # only from VersionedParquetTable.PATCH_MIN_TABLE_ROWS (1M) keys up,
    # hence the 1M-row table. The first batch after the full load still
    # takes the rewrite route, so it runs untimed.
    "stream": dict(rows=1_000_000, updates=500, inserts=2_000, deletes=0,
                   recent=20_000, mode="stream", untimed_loads=1),
}
WARMUP_ROWS = 2_000  # table size of the untimed warm-up run
SETUPS = 3  # timed set-up repetitions; setup_s is their median
MIN_CYCLES = 3
DELTA_COL = "rv"


def _median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


class JobCounter:
    """Spark jobs, stages and tasks started between two points.

    Jobs come from the DAG scheduler's job-id counter, so jobs run from
    engine pool threads or under any job group are all counted; stages and
    tasks from ``statusTracker`` for those job ids (works with the UI off)."""

    def __init__(self, spark):
        self._sched = spark.sparkContext._jsc.sc().dagScheduler()
        self._tracker = spark.sparkContext.statusTracker()

    def mark(self) -> int:
        return int(self._sched.nextJobId())

    def stages_tasks(self, first: int, end: int) -> tuple[int, int]:
        stages = tasks = 0
        for jid in range(first, end):
            job = self._tracker.getJobInfo(jid)
            if job is None:
                continue
            for sid in list(job.stageIds):
                stages += 1
                info = self._tracker.getStageInfo(sid)
                tasks += info.numTasks if info is not None else 0
        return stages, tasks


def _dir_files(root: Path) -> dict[str, int]:
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            out[p] = os.path.getsize(p)
    return out


def _cpu_steal() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot; (0, 0) without /proc."""
    try:
        with open("/proc/stat") as fh:
            ticks = [int(x) for x in fh.readline().split()[1:]]
        return ticks[7], sum(ticks)
    except (OSError, IndexError, ValueError):
        return 0, 0


class Bench:
    """One workload's closed loop: set-up, cycles, verified and timed ops."""

    def __init__(self, spark, workload: str, seed: int, work: Path, tracer=None,
                 rows: Optional[int] = None):
        from gen import SourceTable

        self.spark = spark
        self.workload = workload
        self.seed = seed
        self.cfg = dict(WORKLOADS[workload], **({"rows": rows} if rows else {}))
        self.work = work
        self.tracer = tracer
        self.jobs = JobCounter(spark)
        self.gen = SourceTable(self.cfg["rows"], seed)
        self.pk = self.gen.pk
        self.tick_no = 0
        self.attempted = 0
        self.failed = 0
        self.measuring = False
        self.cycles = 0
        self.samples: dict[str, list[float]] = {}
        self.job_counts: dict[str, list[int]] = {}
        self.layer: dict[str, list[float]] = {}  # traced-run per-op counts
        self.measured_ops: list[tuple[str, int]] = []
        self.spark_ops: list[dict[str, Any]] = []  # the scheduler layer, per traced op
        self.dest: Optional[Path] = None
        self.source_bytes = 0
        self.dest_ratio: Optional[float] = None

    # -- one verified op ---------------------------------------------------

    def op(self, kind: str, fn: Callable[[], Any], ok: Callable[[Any], bool]) -> Any:
        self.attempted += 1
        before = _dir_files(self.dest) if self.tracer and kind == "load" else None
        scope = self.tracer.op(kind) if self.tracer else contextlib.nullcontext()
        j0 = self.jobs.mark()
        t0 = time.perf_counter()
        try:
            with scope as root:
                out = fn()
        except Exception:
            self.failed += 1
            traceback.print_exc()
            return None
        dt = time.perf_counter() - t0
        j1 = self.jobs.mark()
        if not ok(out):
            self.failed += 1
            print(f"perfbench: {kind} op returned {out!r}, expected otherwise", file=sys.stderr)
            return out
        if self.measuring:
            self.samples.setdefault(kind, []).append(dt)
            self.job_counts.setdefault(kind, []).append(j1 - j0)
            if self.tracer:
                self.measured_ops.append((kind, root.op))
                stages, tasks = self.jobs.stages_tasks(j0, j1)
                self.spark_ops.append(
                    {"op": root.op, "kind": kind, "jobs": j1 - j0, "stages": stages, "tasks": tasks})
                self._count(f"{kind}.jobs", j1 - j0)
                self._count(f"{kind}.stages", stages)
                self._count(f"{kind}.tasks", tasks)
                if before is not None:
                    self._count_writes(before, _dir_files(self.dest))
        return out

    def _count(self, name: str, value: float) -> None:
        self.layer.setdefault(name, []).append(value)

    def _count_writes(self, before: dict[str, int], after: dict[str, int]) -> None:
        new = [p for p in after if p not in before]
        data = [p for p in new if p.endswith(".parquet")]
        self._count("load.commits", sum(1 for p in new if f"{os.sep}_commits{os.sep}" in p))
        self._count("load.files", len(data))
        self._count("load.bytes", sum(after[p] for p in data))

    # -- engine calls --------------------------------------------------------

    def _load(self, source):
        import odbc2deltalake_spark as engine

        cfg = engine.WriteConfig(delta_col=DELTA_COL, primary_keys=[self.pk])
        return engine.write_db_to_delta(self.spark, source, str(self.dest), cfg)

    def _apply(self, batch_df, batch_id: int):
        from odbc2deltalake_spark.streaming import driver

        return driver.foreach_batch_scd2(str(self.dest), [self.pk], DELTA_COL)(batch_df, batch_id)

    def _read_digest(self) -> tuple[int, int]:
        """Current rows, then count and order-independent hash, collected."""
        import odbc2deltalake_spark as engine
        from pyspark.sql import functions as F

        from gen import KEY_MUL, MOD

        rows = engine.read_current_rows(self.spark, str(self.dest), [self.pk], DELTA_COL)
        got = rows.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col(self.pk) * KEY_MUL + F.col(DELTA_COL)) % MOD).alias("h"),
        ).first()
        self._last_read = rows
        return int(got["n"]), int(got["h"] or 0)

    def _scan_ratio(self, rows) -> float:
        """History files the pruned current-rows scan reads ÷ all history files."""
        import odbc2deltalake_spark as engine

        hist_dir = str(self.dest / "delta") + os.sep
        scanned = [f for f in rows.inputFiles() if hist_dir in f]
        total = engine.DeltaDestination(str(self.dest)).delta.read(self.spark).inputFiles()
        return len(scanned) / max(1, len(total))

    def _write_source(self) -> str:
        """Write this tick's source file: the whole table, or on ``stream``
        after the first tick only the rows the tick touched."""
        path = str(self.work / f"src-{self.tick_no:05d}.parquet")
        if self.cfg["mode"] == "stream" and self.tick_no > 0:
            self.gen.write_batch(path)
        else:
            self.source_bytes = self.gen.write_snapshot(path)
        self._drop_old_source()
        return path

    def _open_source(self, path: str):
        """What the engine is given: a ``ParquetTableSource``, or on
        ``stream`` the micro-batch DataFrame."""
        import odbc2deltalake_spark as engine

        if self.cfg["mode"] == "stream":
            return self.spark.read.parquet(path)
        return engine.ParquetTableSource(path, primary_keys=[self.pk])

    def _drop_old_source(self) -> None:
        old = self.work / f"src-{self.tick_no - 2:05d}.parquet"
        if old.exists():
            old.unlink()

    # -- set-up and cycles ---------------------------------------------------

    def warm_up(self) -> None:
        """The workload at ``WARMUP_ROWS`` rows, untimed, in a directory of
        its own: a full load and one cycle run the code of every timed op
        while the JVM is cold (the first full load after JVM start takes
        several times as long as a warm one). Its ops are verified and
        counted."""
        work = self.work / "warmup"
        work.mkdir()
        warm = Bench(self.spark, self.workload, self.seed, work,
                     rows=min(WARMUP_ROWS, self.cfg["rows"]))
        warm.bootstrap(setups=1)
        warm.cycle()
        self.attempted += warm.attempted
        self.failed += warm.failed
        shutil.rmtree(work)

    def bootstrap(self, setups: int = SETUPS) -> None:
        """Initial full load of one source file into a fresh destination,
        timed and repeated ``setups`` times. The last destination is the
        one the cycles then load into (the first cycle's read verifies it)."""
        from odbc2deltalake_spark.plans.db_to_delta import FullLoadResult

        path = self._write_source()
        self.measuring = True
        for i in range(setups):
            if self.dest is not None:
                shutil.rmtree(self.dest)
            self.dest = self.work / f"dest-{i}"
            src = self._open_source(path)
            if self.cfg["mode"] == "stream":
                self.op("full", lambda: self._apply(src, 0), lambda r: r is None)
            else:
                self.op("full", lambda: self._load(src), lambda r: isinstance(r, FullLoadResult))
        self.measuring = False

    def cycle(self, load_only: bool = False) -> None:
        from odbc2deltalake_spark.plans.db_to_delta import DeltaLoadResult, NoLoadResult

        c = self.cfg
        self.gen.tick(c["updates"], c["inserts"], c["deletes"], recent=c["recent"])
        self.tick_no += 1
        want = self.gen.digest()
        src = self._open_source(self._write_source())
        # The no-op loads the same source again: on trickle a poll of the
        # unchanged snapshot, on stream Spark's at-least-once redelivery of
        # the batch. apply() returns None; the read below verifies both.
        if c["mode"] == "stream":
            load = lambda: self._apply(src, self.tick_no)
            ok_load = ok_noop = lambda r: r is None
        else:
            load = lambda: self._load(src)
            ok_load = lambda r: isinstance(r, DeltaLoadResult) and not r.dirty
            ok_noop = lambda r: isinstance(r, NoLoadResult)
        self.op("load", load, ok_load)
        if load_only:
            return
        self.op("noop", load, ok_noop)
        self.op("read", self._read_digest, lambda d: d == want)
        if self.tracer and self.measuring:
            # outside the op, so its planning does not count as read time
            self._count("read.history_scan_ratio", self._scan_ratio(self._last_read))
        if self.measuring:
            self.cycles += 1
            if self.cycles == MIN_CYCLES:
                self._record_dest_ratio()

    def _record_dest_ratio(self) -> None:
        """Destination bytes ÷ bytes of the last full source snapshot (on
        ``stream`` the initial batch), taken after a fixed number of cycles
        so it does not depend on how many fit the window."""
        self.dest_ratio = sum(_dir_files(self.dest).values()) / self.source_bytes

    def run(self, seconds: float) -> None:
        for _ in range(self.cfg["untimed_loads"]):
            self.cycle(load_only=True)
        self.measuring = True
        t0 = time.perf_counter()
        while self.cycles < MIN_CYCLES or time.perf_counter() - t0 < seconds:
            self.cycle()

    # -- results -------------------------------------------------------------

    def end_to_end(self) -> dict[str, tuple[float, str]]:
        s, j = self.samples, self.job_counts
        return {
            "setup_s": (_median(s.get("full", [])), "s"),
            "load_p50_s": (_median(s.get("load", [])), "s"),
            "noop_load_p50_s": (_median(s.get("noop", [])), "s"),
            "current_read_p50_s": (_median(s.get("read", [])), "s"),
            "load_jobs": (_median(j.get("load", [])), "jobs"),
            "noop_load_jobs": (_median(j.get("noop", [])), "jobs"),
            "dest_bytes_per_source_byte": (self.dest_ratio or 0.0, "ratio"),
        }


def _session(work: Path):
    """A local session sized for a small host; every file it writes stays
    under ``work``."""
    cpus = os.cpu_count() or 1
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(min(4, cpus)))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # no hsperfdata file: the JVM would write it under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = None
    from odbc2deltalake_spark import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
        },
    )


def parse_args(argv: Optional[list[str]] = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--rows", type=int, default=None,
                   help="override the workload's table size (smoke tests)")
    p.add_argument("--spans-out", default=None,
                   help="with --trace 1, write every span to this JSON file")
    return p.parse_args(argv)


def main(argv: Optional[list[str]] = None) -> int:
    args = parse_args(argv)
    if not (ROOT / "odbc2deltalake_spark" / "__init__.py").is_file():
        print(f"perfbench: engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    work.mkdir(parents=True, exist_ok=True)
    spark = None
    try:
        phases = {"start": time.perf_counter()}
        steal0 = _cpu_steal()
        spark = _session(work)
        phases["session"] = time.perf_counter()
        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer()
            tracer.install()
        bench = Bench(spark, args.workload, args.seed, work, tracer, rows=args.rows)
        bench.warm_up()
        phases["warm_up"] = time.perf_counter()
        bench.bootstrap()
        phases["set_up"] = time.perf_counter()
        bench.run(args.seconds)
        phases["measure"] = time.perf_counter()
        steal = [b - a for a, b in zip(steal0, _cpu_steal())]
        marks = list(phases.values())
        phase_s = {k: round(b - a, 2) for k, a, b in zip(list(phases)[1:], marks, marks[1:])}
        print(
            f"perfbench: {args.workload} seed={args.seed} phase_s={phase_s} "
            f"cycles={bench.cycles} loadavg={os.getloadavg()} "
            f"cpu_steal={steal[0] / max(1, steal[1]):.3f} "
            f"samples={ {k: [round(x, 3) for x in v] for k, v in bench.samples.items()} }",
            file=sys.stderr,
        )
        if tracer is not None:
            from layers import per_layer

            metrics = per_layer(bench, tracer)
            if args.spans_out:
                tracer.dump(args.spans_out,
                            {"measured_ops": bench.measured_ops, "spark": bench.spark_ops})
        else:
            metrics = bench.end_to_end()
        result = {
            "correct": bench.failed == 0,
            "attempted": bench.attempted,
            "failed": bench.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        if spark is not None:
            spark.stop()
            # stop the py4j gateway's JVM and wait until it has exited
            from pyspark import SparkContext

            gw = SparkContext._gateway
            if gw is not None:
                gw.shutdown()
                proc = getattr(gw, "proc", None)
                if proc is not None:
                    proc.stdin.close()  # the JVM exits when its stdin closes
                    try:
                        proc.wait(timeout=60)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            work.parent.rmdir()  # only when no other run is using it
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
