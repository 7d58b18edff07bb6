"""Destination layout, lease lock, and the structured load logger.

On-disk contract kept identical to the reference (SURVEY.md §7.1 #3) so its
tests and oracles translate one-to-one
(reference:odbc2deltalake/write_init.py:49-61):

    <dest>/delta                         SCD2 history table
    <dest>/delta_load/delta_1            naively-changed rows (this load)
    <dest>/delta_load/delta_2            "strange"-update rows (this load)
    <dest>/delta_load/primary_keys_ts    pre-load source key snapshot
    <dest>/delta_load/latest_pk_version  current-rows key index
    <dest>/meta/schema.json              column infos per load
    <dest>/meta/lock.txt                 1-hour lease lock
    <dest>/log                           structured load-run log table
"""

from __future__ import annotations

import datetime
import json
import os
import time
from dataclasses import asdict
from pathlib import Path
from typing import Optional

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from odbc2deltalake_spark.metadata import ColInfo
from odbc2deltalake_spark.session import SparkThreadPool
from odbc2deltalake_spark.tablestore import TableStore, VersionedParquetTable

LOCK_LEASE_SECONDS = 3600  # reference:odbc2deltalake/db_to_delta.py:221-228


class LockHeldError(Exception):
    pass


class DeltaDestination:
    """Destination layout: each table is a :class:`VersionedParquetTable`,
    used by the engine only through the :class:`TableStore` surface."""

    def __init__(self, root: str | Path):
        self.root = Path(root)

    # tables
    @property
    def delta(self) -> TableStore:
        return VersionedParquetTable(self.root / "delta")

    @property
    def delta_1(self) -> TableStore:
        return VersionedParquetTable(self.root / "delta_load" / "delta_1")

    @property
    def delta_2(self) -> TableStore:
        return VersionedParquetTable(self.root / "delta_load" / "delta_2")

    @property
    def primary_keys_ts(self) -> TableStore:
        return VersionedParquetTable(self.root / "delta_load" / "primary_keys_ts")

    @property
    def latest_pk_version(self) -> TableStore:
        return VersionedParquetTable(self.root / "delta_load" / "latest_pk_version")

    @property
    def log_table(self) -> TableStore:
        return VersionedParquetTable(self.root / "log")

    # meta
    def write_schema_json(self, cols: list[ColInfo]) -> None:
        """meta/schema.json (reference:odbc2deltalake/db_to_delta.py:187-200)."""
        meta = self.root / "meta"
        meta.mkdir(parents=True, exist_ok=True)
        payload = [
            {
                "column_name": c.column_name,
                "data_type": c.data_type.simpleString(),
                "data_type_str": c.data_type_str,
                "is_nullable": c.is_nullable,
                "column_default": c.column_default,
                "generated_always_type_desc": c.generated_always_type_desc,
                "is_identity": c.is_identity,
            }
            for c in cols
        ]
        (meta / "schema.json").write_text(json.dumps(payload, indent=4))

    # lock (reference:odbc2deltalake/db_to_delta.py:218-229)
    @property
    def lock_path(self) -> Path:
        return self.root / "meta" / "lock.txt"

    def acquire_lock(self) -> None:
        # O_CREAT|O_EXCL makes creation atomic: two concurrent loaders can
        # never both win (a check-then-create gap would let both proceed
        # and race on the side tables this lock protects)
        p = self.lock_path
        p.parent.mkdir(parents=True, exist_ok=True)
        for _ in range(2):  # second attempt after expiring a stale lease
            try:
                fd = os.open(p, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.close(fd)
                return
            except FileExistsError:
                try:
                    age = time.time() - p.stat().st_mtime
                except FileNotFoundError:
                    continue  # holder released between open and stat — retry
                if age <= LOCK_LEASE_SECONDS:
                    raise LockHeldError(
                        f"{p} held for {age:.0f}s (lease {LOCK_LEASE_SECONDS}s)"
                    )
                try:
                    p.unlink()  # stale (>1h) — expire the lease, then re-race
                except FileNotFoundError:
                    pass
        raise LockHeldError(f"{p}: lost the lock race twice")

    def release_lock(self) -> None:
        if self.lock_path.exists():
            self.lock_path.unlink()

    def maintain_side_tables(self, spark: SparkSession) -> dict[str, dict]:
        """Post-load maintenance window over the CDC side tables
        (reference:odbc2deltalake/db_to_delta.py:261-267 vacuums them
        unconditionally). Routed through ``auto_maintain`` so the
        patch/mask fold amortization, small-file compaction, and
        checkpoint cadence govern these tables with the same measured
        trade-offs as any other store table — the side tables are
        rewritten every load, exactly the churn profile the window is
        for. Returns {table: outcome} for the ops log.

        r14: the four side tables live in disjoint directories and their
        maintenance never crosses tables, so the per-table passes run
        from a small thread pool (guide §2.6) — post-load wall for the
        window drops to the slowest table instead of the sum."""

        def _one(name: str) -> Optional[dict]:
            t = getattr(self, name)
            return t.auto_maintain(spark, vacuum_now=True) if t.exists() else None

        names = ("latest_pk_version", "delta_1", "delta_2",
                 "primary_keys_ts")
        with SparkThreadPool(spark, 4) as pool:
            outcomes = list(pool.map(_one, names))
        return {n: o for n, o in zip(names, outcomes) if o is not None}


_LOG_SCHEMA = T.StructType(
    [
        T.StructField("date", T.TimestampType()),
        T.StructField("type", T.StringType()),
        T.StructField("message", T.StringType()),
        T.StructField("sql", T.StringType()),
        T.StructField("load", T.StringType()),
        T.StructField("sub_load", T.StringType()),
        T.StructField("error_trackback", T.StringType()),
        T.StructField("logger_name", T.StringType()),
    ]
)


class DeltaLogger:
    """Structured load-run log, appended to <dest>/log
    (reference:odbc2deltalake/delta_logger.py:13-43, flush batching :20-23)."""

    FLUSH_EVERY = 10

    def __init__(self, spark: SparkSession, dest: DeltaDestination, name: str = "load"):
        self.spark = spark
        self.dest = dest
        self.name = name
        self._buf: list[tuple] = []

    def _log(self, type_: str, message: str, **kw) -> None:
        self._buf.append(
            (
                datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None),
                type_,
                message,
                kw.get("sql"),
                kw.get("load"),
                kw.get("sub_load"),
                kw.get("error_trackback"),
                self.name,
            )
        )
        if len(self._buf) >= self.FLUSH_EVERY:
            self.flush()

    def info(self, message: str, **kw) -> None:
        self._log("info", message, **kw)

    def warning(self, message: str, **kw) -> None:
        self._log("warn", message, **kw)

    def error(self, message: str, **kw) -> None:
        self._log("error", message, **kw)

    def flush(self) -> None:
        if not self._buf:
            return
        # one slice, one task (r15, guide §1.2 per-task work): the default
        # createDataFrame slices ~8 log rows into defaultParallelism
        # partitions — a 32-task job on the load's critical path costing
        # ~0.9-1.0 s idle vs ~0.3 s for the same write in one slice
        from odbc2deltalake_spark.functions.localdf import one_slice_df

        df = one_slice_df(self.spark, self._buf, _LOG_SCHEMA)
        self.dest.log_table.write(df, mode="append")
        self._buf = []
