"""Versioned Parquet table store — the engine's Delta-Lake stand-in.

delta-spark is not available in this environment, so the engine ships its
own minimal transactional table layer with the Delta features the reference
relies on (reference:odbc2deltalake/reader/reader.py:13-32 ``DeltaOps``):

- append / overwrite writes with schema evolution ("new_only" union)
- version history + time travel (``versionAsOf``)
- ``restore(version)`` (reference uses Delta RESTORE on failure,
  reference:odbc2deltalake/db_to_delta.py:269-276)
- table properties
- MERGE upsert on key equality
  (reference:odbc2deltalake/reader/spark_reader.py:329-350) — hash-bucketed
  so a merge rewrites only the buckets containing changed keys
- vacuum of unreferenced files

Layout::

    <root>/_commits/<version 10d>.json   -- commit log (atomic create)
    <root>/d<version>-<uuid>/part-*.parquet  -- one data dir per write
    <root>/d<version>-<uuid>/__bucket=<i>/   -- per-bucket subdirs (merged tables)

A read at version v replays the log: an ``overwrite`` commit resets the
live-dir set, an ``append`` adds to it, a ``merge`` replaces only the dirs
of the buckets it touched. Reads group live dirs by their written schema
(one scan per schema generation, casts unioned) so type widening on append
works without rewriting history.

Scale note: this mirrors Delta's design — metadata lists files, reads scan
only live files, and Spark still gets parquet predicate pushdown + column
pruning per scan. The data plane is whatever Spark's Hadoop FS supports;
the metadata plane (commit log) goes through a pluggable
:class:`StorageBackend` (local filesystem here; an object-store
implementation maps the atomic-create to a conditional PUT — the same
split as reference:odbc2deltalake/destination/destination.py:11-53 with
its local/Azure implementations).
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import uuid
from abc import ABC, abstractmethod
from pathlib import Path
from typing import Any, Iterable, Iterator, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from odbc2deltalake_spark.parquet_footers import ColStats, footer_col_stats


class TableNotFoundError(Exception):
    pass


class UnsupportedReaderVersionError(RuntimeError):
    """The log contains a commit demanding a newer reader
    (``min_reader_version`` > this engine's READER_VERSION) — the Delta
    protocol-versioning rule: a reader that cannot understand a
    feature's invariants must refuse the whole table, not skip the
    commit (skipping would materialize a state the writer explicitly
    marked unreadable for this generation)."""


class CommitConflictError(Exception):
    """Another writer committed the same version first AND the two
    commits do not provably commute. Blind appends and disjoint
    metadata-only commits never surface this — the loser auto-rebases
    onto the new head (bounded retries, the Delta/reference behavior:
    Delta retries commuting commits inside ``commit()``; the reference
    holds a 1 h lease, reference:odbc2deltalake/db_to_delta.py:218-229).
    Everything else (overwrite/restore/merge/mask/patch interleavings,
    schema changes, constraint additions, same-txn or identity-assigning
    races) refuses — the losing writer's data dir is orphaned (reclaimed
    by vacuum); retry by recomputing from the refreshed log — same
    contract as Delta Lake's ConcurrentModificationException family.
    Conflict matrix: docs/commit-format.md §concurrency."""


class ChangeFeedTruncatedError(ValueError):
    """A change-feed read selected a commit whose data dir was already
    vacuumed: the consumer's cursor predates the retention window, so the
    delta between cursor and head no longer exists on storage. Without
    this check the read plans fine (commit JSONs outlive their data) and
    dies mid-execution with an executor FileNotFound — opaque and
    possibly AFTER the consumer produced partial effects. Raised at plan
    time instead, naming the missing version and dir, so the
    consumer can re-baseline from a snapshot read — the same recovery
    Delta CDF prescribes when `delta.logRetentionDuration` outlives
    `deletedFileRetentionDuration`. Subclasses ValueError so re-baseline
    handlers written for the rewrite case (overwrite/merge in range)
    recover from truncation identically."""


class TruncatedLogError(RuntimeError):
    """State resolution needed commits that ``truncate_log`` removed and
    no readable checkpoint covers the missing prefix. Distinct from
    :class:`ChangeFeedTruncatedError` (a ValueError that MV re-baseline
    handlers deliberately catch): re-baselining cannot recover here —
    the base state itself is unreconstructible — so this must NOT be
    swallowed by those handlers. Raised instead of silently replaying
    from the oldest surviving commit, which would produce incomplete
    state that ``checkpoint(full=True)`` would then persist and vacuum
    would act on (deleting live data dirs)."""


class ConstraintViolationError(Exception):
    """A write/update would land rows that violate a table CHECK
    constraint (Delta's ``ALTER TABLE ADD CONSTRAINT`` enforcement).
    The offending data dir is removed un-committed (vacuum backstops a
    failed removal), so the table state never contains the bad rows.
    SQL CHECK semantics: a row violates only when the predicate is
    FALSE — NULL passes."""


class SchemaDriftError(Exception):
    """Incompatible source schema change (e.g. string→binary,
    timestamp→int). Widening changes flow through; incompatible ones must
    fail the load rather than corrupt history — matches the reference,
    which raises on a col→xml change while int→long continues
    (reference:tests/test_11_schema_drift.py:71-102)."""


# ------------------------------------------------------------------------
# storage backend (metadata plane)
# ------------------------------------------------------------------------


class StorageBackend(ABC):
    """Commit-log I/O for :class:`VersionedParquetTable`.

    Only the metadata plane goes through this interface — parquet data is
    written/read by Spark through Hadoop FS, which already speaks s3a/abfss/
    gs URIs. An object-store backend therefore only needs small-file ops;
    ``write_text_exclusive`` is the *atomic create-if-absent* primitive
    (local: hard-link from a fully-written temp file; S3: conditional PUT
    with ``If-None-Match: *``; ABFS/GCS: etag-conditional create) — that
    single primitive makes commits linearizable, exactly the trick Delta
    Lake's LogStore uses: two writers racing on version N+1 produce exactly
    one winner, the loser gets :class:`CommitConflictError`.
    (Shape mirrors reference:odbc2deltalake/destination/destination.py:11-53,
    with local + Azure implementations behind one interface.)
    """

    sep = "/"

    def join(self, *parts: str) -> str:
        return self.sep.join(str(p).rstrip(self.sep) for p in parts)

    @abstractmethod
    def list_dir(self, path: str) -> list[str]:
        """Child names (not paths) of a directory; [] when absent."""

    @abstractmethod
    def read_text(self, path: str) -> str: ...

    @abstractmethod
    def write_text_atomic(self, path: str, text: str) -> None:
        """Write with all-or-nothing visibility (readers never observe a
        partial file); silently replaces an existing file. Creates parent
        dirs as needed. NOT safe for commit files — use
        :meth:`write_text_exclusive` there."""

    @abstractmethod
    def write_text_exclusive(self, path: str, text: str) -> None:
        """Atomic create-if-absent with all-or-nothing content visibility.
        Raises :class:`CommitConflictError` if ``path`` already exists —
        the linearization point for the commit log."""

    @abstractmethod
    def exists(self, path: str) -> bool: ...

    @abstractmethod
    def remove_recursive(self, path: str) -> None: ...

    def mtime(self, path: str) -> Optional[float]:
        """Last-modified epoch seconds, or None when the store cannot
        say. ``vacuum`` uses this as the orphan-age floor; None is
        treated as "too young to reclaim" (never delete what you cannot
        date)."""
        return None

    def du(self, path: str) -> Optional[int]:
        """Total bytes under ``path``, or None when the store cannot
        say. ``compact`` sizes its output file count from this; None
        falls back to the caller-supplied partition count."""
        return None


class LocalStorageBackend(StorageBackend):
    """POSIX filesystem metadata plane: atomicity via same-dir rename."""

    def list_dir(self, path: str) -> list[str]:
        p = Path(path)
        if not p.exists():
            return []
        return [c.name for c in p.iterdir()]

    def read_text(self, path: str) -> str:
        return Path(path).read_text()

    def write_text_atomic(self, path: str, text: str) -> None:
        p = Path(path)
        p.parent.mkdir(parents=True, exist_ok=True)
        tmp = p.parent / f".{p.name}.tmp{uuid.uuid4().hex[:8]}"
        tmp.write_text(text)
        os.rename(tmp, p)

    def write_text_exclusive(self, path: str, text: str) -> None:
        # hard-link from a fully-written temp file: link(2) fails with
        # EEXIST if the target exists (the atomic create-if-absent), and
        # the content is complete before the name appears (no torn reads —
        # plain O_CREAT|O_EXCL + write would expose a partial file)
        p = Path(path)
        p.parent.mkdir(parents=True, exist_ok=True)
        tmp = p.parent / f".{p.name}.tmp{uuid.uuid4().hex[:8]}"
        tmp.write_text(text)
        try:
            os.link(tmp, p)
        except FileExistsError:
            raise CommitConflictError(path) from None
        finally:
            tmp.unlink(missing_ok=True)

    def exists(self, path: str) -> bool:
        return Path(path).exists()

    def remove_recursive(self, path: str) -> None:
        p = Path(path)
        if p.is_dir():
            shutil.rmtree(p)
        elif p.exists():
            p.unlink()

    def mtime(self, path: str) -> Optional[float]:
        try:
            return Path(path).stat().st_mtime
        except OSError:
            return None

    def du(self, path: str) -> Optional[int]:
        p = Path(path)
        if not p.exists():
            return 0
        return sum(f.stat().st_size for f in p.rglob("*") if f.is_file())


class FsspecStorageBackend(StorageBackend):
    """Object-store metadata plane via an fsspec filesystem (adlfs for
    abfss://, s3fs for s3://, gcsfs for gs://) — import-gated; the
    container for this build has no object-store driver, so this class is
    exercised only through the interface tests with a memory filesystem.

    Atomicity: ``write_text_exclusive`` tries fsspec's exclusive-create
    mode (``"x"``), which maps to the store's native conditional create
    where the driver supports it (S3 ``If-None-Match: *`` in s3fs >= 2024.6,
    local/memory O_EXCL semantics). Drivers that reject ``"x"`` fall back
    to a check-then-put, which is NOT linearizable — deployments on such
    stores must keep the table-level lease lock (plans/destination.py)
    enabled; the fallback is recorded on the instance as
    ``exclusive_is_native = False`` so callers can refuse to run lockless.
    """

    def __init__(self, fs: Any, allow_nonatomic: bool = False):
        # fs: fsspec.AbstractFileSystem
        self.fs = fs
        self.exclusive_is_native: Optional[bool] = None  # unknown until first use
        # opt-in to the non-linearizable check-then-put fallback on stores
        # without exclusive create; without it the first degraded write
        # raises instead of silently weakening the commit protocol
        self.allow_nonatomic = allow_nonatomic
        self._warned_nonatomic = False

    def list_dir(self, path: str) -> list[str]:
        if not self.fs.exists(path):
            return []
        return [p.rstrip("/").rsplit("/", 1)[-1] for p in self.fs.ls(path, detail=False)]

    def read_text(self, path: str) -> str:
        with self.fs.open(path, "r") as fh:
            return fh.read()

    def write_text_atomic(self, path: str, text: str) -> None:
        # single-request PUT: readers see the old object or the new one,
        # never a torn write (multi-writer races need the lease lock — see
        # class docstring)
        with self.fs.open(path, "w") as fh:
            fh.write(text)

    def write_text_exclusive(self, path: str, text: str) -> None:
        try:
            fh = self.fs.open(path, "x")
        except FileExistsError:
            self.exclusive_is_native = True
            raise CommitConflictError(path) from None
        except ValueError:
            # driver has no exclusive-create mode: degraded check-then-put
            # (see class docstring — lease lock required on such stores).
            # Two racers can both pass the exists() check, so this is NOT
            # linearizable — refuse unless the caller opted in.
            self.exclusive_is_native = False
            if not self.allow_nonatomic:
                raise CommitConflictError(
                    f"{path}: filesystem {type(self.fs).__name__} has no "
                    "exclusive-create mode; commits would not be atomic. "
                    "Pass allow_nonatomic=True ONLY if an external lock "
                    "(plans-layer lease) serializes writers."
                ) from None
            if not self._warned_nonatomic:
                import warnings

                warnings.warn(
                    f"{type(self.fs).__name__} lacks exclusive create; "
                    "commit writes degrade to check-then-put (not "
                    "linearizable) — keep the lease lock enabled.",
                    RuntimeWarning,
                    stacklevel=2,
                )
                self._warned_nonatomic = True
            if self.fs.exists(path):
                raise CommitConflictError(path) from None
            with self.fs.open(path, "w") as fh:
                fh.write(text)
            return
        self.exclusive_is_native = True
        with fh:
            fh.write(text)

    def exists(self, path: str) -> bool:
        return bool(self.fs.exists(path))

    def remove_recursive(self, path: str) -> None:
        if self.fs.exists(path):
            self.fs.rm(path, recursive=True)

    def mtime(self, path: str) -> Optional[float]:
        try:
            return self.fs.modified(path).timestamp()
        except Exception:
            return None  # undatable -> vacuum treats the dir as young

    def du(self, path: str) -> Optional[int]:
        try:
            return int(self.fs.du(path))
        except Exception:
            return None  # unsizable -> compact falls back to caller hint


# ------------------------------------------------------------------------
# schema drift
# ------------------------------------------------------------------------

_INT_RANK = {
    T.ByteType(): 1,
    T.ShortType(): 2,
    T.IntegerType(): 3,
    T.LongType(): 4,
}
# digits needed to hold each integer width inside a decimal
_INT_DECIMAL_DIGITS = {T.ByteType(): 3, T.ShortType(): 5, T.IntegerType(): 10, T.LongType(): 19}


def is_type_widening(old: T.DataType, new: T.DataType) -> bool:
    """True when ``old → new`` is a lossless widening — the set Delta Lake's
    type-widening feature accepts (byte→short→int→long, int-family→double
    for ≤int, decimal precision/scale growth, int-family→decimal with
    enough digits, float→double, date→timestamp)."""
    if old == new:
        return True
    if old in _INT_RANK and new in _INT_RANK:
        return _INT_RANK[new] > _INT_RANK[old]
    if isinstance(new, T.DoubleType):
        # double has a 53-bit significand: exact for ≤int and float
        return old in (T.ByteType(), T.ShortType(), T.IntegerType(), T.FloatType())
    if isinstance(new, T.DecimalType):
        if isinstance(old, T.DecimalType):
            return (
                new.precision >= old.precision
                and new.scale >= old.scale
                and (new.precision - new.scale) >= (old.precision - old.scale)
            )
        if old in _INT_DECIMAL_DIGITS:
            return (new.precision - new.scale) >= _INT_DECIMAL_DIGITS[old]
        return False
    if isinstance(new, (T.TimestampType, T.TimestampNTZType)):
        return isinstance(old, T.DateType)
    return False


class _SortedInList(list):
    """An `in`-predicate value list carrying a sorted non-NULL copy
    (``svals``, None when elements don't sort) so interval refutation
    can bisect. Subclasses list: every consumer (Column building,
    serialization, the reader) sees a plain list."""

    def __init__(self, values):
        super().__init__(values)
        try:
            self.svals = sorted(v for v in self if v is not None)
        except TypeError:
            self.svals = None


def _merge_schemas(old: T.StructType, new: T.StructType) -> T.StructType:
    """Union of columns: old columns keep their (widened) new type when the
    change is a lossless widening; new columns are appended — the
    'new_only' drift mode
    (reference:odbc2deltalake/reader/spark_reader.py:284-305). An
    incompatible type change raises :class:`SchemaDriftError` instead of
    silently swapping the type (reference:tests/test_11_schema_drift.py:71-102
    raises on col→xml while int widening continues)."""
    fields: dict[str, T.StructField] = {f.name: f for f in old.fields}
    order = [f.name for f in old.fields]
    for f in new.fields:
        if f.name in fields:
            cur = fields[f.name].dataType
            if cur != f.dataType:
                if is_type_widening(cur, f.dataType):
                    fields[f.name] = T.StructField(f.name, f.dataType, True)
                elif is_type_widening(f.dataType, cur):
                    # source narrowed (long data still fits); keep the wide
                    # historical type — values cast up on write alignment
                    pass
                else:
                    raise SchemaDriftError(
                        f"incompatible type change for column {f.name!r}: "
                        f"{cur.simpleString()} -> {f.dataType.simpleString()}"
                    )
        else:
            fields[f.name] = f
            order.append(f.name)
    return T.StructType([fields[n] for n in order])


# ------------------------------------------------------------------------
# table-store interface
# ------------------------------------------------------------------------


class TableStore(ABC):
    """The exact table surface the engine uses — extracted so the
    commit-log store here and a real Delta Lake store
    (:class:`odbc2deltalake_spark.delta_store.DeltaTableStore`) are
    drop-in interchangeable. Mirrors the reference's ``DeltaOps``
    abstraction (reference:odbc2deltalake/reader/reader.py:13-32); the
    plans layer (plans/destination.py, plans/db_to_delta.py) talks only to
    this interface.
    """

    #: whether a counted append of zero rows (:meth:`write_counted_minmax`)
    #: still commits an empty version. A store that cannot withdraw a
    #: written commit says True, and callers that cannot size a batch
    #: in advance probe its emptiness before appending.
    commits_empty_appends: bool = True

    @abstractmethod
    def exists(self) -> bool: ...

    @abstractmethod
    def version(self) -> int:
        """Latest committed version number."""

    @abstractmethod
    def schema(self, version: Optional[int] = None) -> T.StructType: ...

    @abstractmethod
    def read(
        self,
        spark: SparkSession,
        version: Optional[int] = None,
        buckets: Optional[Iterable[int]] = None,
        skip_where: Optional[tuple[str, str, Any] | list[tuple[str, str, Any]]] = None,
    ) -> DataFrame:
        """Snapshot read, optionally time-traveled to ``version``.
        ``buckets`` is an optional file-pruning hint; stores without
        bucket layout may ignore it (correctness never depends on it).
        ``skip_where=(col, op, value)`` is a pruning hint + residual
        filter: implementations MUST at minimum apply the predicate
        (results equal an unpruned filter) and MAY use recorded stats
        to skip files — the engine passes it on every store, so it is
        part of the interface contract, not an extension."""

    @abstractmethod
    def write(
        self,
        df: DataFrame,
        mode: str = "append",
        merge_schema: bool = False,
        overwrite_schema: bool = False,
        partition_by: Optional[list[str]] = None,
        extra_commit_fields: Optional[dict[str, Any]] = None,
        stats_cols: Optional[list[str]] = None,
        per_file_stats: bool = False,
        known_stats: Optional[dict[str, tuple[Any, Any]]] = None,
        txn: Optional[tuple[str, int]] = None,
        bloom_cols: Optional[list[str]] = None,
        bloom_bits: Optional[int] = None,  # None = auto-size from rows/file
        identity_col: Optional[str] = None,
        observed: Optional[tuple[Any, list[str]]] = None,
    ) -> int:
        """Write one commit. The stats/commit-field parameters (and
        ``observed``, the row-count Observation :meth:`write_counted_minmax`
        attached to ``df``) are data-skipping and audit metadata hints: a
        store without its own stats machinery MUST accept and may ignore
        them (Delta collects native file stats, so its implementation
        treats them as no-ops);
        ignoring ``skip_where``'s pruning half is always safe because
        the read applies the residual predicate.

        ``txn=(app_id, version)`` requests idempotent-writer semantics
        (Delta's ``txnAppId``/``txnVersion``): the write is SKIPPED when
        the table already records that app at or past that version."""

    @abstractmethod
    def write_empty(self, spark: SparkSession, schema: T.StructType) -> int: ...

    @abstractmethod
    def restore(self, version: int) -> int: ...

    @abstractmethod
    def set_properties(self, props: dict[str, str]) -> int: ...

    @abstractmethod
    def get_property(self, name: str) -> Optional[str]: ...

    @abstractmethod
    def vacuum(self, retain_versions: int = 1, **kwargs: Any) -> list[str]: ...

    @abstractmethod
    def delete_table(self) -> None: ...

    @abstractmethod
    def delete_where(
        self,
        spark: SparkSession,
        predicate: tuple[str, str, Any] | list[tuple[str, str, Any]],
        stats_cols: Optional[list[str]] = None,
    ) -> dict[str, Any]:
        """Merge-on-write DELETE: remove rows matching the predicate
        (one (col, op, value) or a list ANDed), rewriting only affected
        files. SQL semantics — a NULL predicate keeps the row. Returns
        {version, rows_deleted, ...}; a zero-match delete MUST NOT
        commit. ``stats_cols`` is a skipping hint stores may ignore."""

    @abstractmethod
    def update_where(
        self,
        spark: SparkSession,
        set_exprs: dict[str, Any],
        predicate: tuple[str, str, Any] | list[tuple[str, str, Any]],
        stats_cols: Optional[list[str]] = None,
    ) -> dict[str, Any]:
        """Merge-on-write UPDATE: apply ``set_exprs`` (col → SQL
        expression or Column) to rows matching the predicate. Returns
        {version, rows_updated, ...}; zero-match MUST NOT commit."""

    @abstractmethod
    def merge_upsert(
        self,
        spark: SparkSession,
        source: DataFrame,
        key_cols: list[str],
        num_buckets: Optional[int] = None,
        target_bucket_rows: Optional[int] = None,
        extra_commit_fields: Optional[dict[str, Any]] = None,
    ) -> int:
        """Upsert on key equality (whenMatchedUpdateAll /
        whenNotMatchedInsertAll). Bucketing params are physical-layout
        hints for stores that implement their own file pruning.
        ``extra_commit_fields`` ride the SAME commit as the merged data
        where the store's log supports it (``set_props`` entries become
        atomically-applied table properties — the Delta txnAppId/
        txnVersion pattern for exactly-once writers)."""

    def write_counted(
        self,
        df: DataFrame,
        mode: str = "append",
        merge_schema: bool = False,
    ) -> tuple[int, int]:
        """Write and return (version, rows_written) in ONE pass: an
        Observation on the write plan counts rows as they stream out — no
        separate count job over the written table."""
        v, n, _ = self.write_counted_minmax(
            df, [], mode=mode, merge_schema=merge_schema
        )
        return v, n

    def write_counted_minmax(
        self,
        df: DataFrame,
        minmax_cols: list[str],
        mode: str = "append",
        merge_schema: bool = False,
        known_stats: Optional[dict[str, tuple[Any, Any]]] = None,
    ) -> tuple[int, int, dict[str, tuple[Any, Any]]]:
        """Like :meth:`write_counted`, additionally returning exact
        {col: (min, max)} for ``minmax_cols`` — the aggregates ride the
        SAME Observation as the row count, so the bounds cost zero extra
        passes (unlike attaching a fresh CollectMetrics to a later
        write, which the A/B in :meth:`VersionedParquetTable.write`'s
        docstring measured at ~1.2s/load). The SCD2 engine uses this on
        its change-set writes and feeds the bounds forward as
        ``known_stats`` on the history append. The Observation is handed
        to :meth:`write` as ``observed``: a store that records it keeps
        the count and bounds on the commit, and a zero-row append commits
        an empty version only where ``commits_empty_appends``."""
        cols = [c for c in minmax_cols if c in df.columns]
        df, obs = _observe_count_minmax(df, cols)
        v = self.write(
            df,
            mode=mode,
            merge_schema=merge_schema,
            known_stats=known_stats,
            observed=(obs, cols),
        )
        n, mm, _ = _observed_count_minmax(obs, cols)
        return v, n, mm

    def count_rows(self, spark: SparkSession) -> int:
        """Current row count. Stores that track counts in commit metadata
        override this to answer without a scan."""
        return self.read(spark).count()

    def max_and_count(
        self, spark: SparkSession, col: Optional[str]
    ) -> tuple[Any, int]:
        """(MAX(col), COUNT(*)) of the current snapshot — the local
        watermark probe. Stores that record exact counts and bounds in
        commit metadata override this to answer without a scan."""
        agg_max = F.max(F.col(col)) if col else F.lit(None)
        row = self.read(spark).agg(
            agg_max.alias("m"), F.count(F.lit(1)).alias("c")
        ).first()
        return row["m"], row["c"]

    def min_and_nulls(self, spark: SparkSession, col: str) -> tuple[Any, int]:
        """(MIN(col), rows whose ``col`` IS NULL) of the current snapshot
        — the prune probe of the current-rows read. Stores that record
        bounds and null counts in metadata override this to answer
        without a scan."""
        row = self.read(spark).agg(
            F.min(col).alias("m"),
            (F.count(F.lit(1)) - F.count(col)).alias("n"),
        ).first()
        return row["m"], int(row["n"])


def _observe_count_minmax(
    df: DataFrame, cols: list[str]
) -> tuple[DataFrame, Any]:
    """``df`` with one Observation counting its rows and taking min/max
    and the non-NULL count of ``cols`` as they stream through the write."""
    from pyspark.sql import Observation

    obs = Observation()
    aggs = [F.count(F.lit(1)).alias("rows")]
    for c in cols:
        aggs.append(F.min(c).alias(f"__mn_{c}"))
        aggs.append(F.max(c).alias(f"__mx_{c}"))
        aggs.append(F.count(c).alias(f"__nn_{c}"))
    return df.observe(obs, *aggs), obs


def _observed_count_minmax(
    obs: Any, cols: list[str]
) -> tuple[int, dict[str, tuple[Any, Any]], dict[str, int]]:
    """(rows, {col: (min, max)}, {col: NULL count}) from the
    Observation :func:`_observe_count_minmax` attached."""
    vals = obs.get
    rows = int(vals["rows"])
    return (
        rows,
        {c: (vals[f"__mn_{c}"], vals[f"__mx_{c}"]) for c in cols},
        {c: rows - int(vals[f"__nn_{c}"]) for c in cols},
    )


# ------------------------------------------------------------------------
# table
# ------------------------------------------------------------------------

_BUCKET_COL = "__bucket"
_PATCH_DEL_COL = "__patch_deleted"


def _relax_nullability(dt: T.DataType) -> T.DataType:
    """The cast target for schema-projection sites: the same type with
    every nested nullability flag set True. Parquet round-trips arrays/
    maps/structs as nullable regardless of what the writer declared, and
    Spark 4 REFUSES a nullability-narrowing cast (array<bigint> with
    nullable elements → containsNull=false is CAST_WITHOUT_SUGGESTION) —
    so casting to the declared type breaks every stored embedding-style
    column. Relaxing only ever widens: values are untouched, the read
    schema just stops over-promising non-nullness the files cannot
    guarantee."""
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_relax_nullability(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(
            _relax_nullability(dt.keyType), _relax_nullability(dt.valueType), True
        )
    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, _relax_nullability(f.dataType), True)
                for f in dt.fields
            ]
        )
    return dt


def _conform(
    df: DataFrame,
    target: T.StructType,
    *extra: Any,
    have: Optional[Iterable[str]] = None,
) -> DataFrame:
    """Project ``df`` onto ``target``: each target column cast to its
    nullability-relaxed type, NULL when ``have`` (default: ``df``'s
    columns) lacks it. ``extra`` columns ride along after them."""
    have = set(df.columns if have is None else have)
    return df.select(
        *[
            (F.col(f.name) if f.name in have else F.lit(None))
            .cast(_relax_nullability(f.dataType))
            .alias(f.name)
            for f in target.fields
        ],
        *extra,
    )


def _union_all(
    spark: SparkSession, parts: list[DataFrame], empty: T.StructType
) -> DataFrame:
    """unionByName over ``parts`` in order; no parts is an empty frame
    of schema ``empty``."""
    if not parts:
        return spark.createDataFrame([], empty)
    return functools.reduce(DataFrame.unionByName, parts)


_REBASELINE = "re-baseline from read(version=...) and skip the cursor forward"


def _unrepresentable(v: int, mode: str) -> ValueError:
    return ValueError(
        f"version {v} is a {mode} commit — not representable as a change "
        f"feed; {_REBASELINE}"
    )


class VersionedParquetTable(TableStore):
    # a zero-row counted append removes its dir before the commit
    commits_empty_appends = False

    def __init__(self, root: str | Path, backend: Optional[StorageBackend] = None):
        self.root = Path(root) if not isinstance(root, Path) else root
        self._root_str = str(root)
        self.backend = backend or LocalStorageBackend()

    # protocol version this engine can read; commits/checkpoints MAY
    # carry `min_reader_version` to fence off older readers when a
    # future format feature changes read-side invariants (the Delta
    # protocol-versioning rule — see UnsupportedReaderVersionError)
    READER_VERSION = 1

    def _path(self, *parts: str) -> str:
        # an ABSOLUTE first part addresses another table's dir — the
        # shallow-clone case (clone commits reference the source's data
        # dirs verbatim); everything else resolves under this root
        if parts and (
            str(parts[0]).startswith("/") or "://" in str(parts[0])
        ):
            return (
                self.backend.join(*parts) if len(parts) > 1 else str(parts[0])
            )
        return self.backend.join(self._root_str, *parts)

    # ---------- commit log ----------

    @property
    def _commits_dir(self) -> str:
        return self._path("_commits")

    def _commit_names(self) -> list[str]:
        return sorted(
            n for n in self.backend.list_dir(self._commits_dir)
            if n.endswith(".json") and not n.startswith(".")
        )

    def exists(self) -> bool:
        return len(self._commit_names()) > 0

    def version(self) -> int:
        """Latest version number (reference:odbc2deltalake/reader/spark_reader.py:21-22)."""
        names = self._commit_names()
        if not names:
            raise TableNotFoundError(self._root_str)
        return int(names[-1].split(".")[0])

    def version_at_timestamp(self, ts) -> int:
        """Newest version whose commit timestamp is <= ``ts`` (Delta's
        ``timestampAsOf`` resolution) — pass the result to
        ``read(version=...)`` / ``read_changes*``. ``ts`` is epoch
        seconds or a datetime (naive = local time, like Delta).

        Commit timestamps come from writer wall clocks, so the log can
        record small regressions; resolution MONOTONIZES them (running
        max in version order — Delta does the same internally), which
        keeps the version↔time mapping order-consistent: a later
        version never resolves as earlier. Commits predating the `ts`
        field count as time 0 (always included). Raises ValueError for
        a timestamp before the first commit. Control-plane only —
        O(versions) small JSON reads, never data."""
        import datetime as _dt

        if isinstance(ts, _dt.datetime):
            ts = ts.timestamp()
        best: Optional[int] = None
        running = 0.0
        for name in self._commit_names():
            v = int(name.split(".")[0])
            c = self._read_commit(v)
            running = max(running, float(c.get("ts") or 0.0))
            if running <= ts:
                best = v
            else:
                break  # monotonized times only grow
        if best is None:
            raise ValueError(
                f"timestamp {ts} predates the first commit of "
                f"{self._root_str}"
            )
        return best

    # Write a state checkpoint every N commits (0 disables). The replay
    # in _state_at is O(commits since the last checkpoint) instead of
    # O(all commits) — the Delta _last_checkpoint design. 20 matches the
    # cadence of a daily-loaded table checkpointing ~fortnightly wall
    # time while keeping worst-case replay at 19 small JSON reads.
    checkpoint_interval: int = 20

    @property
    def _checkpoints_dir(self) -> str:
        return self._path("_checkpoints")

    def _checkpoint_versions(self) -> list[int]:
        return sorted(
            int(n.split(".")[0])
            for n in self.backend.list_dir(self._checkpoints_dir)
            if n.endswith(".json") and not n.startswith(".")
        )

    def checkpoint(self, version: Optional[int] = None, full: bool = False) -> int:
        """Materialize the replayed state at ``version`` (default: head)
        into ``_checkpoints/<version>.json``. Deterministic content from
        immutable commits, so a concurrent double-write is byte-identical
        and a plain atomic write suffices (no exclusive create). Old
        checkpoints are superseded, never required — any reader can fall
        back to a full log replay, and time travel below the oldest
        checkpoint replays from version 0 as before.

        Builds incrementally from the previous checkpoint (sound by
        induction over the immutable log); ``full=True`` forces a
        from-scratch replay — the recovery path if a checkpoint is ever
        suspected wrong."""
        st = self._state_at(version, use_checkpoint=not full)
        v = st["version"]
        self.backend.write_text_atomic(
            self.backend.join(self._checkpoints_dir, f"{v:010d}.json"),
            json.dumps(st),
        )
        return v

    def _read_commit(self, version: int) -> dict[str, Any]:
        return json.loads(
            self.backend.read_text(self.backend.join(self._commits_dir, f"{version:010d}.json"))
        )

    def _write_commit(self, commit: dict[str, Any]) -> None:
        """Publish a commit via atomic create-if-absent: racing writers of
        the same version get :class:`CommitConflictError` for all but one —
        the log itself is the serialization point (Delta LogStore model),
        independent of the plans-layer lease lock."""
        version = commit["version"]
        if "ts" not in commit:
            import time

            commit["ts"] = time.time()
        self.backend.write_text_exclusive(
            self.backend.join(self._commits_dir, f"{version:010d}.json"),
            json.dumps(commit),
        )
        if (
            self.checkpoint_interval
            and version > 0
            and version % self.checkpoint_interval == 0
        ):
            try:
                self.checkpoint(version)
            except Exception:  # noqa: BLE001 — optimization only
                import warnings

                warnings.warn(
                    f"checkpoint at version {version} failed; replay "
                    "falls back to the full log",
                    RuntimeWarning,
                    stacklevel=2,
                )

    # ---------- optimistic concurrency (VERDICT r9 #3) ----------

    # bounded auto-rebase: enough to absorb a burst of concurrent blind
    # appenders (each retry re-reads the head, so N writers need at most
    # N-1 rebases each), small enough that a genuinely contended table
    # fails fast instead of spinning
    MAX_REBASE_ATTEMPTS = 5

    def _commutes_with_blind_append(
        self, c: dict[str, Any], my_schema_json: Optional[str],
        my_prop_keys: set[str], allow_mask: bool = False,
    ) -> bool:
        """Whether intervening commit record ``c`` provably commutes with
        a blind append that aligned itself to ``my_schema_json``.

        Commutes: another blind append or a metadata-only commit, as
        long as (a) it does not change the table schema — my rebased
        commit re-states MY schema at a higher version, so replaying it
        after a widening/drop would silently roll the schema back; (b)
        it adds no CHECK constraint — my rows were validated against
        the constraints of my base version only; (c) its property
        writes are disjoint from mine — a shared ``txn.<app>`` marker
        means the racer may have already applied my batch (the caller's
        idempotent retry must re-check, not blindly re-land), and two
        identity-assigning writers drew from the same high-water mark so
        their generated values can collide. Everything that edits or
        rewrites EXISTING rows (patch / merge / overwrite / restore)
        reorders against an append at read time — refused. An
        intervening lazy MASK commutes with an append or props commit
        (``allow_mask=True``: the mask committed FIRST, so my appended
        rows landing above it unmasked is exactly commit order) but NOT
        with another mask (an UPDATE mask transforms the values a later
        mask's predicate reads through — commit order changes the
        result). The converse — MY commit being the mask, racing an
        append — also commutes, with the publish path absorbing the
        appended dirs into ``dirs_masked`` so erasure stays complete as
        of its commit version (see
        :meth:`_publish_append_with_rebase`)."""
        mode = c.get("mode")
        if mode == "mask":
            return allow_mask and (
                c.get("schema") is None
                or my_schema_json is None
                or c["schema"] == my_schema_json
            )
        if mode != "append":
            return False
        sch = c.get("schema")
        if sch is not None and my_schema_json is not None and sch != my_schema_json:
            return False
        if c.get("dropped_column"):
            return False
        sp = c.get("set_props") or {}
        my_identity = any(k.startswith("identity.") for k in my_prop_keys)
        for k in sp:
            if k.startswith(self.CONSTRAINT_PREFIX):
                return False
            if k in my_prop_keys:
                return False
            if k.startswith("identity.") and my_identity:
                return False
        return True

    @staticmethod
    def _dirs_added_by_commit(c: dict[str, Any]) -> list[dict[str, Any]]:
        """Dir entries an append commit made live (the two shapes
        :meth:`_state_at`'s replay accepts); [] for metadata-only."""
        if c.get("mode") != "append":
            return []
        if c.get("dirs_added"):
            return list(c["dirs_added"])
        if c.get("dir"):
            # same entry shape _state_at's replay builds — stats/bloom
            # included (the patch-rebase disjointness proof reads them)
            entry: dict[str, Any] = {"dir": c["dir"], "schema": c["schema"]}
            if c.get("stats"):
                entry["stats"] = c["stats"]
            if c.get("bloom"):
                entry["bloom"] = c["bloom"]
            if c.get("partition_by"):
                entry["partitioned"] = True
            return [entry]
        return []

    def _publish_append_with_rebase(self, commit: dict[str, Any]) -> int:
        """Publish a commit whose effect commutes with blind appends
        (a data/metadata append, or a lazy mask), auto-rebasing past
        commuting racers.

        On :class:`CommitConflictError`, every commit that landed at or
        above my version is classified by
        :meth:`_commutes_with_blind_append`; if ALL commute, the commit
        re-publishes at head+1 — the data dir on disk is untouched (dir
        names are opaque uuids referenced by the commit record, never
        parsed for versions), so a rebase is one small JSON write, no
        data rewrite. Any non-commuting racer re-raises, leaving
        today's refuse-and-recompute contract intact.

        A rebased MASK additionally absorbs each intervening append's
        new dirs into its ``dirs_masked`` — so an erasure that lands at
        vN masks every matching row committed below vN, including rows
        a racer appended after the mask's snapshot. Without the
        extension the mask would exhibit write skew relative to commit
        order (committed "at vN" yet blind to vN-1 rows — the race
        Delta refuses with ConcurrentAppendException; ADVICE r10). The
        extension is sound because the classifier already forces the
        racer's schema to equal the mask's, so the predicate (and any
        SET expressions) evaluate over the appended dirs exactly as a
        sequential mask at head would have."""
        my_props = set(commit.get("set_props") or {})
        my_schema = commit.get("schema")
        # an intervening mask only conflicts with another mask (SET
        # read-through); appends and props commits sail over it
        allow_mask = commit.get("mode") != "mask"
        for _ in range(self.MAX_REBASE_ATTEMPTS):
            try:
                self._write_commit(commit)
                return commit["version"]
            except CommitConflictError:
                head = self.version()
                absorbed: list[dict[str, Any]] = []
                for name in self._commit_names():
                    v = int(name.split(".")[0])
                    if v < commit["version"]:
                        continue
                    c = self._read_commit(v)
                    if not self._commutes_with_blind_append(
                        c, my_schema, my_props, allow_mask=allow_mask,
                    ):
                        raise
                    if commit.get("mode") == "mask":
                        absorbed.extend(self._dirs_added_by_commit(c))
                if absorbed:
                    seen = {e["dir"] for e in commit["dirs_masked"]}
                    commit["dirs_masked"].extend(
                        {
                            k: v
                            for k, v in e.items()
                            if k in ("dir", "schema", "bucket", "partitioned")
                        }
                        for e in absorbed
                        if e["dir"] not in seen
                    )
                commit["version"] = head + 1
        # burst deeper than the retry budget — surface the conflict
        self._write_commit(commit)
        return commit["version"]

    # bounded driver-side probe: a patch's key list is small by
    # construction (the patch route exists for delta-sized batches);
    # past this many keys the bloom half of the disjointness proof is
    # skipped and only the range half can commute the race
    PATCH_BLOOM_PROBE_MAX = 10_000

    def _patch_disjoint_from_dir(
        self,
        spark: SparkSession,
        entry: dict[str, Any],
        key_cols: list[str],
        key_stats: dict[str, tuple],
        commit: dict[str, Any],
    ) -> bool:
        """True iff the appended dir ``entry`` PROVABLY contains none of
        this patch's target keys — decidable from metadata the racer's
        commit already carries (VERDICT r10 #3):

        1. interval disjointness: the patch keys' [min, max] (observed
           on the patch write) against the dir's recorded footer stats,
           dir-level or per-file — disjoint on ANY key column proves the
           composite key absent;
        2. bloom probe: every patch key value provably absent from
           every file's bitmap for one key column.

        Returns False (refuse) whenever the proof is unavailable —
        missing stats, missing bloom, NULL key bounds, oversized key
        list — never guesses."""
        stats = entry.get("stats") or {}
        for c in key_cols:
            ks = key_stats.get(c)
            if ks is None or ks[0] is None or ks[1] is None:
                continue  # NULL bounds prove nothing
            klo, khi = ks

            def _disjoint(iv) -> bool:
                lo, hi = self._stat_deser(iv[0]), self._stat_deser(iv[1])
                if lo is None or hi is None:
                    return False
                try:
                    return khi < lo or klo > hi
                except TypeError:
                    return False  # incomparable types: no proof
            iv = stats.get("", {}).get(c)
            if iv is not None and _disjoint(iv):
                return True
            per_file = {
                f: s for f, s in stats.items() if f != "" and c in s
            }
            files_all = {f for f in stats if f != ""}
            if (
                per_file
                and set(per_file) == files_all
                and all(_disjoint(s[c]) for s in per_file.values())
            ):
                return True
        bloom = entry.get("bloom")
        if bloom and bloom.get("files"):
            probe_col = next(
                (c for c in key_cols if c in (bloom.get("types") or {})), None
            )
            if probe_col is not None and all(
                probe_col in per for per in bloom["files"].values()
            ):
                written = T.StructType.fromJson(
                    json.loads(commit["written_schema"])
                )
                rows = (
                    spark.read.schema(written)
                    .parquet(self._path(commit["dir"]))
                    .select(probe_col)
                    .limit(self.PATCH_BLOOM_PROBE_MAX + 1)
                    .collect()
                )
                vals = sorted({r[0] for r in rows if r[0] is not None})
                if (
                    len(rows) <= self.PATCH_BLOOM_PROBE_MAX
                    and vals
                    and len(vals) == len({r[0] for r in rows})
                ):
                    hs = self._bloom_hash_values(
                        spark, vals, bloom["types"][probe_col]
                    )
                    m, k = bloom["m"], bloom["k"]
                    if all(
                        not self._bloom_may_contain(
                            per[probe_col], m, k, h
                        )
                        for per in bloom["files"].values()
                        for h in hs
                    ):
                        return True
        return False

    def _publish_patch_with_rebase(
        self,
        spark: SparkSession,
        commit: dict[str, Any],
        key_cols: list[str],
        key_stats: dict[str, tuple],
    ) -> int:
        """Publish a patch commit, auto-rebasing past racers it provably
        commutes with (VERDICT r10 #3; previously ``patch`` always lost
        a same-version race). A patch commutes with a blind append iff
        the appended dirs cannot contain the patch's target keys
        (:meth:`_patch_disjoint_from_dir` — footer stats + bloom bitmaps
        already in the racer's commit record), and with disjoint
        metadata-only commits under the same classifier rules as
        appends. Anything else — overlap, missing proof, masks, other
        patches/merges/overwrites — re-raises, preserving the
        refuse-and-recompute contract. Sound because disjoint key sets
        make the read-time reconciliation identical under either commit
        order: the patch overrides no row of the racer's dir and vice
        versa."""
        my_schema = commit.get("schema")
        my_props = set(commit.get("set_props") or {})
        for _ in range(self.MAX_REBASE_ATTEMPTS):
            try:
                self._write_commit(commit)
                return commit["version"]
            except CommitConflictError:
                head = self.version()
                for name in self._commit_names():
                    v = int(name.split(".")[0])
                    if v < commit["version"]:
                        continue
                    c = self._read_commit(v)
                    if not self._commutes_with_blind_append(
                        c, my_schema, my_props, allow_mask=False,
                    ):
                        raise
                    for e in self._dirs_added_by_commit(c):
                        if not self._patch_disjoint_from_dir(
                            spark, e, key_cols, key_stats, commit
                        ):
                            raise
                commit["version"] = head + 1
        # burst deeper than the retry budget — surface the conflict
        self._write_commit(commit)
        return commit["version"]

    def _state_at(
        self, version: Optional[int] = None, use_checkpoint: bool = True
    ) -> dict[str, Any]:
        """Replay the log up to ``version`` → {dirs, schema, props, ...}.

        Each live-dir entry is {dir, schema, bucket?}; ``bucket`` is set
        for per-bucket dirs written by merges.

        Replay starts from the newest checkpoint at or below the target
        (``_checkpoints/``, written every ``checkpoint_interval`` commits)
        and folds only the tail — O(interval) JSON reads per state
        resolution instead of O(history length), which at thousands of
        loads is the difference between a metadata-bound and a
        constant-cost control plane. Checkpoints are pure optimization:
        an unreadable one falls back to the next older, then to a full
        replay, and time travel below the oldest checkpoint replays from
        version 0 exactly as before."""
        names = self._commit_names()
        if not names:
            raise TableNotFoundError(self._root_str)
        live: list[dict[str, Any]] = []
        patches: list[dict[str, Any]] = []
        masks: list[dict[str, Any]] = []
        schema_json: str | None = None
        props: dict[str, str] = {}
        num_buckets: Optional[int] = None
        bucket_cols: Optional[list[str]] = None
        bucket_key_types: Optional[dict[str, Any]] = None
        bucket_rows: dict[str, int] = {}
        last = -1
        base_mrv = 1
        if use_checkpoint:
            eligible = [
                cv
                for cv in self._checkpoint_versions()
                if version is None or cv <= version
            ]
            for cv in sorted(eligible, reverse=True):
                # the WHOLE extraction sits inside the try: a checkpoint
                # that parses as JSON but has the wrong shape (future
                # format evolution, manual damage) must fall back like
                # an unreadable one, not poison every state resolution
                try:
                    base = json.loads(
                        self.backend.read_text(
                            self.backend.join(
                                self._checkpoints_dir, f"{cv:010d}.json"
                            )
                        )
                    )
                    live = list(base["dirs"])
                    patches = list(base.get("patches") or [])
                    masks = list(base.get("masks") or [])
                    schema_json = base["schema"]
                    props = dict(base["props"])
                    num_buckets = base["num_buckets"]
                    bucket_cols = base["bucket_cols"]
                    bucket_key_types = base["bucket_key_types"]
                    bucket_rows = dict(base["bucket_rows"] or {})
                    last = int(base["version"])
                    base_mrv = int(base.get("min_reader_version") or 1)
                except Exception:
                    live, patches, masks = [], [], []
                    props, bucket_rows = {}, {}
                    schema_json = None
                    num_buckets = bucket_cols = bucket_key_types = None
                    last = -1
                    base_mrv = 1
                    continue  # try the next older checkpoint
                break
        # protocol gate, checkpoint base first (outside the fallback
        # try: a base demanding a newer reader is a REFUSAL, not a
        # corrupt checkpoint to silently skip)
        mrv = base_mrv
        if mrv > self.READER_VERSION:
            raise UnsupportedReaderVersionError(
                f"{self._root_str} requires reader version {mrv} "
                f"(this engine: {self.READER_VERSION})"
            )
        oldest = int(names[0].split(".")[0])
        if oldest > last + 1 and (version is None or version > last):
            # (version == last needs no fold: the checkpoint alone is
            # the complete state, so the gap above it is irrelevant)
            # truncate_log removed versions < oldest and the selected
            # replay base does not reach the cut: either NO readable
            # checkpoint loaded (last == -1), or the newest READABLE
            # checkpoint is OLDER than the truncation cut (e.g.
            # checkpoints at v20/v40, log truncated below v41, v40
            # corrupt → base v20 would silently fold v41+ and lose
            # v21-v40; ADVICE r7). Replaying would yield incomplete
            # state — and a subsequent checkpoint(full=True) would
            # PERSIST it, letting vacuum delete live data. Fail loudly.
            raise TruncatedLogError(
                f"log for {self._root_str} starts at v{oldest} (truncated) "
                f"and the best readable replay base is v{last}; commits "
                f"v{last + 1}-v{oldest - 1} are unrecoverable and state "
                "cannot be reconstructed"
                + (
                    " without checkpoints (use_checkpoint=False)"
                    if not use_checkpoint
                    else ""
                )
            )
        for name in names:
            v = int(name.split(".")[0])
            if v <= last:
                continue  # folded into the checkpoint base
            if version is not None and v > version:
                break
            c = json.loads(self.backend.read_text(self.backend.join(self._commits_dir, name)))
            cm = int(c.get("min_reader_version") or 1)
            if cm > self.READER_VERSION:
                raise UnsupportedReaderVersionError(
                    f"{self._root_str} version {v} requires reader "
                    f"version {cm} (this engine: {self.READER_VERSION})"
                )
            mrv = max(mrv, cm)
            last = v
            mode = c["mode"]
            if mode in ("overwrite", "restore"):
                # both replace the whole state, bucket layout included:
                # the commit's own fields below set it again
                num_buckets = bucket_cols = bucket_key_types = None
            if mode == "overwrite":
                live = []
                patches = []
                masks = []
                bucket_rows = {}
            if mode == "restore":
                live = list(c["dirs"])
                patches = list(c.get("patches") or [])
                masks = list(c.get("masks") or [])
                bucket_rows = dict(c.get("bucket_rows") or {})
            elif mode == "mask":
                # lazy predicate tombstone (set_exprs None) or lazy
                # UPDATE (set_exprs recorded): matching rows in the
                # named dirs are dead / transformed as of this version;
                # reads apply in version order, folds materialize
                masks.append(
                    {
                        "predicate": c["predicate"],
                        "dirs": [e["dir"] for e in c["dirs_masked"]],
                        "version": v,
                        "set_exprs": c.get("set_exprs"),
                    }
                )
            elif mode == "merge":
                # every merge writer folds outstanding patches into the
                # rewritten buckets (probe expansion) — cleared here
                replaced = set(c.get("buckets_replaced") or [])
                live = [d for d in live if d.get("bucket") not in replaced]
                live.extend(c.get("dirs_added") or [])
                patches = []
                for b in replaced:
                    bucket_rows.pop(str(b), None)
                bucket_rows.update(c.get("bucket_rows") or {})
            elif mode == "patch":
                patches.append(
                    {
                        "dir": c["dir"],
                        "schema": c["written_schema"],
                        "version": v,
                        "rows": c.get("patch_rows"),
                    }
                )
            elif c.get("dirs_added"):
                live.extend(c["dirs_added"])
                bucket_rows.update(c.get("bucket_rows") or {})
            elif c.get("dir"):
                entry: dict[str, Any] = {"dir": c["dir"], "schema": c["schema"]}
                if c.get("stats"):
                    entry["stats"] = c["stats"]
                if c.get("bloom"):
                    entry["bloom"] = c["bloom"]
                if c.get("partition_by"):
                    entry["partitioned"] = True
                if c.get("rows") is not None:
                    entry["rows"] = c["rows"]
                    entry["minmax"] = c.get("minmax") or {}
                    if "nulls" in c:
                        entry["nulls"] = c["nulls"]
                live.append(entry)
            if c.get("schema"):
                schema_json = c["schema"]
            if c.get("num_buckets"):
                num_buckets = c["num_buckets"]
            if c.get("bucket_cols"):
                bucket_cols = c["bucket_cols"]
            if c.get("bucket_key_types"):
                bucket_key_types = c["bucket_key_types"]
            props.update(c.get("set_props", {}))
        if version is not None and last < version:
            raise ValueError(f"version {version} does not exist for {self._root_str}")
        if masks:
            # rewrites retire masked dirs over time (merges replace
            # buckets, folds materialize) — a mask survives only for the
            # dirs still live; dir names are uuid-unique so a name never
            # comes back except via restore, which resets masks anyway
            live_names = {d["dir"] for d in live}
            masks = [
                m2
                for m2 in (
                    {**m, "dirs": [x for x in m["dirs"] if x in live_names]}
                    for m in masks
                )
                if m2["dirs"]
            ]
        return {
            "dirs": live,
            "patches": patches,
            "masks": masks,
            "schema": schema_json,
            "props": props,
            "version": last,
            "num_buckets": num_buckets,
            "bucket_cols": bucket_cols,
            "bucket_key_types": bucket_key_types,
            "bucket_rows": bucket_rows,
            # highest reader demand seen in the folded history — rides
            # checkpoints so the protocol gate survives base-skipping
            "min_reader_version": mrv,
        }

    # ---------- reads ----------

    def schema(self, version: Optional[int] = None) -> T.StructType:
        st = self._state_at(version)
        return T.StructType.fromJson(json.loads(st["schema"]))

    @staticmethod
    def _stat_ser(v: Any) -> Any:
        import datetime
        import decimal

        if isinstance(v, (list, tuple)):  # `in`-list values, element-wise
            return [VersionedParquetTable._stat_ser(e) for e in v]
        if isinstance(v, datetime.datetime):
            return {"t": "ts", "v": v.isoformat()}
        if isinstance(v, datetime.date):
            return {"t": "date", "v": v.isoformat()}
        if isinstance(v, decimal.Decimal):
            return {"t": "dec", "v": str(v)}
        return v

    @staticmethod
    def _stat_deser(v: Any) -> Any:
        import datetime
        import decimal

        if isinstance(v, (list, tuple)):
            return [VersionedParquetTable._stat_deser(e) for e in v]
        if isinstance(v, dict):
            if v.get("t") == "ts":
                return datetime.datetime.fromisoformat(v["v"])
            if v.get("t") == "date":
                return datetime.date.fromisoformat(v["v"])
            if v.get("t") == "dec":
                return decimal.Decimal(v["v"])
        return v

    @staticmethod
    def _interval_may_match(mn: Any, mx: Any, op: str, value: Any) -> bool:
        """Conservative file-skip test: False ONLY when the [min, max]
        interval provably contains no row satisfying ``col <op> value``.
        Unknown stats (None — e.g. an all-null file) always keep."""
        if mn is None or mx is None:
            return True
        try:
            if op == ">":
                return mx > value
            if op == ">=":
                return mx >= value
            if op == "<":
                return mn < value
            if op == "<=":
                return mn <= value
            if op == "=":
                return mn <= value <= mx
            if op == "!=":
                # refutable only when every row equals the value (a file
                # with extra NULLs still has no `!=`-matching row — NULL
                # never matches)
                return not (mn == value == mx)
            if op == "in":
                # IN-list: keep if ANY listed value may be present;
                # empty / all-NULL lists match nothing in SQL. A
                # pre-sorted list (from _skip_conjuncts) bisects.
                svals = getattr(value, "svals", None)
                if svals is not None:
                    import bisect

                    i = bisect.bisect_left(svals, mn)
                    return i < len(svals) and svals[i] <= mx
                return any(
                    mn <= v <= mx for v in value if v is not None
                )
        except TypeError:
            return True  # incomparable types: never skip on a guess
        raise ValueError(f"unsupported skip op {op!r}")

    def read(
        self,
        spark: SparkSession,
        version: Optional[int] = None,
        buckets: Optional[Iterable[int]] = None,
        skip_where: Optional[tuple[str, str, Any] | list[tuple[str, str, Any]]] = None,
        timestamp=None,
    ) -> DataFrame:
        """Time-travel read (reference:odbc2deltalake/reader/spark_reader.py:123-133).

        ``timestamp`` (epoch seconds or datetime, exclusive with
        ``version``) reads the newest version committed at or before
        that time — Delta's ``timestampAsOf``, resolved by
        :meth:`version_at_timestamp`.

        Live dirs are grouped by written schema; each group is one parquet
        scan (pushdown + pruning intact), then cast-unioned to the table's
        final schema — this is how append-time type widening / added
        columns read back without rewriting old files.

        ``buckets`` prunes per-bucket dirs (merged tables): only the named
        buckets are scanned — file-level pruning, the point of hash
        bucketing. Untagged dirs are always scanned.

        ``skip_where=(col, op, value)`` — or a LIST of such tuples,
        ANDed — (op in > >= < <= = != in; `in` takes a value LIST — the
        keyed-lookup shape, e.g. a GDPR id set) is DATA SKIPPING over the commit-log
        file stats written by ``write(stats_cols=[...])`` — the Delta
        data-skipping analog. A conjunction composes with Z-order: the
        layout clusters several columns' intervals at once, so each
        added conjunct multiplies the file cut:
        files whose recorded [min, max] provably cannot satisfy the
        predicate are dropped from the scan BEFORE Spark sees them, and
        the predicate is also applied to the returned frame, so the
        result equals an unpruned filter. Files/dirs without stats are
        never skipped; hive-partitioned dirs skip only all-or-nothing
        (reading an explicit file subset would lose the partition
        columns). The SCD2 watermark read is the canonical use: each
        load commit covers a delta-col slice, so `__timestamp > wm`
        skips every older load's files outright — on top of this,
        parquet row-group pruning still applies inside surviving files
        (tight after a Z-order compact)."""
        if timestamp is not None:
            if version is not None:
                raise ValueError("pass version OR timestamp, not both")
            version = self.version_at_timestamp(timestamp)
        return self._read_state(spark, self._state_at(version), buckets, skip_where)

    def _read_state(
        self,
        spark: SparkSession,
        st: dict[str, Any],
        buckets: Optional[Iterable[int]] = None,
        skip_where: Optional[tuple[str, str, Any] | list[tuple[str, str, Any]]] = None,
    ) -> DataFrame:
        """:meth:`read` of an already-resolved state ``st``."""
        target = T.StructType.fromJson(json.loads(st["schema"]))
        dirs = st["dirs"]
        if buckets is not None:
            bset = set(buckets)
            dirs = [d for d in dirs if d.get("bucket") is None or d["bucket"] in bset]
        masks = st.get("masks") or []
        # an UPDATE mask rewrites values at read time, so the recorded
        # [min, max] for its SET columns no longer bounds what the scan
        # RETURNS — pruning must ignore stats on those columns for the
        # dirs the mask covers (tombstone masks only remove rows: their
        # stats stay valid upper bounds)
        upd_unstat: dict[str, set[str]] = {}
        for m in masks:
            if m.get("set_exprs"):
                for name in m["dirs"]:
                    upd_unstat.setdefault(name, set()).update(
                        m["set_exprs"]
                    )
        if skip_where is not None:
            # one predicate or a CONJUNCTION of them — multi-column
            # pruning is what Z-order lays files out for (each conjunct
            # narrows the survivor set; intervals that cluster several
            # columns at once multiply the cut)
            conjuncts = self._skip_conjuncts(skip_where)
            bloom_hash_memo: dict[tuple[str, str], int] = {}
            pruned: list[dict[str, Any]] = []
            for d in dirs:
                stats = d.get("stats") or {}
                files_all = {f for f in stats if f != ""}
                drop_dir = False
                keep: Optional[set[str]] = None  # None => all files kept
                unstat = upd_unstat.get(d["dir"], ())
                bloom = d.get("bloom") or {}
                for scol, sop, sval in conjuncts:
                    if scol in unstat:
                        continue  # update-masked column: stats/bloom invalid
                    if sop in ("=", "in") and scol in (
                        bloom.get("types") or {}
                    ):
                        # per-file bloom test: a file whose bitmap proves
                        # every probed value absent is cut even when its
                        # [min,max] spans them (the point-lookup case
                        # intervals can't help). `in` probes each listed
                        # value; NULLs never match `=`/`in` in SQL, so a
                        # probe set with no non-null value matches
                        # nothing at all.
                        pvals = (
                            [sval]
                            if sop == "="
                            else list(sval)
                        )
                        pvals = [v for v in pvals if v is not None]
                        if not pvals:
                            drop_dir = True  # matches no row anywhere
                            break
                        # inline map or memoized sidecar; None = sidecar
                        # unreachable -> skip the bloom test entirely
                        # (residual predicate keeps results exact)
                        bfiles = self._bloom_files(bloom)
                        if bfiles is not None:
                            tjson = bloom["types"][scol]
                            missing = [
                                pv
                                for pv in pvals
                                if (tjson, repr(pv)) not in bloom_hash_memo
                            ]
                            if missing:
                                # pure-Python XXH64 (or one local job
                                # for exotic types) hashes the whole
                                # probe set — an `in` list of 10k ids
                                # is never 10k driver round-trips
                                for pv, h in zip(
                                    missing,
                                    self._bloom_hash_values(
                                        spark, missing, tjson
                                    ),
                                ):
                                    bloom_hash_memo[(tjson, repr(pv))] = h
                            hs = [
                                bloom_hash_memo[(tjson, repr(pv))]
                                for pv in pvals
                            ]
                            # the collection pass covers EVERY file in
                            # the dir, so a file absent from the map (or
                            # lacking this column's bitmap) provably
                            # holds no non-null value of the column —
                            # refuted for an equality probe, same as a
                            # failing bitmap
                            k_bloom = self._bloom_survivors(
                                bfiles, scol, bloom["m"], bloom["k"], hs
                            )
                            if not k_bloom:
                                drop_dir = True  # no file may contain any
                                break
                            if not d.get("partitioned"):
                                # partitioned dirs are all-or-nothing
                                # (an explicit file subset would lose
                                # partition columns); otherwise
                                # intersect like stats
                                keep = (
                                    k_bloom
                                    if keep is None
                                    else keep & k_bloom
                                )
                                files_all = files_all | set(bfiles)
                    dir_iv = stats.get("", {}).get(scol)
                    if dir_iv is not None and not self._interval_may_match(
                        self._stat_deser(dir_iv[0]),
                        self._stat_deser(dir_iv[1]),
                        sop,
                        sval,
                    ):
                        drop_dir = True  # whole-commit interval excludes
                        break
                    per_file = {
                        f: s for f, s in stats.items() if f != "" and scol in s
                    }
                    if not per_file:
                        continue  # no file-level stats: conjunct keeps all
                    k = {
                        f
                        for f, s in per_file.items()
                        if self._interval_may_match(
                            self._stat_deser(s[scol][0]),
                            self._stat_deser(s[scol][1]),
                            sop,
                            sval,
                        )
                    }
                    # files with no stats for THIS col stay (conservative)
                    k |= files_all - set(per_file)
                    keep = k if keep is None else (keep & k)
                if drop_dir or keep == set():
                    continue  # commit interval or every file excluded
                if keep is None or keep == files_all or d.get("partitioned"):
                    pruned.append(d)
                else:
                    pruned.append({**d, "__files": sorted(keep)})
            dirs = pruned
        patches = st.get("patches") or []
        if not dirs:
            out = spark.createDataFrame([], target)
            if patches:
                out = self._reconcile_patches(spark, out, st, buckets)
            return self._apply_skip_filter(out, skip_where)
        # lazy predicate tombstones apply per dir (only rows written
        # BEFORE the mask commit are dead), so dirs group by (schema,
        # applicable-mask set) — each group is still one scan, and the
        # mask filter is a plain JVM predicate on it
        mask_dirsets = [set(m["dirs"]) for m in masks]

        def _msig(name: str) -> tuple[int, ...]:
            return tuple(
                i for i, s in enumerate(mask_dirsets) if name in s
            )

        groups: dict[tuple[str, tuple[int, ...]], list[str]] = {}
        for d in dirs:
            key = (d["schema"], _msig(d["dir"]))
            if d.get("__files"):
                for f in d["__files"]:
                    groups.setdefault(key, []).append(
                        self._path(d["dir"], f)
                    )
            else:
                groups.setdefault(key, []).append(self._path(d["dir"]))
        parts: list[DataFrame] = []
        for (schema_json, msig), paths in groups.items():
            written = T.StructType.fromJson(json.loads(schema_json))
            try:
                df = spark.read.schema(written).parquet(*paths)
            except Exception as e:  # noqa: BLE001 — py4j-wrapped analysis error
                # multiple hive-partitioned roots (appends to a
                # partition_by table) make partition discovery reject a
                # combined scan; scan each commit dir on its own and
                # union — same rows, one scan node per dir
                if "CONFLICTING_DIRECTORY_STRUCTURES" not in str(e) or len(paths) == 1:
                    raise
                df = _union_all(
                    spark,
                    [spark.read.schema(written).parquet(p) for p in paths],
                    written,
                )
            df = _conform(df, target, have=written.fieldNames())
            for i in msig:
                df = self._mask_apply(df, masks[i], target)
            parts.append(df)
        out = _union_all(spark, parts, target)
        if patches:
            out = self._reconcile_patches(spark, out, st, buckets)
        return self._apply_skip_filter(out, skip_where)

    def _patch_frame(
        self,
        spark: SparkSession,
        st: dict[str, Any],
        buckets: Optional[Iterable[int]] = None,
    ) -> Optional[DataFrame]:
        """Union of a state's patch dirs cast to the table schema, with
        ``__patch_deleted`` (tombstone flag) and ``__patch_v`` (commit
        version) carried — the raw merge-on-read side before
        reconciliation. Delta-sized by the patch-chain bound. ``buckets``
        filters rows by the stored hash routing, mirroring the base
        side's dir pruning."""
        patches = st.get("patches") or []
        if not patches:
            return None
        target = T.StructType.fromJson(json.loads(st["schema"]))
        parts = []
        for p in patches:
            written = T.StructType.fromJson(json.loads(p["schema"]))
            raw = spark.read.schema(written).parquet(self._path(p["dir"]))
            parts.append(
                _conform(raw, target, F.col(_PATCH_DEL_COL)).withColumn(
                    "__patch_v", F.lit(p["version"]).cast("long")
                )
            )
        pdf = _union_all(spark, parts, target)
        if buckets is not None:
            key_cols = st["bucket_cols"] or []
            kt = self._bucket_key_schema(st, key_cols)
            if kt is not None and st["num_buckets"]:
                key_types = {f.name: f.dataType for f in kt.fields}
                bexpr = F.pmod(
                    F.xxhash64(
                        *[F.col(c).cast(key_types[c]) for c in key_cols]
                    ),
                    F.lit(st["num_buckets"]),
                ).cast("int")
                pdf = pdf.filter(bexpr.isin(*[int(b) for b in buckets]))
        return pdf

    def _reconcile_patches(
        self,
        spark: SparkSession,
        base: DataFrame,
        st: dict[str, Any],
        buckets: Optional[Iterable[int]] = None,
    ) -> DataFrame:
        """Merge-on-read: apply a state's patch chain over the base scan.
        Per key, the NEWEST patch commit wins (rank over ``__patch_v`` —
        rank, not row_number, so duplicate-key sources keep every row of
        the winning commit exactly as the rewrite path would); tombstoned
        keys drop; every patched key is anti-joined out of the base. The
        patch side is delta-sized (bounded by PATCH_MAX_FRACTION x table
        and the PATCH_MAX_CHAIN fold trigger), so the anti-join
        broadcasts under AQE — read cost is base + |patches|, never a
        bucket rewrite. This is the Delta deletion-vector / Iceberg
        merge-on-read shape: mutations are delta-sized at write time and
        reconciled at read time, with ``fold_patches`` (or any merge /
        DML / overwrite) amortizing the chain back into the base."""
        from pyspark.sql.window import Window

        pdf = self._patch_frame(spark, st, buckets)
        if pdf is None:
            return base
        key_cols = st["bucket_cols"] or []
        w = Window.partitionBy(*key_cols).orderBy(F.col("__patch_v").desc())
        latest = (
            pdf.withColumn("__patch_rk", F.rank().over(w))
            .filter(F.col("__patch_rk") == 1)
            .drop("__patch_rk", "__patch_v")
        )
        ups = latest.filter(~F.col(_PATCH_DEL_COL)).drop(_PATCH_DEL_COL)
        keys = latest.select(*key_cols).distinct()
        return base.join(keys, on=key_cols, how="left_anti").unionByName(ups)

    @staticmethod
    def _skip_conjuncts(skip_where) -> list[tuple[str, str, Any]]:
        """Normalize ``skip_where``: one (col, op, value) tuple or a
        list of them (implicit AND). An empty list means no predicate.
        ``in``-list values get a sorted copy attached (when sortable)
        so interval refutation bisects instead of scanning — a 10k-id
        erasure list against a 100k-file table is 10^9 comparisons
        linear, ~10^6 bisected."""
        if len(skip_where) == 0:
            return []
        conj = (
            [tuple(skip_where)]
            if isinstance(skip_where[0], str)
            else [tuple(c) for c in skip_where]
        )
        out = []
        for c, op, v in conj:
            if op == "in" and not isinstance(v, _SortedInList):
                v = _SortedInList(v)
            out.append((c, op, v))
        return out

    @staticmethod
    def _op_column(c, op: str, value: Any):
        """One (col-expr, op, value) comparison as a Column — the single
        dispatch every predicate surface (skip_where, DML, masks, CHECK
        constraints) shares. SQL three-valued semantics throughout:
        a NULL column value never matches any op, including `!=`/`in`."""
        if op == ">":
            return c > F.lit(value)
        if op == ">=":
            return c >= F.lit(value)
        if op == "<":
            return c < F.lit(value)
        if op == "<=":
            return c <= F.lit(value)
        if op == "=":
            return c == F.lit(value)
        if op == "!=":
            return c != F.lit(value)
        if op == "in":
            vals = [v for v in value if v is not None]
            if not vals:
                return F.lit(None).cast("boolean")  # IN () matches nothing
            return c.isin(vals)
        raise ValueError(f"unsupported predicate op {op!r}")

    # above this many `in` values the residual filter becomes a
    # broadcast semi-join: a 10k-literal isin costs ~7 s of py4j
    # construction plus seconds of analyzer walk PER ACTION, while an
    # arrow-built id frame + broadcast semi is ~2 s end-to-end and
    # scales (measured; SCALE.md)
    IN_LIST_JOIN_THRESHOLD = 1000

    @classmethod
    def _apply_skip_filter(cls, df: DataFrame, skip_where) -> DataFrame:
        """Residual predicate after file skipping — pruning is a superset
        guarantee, the filter makes the result exact (and hands Spark the
        same predicates for row-group pruning inside surviving files).
        Large `in` lists apply as a broadcast semi-join instead of a
        literal expression (same rows: semi-join equality matches
        exactly the non-NULL `in` semantics)."""
        if skip_where is None:
            return df
        for col, op, value in cls._skip_conjuncts(skip_where):
            if op == "in":
                vals = [v for v in value if v is not None]
                if len(vals) >= cls.IN_LIST_JOIN_THRESHOLD:
                    spark = df.sparkSession
                    dt = df.schema[col].dataType
                    ids = spark.createDataFrame(
                        [(v,) for v in vals],
                        T.StructType(
                            [T.StructField("__in_probe", dt, False)]
                        ),
                    )
                    df = df.join(
                        F.broadcast(ids),
                        df[col] == ids["__in_probe"],
                        "semi",
                    )
                    continue
            df = df.filter(cls._op_column(F.col(col), op, value))
        return df

    # ---------- CHECK constraints ----------

    CONSTRAINT_PREFIX = "constraint."

    @classmethod
    def _conjuncts_predicate(cls, conj: list[tuple[str, str, Any]]):
        """AND of (col, op, value) conjuncts as a Column (same predicate
        shape as ``skip_where``/DML)."""
        expr = None
        for col, op, value in conj:
            e = cls._op_column(F.col(col), op, value)
            expr = e if expr is None else expr & e
        return expr

    @classmethod
    def _mask_keep_expr(cls, predicate_ser: list) -> Any:
        """Survivor predicate for one mask: rows NOT matching the
        (serialized) conjunction stay — SQL DELETE semantics, so a
        NULL-valued predicate keeps the row (coalesce to false before
        negating)."""
        conj = [
            (c, op, cls._stat_deser(v)) for c, op, v in predicate_ser
        ]
        return ~F.coalesce(cls._conjuncts_predicate(conj), F.lit(False))

    @classmethod
    def _mask_apply(
        cls, df: DataFrame, mask: dict[str, Any], target: T.StructType
    ) -> DataFrame:
        """Apply one mask to a frame already cast to the table schema:
        a tombstone mask filters, an update mask transforms matching
        rows in place (SQL UPDATE: NULL-predicate rows untouched). Masks
        compose sequentially in version order — replay order IS the
        masks list order."""
        sets = mask.get("set_exprs")
        if not sets:
            return df.filter(cls._mask_keep_expr(mask["predicate"]))
        conj = [
            (c, op, cls._stat_deser(v)) for c, op, v in mask["predicate"]
        ]
        match = F.coalesce(cls._conjuncts_predicate(conj), F.lit(False))
        return df.select(
            *[
                (
                    F.when(match, F.expr(sets[f.name]).cast(f.dataType))
                    .otherwise(F.col(f.name))
                    .alias(f.name)
                    if f.name in sets
                    else F.col(f.name)
                )
                for f in target.fields
            ]
        )

    def check_constraints(self) -> dict[str, list[tuple[str, str, Any]]]:
        """Active CHECK constraints: {name: conjunct list}. Stored as
        table properties (``constraint.<name>``) so they replicate with
        the commit log and survive restores; an empty value is a
        dropped-constraint tombstone."""
        if not self.exists():
            return {}
        return self._constraints_from_props(self._state_at()["props"])

    @classmethod
    def _constraints_from_props(
        cls, props: dict[str, str]
    ) -> dict[str, list[tuple[str, str, Any]]]:
        out: dict[str, list[tuple[str, str, Any]]] = {}
        plen = len(cls.CONSTRAINT_PREFIX)
        for k, v in props.items():
            if k.startswith(cls.CONSTRAINT_PREFIX) and v:
                out[k[plen:]] = [
                    (c, op, cls._stat_deser(val))
                    for c, op, val in json.loads(v)
                ]
        return out

    def set_check_constraint(
        self,
        spark: SparkSession,
        name: str,
        predicate: tuple[str, str, Any] | list[tuple[str, str, Any]],
    ) -> int:
        """Add a CHECK constraint (Delta's ``ALTER TABLE ADD
        CONSTRAINT``): every subsequent ``write``/``update_where`` /
        ``merge_upsert`` enforces it. Like Delta, the EXISTING rows must
        already satisfy it — validated here with one pushdown LIMIT-1
        existence scan, so a constraint can never be added that the
        table already violates. SQL CHECK semantics: NULL passes."""
        import re

        if not re.fullmatch(r"[A-Za-z0-9_][A-Za-z0-9_.-]*", name):
            raise ValueError(f"invalid constraint name {name!r}")
        conj = self._skip_conjuncts(predicate)
        if not conj:
            raise ValueError("a CHECK constraint requires a predicate")
        pred = self._conjuncts_predicate(conj)
        viol = pred.isNotNull() & ~pred
        if self.exists():
            schema_cols = set(self.schema().fieldNames())
            missing = sorted({c for c, _, _ in conj} - schema_cols)
            if missing:
                raise ValueError(
                    f"constraint {name!r} references unknown column(s) "
                    f"{missing}"
                )
            if self.read(spark).filter(viol).limit(1).count() > 0:
                raise ConstraintViolationError(
                    f"cannot add constraint {name!r}: existing rows "
                    "violate it"
                )
        return self.set_properties(
            {
                f"{self.CONSTRAINT_PREFIX}{name}": json.dumps(
                    [[c, op, self._stat_ser(v)] for c, op, v in conj]
                )
            }
        )

    def drop_check_constraint(self, name: str) -> int:
        return self.set_properties({f"{self.CONSTRAINT_PREFIX}{name}": ""})

    @classmethod
    def _constraint_viol_aggs(
        cls,
        cons: dict[str, list[tuple[str, str, Any]]],
        df_cols: Iterable[str],
    ) -> list[tuple[str, Any]]:
        """(name, sum-of-violations aggregate) per enforceable
        constraint. Constraints whose columns are absent from the
        written frame are skipped (an appended frame missing a column
        stores NULL there, which CHECK passes by SQL semantics)."""
        have = set(df_cols)
        out = []
        for name, conj in cons.items():
            if not {c for c, _, _ in conj} <= have:
                continue
            pred = cls._conjuncts_predicate(conj)
            out.append(
                (name, F.sum((pred.isNotNull() & ~pred).cast("long")))
            )
        return out

    # ---------- writes ----------

    def write(
        self,
        df: DataFrame,
        mode: str = "append",
        merge_schema: bool = False,
        overwrite_schema: bool = False,
        partition_by: Optional[list[str]] = None,
        extra_commit_fields: Optional[dict[str, Any]] = None,
        stats_cols: Optional[list[str]] = None,
        per_file_stats: bool = False,
        known_stats: Optional[dict[str, tuple[Any, Any]]] = None,
        txn: Optional[tuple[str, int]] = None,
        bloom_cols: Optional[list[str]] = None,
        bloom_bits: Optional[int] = None,  # None = auto-size from rows/file
        identity_col: Optional[str] = None,
        observed: Optional[tuple[Any, list[str]]] = None,
    ) -> int:
        """Write a DataFrame as one commit; returns the new version
        (reference:odbc2deltalake/reader/spark_reader.py:144-162 Delta sink).

        ``identity_col`` is the Delta GENERATED-AS-IDENTITY analog:
        when the named column is absent from ``df``, values are
        assigned as ``high_water + monotonically_increasing_id()`` —
        UNIQUE and increasing per write, with gaps allowed (exactly
        Delta's contract; dense numbering would need a global sort or
        an extra counting pass). When the column IS present, explicit
        values are kept (GENERATED BY DEFAULT). Either way the new
        high-water mark rides the commit as the table property
        ``identity.<col>.next`` via the same Observation pass as stats
        (no extra job), so the next write continues above every value
        ever written; commit serialization makes concurrent assignment
        race-safe (the loser's retry re-reads the mark). The mark
        survives ``overwrite`` (properties accumulate across modes,
        like Delta table metadata).
        ``extra_commit_fields`` are recorded verbatim in the commit record
        (audit metadata, e.g. ``compacted_from``) — never read by replay.

        ``stats_cols`` records [min, max] of the named columns in the
        commit — the data-skipping metadata ``read(skip_where=...)``
        prunes with. Default granularity is the COMMIT DIR, collected by
        an Observation riding the write job itself (zero extra scans —
        measured: the per-file variant cost ~1.4s per sf0.1 delta load);
        dir granularity is exactly what the SCD2 pattern needs, since
        each load commit covers one watermark slice. ``per_file_stats``
        upgrades to per-file [min, max] via one extra aggregation job
        over the written dir — worth it for Z-ordered/range-laid-out
        rewrites where files inside one commit cover disjoint ranges.

        ``known_stats`` records caller-supplied {col: (min, max)}
        intervals at TRUE zero cost (no Observation either — A/B
        measured the CollectMetrics node at ~1.2s across one sf0.1
        delta load's appends). Intervals may be conservatively WIDE
        (skipping only ever keeps extra files, never drops a matching
        one); the SCD2 engine uses this for ``__timestamp``, which is a
        per-load constant it already holds.

        ``txn=(app_id, version)`` is the idempotent-writer contract
        (Delta's ``txnAppId``/``txnVersion``, the foreachBatch
        exactly-once sink): the commit records ``txn.<app_id> =
        version`` atomically with the data, and a write whose version is
        at or below the recorded one is SKIPPED before any job runs —
        a replayed micro-batch (Spark redelivers the last batch after a
        crash) lands exactly once. On a ``CommitConflictError`` race the
        caller retries; the retry re-reads the marker and skips if the
        racer was the same (app, version).

        ``observed=(observation, cols)`` is the Observation
        :meth:`write_counted_minmax` attached to ``df`` (row count plus
        min/max of ``cols``). The commit records the count as ``rows``
        and the bounds as ``minmax`` — exact, unlike ``stats`` — which
        :meth:`max_and_count` answers from. A zero-row append that
        carries no properties publishes no commit and removes its dir."""
        assert mode in ("append", "overwrite"), mode
        id_obs = None
        id_base = 0
        if identity_col:
            if self.exists():
                id_base = int(
                    self.get_property(f"identity.{identity_col}.next") or 0
                )
            if identity_col not in df.columns:
                df = df.withColumn(
                    identity_col,
                    (F.monotonically_increasing_id() + F.lit(id_base)).cast(
                        "long"
                    ),
                )
            from pyspark.sql import Observation

            id_obs = Observation()
            df = df.observe(
                id_obs, F.max(F.col(identity_col)).alias("__id_max")
            )
        if (
            mode == "append"
            and self.exists()
            and self._state_at().get("patches")
        ):
            # an appended row for a patched key would be (wrongly)
            # overridden by the older patch at read time — appends to a
            # merge-on-read table fold the chain first (overwrites clear
            # it by replacing the whole state)
            self.fold_patches(df.sparkSession)
        if txn is not None:
            app_id, txn_version = txn
            if self.exists():
                recorded = self.get_property(f"txn.{app_id}")
                if recorded is not None and int(recorded) >= int(txn_version):
                    return self.version()  # already applied — skip
            sp = dict((extra_commit_fields or {}).get("set_props") or {})
            sp[f"txn.{app_id}"] = str(int(txn_version))
            extra_commit_fields = dict(extra_commit_fields or {})
            extra_commit_fields["set_props"] = sp
        new_version = (self.version() + 1) if self.exists() else 0
        new_schema = df.schema
        if self.exists() and mode == "append":
            old_schema = self.schema()
            if overwrite_schema:
                pass
            elif merge_schema:
                # a name absent from the table but still physically
                # present in a live dir was DROPPED: re-adding it would
                # resurrect the old files' stale values under the new
                # column (no per-column physical ids) — refuse until a
                # rewrite (OPTIMIZE) retires the old files
                old_names = set(old_schema.fieldNames())
                added = [
                    f.name
                    for f in new_schema.fields
                    if f.name not in old_names
                ]
                if added:
                    for d in self._state_at()["dirs"]:
                        held = set(
                            T.StructType.fromJson(
                                json.loads(d["schema"])
                            ).fieldNames()
                        )
                        stale = [a for a in added if a in held]
                        if stale:
                            raise ValueError(
                                f"column(s) {stale} were dropped but "
                                f"live dir {d['dir']!r} still holds "
                                "their old values — compact() before "
                                "re-adding the name"
                            )
                merged = _merge_schemas(old_schema, new_schema)
                new_schema = merged
            else:
                # align to existing schema (missing cols -> null)
                df = _conform(df, old_schema)
                new_schema = old_schema
        dir_name = f"d{new_version:010d}-{uuid.uuid4().hex[:8]}"
        obs = None
        obs_cols: list[str] = []
        if stats_cols and not per_file_stats:
            from pyspark.sql import Observation

            obs_cols = [c for c in stats_cols if c in df.columns]
            if obs_cols:
                aggs = []
                for c in obs_cols:
                    aggs.append(F.min(c).alias(f"__mn_{c}"))
                    aggs.append(F.max(c).alias(f"__mx_{c}"))
                obs = Observation()
                df = df.observe(obs, *aggs)
        cons_obs = None
        cons_names: list[str] = []
        if self.exists():
            viol_aggs = self._constraint_viol_aggs(
                self.check_constraints(), df.columns
            )
            if viol_aggs:
                from pyspark.sql import Observation

                cons_obs = Observation()
                cons_names = [n for n, _ in viol_aggs]
                df = df.observe(
                    cons_obs,
                    *[
                        agg.alias(f"v{i}")
                        for i, (_n, agg) in enumerate(viol_aggs)
                    ],
                )
        writer = df.write.mode("overwrite")
        if partition_by:
            # hive-style subdirs inside this commit's dir; reads prune on
            # the partition column (each commit is already one load, so the
            # history table is implicitly load-partitioned on top of this)
            writer = writer.partitionBy(*partition_by)
        writer.parquet(self._path(dir_name))
        if cons_obs is not None:
            vals = cons_obs.get
            bad = {
                cons_names[i]: int(vals[f"v{i}"] or 0)
                for i in range(len(cons_names))
            }
            bad = {k: v for k, v in bad.items() if v}
            if bad:
                # enforcement rides the write job as an Observation (zero
                # extra scans); the bad dir is abandoned UN-committed so
                # table state never contains the rows (vacuum reclaims it)
                self.backend.remove_recursive(self._path(dir_name))
                raise ConstraintViolationError(
                    f"write rejected: CHECK violations {bad}"
                )
        counted = None
        if observed is not None:
            counted = _observed_count_minmax(*observed)
            if (
                counted[0] == 0
                and mode == "append"
                and not extra_commit_fields
                and id_obs is None
                and self.exists()
            ):
                self.backend.remove_recursive(self._path(dir_name))
                return self.version()
        commit = {
            "version": new_version,
            "mode": mode,
            "dir": dir_name,
            "schema": df.schema.json() if mode == "overwrite" else new_schema.json(),
            "written_schema": df.schema.json(),
        }
        if partition_by:
            commit["partition_by"] = list(partition_by)
        if counted is not None:
            commit["rows"] = counted[0]
            commit["minmax"] = {
                c: [self._stat_ser(mn), self._stat_ser(mx)]
                for c, (mn, mx) in counted[1].items()
            }
            commit["nulls"] = counted[2]
        if stats_cols and per_file_stats:
            commit["stats"] = self._footer_file_stats(
                self._path(dir_name), stats_cols
            ) or self._collect_file_stats(
                df.sparkSession, self._path(dir_name), stats_cols
            )
        elif obs is not None:
            vals = obs.get
            commit["stats"] = {
                # "" = the whole commit dir (read-side treats it as an
                # all-or-nothing dir interval)
                "": {
                    c: [
                        self._stat_ser(vals[f"__mn_{c}"]),
                        self._stat_ser(vals[f"__mx_{c}"]),
                    ]
                    for c in obs_cols
                }
            }
        if known_stats:
            dir_stats = commit.setdefault("stats", {}).setdefault("", {})
            for c, (mn, mx) in known_stats.items():
                dir_stats.setdefault(
                    c, [self._stat_ser(mn), self._stat_ser(mx)]
                )
        if bloom_cols:
            # per-file bloom bitmaps for `=` skipping on columns whose
            # min/max intervals cannot cut (UUIDs, uniform keys); one
            # extra distributed pass over the written dir
            bl = self._collect_file_blooms(
                df.sparkSession,
                self._path(dir_name),
                df.schema,
                bloom_cols,
                bloom_bits,
            )
            if bl:
                commit["bloom"] = self._bloom_field(bl, dir_name)
        if extra_commit_fields:
            commit.update(extra_commit_fields)
        if id_obs is not None:
            mx = id_obs.get["__id_max"]
            nxt = max(id_base, (int(mx) + 1) if mx is not None else id_base)
            sp = dict(commit.get("set_props") or {})
            sp[f"identity.{identity_col}.next"] = str(nxt)
            commit["set_props"] = sp
        if mode == "append":
            # blind appends commute — racing appenders auto-rebase
            # instead of failing back to the caller (OCC, VERDICT r9 #3)
            return self._publish_append_with_rebase(commit)
        self._write_commit(commit)
        return new_version

    def _footer_file_stats(
        self, dir_path: str, stats_cols: list[str]
    ) -> Optional[dict[str, dict[str, list[Any]]]]:
        """{relative_file: {col: [min, max]}} read from the parquet
        FOOTERS of one written dir — pure driver-side metadata I/O, zero
        Spark jobs (this is where Delta's writers get per-file stats
        from). Returns None when footers are unreachable (non-local
        backend, no pyarrow, unreadable file) so the caller falls back
        to the aggregation-scan collector. Per the parquet spec the
        stored min/max may be truncated bounds (still valid intervals);
        a column chunk without statistics yields [None, None], which the
        read side treats as always-keep — conservative by construction."""
        try:
            import pyarrow.parquet as pq
        except ImportError:
            return None
        root = Path(dir_path)
        if not root.exists():
            return None  # non-local data plane: footers not reachable
        out: dict[str, dict[str, list[Any]]] = {}
        want = set(stats_cols)
        for f in sorted(root.rglob("*.parquet")):
            try:
                md = pq.ParquetFile(str(f)).metadata
            except Exception:
                return None
            acc: dict[str, Optional[tuple[Any, Any]]] = {}
            for rg in range(md.num_row_groups):
                row = md.row_group(rg)
                for ci in range(row.num_columns):
                    cc = row.column(ci)
                    name = cc.path_in_schema
                    if name not in want:
                        continue
                    st = cc.statistics
                    if st is None or not st.has_min_max:
                        acc[name] = None  # unknown somewhere => unknown
                        continue
                    prev = acc.get(name, ())
                    if prev is None:
                        continue  # already marked unknown
                    mn, mx = st.min, st.max
                    if prev != ():
                        try:
                            mn = min(prev[0], mn)
                            mx = max(prev[1], mx)
                        except TypeError:
                            acc[name] = None
                            continue
                    acc[name] = (mn, mx)
            def _norm(v: Any) -> Any:
                # pyarrow surfaces TIMESTAMP(isAdjustedToUTC) stats as
                # tz-AWARE datetimes; the engine's convention (and the
                # scan collector under the pinned-UTC session) is naive
                # UTC — normalize so aware-vs-naive comparisons on the
                # read side never TypeError into a missed prune
                import datetime as _dt

                if isinstance(v, _dt.datetime) and v.tzinfo is not None:
                    return v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
                return v

            rel = str(f.relative_to(root))
            out[rel] = {}
            for c in stats_cols:
                got = acc.get(c, None)
                if got is not None and got != ():
                    got = (_norm(got[0]), _norm(got[1]))
                if got in (None, ()):
                    # column absent (hive partition col) or statless:
                    # record an unknown interval so the file is KEPT —
                    # omitting the key would drop it from the read
                    # side's file_stats map and skip it wrongly
                    out[rel][c] = [None, None]
                else:
                    out[rel][c] = [
                        self._stat_ser(got[0]),
                        self._stat_ser(got[1]),
                    ]
        return out or None

    def _collect_file_stats(
        self, spark: SparkSession, dir_path: str, stats_cols: list[str]
    ) -> dict[str, dict[str, list[Any]]]:
        """{relative_file: {col: [min, max]}} over one written dir — a
        single aggregation grouped by input_file_name (column-pruned to
        the stat columns, so the job reads only those pages). The
        fallback when :meth:`_footer_file_stats` cannot reach the
        footers."""
        raw = spark.read.parquet(dir_path)
        cols = [c for c in stats_cols if c in raw.columns]
        if not cols:
            return {}
        aggs = []
        for c in cols:
            aggs.append(F.min(c).alias(f"__mn_{c}"))
            aggs.append(F.max(c).alias(f"__mx_{c}"))
        rows = (
            raw.groupBy(F.input_file_name().alias("__f"))
            .agg(*aggs)
            .collect()
        )
        prefix_variants = [dir_path.rstrip("/") + "/"]
        out: dict[str, dict[str, list[Any]]] = {}
        for r in rows:
            f = r["__f"]
            rel = f
            for pv in prefix_variants:
                idx = rel.find(pv)
                if idx >= 0:
                    rel = rel[idx + len(pv):]
                    break
            else:
                # URI-prefixed path (file:///...): strip up to the dir name
                marker = "/" + Path(dir_path).name + "/"
                idx = rel.find(marker)
                if idx >= 0:
                    rel = rel[idx + len(marker):]
            out[rel] = {
                c: [
                    self._stat_ser(r[f"__mn_{c}"]),
                    self._stat_ser(r[f"__mx_{c}"]),
                ]
                for c in cols
            }
        return out

    # ---------- bloom-filter data skipping ----------

    BLOOM_K = 3  # probes per value (Kirsch-Mitzenmacher double hashing)
    # ~12 bits per row at k=3 ≈ 1% false-positive rate
    BLOOM_BITS_PER_ROW = 12
    BLOOM_MIN_BITS = 4096
    BLOOM_MAX_BITS = 1 << 23  # 1 MiB/bitmap cap
    # bitmaps above this total size go to a `_bloom.json` sidecar inside
    # the data dir instead of inline commit JSON — the commit log (and
    # every checkpoint and replay) must stay control-plane-sized
    BLOOM_INLINE_MAX_B64 = 256 * 1024

    def _bloom_auto_bits(self, dir_path: str) -> int:
        """Size `m` from the dir's LARGEST file (parquet footers —
        driver-side metadata, no jobs): next power of two covering
        BLOOM_BITS_PER_ROW bits/row, clamped to [MIN, MAX]. Footers
        unreachable → a mid-size default."""
        rows = 0
        try:
            import pyarrow.parquet as pq

            root = Path(dir_path)
            if root.exists():
                for f in root.rglob("*.parquet"):
                    rows = max(
                        rows, pq.ParquetFile(str(f)).metadata.num_rows
                    )
        except Exception:  # noqa: BLE001 — sizing is a heuristic only
            rows = 0
        if not rows:
            rows = 50_000
        m = self.BLOOM_MIN_BITS
        target = min(rows * self.BLOOM_BITS_PER_ROW, self.BLOOM_MAX_BITS)
        while m < target:
            m <<= 1
        return m

    def _bloom_field(
        self, bl: dict[str, Any], dir_name: str
    ) -> dict[str, Any]:
        """The commit-JSON `bloom` field for one collected bitmap set:
        inline when small; otherwise the bitmaps land in a
        ``_bloom.json`` sidecar INSIDE the (immutable) data dir — the
        commit carries only {m, k, types, ref}. The sidecar shares the
        dir's lifecycle: restore keeps it live, vacuum reclaims it with
        the dir, and both Spark and pyarrow dataset discovery skip
        underscore-prefixed files."""
        size = sum(
            len(b64) for per in bl["files"].values() for b64 in per.values()
        )
        if size <= self.BLOOM_INLINE_MAX_B64:
            return bl
        ref = f"{dir_name}/_bloom.json"
        self.backend.write_text_atomic(
            self._path(ref), json.dumps({"files": bl["files"]})
        )
        return {k: v for k, v in bl.items() if k != "files"} | {"ref": ref}

    def _bloom_files(
        self, bloom: dict[str, Any]
    ) -> Optional[dict[str, Any]]:
        """The per-file bitmap map of one dir's `bloom` field — inline
        or resolved (and memoized) from its sidecar. None when the
        sidecar is unreadable: the caller must then SKIP the bloom test
        (conservative — the residual predicate keeps results exact)."""
        if "files" in bloom:
            return bloom["files"] or {}
        ref = bloom.get("ref")
        if not ref:
            return None
        cache = getattr(self, "_bloom_sidecar_cache", None)
        if cache is None:
            cache = self._bloom_sidecar_cache = {}
        if ref not in cache:
            try:
                cache[ref] = json.loads(
                    self.backend.read_text(self._path(ref))
                )["files"]
            except Exception:  # noqa: BLE001 — optimization only
                cache[ref] = None
        return cache[ref]

    @staticmethod
    def _rel_file(fname: str, dir_path: str) -> str:
        """input_file_name URI -> path relative to the written dir
        (same normalization as :meth:`_collect_file_stats`)."""
        rel = fname
        pv = dir_path.rstrip("/") + "/"
        idx = rel.find(pv)
        if idx >= 0:
            return rel[idx + len(pv):]
        marker = "/" + Path(dir_path).name + "/"
        idx = rel.find(marker)
        if idx >= 0:
            return rel[idx + len(marker):]
        return rel

    def _collect_file_blooms(
        self,
        spark: SparkSession,
        dir_path: str,
        df_schema: T.StructType,
        cols: list[str],
        m_bits: Optional[int],
    ) -> Optional[dict[str, Any]]:
        """Per-file bloom bitmaps for the named columns over one written
        dir — the Delta bloom-filter-index analog for point lookups on
        columns min/max intervals cannot cut (UUIDs, hashes, uniformly
        distributed keys). ONE distributed pass: every row emits its
        k probe positions for every bloom column (exploded in-task),
        positions fold to 64-bit words via a map-side-combined bit_or,
        and the driver receives at most files x cols x m/64 word rows
        via arrow — proportional to the BITMAPS (which the driver must
        persist anyway), never to the data; numpy scatters the words
        into the byte arrays.

        Probes use Spark's own ``xxhash64`` on the WRITTEN column type
        (recorded per column: a widened re-write hashes differently) and
        double hashing ``pos_i = (h mod m + i * ((h >> 33) | 1)) mod m``
        so the read side recomputes positions from one hash value.
        Returns None when no named column exists in the frame.
        ``m_bits=None`` auto-sizes from the dir's largest file."""
        have = {f.name: f for f in df_schema.fields}
        cols = [c for c in cols if c in have]
        if not cols:
            return None
        if m_bits is None:
            m_bits = self._bloom_auto_bits(dir_path)
        raw = spark.read.schema(df_schema).parquet(dir_path)
        probes = []
        for c in cols:
            h = F.xxhash64(F.col(c))
            h1 = F.pmod(h, F.lit(m_bits))
            h2 = F.shiftright(h, 33).bitwiseOR(F.lit(1))
            for i in range(self.BLOOM_K):
                pos = F.pmod(h1 + F.lit(i) * h2, F.lit(m_bits))
                probes.append(
                    F.struct(
                        F.lit(c).alias("c"),
                        F.when(F.col(c).isNull(), F.lit(None).cast("long"))
                        .otherwise(pos)
                        .alias("p"),
                    )
                )
        words = (
            raw.select(
                F.input_file_name().alias("__f"),
                F.explode(F.array(*probes)).alias("pr"),
            )
            .filter(F.col("pr.p").isNotNull())
            .groupBy(
                "__f",
                F.col("pr.c").alias("c"),
                (F.col("pr.p") / 64).cast("int").alias("w"),
            )
            .agg(
                # shiftleft's python signature wants a literal bit
                # count; the SQL form accepts the per-row expression
                F.bit_or(
                    F.expr("shiftleft(1L, CAST(pmod(pr.p, 64) AS INT))")
                ).alias("b")
            )
            # arrow transfer + vectorized packing: at auto-sized m the
            # word stream is files x cols x m/64 rows (~8k per file-col
            # at m=2^19) — pickled Row objects would dominate the pass
            .toPandas()
        )
        import base64

        import numpy as np

        maps: dict[str, dict[str, bytearray]] = {}
        if len(words):
            words["__rel"] = words["__f"].map(
                lambda f: self._rel_file(f, dir_path)
            )
            for (rel, c), grp in words.groupby(["__rel", "c"], sort=False):
                arr = np.zeros(m_bits // 64, dtype="<u8")
                arr[grp["w"].to_numpy()] = grp["b"].to_numpy().astype(
                    "int64"
                ).view("uint64")
                maps.setdefault(rel, {})[c] = bytearray(arr.tobytes())
        return {
            "m": m_bits,
            "k": self.BLOOM_K,
            "types": {c: have[c].dataType.json() for c in cols},
            "files": {
                rel: {
                    c: base64.b64encode(bytes(a)).decode("ascii")
                    for c, a in per.items()
                }
                for rel, per in maps.items()
            },
        }

    @staticmethod
    def _bloom_hash_values(
        spark: SparkSession, values: list, type_json: str
    ) -> list[int]:
        """``xxhash64`` of each value as the recorded column type, in
        input order. Long/int/string/date/boolean hash DRIVER-SIDE via
        the parity-pinned pure-Python XXH64 (zero Spark jobs — a point
        lookup must not pay a job just to hash its probe); other types
        fall back to ONE local Spark job for the whole batch."""
        from odbc2deltalake_spark.functions.xxh64 import spark_xxhash64

        py = [spark_xxhash64(v, type_json) for v in values]
        if all(h is not None for h in py):
            return py
        dt = T._parse_datatype_json_string(type_json)
        row_df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(values)],
            T.StructType(
                [
                    T.StructField("i", T.IntegerType(), False),
                    T.StructField("v", dt, True),
                ]
            ),
        )
        got = {
            r["i"]: int(r["h"])
            for r in row_df.select(
                "i", F.xxhash64("v").alias("h")
            ).collect()
        }
        return [got[i] for i in range(len(values))]

    @staticmethod
    def _bloom_hash_value(
        spark: SparkSession, value: Any, type_json: str
    ) -> int:
        """Single-value convenience over :meth:`_bloom_hash_values`."""
        return VersionedParquetTable._bloom_hash_values(
            spark, [value], type_json
        )[0]

    @staticmethod
    def _bloom_may_contain(b64: str, m: int, k: int, h: int) -> bool:
        """False ONLY when the bitmap proves the value absent."""
        import base64

        bits = base64.b64decode(b64)
        h1 = h % m
        h2 = (h >> 33) | 1
        for i in range(k):
            pos = (h1 + i * h2) % m
            if not (bits[pos // 8] >> (pos % 8)) & 1:
                return False
        return True

    @staticmethod
    def _bloom_survivors(
        bfiles: dict[str, Any], scol: str, m: int, k: int, hs: list[int]
    ) -> set[str]:
        """Files that may contain ANY probed hash. Each bitmap decodes
        ONCE (a 10k-id `in` list over 64 files must not base64-decode
        640k bitmaps); probe positions are precomputed per hash."""
        import base64

        pos_lists = [
            [((h % m) + i * ((h >> 33) | 1)) % m for i in range(k)]
            for h in hs
        ]
        np_pos = None
        if len(hs) > 32:
            # vectorize large probe sets: 10k ids x 3 probes per file is
            # a numpy gather, not 30k python bit tests per refuted file
            import numpy as np

            np_pos = np.asarray(pos_lists, dtype=np.int64)
        out: set[str] = set()
        for f, per in bfiles.items():
            b64v = per.get(scol)
            if b64v is None:
                continue
            bits = base64.b64decode(b64v)
            if np_pos is not None:
                import numpy as np

                arr = np.frombuffer(bits, dtype=np.uint8)
                hit = (arr[np_pos >> 3] >> (np_pos & 7)) & 1
                if bool(hit.all(axis=1).any()):
                    out.add(f)
                continue
            if any(
                all((bits[p // 8] >> (p % 8)) & 1 for p in pl)
                for pl in pos_lists
            ):
                out.add(f)
        return out

    def write_empty(self, spark: SparkSession, schema: T.StructType) -> int:
        """Create a 0-row table (reference:odbc2deltalake/reader/odbc_reader.py:306-322).

        One slice (r15): an empty local relation defaults to
        defaultParallelism partitions — a 32-task zero-row job; the
        simple-delta path resets delta_2 this way every load."""
        from odbc2deltalake_spark.functions.localdf import one_slice_df

        return self.write(one_slice_df(spark, [], schema), mode="overwrite")

    def restore(self, version: Optional[int] = None, timestamp=None) -> int:
        """Point the table back at an old version's file set as a NEW commit
        (like Delta RESTORE; reference:odbc2deltalake/db_to_delta.py:269-276).
        ``timestamp`` (exclusive with ``version``) restores to the newest
        version committed at or before that time — Delta's
        ``RESTORE ... TO TIMESTAMP AS OF``."""
        if timestamp is not None:
            if version is not None:
                raise ValueError("pass version OR timestamp, not both")
            version = self.version_at_timestamp(timestamp)
        if version is None:
            raise ValueError("restore() needs a version or timestamp")
        st = self._state_at(version)
        new_version = self.version() + 1
        self._write_commit(
            {
                "version": new_version,
                "mode": "restore",
                "dirs": st["dirs"],
                "patches": st["patches"],
                "masks": st["masks"],
                "schema": st["schema"],
                "num_buckets": st["num_buckets"],
                "bucket_cols": st["bucket_cols"],
                "bucket_key_types": st["bucket_key_types"],
                "bucket_rows": st["bucket_rows"],
                "restored_from": version,
            }
        )
        return new_version

    def clone_to(
        self,
        dest: str | Path,
        version: Optional[int] = None,
        timestamp=None,
    ) -> "VersionedParquetTable":
        """SHALLOW CLONE (Delta's ``CREATE TABLE ... SHALLOW CLONE``):
        a new table at ``dest`` whose version-0 commit REFERENCES this
        table's data dirs by absolute path — zero data copied, metadata
        cost only, optionally as of an old ``version``/``timestamp``.

        The clone then diverges freely: its writes, DML, folds, and
        compactions create LOCAL dirs (a rewrite of a referenced dir
        reads the source files and writes the replacement locally —
        copy-on-write at dir granularity), and the clone's ``vacuum``
        only ever deletes its own dirs (reclamation lists the clone
        root; external paths are never listed). Masks, patches, bucket
        layout, stats, and bloom metadata carry over; bloom SIDECARS
        re-resolve against the source dir (absolute ref).

        The Delta-documented hazard carries over too: ``vacuum`` on the
        SOURCE can retire dirs the clone still references — the clone's
        reads then fail with a missing-file error until the clone is
        compacted or restored past them. Pin source retention
        accordingly (docs/commit-format.md)."""
        if timestamp is not None:
            if version is not None:
                raise ValueError("pass version OR timestamp, not both")
            version = self.version_at_timestamp(timestamp)
        st = self._state_at(version)
        out = VersionedParquetTable(dest, backend=self.backend)
        if out.exists():
            raise ValueError(f"clone target {dest} already exists")

        def _abs(name: str) -> str:
            return name if name.startswith("/") else self._path(name)

        dirs = []
        for d in st["dirs"]:
            e = dict(d)
            bloom = e.get("bloom")
            if bloom and bloom.get("ref"):
                e["bloom"] = {**bloom, "ref": _abs(bloom["ref"])}
            e["dir"] = _abs(e["dir"])
            dirs.append(e)
        patches = [{**p, "dir": _abs(p["dir"])} for p in st["patches"]]
        masks = [
            {**m, "dirs": [_abs(x) for x in m["dirs"]]} for m in st["masks"]
        ]
        out._write_commit(
            {
                "version": 0,
                "mode": "restore",
                "dirs": dirs,
                "patches": patches,
                "masks": masks,
                "schema": st["schema"],
                "num_buckets": st["num_buckets"],
                "bucket_cols": st["bucket_cols"],
                "bucket_key_types": st["bucket_key_types"],
                "bucket_rows": st["bucket_rows"],
                "set_props": dict(st["props"]),
                "cloned_from": {
                    "root": self._root_str,
                    "version": st["version"],
                },
            }
        )
        return out

    def delete_where(
        self,
        spark: SparkSession,
        predicate: tuple[str, str, Any] | list[tuple[str, str, Any]],
        stats_cols: Optional[list[str]] = None,
        lazy: bool = False,
    ) -> dict[str, Any]:
        """Merge-on-write DELETE with file-level pruning (Delta's
        ``DELETE FROM t WHERE ...``): only dirs whose recorded [min, max]
        intervals MAY contain matching rows are rewritten; every other
        live dir carries over BY REFERENCE in the new commit. On a
        Z-ordered or load-partitioned layout a selective delete therefore
        rewrites a small fraction of the table — the property that makes
        DML affordable at 100 TB, where a full-table rewrite per delete
        is operationally impossible.

        ``lazy=True`` skips the rewrite entirely: the commit records the
        predicate plus the (stats-pruned) dirs it applies to, and every
        read filters those dirs — a deletion at METADATA cost, the
        predicate-tombstone analog of Delta's deletion vectors for the
        non-keyed case (a GDPR erasure over a 100 TB history becomes one
        JSON write; the I/O is paid later, amortized, by
        :meth:`fold_masks` or any rewrite that retires the masked dirs).
        Returns {version, rows_deleted: None, dirs_masked, dirs_kept} —
        the row count is unknown by design (counting would cost the scan
        lazy exists to avoid). The mask chain is bounded by
        ``MASK_MAX_CHAIN``; past it the next lazy delete folds first.

        ``predicate`` is one ``(col, op, value)`` or a list (AND), the
        same shape as ``skip_where``. SQL DELETE semantics: rows where
        the predicate is NULL are KEPT (``filter(~expr)`` alone would
        drop them). Bucketized layouts rewrite per bucket, preserving
        each bucket tag and its ``bucket_rows`` count, so later merges
        still replace exactly the right files. Counts ride the rewrite
        job as Observations (zero extra scans); per-file stats for the
        rewritten dirs come from parquet footers (driver-side metadata
        I/O), defaulting to the predicate columns plus every column the
        affected dirs already had stats for — future skipping keeps
        working after the delete.

        A delete that turns out to match zero rows abandons its rewrite
        (no commit; the orphan dirs age out via vacuum) so the log only
        records deletes that changed state. Returns a summary dict:
        {version, rows_deleted, dirs_rewritten, dirs_kept}.

        Concurrency: the restore commit claims its version via the
        log's atomic create-if-absent, so ANY commit landing between the
        state read and the publish makes this raise
        :class:`CommitConflictError` — a lost update (the restore
        silently dropping the racer's dirs) is impossible; retry from
        fresh state, the abandoned rewrite dirs age out via vacuum."""
        if lazy:
            out = self._lazy_mask(spark, predicate, None)
            out["rows_deleted"] = out.pop("rows_changed")
            return out
        out = self._dml_rewrite(spark, predicate, None, stats_cols)
        out["rows_deleted"] = out.pop("rows_changed")
        return out

    # mask-chain bound: past this many outstanding lazy deletes/updates
    # the next one folds first — bounds both the per-read mask stack and
    # the mask bookkeeping replay carries
    MASK_MAX_CHAIN = 8

    def _lazy_mask(
        self,
        spark: SparkSession,
        predicate,
        set_exprs: Optional[dict[str, str]],
    ) -> dict[str, Any]:
        """Shared engine for lazy DELETE (``set_exprs`` None) and lazy
        UPDATE: one metadata-only commit recording the predicate, the
        stats-pruned dirs it applies to, and (for updates) the SET
        text."""
        conj = self._skip_conjuncts(predicate)
        if not conj:
            raise ValueError("a lazy mutation requires a predicate")
        st = self._state_at()
        if set_exprs is not None:
            target_names = {
                f["name"] for f in json.loads(st["schema"])["fields"]
            }
            unknown = set(set_exprs) - target_names
            if unknown:
                raise ValueError(
                    f"lazy update: unknown column(s) {sorted(unknown)}"
                )
            bad = set(st.get("bucket_cols") or []) & set(set_exprs)
            if bad:
                raise ValueError(
                    f"lazy update cannot modify bucket key column(s) "
                    f"{sorted(bad)}"
                )
            not_text = [
                k for k, v in set_exprs.items() if not isinstance(v, str)
            ]
            if not_text:
                raise ValueError(
                    f"lazy update requires SQL-text SET expressions "
                    f"(got non-strings for {sorted(not_text)}) — they "
                    "must serialize into the commit"
                )
            if self._constraints_from_props(st["props"]):
                raise ValueError(
                    "lazy update on a table with CHECK constraints is "
                    "refused: enforcement would have to run at read "
                    "time on every scan; use update_where(lazy=False)"
                )
        if st.get("patches"):
            # mask semantics are per-DIR; reconciled patch rows live in
            # no dir until folded (and a patch upsert must beat an older
            # mask, which per-dir filtering cannot express)
            self.fold_patches(spark)
            st = self._state_at()
        if len(st.get("masks") or []) >= self.MASK_MAX_CHAIN:
            self.fold_masks(spark)
            st = self._state_at()
        kept, affected = self._split_dirs_by_predicate(st["dirs"], conj)
        # an outstanding UPDATE mask invalidates stats for its SET
        # columns: a kept dir whose masked values may now match must be
        # re-classified as affected (conservative, per dir — no fold)
        pred_cols = {c for c, _, _ in conj}
        upd_cols: dict[str, set[str]] = {}
        for m in st.get("masks") or []:
            if m.get("set_exprs"):
                for name in m["dirs"]:
                    upd_cols.setdefault(name, set()).update(m["set_exprs"])
        rescued = [
            d for d in kept if upd_cols.get(d["dir"], set()) & pred_cols
        ]
        if rescued:
            rescued_names = {d["dir"] for d in rescued}
            kept = [d for d in kept if d["dir"] not in rescued_names]
            affected = affected + rescued
        summary = {
            "version": st["version"],
            "rows_changed": None,
            "dirs_masked": len(affected),
            "dirs_kept": len(kept),
        }
        if not affected:
            return summary  # provably no matching row: no commit
        new_version = st["version"] + 1
        commit: dict[str, Any] = {
            "version": new_version,
            "mode": "mask",
            "schema": st["schema"],
            "predicate": [
                [c, op, self._stat_ser(v)] for c, op, v in conj
            ],
            # full entries (dir + written schema [+ bucket]) so the
            # change feed can re-read exactly these dirs later
            "dirs_masked": [
                {
                    k: v
                    for k, v in d.items()
                    if k in ("dir", "schema", "bucket", "partitioned")
                }
                for d in affected
            ],
        }
        if set_exprs is not None:
            commit["set_exprs"] = dict(set_exprs)
        # a lazy mask commutes with blind appends (concurrent GDPR
        # erasure vs CDC load must not conflict): on rebase the publish
        # path ABSORBS each racing append's new dirs into dirs_masked,
        # so the erasure is complete as of its COMMIT version — every
        # matching row below vN is masked, whichever writer won the
        # race (commit-order-consistent; ADVICE r10 closed the
        # snapshot-pinned write-skew hole). The commit's schema
        # statement keeps the classifier refusing schema-changing
        # racers; any other row mutation refuses too (two masks can
        # read through each other's SET transforms).
        summary["version"] = self._publish_append_with_rebase(commit)
        # a rebase may have absorbed racing appends' dirs — report the
        # count the COMMIT actually carries, not the pre-race estimate
        summary["dirs_masked"] = len(commit["dirs_masked"])
        return summary

    def fold_masks(self, spark: SparkSession) -> int:
        """Materialize the outstanding mask chain: rewrite each masked
        dir with its masks' filters applied, as ONE restore commit that
        clears the chain. Rows-preserving from the reader's point of
        view (every surviving row was already visible, every removed row
        was already masked out), so the commit carries
        ``masks_folded`` and change feeds skip it like an OPTIMIZE.
        No-op when no masks are outstanding."""
        st = self._state_at()
        masks = st.get("masks") or []
        if not masks:
            return st["version"]
        target = T.StructType.fromJson(json.loads(st["schema"]))
        mask_dirsets = [set(m["dirs"]) for m in masks]
        masked_names = set().union(*mask_dirsets)
        kept_entries = [
            d for d in st["dirs"] if d["dir"] not in masked_names
        ]
        new_version = st["version"] + 1
        new_entries: list[dict[str, Any]] = []
        bucket_rows = dict(st["bucket_rows"] or {})
        written_dirs: list[str] = []
        from pyspark.sql import Observation

        for d in st["dirs"]:
            if d["dir"] not in masked_names:
                continue
            out_df = self._read_dir_entries(spark, [d], target)
            for i, s in enumerate(mask_dirsets):
                if d["dir"] in s:
                    out_df = self._mask_apply(out_df, masks[i], target)
            obs = Observation()
            out_df = out_df.observe(obs, F.count(F.lit(1)).alias("n"))
            dir_name = f"d{new_version:010d}-{uuid.uuid4().hex[:8]}"
            out_df.write.mode("overwrite").parquet(self._path(dir_name))
            written_dirs.append(dir_name)
            kept_n = int(obs.get["n"])
            if d.get("bucket") is not None:
                bucket_rows[str(d["bucket"])] = kept_n
            if kept_n == 0:
                continue  # fully-masked dir: no survivor entry
            entry: dict[str, Any] = {"dir": dir_name, "schema": target.json()}
            # recompute stats for the mask-predicate columns UNION the
            # columns the replaced dir already had stats for (ADVICE r8:
            # dropping the dir's write-time stats_cols silently degraded
            # skip_where pruning after every fold — reads stayed correct
            # but scanned more)
            prior_stat_cols = {
                c
                for s in (d.get("stats") or {}).values()
                for c in s
            }
            sc = sorted(
                (
                    {c for m in masks for c, _, _ in m["predicate"]}
                    | prior_stat_cols
                )
                & set(target.fieldNames())
            )
            if sc:
                fstats = self._footer_file_stats(self._path(dir_name), sc)
                if fstats:
                    entry["stats"] = fstats
            # preserve the dir's bloom index (same rationale as stats:
            # a fold must not silently degrade point lookups) — the
            # re-collect also refreshes bitmaps a lazy UPDATE rewrote
            prior_bloom = sorted(
                set((d.get("bloom") or {}).get("types") or {})
                & set(target.fieldNames())
            )
            if prior_bloom:
                bl = self._collect_file_blooms(
                    spark,
                    self._path(dir_name),
                    target,
                    prior_bloom,
                    int((d.get("bloom") or {}).get("m") or 4096),
                )
                if bl:
                    entry["bloom"] = self._bloom_field(bl, dir_name)
            if d.get("bucket") is not None:
                entry["bucket"] = d["bucket"]
            new_entries.append(entry)
        self._write_commit(
            {
                "version": new_version,
                "mode": "restore",
                "dirs": kept_entries + new_entries,
                "schema": st["schema"],
                "num_buckets": st["num_buckets"],
                "bucket_cols": st["bucket_cols"],
                "bucket_key_types": st["bucket_key_types"],
                "bucket_rows": bucket_rows,
                # rows-preserving for readers: change feeds skip it
                "masks_folded": len(masks),
            }
        )
        return new_version

    def update_where(
        self,
        spark: SparkSession,
        set_exprs: dict[str, Any],
        predicate: tuple[str, str, Any] | list[tuple[str, str, Any]],
        stats_cols: Optional[list[str]] = None,
        lazy: bool = False,
    ) -> dict[str, Any]:
        """Merge-on-write UPDATE (Delta's ``UPDATE t SET ... WHERE ...``)
        with the same file-level pruning as :meth:`delete_where`:
        stat-intersecting dirs are rewritten with matching rows
        transformed, everything else carries over by reference.

        ``set_exprs`` maps column name → SQL expression string (or
        Column) evaluated against the row; non-matching and
        NULL-predicate rows keep their values. Updating a bucket key
        column on a bucketized layout is refused — rewritten rows would
        land in files whose bucket tag no longer matches their hash
        route, silently corrupting later merges. Returns {version,
        rows_updated, dirs_rewritten, dirs_kept}.

        ``lazy=True`` records the predicate + SQL-text SET as an UPDATE
        mask instead of rewriting — one metadata commit; reads transform
        the masked dirs' matching rows in place, folds materialize (see
        :meth:`delete_where`'s lazy contract). Because the mask rewrites
        values at read time, recorded [min, max] stats for the SET
        columns stop bounding the scan: reads skip pruning on those
        columns for the masked dirs, and a later lazy mutation whose
        predicate touches them re-classifies those dirs as candidates.
        Refused when SET has non-string expressions (must serialize),
        touches bucket keys, or the table has CHECK constraints
        (enforcement cannot ride a read)."""
        if not set_exprs:
            raise ValueError("update_where requires at least one SET expression")
        if lazy:
            out = self._lazy_mask(spark, predicate, set_exprs)
            out["rows_updated"] = out.pop("rows_changed")
            return out
        st = self._state_at()
        bcols = set(st["bucket_cols"] or [])
        bad = bcols & set(set_exprs)
        if bad:
            raise ValueError(
                f"update_where cannot modify bucket key column(s) {sorted(bad)}: "
                "rows would no longer hash-route to their file's bucket"
            )
        target = T.StructType.fromJson(json.loads(st["schema"]))
        unknown = set(set_exprs) - set(target.fieldNames())
        if unknown:
            raise ValueError(f"update_where: unknown column(s) {sorted(unknown)}")
        out = self._dml_rewrite(spark, predicate, set_exprs, stats_cols)
        out["rows_updated"] = out.pop("rows_changed")
        return out

    def _split_dirs_by_predicate(
        self, dirs: list[dict[str, Any]], conj: list[tuple[str, str, Any]]
    ) -> tuple[list[dict[str, Any]], list[dict[str, Any]]]:
        """(kept, affected): dirs whose recorded stats PROVE no row can
        match every conjunct vs. dirs that may contain matches — the
        candidate-selection half shared by DML rewrites and partial
        compaction."""
        kept: list[dict[str, Any]] = []
        affected: list[dict[str, Any]] = []
        for d in dirs:
            stats = d.get("stats") or {}
            files_all = {f for f in stats if f != ""}
            may = True
            for scol, sop, sval in conj:
                iv = stats.get("", {}).get(scol)
                if iv is not None and not self._interval_may_match(
                    self._stat_deser(iv[0]), self._stat_deser(iv[1]), sop, sval
                ):
                    may = False
                    break
                per_file = {
                    f: s for f, s in stats.items() if f != "" and scol in s
                }
                # provably no matching row only when EVERY file carries
                # stats for this column and none of their intervals match
                if (
                    per_file
                    and set(per_file) == files_all
                    and not any(
                        self._interval_may_match(
                            self._stat_deser(s[scol][0]),
                            self._stat_deser(s[scol][1]),
                            sop,
                            sval,
                        )
                        for s in per_file.values()
                    )
                ):
                    may = False
                    break
            (affected if may else kept).append(d)
        return kept, affected

    def _dml_rewrite(
        self,
        spark: SparkSession,
        predicate,
        set_exprs: Optional[dict[str, Any]],
        stats_cols: Optional[list[str]] = None,
    ) -> dict[str, Any]:
        """Shared engine for delete_where (set_exprs None) and
        update_where: candidate selection from commit stats, per-bucket
        rewrite, Observation counts, footer stats, restore commit."""
        conj = self._skip_conjuncts(predicate)
        if not conj:
            raise ValueError("a DML rewrite requires a predicate")
        st = self._state_at()
        if st.get("patches"):
            # DML rewrites dirs directly and its CDF synthesis derives
            # pre-images from replaced dirs — both require an unpatched
            # layout; fold the merge-on-read chain first (one merge
            # commit over the patch keys' buckets)
            self.fold_patches(spark)
            st = self._state_at()
        if st.get("masks"):
            # same reason for lazy tombstones: the rewrite reads dirs
            # raw, so outstanding masks must be materialized first
            self.fold_masks(spark)
            st = self._state_at()
        dirs = st["dirs"]
        target = T.StructType.fromJson(json.loads(st["schema"]))
        kept_entries, affected = self._split_dirs_by_predicate(dirs, conj)
        summary = {
            "version": st["version"],
            "rows_changed": 0,
            "dirs_rewritten": 0,
            "dirs_kept": len(kept_entries),
        }
        if not affected:
            return summary

        match = F.coalesce(
            self._conjuncts_predicate(conj), F.lit(False)
        )  # SQL: NULL never matches

        default_sc = {c for c, _, _ in conj}
        for d in affected:
            for s in (d.get("stats") or {}).values():
                default_sc |= set(s)
        sc = stats_cols if stats_cols is not None else sorted(default_sc)
        sc = [c for c in sc if c in target.fieldNames()]

        from collections import defaultdict

        from pyspark.sql import Observation

        # UPDATE can write new values that break a CHECK constraint;
        # DELETE can only remove rows. Violations ride the per-group
        # rewrite jobs' Observations — the commit is withheld entirely
        # on any violation, so enforcement is atomic across groups.
        viol_aggs: list[tuple[str, Any]] = []
        if set_exprs is not None:
            viol_aggs = self._constraint_viol_aggs(
                self._constraints_from_props(st["props"]),
                target.fieldNames(),
            )

        groups: dict[Any, list[dict[str, Any]]] = defaultdict(list)
        for d in affected:
            groups[d.get("bucket")].append(d)

        new_version = st["version"] + 1
        new_entries: list[dict[str, Any]] = []
        bucket_rows = dict(st["bucket_rows"] or {})
        rows_changed = 0
        written_dirs: list[str] = []
        for bucket, ds in sorted(
            groups.items(), key=lambda kv: (kv[0] is None, kv[0])
        ):
            src = self._read_dir_entries(spark, ds, target)
            obs_tot, obs_kept = Observation(), Observation()
            src = src.observe(
                obs_tot,
                F.count(F.lit(1)).alias("n"),
                F.sum(match.cast("long")).alias("m"),
            )
            if set_exprs is None:  # DELETE: matching rows dropped
                out_df = src.filter(~match)
            else:  # UPDATE: matching rows transformed in place
                sets = {
                    k: (v if not isinstance(v, str) else F.expr(v))
                    for k, v in set_exprs.items()
                }
                out_df = src.select(
                    *[
                        (
                            F.when(match, sets[f.name].cast(f.dataType))
                            .otherwise(F.col(f.name))
                            .alias(f.name)
                            if f.name in sets
                            else F.col(f.name)
                        )
                        for f in target.fields
                    ]
                )
            out_df = out_df.observe(
                obs_kept,
                F.count(F.lit(1)).alias("n"),
                *[a.alias(f"v{i}") for i, (_n, a) in enumerate(viol_aggs)],
            )
            dir_name = f"d{new_version:010d}-{uuid.uuid4().hex[:8]}"
            out_df.write.mode("overwrite").parquet(self._path(dir_name))
            written_dirs.append(dir_name)
            kept_vals = obs_kept.get
            kept_n = int(kept_vals["n"])
            bad = {
                viol_aggs[i][0]: int(kept_vals[f"v{i}"] or 0)
                for i in range(len(viol_aggs))
            }
            bad = {k: v for k, v in bad.items() if v}
            if bad:
                for dn in written_dirs:
                    self.backend.remove_recursive(self._path(dn))
                raise ConstraintViolationError(
                    f"update_where rejected: CHECK violations {bad}"
                )
            rows_changed += int(obs_tot.get["m"] or 0)
            if bucket is not None:
                bucket_rows[str(bucket)] = kept_n
            if kept_n == 0:
                continue  # fully-deleted group: no entry at all
            entry: dict[str, Any] = {"dir": dir_name, "schema": target.json()}
            if sc:
                fstats = self._footer_file_stats(self._path(dir_name), sc)
                if fstats:
                    entry["stats"] = fstats
            if bucket is not None:
                entry["bucket"] = bucket
            new_entries.append(entry)

        if rows_changed == 0:
            # nothing actually matched inside the candidate dirs: abandon
            # the rewrite (orphans age out via vacuum), commit nothing
            for dn in written_dirs:
                self.backend.remove_recursive(self._path(dn))
            summary["dirs_kept"] = len(dirs)
            return summary

        self._write_commit(
            {
                "version": new_version,
                "mode": "restore",
                "dirs": kept_entries + new_entries,
                "schema": st["schema"],
                "num_buckets": st["num_buckets"],
                "bucket_cols": st["bucket_cols"],
                "bucket_key_types": st["bucket_key_types"],
                "bucket_rows": bucket_rows,
                "dml_op": "delete" if set_exprs is None else "update",
                "dml_predicate": [
                    [c, op, self._stat_ser(v)] for c, op, v in conj
                ],
                "rows_changed": rows_changed,
                # SET expressions recorded when they are plain SQL text —
                # read_changes_cdf re-applies them to the pre-images to
                # synthesize post-images (a Column-object SET cannot be
                # serialized; such commits read as non-CDF and the
                # consumer re-baselines)
                **(
                    {"dml_set_exprs": dict(set_exprs)}
                    if set_exprs is not None
                    and all(isinstance(v, str) for v in set_exprs.values())
                    else {}
                ),
            }
        )
        summary.update(
            version=new_version,
            rows_changed=rows_changed,
            dirs_rewritten=len(affected),
        )
        return summary

    @staticmethod
    def _to_partitions(df: DataFrame, n: int, target: bool) -> DataFrame:
        """``df`` laid out as at most ``n`` output partitions by a narrow
        ``coalesce``. A ``target`` count (the caller's explicit
        ``out_partitions``) is reached exactly: a round-robin
        ``repartition`` fills it when the scan has fewer splits, since
        ``coalesce`` alone would make the file count depend on the
        host's scan splits. A size-derived ``n`` stays a cap, so the
        default compaction shuffles nothing."""
        if target and df.rdd.getNumPartitions() < n:
            return df.repartition(n)
        return df.coalesce(n)

    def compact(
        self,
        spark: SparkSession,
        target_file_bytes: int = 128 << 20,
        zorder_by: Optional[list[str]] = None,
        out_partitions: Optional[int] = None,
        partition_by: Optional[list[str]] = None,
        stats_cols: Optional[list[str]] = None,
        where: Optional[
            tuple[str, str, Any] | list[tuple[str, str, Any]]
        ] = None,
        bloom_cols: Optional[list[str]] = None,
        bloom_bits: Optional[int] = None,  # None = auto-size from rows/file
    ) -> int:
        """Rewrite the current snapshot's many small files into
        ~``target_file_bytes`` files as ONE new overwrite commit — the
        OPTIMIZE half of lakehouse table maintenance (``vacuum`` is the
        other half and retires the superseded dirs after retention).

        The append-only history table accumulates one dir of
        shuffle-partition-count files per load; at 100 TB that is the
        small-files problem (task-per-file scheduling, metadata-bound
        scans). An explicit ``out_partitions`` is the output file count,
        reached by repartitioning when the scan has fewer splits, so it
        does not depend on the host. Without it the count is capped by
        the backend's byte count of the live dirs (``du``), else by the
        session's default parallelism, and reached by a narrow
        ``coalesce``. ``zorder_by``
        applies `operators.zorder.zorder_layout` to the rewrite so the
        compacted files also carry multi-dimensional clustering —
        Delta's OPTIMIZE ZORDER BY pairing.

        Time travel is preserved: pre-compaction versions keep reading
        their original dirs until vacuumed. Bucketized tables refuse —
        their layout is maintained per-merge (each merge rewrites whole
        buckets; adaptive rebucketing handles growth), so file-level
        compaction would destroy the routing invariant.

        ``where`` makes the compaction PARTIAL (Delta's ``OPTIMIZE ...
        WHERE``): only dirs whose recorded stats may contain matching
        rows are rewritten (skip_where-style conjuncts against the same
        commit stats DML pruning uses); every other dir carries over by
        reference in a restore commit. At 100 TB a nightly OPTIMIZE
        never rewrites the whole table — it compacts the day's small
        load commits (``where=("__timestamp", ">=", <day>)`` on the SCD2
        history), leaving the cold majority untouched. Rows are NOT
        filtered — the predicate only selects which dirs to rewrite —
        and a selection that matches no dir commits nothing.

        Bloom bitmaps are PRESERVED by default: when any live dir
        carries a bloom for a column, the rewrite re-collects bitmaps
        for the union of bloomed columns (pass ``bloom_cols`` to
        override, ``[]`` to drop) — an OPTIMIZE must not silently
        degrade point lookups back to full scans.
        """
        st = self._state_at()
        if st["num_buckets"]:
            raise ValueError(
                "compact() on a bucketized table would break bucket "
                "routing; merges already rewrite whole buckets"
            )
        if where is not None:
            return self._compact_partial(
                spark, st, where, target_file_bytes, zorder_by,
                out_partitions, stats_cols, bloom_cols, bloom_bits,
            )
        if bloom_cols is None:
            bloom_cols = sorted(
                {
                    c
                    for d in st["dirs"]
                    for c in ((d.get("bloom") or {}).get("types") or {})
                }
            )
        snapshot = self.read(spark)
        n = out_partitions
        if n is None:
            # size from the LIVE dirs only — a whole-root du counts dead
            # generations (pre-vacuum) and the commit log, inflating the
            # output file count a little more with every compaction and
            # recreating the small-files problem compact exists to fix
            total = 0
            for d in st["dirs"]:
                total += self.backend.du(self._path(d["dir"])) or 0
            if total:
                n = max(1, min(total // max(1, target_file_bytes), 4096))
        if n is None:
            n = spark.sparkContext.defaultParallelism
        if zorder_by:
            from odbc2deltalake_spark.operators.zorder import zorder_layout

            compacted = zorder_layout(snapshot, zorder_by, out_partitions=n)
        else:
            compacted = self._to_partitions(
                snapshot, n, target=out_partitions is not None
            )
        # a Z-ordered rewrite lays rows out so per-file [min, max]
        # intervals on the cluster keys are TIGHT — recording them makes
        # skip_where reads prune inside the compacted commit (default:
        # the zorder keys themselves)
        if stats_cols is None and zorder_by:
            stats_cols = list(zorder_by)
        return self.write(
            compacted,
            mode="overwrite",
            partition_by=partition_by,
            stats_cols=stats_cols,
            per_file_stats=bool(stats_cols),
            bloom_cols=bloom_cols or None,
            bloom_bits=bloom_bits,
            extra_commit_fields={
                "compacted_from": st["version"],
                "zorder_by": zorder_by or [],
            },
        )

    def _compact_partial(
        self,
        spark: SparkSession,
        st: dict[str, Any],
        where,
        target_file_bytes: int,
        zorder_by: Optional[list[str]],
        out_partitions: Optional[int],
        stats_cols: Optional[list[str]],
        bloom_cols: Optional[list[str]] = None,
        bloom_bits: Optional[int] = None,  # None = auto-size from rows/file
        dirs_filter: Optional[set[str]] = None,
    ) -> int:
        # selection: a skip-style predicate (OPTIMIZE ... WHERE) or an
        # explicit dir-name set (auto_maintain's small-files pass)
        if dirs_filter is None:
            conj = self._skip_conjuncts(where)
            if not conj:
                raise ValueError("compact(where=...) requires a predicate")
        else:
            conj = []
        if st.get("masks"):
            # partial compaction reads dirs raw; materialize lazy
            # tombstones first (full compact reads mask-aware and needs
            # no fold)
            self.fold_masks(spark)
            st = self._state_at()
        if dirs_filter is not None:
            kept = [d for d in st["dirs"] if d["dir"] not in dirs_filter]
            affected = [d for d in st["dirs"] if d["dir"] in dirs_filter]
        else:
            kept, affected = self._split_dirs_by_predicate(
                st["dirs"], conj
            )
        if not affected:
            return st["version"]  # nothing to rewrite: no commit
        target = T.StructType.fromJson(json.loads(st["schema"]))
        src = self._read_dir_entries(spark, affected, target)
        n = out_partitions
        if n is None:
            total = sum(
                self.backend.du(self._path(d["dir"])) or 0 for d in affected
            )
            if total:
                n = max(1, min(total // max(1, target_file_bytes), 4096))
        if n is None:
            n = spark.sparkContext.defaultParallelism
        if zorder_by:
            from odbc2deltalake_spark.operators.zorder import zorder_layout

            src = zorder_layout(src, zorder_by, out_partitions=n)
        else:
            src = self._to_partitions(
                src, n, target=out_partitions is not None
            )
        if stats_cols is None:
            sc = {c for c, _, _ in conj} | set(zorder_by or [])
            for d in affected:
                for s_ in (d.get("stats") or {}).values():
                    sc |= set(s_)
            stats_cols = sorted(sc & set(target.fieldNames()))
        new_version = st["version"] + 1
        dir_name = f"d{new_version:010d}-{uuid.uuid4().hex[:8]}"
        src.write.mode("overwrite").parquet(self._path(dir_name))
        entry: dict[str, Any] = {"dir": dir_name, "schema": target.json()}
        if stats_cols:
            fstats = self._footer_file_stats(self._path(dir_name), stats_cols)
            if fstats:
                entry["stats"] = fstats
        if bloom_cols is None:
            # preserve the bloom index of the rewritten dirs by default
            bloom_cols = sorted(
                {
                    c
                    for d in affected
                    for c in ((d.get("bloom") or {}).get("types") or {})
                }
            )
        if bloom_cols:
            bl = self._collect_file_blooms(
                spark, self._path(dir_name), target, bloom_cols, bloom_bits
            )
            if bl:
                entry["bloom"] = self._bloom_field(bl, dir_name)
        self._write_commit(
            {
                "version": new_version,
                "mode": "restore",
                "dirs": kept + [entry],
                "schema": st["schema"],
                "num_buckets": st["num_buckets"],
                "bucket_cols": st["bucket_cols"],
                "bucket_key_types": st["bucket_key_types"],
                "bucket_rows": st["bucket_rows"],
                "compacted_from": st["version"],
                **(
                    {"compact_dirs": sorted(dirs_filter)}
                    if dirs_filter is not None
                    else {
                        "compact_where": [
                            [c, op, self._stat_ser(v)] for c, op, v in conj
                        ]
                    }
                ),
                "zorder_by": zorder_by or [],
            }
        )
        return new_version

    def history(self) -> list[dict[str, Any]]:
        """Commit metadata, newest first (DESCRIBE HISTORY analog):
        version, mode, and any audit fields the writer recorded
        (`compacted_from`, `restored_from`, ...). Control-plane only —
        reads the JSON log, never the data."""
        out = []
        for name in reversed(self._commit_names()):
            c = self._read_commit(int(name.split(".")[0]))
            out.append(
                {
                    k: (
                        [e["dir"] for e in v] if k == "dirs_masked" else v
                    )
                    for k, v in c.items()
                    if k not in ("schema", "written_schema", "dirs", "dirs_added")
                }
            )
        return out

    # ---------- change feeds ----------
    # read_changes, read_changes_cdf and read_changes_fold project one
    # walker, _feed_commits; docs/commit-format.md §"Change feeds" has
    # the table of what each feed emits, skips or raises per commit kind.

    def _feed_commits(
        self, from_version: int, to_version: int
    ) -> Iterator[tuple[int, dict[str, Any]]]:
        """``(version, commit)`` for each commit in ``(from_version,
        to_version]`` that may change rows, in version order.

        Log holes in the range raise ChangeFeedTruncatedError BEFORE any
        commit is read: silently skipping them would deliver a feed
        missing those commits' rows, and a surviving patch/mask commit
        whose prior state falls below the cut would otherwise surface as
        TruncatedLogError ('state unrecoverable') — the wrong signal for
        a merely-lagging cursor, and one the MV/tailer re-baseline
        handlers do not treat as recoverable.

        Rows-preserving rewrites are dropped: OPTIMIZE (``compacted_from``),
        tombstone materialization (``masks_folded``) and pure
        ``fold_patches`` (``patches_folded``) leave the row set unchanged
        by construction, so they contribute zero change rows — Delta CDF
        likewise emits nothing for OPTIMIZE — and a nightly compaction
        does not force every downstream consumer into a re-baseline.
        Metadata-only appends (``set_properties``) are dropped too; every
        other append's data dir must still exist."""
        have = [
            v
            for v in (int(n.split(".")[0]) for n in self._commit_names())
            if from_version < v <= to_version
        ]
        missing = sorted(set(range(from_version + 1, to_version + 1)) - set(have))
        if missing:
            shown = missing[:5] + (["..."] if len(missing) > 5 else [])
            raise ChangeFeedTruncatedError(
                f"change feed truncated: commits {shown} in "
                f"({from_version}, {to_version}] were removed by log "
                f"truncation — {_REBASELINE}"
            )
        for v in have:
            c = self._read_commit(v)
            if c["mode"] == "append":
                if not c.get("dir"):
                    continue
                self._require_dir(v, c["dir"], "data dir")
            elif any(
                k in c
                for k in ("compacted_from", "masks_folded", "patches_folded")
            ):
                continue
            yield v, c

    def _require_dir(self, v: int, d: str, what: str) -> None:
        """Raise ChangeFeedTruncatedError at plan time when version
        ``v``'s ``what`` ``d`` was vacuumed. Commit JSONs outlive their
        data dirs, so without this the read plans fine and dies at
        execution with an executor FileNotFound that names no recovery
        action. One control-plane exists() per dir, change-set-sized."""
        if not self.backend.exists(self._path(d)):
            raise ChangeFeedTruncatedError(
                f"change feed truncated: version {v}'s {what} {d!r} was "
                f"vacuumed (the cursor predates the retention window) — "
                f"{_REBASELINE}"
            )

    def _appended(
        self, spark: SparkSession, c: dict[str, Any], target: T.StructType
    ) -> DataFrame:
        """The rows one data append commit added, cast to ``target``."""
        return self._read_dir_entries(
            spark, [{"dir": c["dir"], "schema": c["written_schema"]}], target
        )

    def read_changes(
        self,
        spark: SparkSession,
        from_version: int,
        to_version: Optional[int] = None,
    ) -> DataFrame:
        """Rows ADDED by commits in ``(from_version, to_version]`` with a
        ``_commit_version`` column — the change-data-feed for append-mode
        tables. An incremental consumer (a downstream training-data
        pipeline tailing the SCD2 history) checkpoints the last version
        it saw and reads only the new commits' files: cost scales with
        the change set, never with table size.

        Only plain ``append`` commits are readable as changes; any other
        commit that changes rows (overwrite, merge, patch, mask, DML,
        restore) raises ValueError — those commits rewrite rather than
        add, so their dirs do not represent a delta (the consumer should
        re-baseline from a snapshot read, exactly like Delta CDF's
        backfill story). Rows-preserving rewrites and metadata-only
        commits are skipped and log holes raise
        :class:`ChangeFeedTruncatedError` (see :meth:`_feed_commits`).
        """
        to_version = self.version() if to_version is None else to_version
        table_schema = self.schema(to_version)
        parts: list[DataFrame] = []
        for v, c in self._feed_commits(from_version, to_version):
            if c["mode"] != "append":
                raise _unrepresentable(v, c["mode"])
            parts.append(
                self._appended(spark, c, table_schema).withColumn(
                    "_commit_version", F.lit(v).cast("long")
                )
            )
        return _union_all(
            spark,
            parts,
            T.StructType(
                list(table_schema.fields)
                + [T.StructField("_commit_version", T.LongType())]
            ),
        )

    def _read_dir_entries(
        self,
        spark: SparkSession,
        entries: list[dict[str, Any]],
        target: T.StructType,
    ) -> DataFrame:
        """Cast-union the given live-dir entries (each with its own
        written schema) to the target schema — the shared reader for DML
        rewrites, compaction and the change feeds."""
        return _union_all(
            spark,
            [
                _conform(
                    spark.read.schema(
                        T.StructType.fromJson(json.loads(d["schema"]))
                    ).parquet(self._path(d["dir"])),
                    target,
                )
                for d in entries
            ],
            target,
        )

    def _read_dir_entries_masked(
        self,
        spark: SparkSession,
        entries: list[dict[str, Any]],
        target: T.StructType,
        masks: list[dict[str, Any]],
    ) -> DataFrame:
        """:meth:`_read_dir_entries` with the given masks' filters
        applied per dir — the pre-image reader for commits whose old
        side may carry lazy tombstones (rows already dead under a mask
        must not re-appear as pre-images)."""
        if not masks:
            return self._read_dir_entries(spark, entries, target)
        dirsets = [set(m["dirs"]) for m in masks]
        from collections import defaultdict

        groups: dict[tuple[int, ...], list[dict[str, Any]]] = defaultdict(
            list
        )
        for e in entries:
            sig = tuple(
                i for i, s in enumerate(dirsets) if e["dir"] in s
            )
            groups[sig].append(e)
        parts = []
        for sig, es in groups.items():
            df = self._read_dir_entries(spark, es, target)
            for i in sig:
                df = self._mask_apply(df, masks[i], target)
            parts.append(df)
        return _union_all(spark, parts, target)

    def _mask_removed(
        self,
        spark: SparkSession,
        c: dict[str, Any],
        v: int,
        table_schema: T.StructType,
        prev: dict[str, Any],
    ) -> DataFrame:
        """The rows one mask commit AFFECTED (pre-images): predicate
        matches inside its masked dirs, as seen AFTER every earlier mask
        on the same dirs (a re-masked dir must not re-emit rows an older
        tombstone killed, and must see an older update's transforms).
        For tombstone masks these are the deletes; for update masks the
        update_preimages (post = SET applied). ``prev`` is the state at
        ``v - 1``."""
        entries = c["dirs_masked"]
        for e in entries:
            self._require_dir(v, e["dir"], "masked dir")
        prior = prev.get("masks") or []
        df = self._read_dir_entries_masked(
            spark, entries, table_schema, prior
        )
        conj = [
            (cc, op, self._stat_deser(val)) for cc, op, val in c["predicate"]
        ]
        return df.filter(
            F.coalesce(self._conjuncts_predicate(conj), F.lit(False))
        )

    def _row_images(
        self,
        spark: SparkSession,
        c: dict[str, Any],
        v: int,
        table_schema: T.StructType,
        prev: dict[str, Any],
    ) -> tuple[DataFrame, Optional[DataFrame]]:
        """(pre-images, post-images) of one eager DML commit or lazy
        mask commit, given ``prev``, the state at ``v - 1``; post is None
        for a delete."""
        if c["mode"] == "mask":
            pre = self._mask_removed(spark, c, v, table_schema, prev)
            if not c.get("set_exprs"):
                return pre, None
            mask = {"predicate": c["predicate"], "set_exprs": c["set_exprs"]}
            return pre, self._mask_apply(pre, mask, table_schema)
        return self._dml_images(spark, c, v, table_schema, prev)

    def _prior_state(self, v: int, c: dict[str, Any]) -> dict[str, Any]:
        """The state at ``v - 1`` that commit ``v``'s change rows are
        derived from, resolved once per feed commit. Any rewrite but a
        merge, patch, mask or DML commit (an overwrite, a plain restore)
        is not representable and raises before the replay."""
        if c["mode"] not in ("merge", "patch", "mask") and not (
            c["mode"] == "restore" and c.get("dml_op")
        ):
            raise _unrepresentable(v, c["mode"])
        return self._state_at(v - 1)

    def read_changes_cdf(
        self,
        spark: SparkSession,
        from_version: int,
        to_version: Optional[int] = None,
    ) -> DataFrame:
        """Row-level change feed WITH DML support — the Delta CDF analog
        including ``_change_type``: appends emit ``insert`` rows, and the
        store's merge-on-write DML commits are synthesized into
        ``delete`` / ``update_preimage`` / ``update_postimage`` rows, so
        a retraction-capable consumer (an incremental sum/count view)
        folds deletes and updates WITHOUT re-baselining.

        Synthesis is metadata-driven and delta-sized: a DML commit's
        replaced dirs are exactly the previous version's dirs missing
        from its dir list (time travel keeps them readable until
        vacuumed); the recorded predicate selects the changed rows, and
        for updates the recorded SET expressions re-derive the
        post-images from the pre-images — no diffing of old-vs-new data.
        An update whose SET was passed as Column objects (not SQL text)
        is not representable and raises; rows-preserving OPTIMIZE
        commits emit nothing; overwrite/plain-restore raise like
        :meth:`read_changes` (re-baseline); vacuumed pre-image dirs
        raise :class:`ChangeFeedTruncatedError` at plan time.

        MERGE commits (``merge_upsert``) ARE representable: the commit
        names the replaced buckets, so the pre-images are the prior
        version's dirs for exactly those buckets and the post-state is
        ``dirs_added`` — a full-outer key join over that k/NB slice
        (never the whole table) classifies each key as
        insert / update / unchanged in ONE pass (exploded event array,
        no per-change-type re-scan), and matched-but-identical rows emit
        nothing. This keeps an incremental view incremental across the
        CDC hot path, which maintains its key index via merge."""
        to_version = self.version() if to_version is None else to_version
        table_schema = self.schema(to_version)
        parts: list[DataFrame] = []

        def tag(df: DataFrame, ct: str, v: int) -> DataFrame:
            return df.withColumn("_change_type", F.lit(ct)).withColumn(
                "_commit_version", F.lit(v).cast("long")
            )

        for v, c in self._feed_commits(from_version, to_version):
            mode = c["mode"]
            if mode == "append":
                parts.append(
                    tag(self._appended(spark, c, table_schema), "insert", v)
                )
                continue
            prev = self._prior_state(v, c)
            if mode == "merge":
                parts.append(self._merge_cdf(spark, c, v, table_schema, prev))
            elif mode == "patch":
                parts.append(self._patch_cdf(spark, c, v, table_schema, prev))
            else:
                pre, post = self._row_images(spark, c, v, table_schema, prev)
                if post is None:
                    parts.append(tag(pre, "delete", v))
                else:
                    parts.append(tag(pre, "update_preimage", v))
                    parts.append(tag(post, "update_postimage", v))
        return _union_all(
            spark,
            parts,
            T.StructType(
                list(table_schema.fields)
                + [
                    T.StructField("_change_type", T.StringType()),
                    T.StructField("_commit_version", T.LongType()),
                ]
            ),
        )

    def _dml_images(
        self,
        spark: SparkSession,
        c: dict[str, Any],
        v: int,
        table_schema: T.StructType,
        prev: dict[str, Any],
    ) -> tuple[DataFrame, Optional[DataFrame]]:
        """(pre-image, post-image) rows of one DML commit, synthesized
        from metadata: the replaced dirs are the prior version's dirs
        missing from the commit's dir list, the recorded predicate
        selects the changed rows, and for updates the recorded SET text
        re-derives the post-images. Post is None for a delete; an
        update whose SET was passed as Column objects raises. ``prev`` is
        the state at ``v - 1``."""
        cur_names = {d["dir"] for d in c["dirs"]}
        replaced = [d for d in prev["dirs"] if d["dir"] not in cur_names]
        for d in replaced:
            self._require_dir(v, d["dir"], "pre-image dir")
        conj = [
            (cc, op, self._stat_deser(val))
            for cc, op, val in c["dml_predicate"]
        ]
        match = F.coalesce(self._conjuncts_predicate(conj), F.lit(False))
        pre = self._read_dir_entries(spark, replaced, table_schema).filter(
            match
        )
        if c["dml_op"] == "delete":
            return pre, None
        if "dml_set_exprs" not in c:
            raise ValueError(
                f"version {v} is an UPDATE whose SET expressions were "
                "not recorded (Column objects) — not CDF-representable; "
                "re-baseline from read(version=...)"
            )
        sets = {k: F.expr(s) for k, s in c["dml_set_exprs"].items()}
        post = pre.select(
            *[
                (
                    sets[f.name].cast(f.dataType).alias(f.name)
                    if f.name in sets
                    else F.col(f.name)
                )
                for f in table_schema.fields
            ]
        )
        return pre, post

    def _merge_preimage_entries(
        self,
        c: dict[str, Any],
        v: int,
        prev: dict[str, Any],
    ) -> tuple[list[dict[str, Any]], Optional[int]]:
        """The dir entries of ``prev`` (the state at ``v - 1``) for the
        buckets a merge commit replaced, plus their metadata row count
        (None when any replaced bucket lacks a recorded count). Raises
        ChangeFeedTruncatedError when a pre-image dir was vacuumed."""
        rb = set(c.get("buckets_replaced") or [])
        replaced = [d for d in prev["dirs"] if d.get("bucket") in rb]
        for d in replaced:
            self._require_dir(v, d["dir"], "pre-image bucket dir")
        br = prev.get("bucket_rows") or {}
        bids = {d.get("bucket") for d in replaced}
        old_rows = (
            sum(int(br[str(b)]) for b in bids)
            if all(str(b) in br for b in bids)
            else None
        )
        return replaced, old_rows

    def _merge_preimage_frame(
        self,
        spark: SparkSession,
        c: dict[str, Any],
        v: int,
        table_schema: T.StructType,
        prev: dict[str, Any],
    ) -> DataFrame:
        """The RECONCILED prior-state rows of the buckets a merge commit
        replaced, cast to ``table_schema`` — the pre-image side for CDF
        synthesis and retraction folds. Rows already dead under a lazy
        tombstone at v-1 must not resurface (their mask commit emitted
        the deletes), and — ADVICE r8 — rows rewritten by an outstanding
        PATCH chain must appear patch-applied (the patch commit already
        emitted those changes; reading the raw base dirs here would emit
        them a second time). The no-patch fast path reads only the
        replaced dirs; with patches outstanding the bucket-pruned
        time-travel read reconciles exactly like :meth:`_patch_cdf`.
        ``prev`` is the state at ``v - 1``."""
        replaced, _old_rows = self._merge_preimage_entries(c, v, prev)
        prior_patches = prev.get("patches") or []
        if not prior_patches:
            return self._read_dir_entries_masked(
                spark, replaced, table_schema, prev.get("masks") or []
            )
        for p in prior_patches:
            self._require_dir(v, p["dir"], "pre-image patch dir")
        rb = sorted(set(c.get("buckets_replaced") or []))
        return _conform(self._read_state(spark, prev, rb), table_schema)

    def _merge_cdf(
        self,
        spark: SparkSession,
        c: dict[str, Any],
        v: int,
        table_schema: T.StructType,
        prev: dict[str, Any],
    ) -> DataFrame:
        """Synthesize CDF rows for one MERGE commit (see
        :meth:`read_changes_cdf`). Reads ONLY the replaced buckets'
        pre-image dirs and the commit's added dirs, and classifies them
        with :meth:`_classify_keyed`: new key -> insert, changed payload
        -> pre+post images, identical payload (merge rewrote it
        byte-for-byte, or the row merely rode along in a rewritten
        bucket) -> nothing. old-only keys cannot occur under upsert
        semantics but would emit an exact delete.

        NOTE the classification join costs O(touched-bucket rows) with a
        shuffle — consumers that only FOLD changes into sums/counts
        should use :meth:`read_changes_fold`, where unchanged rows
        cancel arithmetically and no join runs at all."""
        return self._classify_keyed(
            self._merge_preimage_frame(spark, c, v, table_schema, prev),
            self._read_dir_entries(spark, c["dirs_added"] or [], table_schema),
            c["bucket_cols"],
            table_schema,
            v,
        )

    def _patch_cdf(
        self,
        spark: SparkSession,
        c: dict[str, Any],
        v: int,
        table_schema: T.StructType,
        prev: dict[str, Any],
    ) -> DataFrame:
        """Synthesize CDF rows for one merge-on-read PATCH commit. The
        new side is the patch dir itself (delta-sized); the old side is
        the prior version's rows for the patch keys' buckets (patch-
        aware, bucket-pruned read). Classified by
        :meth:`_classify_keyed` with the patch's tombstone column.
        ``prev`` is the state at ``v - 1``."""
        self._require_dir(v, c["dir"], "patch dir")
        keys = list(prev.get("bucket_cols") or [])
        written = T.StructType.fromJson(json.loads(c["written_schema"]))
        pr = _conform(
            spark.read.schema(written).parquet(self._path(c["dir"])),
            table_schema,
            F.col(_PATCH_DEL_COL),
        )
        kt = self._bucket_key_schema(prev, keys)
        pb = None
        if kt is not None and prev.get("num_buckets"):
            key_types = {f.name: f.dataType for f in kt.fields}
            bexpr = F.pmod(
                F.xxhash64(*[F.col(k).cast(key_types[k]) for k in keys]),
                F.lit(prev["num_buckets"]),
            ).cast("int")
            pb = sorted(
                r[0]
                for r in pr.select(bexpr.alias("__b")).distinct().collect()
            )
        old = self._read_state(spark, prev, pb)
        return self._classify_keyed(
            old, pr, keys, table_schema, v, tomb=_PATCH_DEL_COL
        )

    @staticmethod
    def _classify_keyed(
        old: DataFrame,
        new: DataFrame,
        keys: list[str],
        table_schema: T.StructType,
        v: int,
        tomb: Optional[str] = None,
    ) -> DataFrame:
        """CDF rows for commit ``v`` from a null-safe full-outer join of
        the ``old`` and ``new`` rows on ``keys``: an exploded event array
        yields every change row in one pass. A new-only key is an
        insert, an old-only key a delete, a changed payload a pre+post
        image pair, an identical payload nothing.

        ``tomb`` names ``new``'s tombstone flag (a patch commit). Then a
        tombstone on a present key is an exact delete, a tombstone on an
        absent key is nothing, and old-only keys are ride-alongs from
        the bucket-pruned prior read that emit nothing."""
        non_keys = [f.name for f in table_schema.fields if f.name not in keys]
        # keys-only tables have no payload: a constant stands in so
        # matched keys always compare equal (a keys-only row cannot
        # change) and only inserts survive
        pay = F.struct(*non_keys) if non_keys else F.struct(F.lit(0))
        o = old.select(*keys, pay.alias("__p")).alias("__o")
        n = new.select(
            *keys,
            pay.alias("__p"),
            *([F.col(tomb).alias("__del")] if tomb else []),
        ).alias("__n")
        cond = F.lit(True)
        for k in keys:
            cond = cond & F.col(f"__o.{k}").eqNullSafe(F.col(f"__n.{k}"))
        pre, post = F.col("__o.__p"), F.col("__n.__p")
        ev = T.StructType(
            [
                T.StructField("ct", T.StringType()),
                T.StructField("p", o.schema["__p"].dataType),
            ]
        )
        none = F.lit(None).cast(T.ArrayType(ev))

        def emit(*events: tuple[str, Any]) -> Any:
            return F.array(
                *[F.struct(F.lit(ct).alias("ct"), p.alias("p")) for ct, p in events]
            )

        if tomb:
            dele = F.col("__n.__del")
            events = (
                F.when(dele.isNull(), none)  # old-only ride-along
                .when(dele & pre.isNotNull(), emit(("delete", pre)))
                .when(dele, none)  # tombstone for an absent key
                .when(pre.isNull(), emit(("insert", post)))
            )
        else:
            events = F.when(
                pre.isNull() & post.isNotNull(), emit(("insert", post))
            ).when(post.isNull() & pre.isNotNull(), emit(("delete", pre)))
        events = events.when(
            ~pre.eqNullSafe(post),
            emit(("update_preimage", pre), ("update_postimage", post)),
        ).otherwise(none)
        joined = o.join(n, cond, "full_outer").select(
            *[
                F.coalesce(F.col(f"__o.{k}"), F.col(f"__n.{k}")).alias(k)
                for k in keys
            ],
            F.explode(events).alias("__e"),  # null array -> row dropped
        )
        return joined.select(
            *[
                (
                    F.col(f.name)
                    if f.name in keys
                    else F.col("__e.p")[f.name].alias(f.name)
                )
                for f in table_schema.fields
            ],
            F.col("__e.ct").alias("_change_type"),
            F.lit(v).cast("long").alias("_commit_version"),
        )

    def read_changes_fold(
        self,
        spark: SparkSession,
        from_version: int,
        to_version: Optional[int] = None,
    ) -> tuple[DataFrame, DataFrame, dict[str, Optional[int]]]:
        """Coarse retraction feed for incremental aggregate maintenance:
        ``(adds, subs, cost)``, where folding ``partial(adds) -
        partial(subs)`` into a sum/count/avg view is EXACTLY equivalent
        to folding the labeled :meth:`read_changes_cdf` rows — but with
        no classification join. A MERGE commit contributes its entire
        replaced buckets as subs and its replacement buckets as adds:
        unchanged and ride-along rows appear identically on both sides
        and cancel arithmetically, so correctness needs no per-key diff.
        Appends contribute adds; DML deletes contribute their pre-images
        as subs; DML updates contribute pre-images as subs and
        SET-derived post-images as adds.

        ``cost`` carries a metadata-only estimate so the consumer can
        choose fold-vs-recompute without running a job:
        ``fold_rows`` = rows the fold must scan beyond what any strategy
        would read (merge old+new bucket rows from recorded per-bucket
        counts, 2x rows_changed per DML commit; appends count zero —
        a recompute reads them too), and ``table_rows`` = the snapshot
        size at ``to_version`` when the layout is fully bucketized
        (exact parquet-footer counts), else None. A fold whose
        ``fold_rows`` approaches ``table_rows`` — e.g. a merge batch
        whose keys hash into every bucket — is dominated by one
        recompute scan, and the consumer should take that instead.

        Same truncation contract as :meth:`read_changes_cdf`: vacuumed
        pre-image dirs or log gaps raise ChangeFeedTruncatedError; a
        non-representable commit (overwrite, Column-SET update) raises
        ValueError."""
        to_version = self.version() if to_version is None else to_version
        table_schema = self.schema(to_version)
        adds: list[DataFrame] = []
        subs: list[DataFrame] = []
        fold_rows = 0
        for v, c in self._feed_commits(from_version, to_version):
            mode = c["mode"]
            if mode == "append":
                adds.append(self._appended(spark, c, table_schema))
                continue
            prev = self._prior_state(v, c)
            if mode == "merge":
                replaced, old_rows = self._merge_preimage_entries(
                    c, v, prev
                )
                if replaced or prev.get("patches"):
                    # patch-aware pre-images (ADVICE r8): a raw dir read
                    # would re-subtract rows the patch commit already
                    # retracted, double-applying the delta
                    subs.append(
                        self._merge_preimage_frame(
                            spark, c, v, table_schema, prev
                        )
                    )
                if c.get("dirs_added"):
                    adds.append(
                        self._read_dir_entries(
                            spark, c["dirs_added"], table_schema
                        )
                    )
                new_rows = sum(
                    int(r) for r in (c.get("bucket_rows") or {}).values()
                )
                fold_rows += (old_rows or 0) + new_rows
            elif mode == "patch":
                # merge-on-read commit: the exact pre/post images come
                # from the same classification _patch_cdf synthesizes
                # (delta-sized patch vs bucket-pruned prior read) —
                # unlike a merge there are no ride-along rows to cancel,
                # so the fold is already minimal
                ch = self._patch_cdf(spark, c, v, table_schema, prev)
                aux = ["_change_type", "_commit_version"]
                subs.append(
                    ch.filter(
                        F.col("_change_type").isin(
                            "delete", "update_preimage"
                        )
                    ).drop(*aux)
                )
                adds.append(
                    ch.filter(
                        F.col("_change_type").isin(
                            "insert", "update_postimage"
                        )
                    ).drop(*aux)
                )
                n = int(c.get("patch_rows") or 0)
                # classification scans the prior touched buckets: bound
                # by one bucket per patch key (metadata-only estimate)
                meta = prev.get("bucket_rows") or {}
                if meta and prev.get("num_buckets"):
                    avg = sum(int(r) for r in meta.values()) / len(meta)
                    fold_rows += int(
                        avg * min(len(meta), max(n, 1))
                    ) + n
                else:
                    fold_rows += 2 * n
            else:
                # eager DML and lazy masks: pre-images are subs, SET-
                # derived post-images adds (same shape for both)
                pre, post = self._row_images(spark, c, v, table_schema, prev)
                subs.append(pre)
                if post is not None:
                    adds.append(post)
                if mode == "mask":
                    # cost: the masked dirs are re-scanned (no recorded
                    # row counts for them; charge the bucket metadata
                    # when tagged)
                    br = prev.get("bucket_rows") or {}
                    fold_rows += sum(
                        int(br.get(str(e.get("bucket")), 0))
                        for e in c["dirs_masked"]
                    )
                else:
                    fold_rows += 2 * int(c.get("rows_changed") or 0)
        st = self._state_at(to_version)
        dirs = st["dirs"]
        table_rows: Optional[int] = None
        if (
            dirs
            and all(d.get("bucket") is not None for d in dirs)
            and st["bucket_rows"]
            and {d["bucket"] for d in dirs}
            == {int(b) for b in st["bucket_rows"]}
        ):
            table_rows = int(sum(st["bucket_rows"].values()))
        return (
            _union_all(spark, adds, table_schema),
            _union_all(spark, subs, table_schema),
            {"fold_rows": fold_rows, "table_rows": table_rows},
        )

    def set_properties(self, props: dict[str, str]) -> int:
        st = self._state_at()
        # metadata-only commit: carries NO schema statement, so it can
        # never roll back a concurrent schema change when rebased —
        # properties fold last-writer-wins over any state, making this
        # commit commute with everything except a racer writing the
        # same keys (refused by the rebase classifier via key overlap)
        return self._publish_append_with_rebase(
            {
                "version": st["version"] + 1,
                "mode": "append",
                "dir": None,
                "set_props": props,
            }
        )

    def get_property(self, name: str) -> Optional[str]:
        return self._state_at()["props"].get(name)

    def drop_column(self, name: str) -> int:
        """ALTER TABLE DROP COLUMN as ONE metadata-only commit — no data
        rewrite (Delta needs column mapping for this; the per-dir
        written-schema cast-union gives it naturally: reads simply stop
        selecting the column, and time travel below this version still
        shows it).

        Refused while the column is load-bearing: an outstanding mask
        predicate or SET expression references it (fold_masks first — a
        later reader could not evaluate the mask against the narrowed
        schema), it is a bucket key, or a CHECK constraint names it
        (drop the constraint first). Re-ADDING a same-named column is
        refused by ``write(merge_schema=True)`` while any live dir still
        physically carries the old values — without per-column physical
        ids, old files would resurrect stale data under the new column;
        OPTIMIZE (which rewrites to the post-drop schema) clears it."""
        st = self._state_at()
        target = T.StructType.fromJson(json.loads(st["schema"]))
        if name not in target.fieldNames():
            raise ValueError(f"no such column {name!r}")
        for m in st.get("masks") or []:
            cols = {c for c, _, _ in m["predicate"]} | set(
                m.get("set_exprs") or {}
            )
            if name in cols:
                raise ValueError(
                    f"column {name!r} is referenced by an outstanding "
                    "lazy mask — fold_masks() first"
                )
        if name in (st.get("bucket_cols") or []):
            raise ValueError(f"column {name!r} is a bucket key")
        for cname, conj in self.check_constraints().items():
            if name in {c for c, _, _ in conj}:
                raise ValueError(
                    f"column {name!r} is named by CHECK constraint "
                    f"{cname!r} — drop the constraint first"
                )
        narrowed = T.StructType(
            [f for f in target.fields if f.name != name]
        )
        new_version = st["version"] + 1
        self._write_commit(
            {
                "version": new_version,
                "mode": "append",
                "dir": None,
                "schema": narrowed.json(),
                "dropped_column": name,
            }
        )
        return new_version

    ANALYZE_PROP = "stats.columns"

    def analyze(
        self, spark: SparkSession, cols: Optional[list[str]] = None
    ) -> dict[str, dict[str, Any]]:
        """ANALYZE TABLE: one aggregation pass computing per-column
        null count, approximate NDV (HyperLogLog++, Spark's
        approx_count_distinct) and min/max for every atomic-typed column
        (complex types get null count only), persisted as ONE metadata
        commit under ``stats.columns`` — the lakehouse column-statistics
        surface (Delta's dataSkippingStatsColumns / ANALYZE analog).
        Readers use them for join-side sizing and sanity checks without
        touching data; ``column_stats()`` reads them back.

        Scale: a single map-side-combining aggregate over one scan —
        every statistic is mergeable state (counters + HLL sketches +
        extrema), so the exchange is one row per partition regardless of
        table size."""
        df = self.read(spark)
        atomic = (T.NumericType, T.StringType, T.DateType,
                  T.TimestampType, T.TimestampNTZType, T.BooleanType)
        fields = [
            f
            for f in df.schema.fields
            if (cols is None and not f.name.startswith("__"))
            or (cols is not None and f.name in cols)
        ]
        aggs = [F.count(F.lit(1)).alias("__rows")]
        for f in fields:
            c = f.name
            aggs.append(
                F.sum(F.col(c).isNull().cast("long")).alias(f"__nul_{c}")
            )
            if isinstance(f.dataType, atomic):
                aggs.append(F.approx_count_distinct(c).alias(f"__ndv_{c}"))
                aggs.append(F.min(c).alias(f"__mn_{c}"))
                aggs.append(F.max(c).alias(f"__mx_{c}"))
        row = df.agg(*aggs).first()
        out: dict[str, dict[str, Any]] = {
            "__table": {"rows": int(row["__rows"])}
        }
        for f in fields:
            c = f.name
            st: dict[str, Any] = {"nulls": int(row[f"__nul_{c}"] or 0)}
            if isinstance(f.dataType, atomic):
                st["ndv"] = int(row[f"__ndv_{c}"] or 0)
                st["min"] = self._stat_ser(row[f"__mn_{c}"])
                st["max"] = self._stat_ser(row[f"__mx_{c}"])
            out[c] = st
        self.set_properties({self.ANALYZE_PROP: json.dumps(out)})
        return out

    def column_stats(self) -> Optional[dict[str, dict[str, Any]]]:
        """Stats from the last ``analyze()``, min/max deserialized; None
        if the table was never analyzed."""
        raw = self.get_property(self.ANALYZE_PROP)
        if raw is None:
            return None
        out = json.loads(raw)
        for st in out.values():
            for k in ("min", "max"):
                if k in st:
                    st[k] = self._stat_deser(st[k])
        return out

    def vacuum(
        self,
        retain_versions: int = 1,
        orphan_min_age_seconds: float = 3600.0,
        dry_run: bool = False,
    ) -> list[str]:
        """Delete data dirs unreferenced by any of the last
        ``retain_versions`` versions — time travel and ``restore`` to those
        versions keep working after a vacuum, matching Delta's
        retention-checked VACUUM (the reference relies on Delta semantics;
        reference:odbc2deltalake/db_to_delta.py:261-267 vacuums side tables).

        Two levels of reclamation:

        - whole top-level ``d<version>-*`` dirs with no retained reference
          (failed/conflicted writes, overwritten generations);
        - ``__bucket=<i>`` children inside kept top-level dirs whose entry
          is not retained — buckets superseded by later merges would
          otherwise leak for as long as any sibling bucket stays live,
          unbounded growth on exactly the frequently-merged tables
          bucketing targets.

        Concurrency: commits are lockless, so a dir referenced by NO
        commit may belong to an in-flight writer that has written data
        but not yet published (data-then-commit protocol). Such orphans
        are reclaimed only once older than ``orphan_min_age_seconds``
        (default 1 h — the same role as Delta's
        ``deletedFileRetentionDuration`` floor); dirs referenced by a
        superseded commit carry proof their writer finished and are
        deleted regardless of age. Backends that cannot date a dir
        (``mtime`` → None) never reclaim orphans.

        ``dry_run=True`` returns exactly what a real run would reclaim
        without deleting anything — the operational preview (Delta's
        VACUUM DRY RUN).
        """
        if not self.exists():
            return []
        import time as _time

        retain_versions = max(1, retain_versions)
        latest = self.version()
        first = max(0, latest - retain_versions + 1)
        live_entries: set[str] = set()
        for v in range(first, latest + 1):
            try:
                st = self._state_at(v)
            except ValueError:
                continue  # version numbers need not be dense
            live_entries.update(d["dir"] for d in st["dirs"])
            # merge-on-read patch dirs are as live as the base dirs they
            # reconcile over — without this a retained patch commit's dir
            # would be reclaimed as "superseded" (it IS in referenced_ever)
            # and every read of the retained versions would lose its rows
            live_entries.update(p["dir"] for p in (st.get("patches") or []))
        live_top = {e.split("/", 1)[0] for e in live_entries}
        # every top dir ANY commit ever referenced — one linear pass over
        # the raw log (no replay); membership proves the writer published
        referenced_ever: set[str] = set()
        for name in self._commit_names():
            c = json.loads(
                self.backend.read_text(self.backend.join(self._commits_dir, name))
            )
            if c.get("dir"):
                referenced_ever.add(c["dir"].split("/", 1)[0])
            for e in (
                (c.get("dirs_added") or [])
                + (c.get("dirs") or [])
                + (c.get("patches") or [])
            ):
                referenced_ever.add(e["dir"].split("/", 1)[0])
        now = _time.time()
        removed = []
        for name in self.backend.list_dir(self._root_str):
            if not name.startswith("d") or name == "_commits":
                continue
            if name not in live_top:
                if name not in referenced_ever:
                    age = self.backend.mtime(self._path(name))
                    if age is None or now - age < orphan_min_age_seconds:
                        continue  # possibly an in-flight writer's dir
                if not dry_run:
                    self.backend.remove_recursive(self._path(name))
                removed.append(name)
                continue
            for child in self.backend.list_dir(self._path(name)):
                if (
                    child.startswith(f"{_BUCKET_COL}=")
                    and f"{name}/{child}" not in live_entries
                ):
                    if not dry_run:
                        self.backend.remove_recursive(self._path(name, child))
                    removed.append(f"{name}/{child}")
        return removed

    def truncate_log(self, before_version: int) -> list[str]:
        """Delete commit JSONs for versions < ``before_version`` — the
        control-plane half of retention (Delta's logRetentionDuration).
        A daily-loaded table accumulates one commit file per load
        forever; checkpoints bound the REPLAY cost but the listing and
        vacuum's linear log pass still grow without bound. Truncation
        caps that, at the documented cost: time travel and
        ``restore`` below ``before_version`` stop working, and a change
        feed whose cursor predates the truncation point raises
        ``ChangeFeedTruncatedError`` (read_changes detects the hole in
        the version sequence rather than silently skipping the missing
        commits' rows).

        Safety rails: refuses unless a CHECKPOINT at or below
        ``before_version`` covers the truncated prefix (otherwise no
        state below the head would be reconstructible at all), and
        always keeps the head commit. Data dirs are untouched — vacuum
        owns those."""
        names = self._commit_names()
        if not names:
            return []
        head = int(names[-1].split(".")[0])
        before_version = min(before_version, head)  # never truncate head
        # the checkpoint must sit at before_version-1 or before_version:
        # only then is EVERY v >= before_version reconstructible (replay
        # base <= v with all of (base, v] surviving). A checkpoint
        # further ahead would leave the versions between unservable.
        cps = [
            cv
            for cv in self._checkpoint_versions()
            if before_version - 1 <= cv <= before_version
        ]
        if not cps:
            raise ValueError(
                f"refusing to truncate log below v{before_version}: need "
                f"a checkpoint at v{before_version - 1} or "
                f"v{before_version} — run checkpoint({before_version - 1}) "
                "first"
            )
        removed = []
        for name in names:
            v = int(name.split(".")[0])
            if v >= before_version:
                break
            self.backend.remove_recursive(
                self.backend.join(self._commits_dir, name)
            )
            removed.append(name)
        return removed

    def maintenance_report(
        self,
        target_file_bytes: int = 128 << 20,
        retain_versions: int = 1,
        orphan_min_age_seconds: float = 3600.0,
    ) -> dict[str, Any]:
        """Operational health snapshot from METADATA ONLY (no Spark
        jobs): what a nightly maintenance job reads to decide whether to
        compact, checkpoint, truncate the log, or vacuum. At 100 TB the
        decision inputs must never require scanning the data — every
        number here comes from the commit log, checkpoint listing, and
        backend `du`/listing calls.

        Keys: version, n_live_dirs, live_bytes, small_dirs (< target,
        each {dir, bytes}), advise_compact, log_commits,
        newest_checkpoint, commits_since_checkpoint,
        truncate_eligible_below (highest checkpoint-covered cut, or
        None), vacuum_reclaimable_dirs (dry-run count).

        ``retain_versions`` / ``orphan_min_age_seconds`` flow into the
        dry-run vacuum (ADVICE r7): an operator planning
        ``vacuum(retain_versions=7)`` passes the same 7 here, so the
        report predicts exactly what THAT vacuum would reclaim instead
        of overstating with the default retention."""
        st = self._state_at()
        dirs = st["dirs"]
        small: list[dict[str, Any]] = []
        total = 0
        for d in dirs:
            b = self.backend.du(self._path(d["dir"]))
            if b is not None:
                total += b
                if b < target_file_bytes:
                    small.append({"dir": d["dir"], "bytes": b})
        names = self._commit_names()
        cps = self._checkpoint_versions()
        newest_cp = cps[-1] if cps else None
        head = st["version"]
        oldest = int(names[0].split(".")[0]) if names else 0
        # truncate_log needs a checkpoint at cut-1 or cut; the highest
        # useful cut below the head is newest_cp + 1 (or newest_cp)
        trunc_below = None
        if newest_cp is not None:
            cut = min(newest_cp + 1, head)
            if cut > oldest:
                trunc_below = cut
        return {
            "version": head,
            "n_live_dirs": len(dirs),
            "live_bytes": total,
            "small_dirs": small,
            "advise_compact": (
                not st["num_buckets"] and len(small) > 1
            ),
            "log_commits": len(names),
            "newest_checkpoint": newest_cp,
            "commits_since_checkpoint": (
                head - newest_cp if newest_cp is not None else head + 1
            ),
            "truncate_eligible_below": trunc_below,
            "vacuum_reclaimable_dirs": len(
                self.vacuum(
                    retain_versions=retain_versions,
                    orphan_min_age_seconds=orphan_min_age_seconds,
                    dry_run=True,
                )
            ),
            # deferred-mutation chains a maintenance window should fold
            # (fold_patches / fold_masks): each outstanding entry adds
            # read-time reconciliation work
            "patch_chain": len(st.get("patches") or []),
            "mask_chain": len(st.get("masks") or []),
            "advise_fold": bool(
                st.get("patches") or st.get("masks")
            ),
        }

    def auto_maintain(
        self,
        spark: SparkSession,
        target_file_bytes: int = 128 << 20,
        retain_versions: int = 1,
        orphan_min_age_seconds: float = 3600.0,
        vacuum_now: bool = False,
    ) -> dict[str, Any]:
        """Execute one maintenance window from the
        :meth:`maintenance_report` advice — the nightly OPTIMIZE job as
        one idempotent call. In order:

        1. fold outstanding patch and mask chains (amortize read-time
           reconciliation back into the base);
        2. compact when >1 live dir is under ``target_file_bytes``
           (partial: only the small dirs rewrite, via ``compact`` /
           bucket tables skip — merges maintain their own layout);
        3. checkpoint when the replay tail exceeds the checkpoint
           interval;
        4. vacuum — DRY-RUN by default (the only destructive step;
           ``vacuum_now=True`` executes it with the SAME parameters the
           report predicted with).

        Returns {step: outcome} for the ops log. Decision inputs are
        metadata-only; only the steps that fire touch data — on a quiet
        table the whole call is a handful of JSON reads."""
        out: dict[str, Any] = {}
        st = self._state_at()
        if st.get("patches"):
            out["fold_patches"] = self.fold_patches(spark)
        if self._state_at().get("masks"):
            out["fold_masks"] = self.fold_masks(spark)
        rep = self.maintenance_report(
            target_file_bytes=target_file_bytes,
            retain_versions=retain_versions,
            orphan_min_age_seconds=orphan_min_age_seconds,
        )
        if rep["advise_compact"]:
            small = {e["dir"] for e in rep["small_dirs"]}
            if len(small) == rep["n_live_dirs"]:
                out["compact"] = self.compact(
                    spark, target_file_bytes=target_file_bytes
                )
            else:
                # rewrite ONLY the small dirs: carry the big ones by
                # reference through the partial-compaction path
                out["compact_partial"] = self._compact_partial(
                    spark,
                    self._state_at(),
                    None,
                    target_file_bytes,
                    None,
                    None,
                    None,
                    dirs_filter=small,
                )
        rep2 = self.maintenance_report(
            target_file_bytes=target_file_bytes,
            retain_versions=retain_versions,
            orphan_min_age_seconds=orphan_min_age_seconds,
        )
        if rep2["commits_since_checkpoint"] >= self.checkpoint_interval:
            out["checkpoint"] = self.checkpoint()
        removed = self.vacuum(
            retain_versions=retain_versions,
            orphan_min_age_seconds=orphan_min_age_seconds,
            dry_run=not vacuum_now,
        )
        out["vacuum_removed" if vacuum_now else "vacuum_would_remove"] = (
            len(removed)
        )
        return out

    def delete_table(self) -> None:
        self.backend.remove_recursive(self._root_str)

    def count_rows(self, spark: SparkSession) -> int:
        """Row count from commit metadata when the live layout is fully
        bucketized (per-bucket counts are exact parquet-footer numbers
        recorded at write time) — zero jobs; otherwise one count scan."""
        st = self._state_at()
        dirs = st["dirs"]
        if (
            dirs
            # lazy TOMBSTONES invalidate the recorded counts until
            # folded (the row cost is unknown by design, so a count pays
            # the scan the mask deferred); UPDATE masks transform in
            # place and preserve every count
            and not any(
                not m.get("set_exprs") for m in (st.get("masks") or [])
            )
            and all(d.get("bucket") is not None for d in dirs)
            and st["bucket_rows"]
            and {d["bucket"] for d in dirs}
            == {int(b) for b in st["bucket_rows"]}
        ):
            meta = {int(b): int(n) for b, n in st["bucket_rows"].items()}
            if not st.get("patches"):
                return sum(meta.values())
            # patch inserts/tombstones shift the count off the recorded
            # numbers — but only inside the buckets the patch keys hash
            # to. Count-read just those (patch-aware) and take the rest
            # from metadata: cost scales with the patch footprint, not
            # the table.
            key_cols = list(st["bucket_cols"] or [])
            kt = self._bucket_key_schema(st, key_cols)
            if kt is not None and st["num_buckets"]:
                key_types = {f.name: f.dataType for f in kt.fields}
                bexpr = F.pmod(
                    F.xxhash64(
                        *[F.col(c).cast(key_types[c]) for c in key_cols]
                    ),
                    F.lit(st["num_buckets"]),
                ).cast("int")
                pdf = self._patch_frame(spark, st)
                touched = {
                    r[0]
                    for r in pdf.select(bexpr.alias("__b"))
                    .distinct()
                    .collect()
                }
                untouched = sum(
                    n for b, n in meta.items() if b not in touched
                )
                return untouched + self.read(
                    spark, buckets=sorted(touched)
                ).count()
        return self.read(spark).count()

    def _metadata_stats(self, col: Optional[str]) -> Optional[ColStats]:
        """:class:`ColStats` of the current snapshot with zero jobs
        where metadata can answer it, for an integral ``col`` (other
        types' bounds round-trip through the commit JSON or the footer
        and need not compare equal to a scan's):

        1. from the commit log, when every live dir carries the
           ``rows``/``minmax`` a counted write recorded (``nulls`` is
           None unless every dir also carries the NULL count). Dirs are
           immutable and every rewrite (merge, fold, DML, compaction)
           records fresh entries without the fields, so the numbers can
           never go stale;
        2. else from the live dirs' parquet footers (row counts, the
           row-group bounds and null counts), on a local backend when
           every dir's written schema carries ``col``.

        Patches and masks change rows without a new dir, so they answer
        None, as does anything else neither source can answer (see
        :func:`footer_col_stats`); the caller then scans."""
        st = self._state_at()
        dirs = st["dirs"]
        schema = T.StructType.fromJson(json.loads(st["schema"]))
        if st["patches"] or st["masks"] or not (
            col is None
            or (
                col in schema.fieldNames()
                and isinstance(schema[col].dataType, T.IntegralType)
            )
        ):
            return None
        if all("rows" in d and (col is None or col in d["minmax"]) for d in dirs):
            bounds = [d["minmax"][col] for d in dirs] if col else []
            nulls = [(d.get("nulls") or {}).get(col) for d in dirs] if col else [None]
            return ColStats(
                min((lo for lo, _ in bounds if lo is not None), default=None),
                max((hi for _, hi in bounds if hi is not None), default=None),
                sum(d["rows"] for d in dirs),
                None if None in nulls else sum(nulls),
            )
        files = self._live_data_files(dirs, col)
        return footer_col_stats(files, col) if files is not None else None

    def max_and_count(
        self, spark: SparkSession, col: Optional[str]
    ) -> tuple[Any, int]:
        """(MAX(col), COUNT(*)) of the current snapshot, from
        :meth:`_metadata_stats` with zero jobs where it answers, else
        from a scan."""
        got = self._metadata_stats(col)
        if got is None:
            return super().max_and_count(spark, col)
        return got.max, got.rows

    def min_and_nulls(self, spark: SparkSession, col: str) -> tuple[Any, int]:
        """(MIN(col), NULL count of col) of the current snapshot, from
        :meth:`_metadata_stats` with zero jobs where it answers both,
        else from a scan: a counted write before the NULL count was
        recorded, a patch, a mask, a non-integral column or a non-local
        backend all scan."""
        got = self._metadata_stats(col)
        if got is None or got.nulls is None:
            return super().min_and_nulls(spark, col)
        return got.min, got.nulls

    def _live_data_files(
        self, dirs: list[dict[str, Any]], col: Optional[str]
    ) -> Optional[list[str]]:
        """The data files a scan of ``dirs`` reads, skipping the names a
        Spark file listing hides (``_``/``.`` prefixes, except ``_k=v``
        partition dirs). None on a non-local backend, for a missing dir,
        or when a dir's written schema lacks ``col`` (a scan reads NULL
        there, while a physically present column would answer values)."""
        if not isinstance(self.backend, LocalStorageBackend):
            return None
        out: list[str] = []
        for d in dirs:
            if col is not None and col not in T.StructType.fromJson(
                json.loads(d["schema"])
            ).fieldNames():
                return None
            root = Path(self._path(d["dir"]))
            if not root.is_dir():
                return None
            for f in root.rglob("*"):
                if f.is_file() and not any(
                    p.startswith(".") or (p.startswith("_") and "=" not in p)
                    for p in f.relative_to(root).parts
                ):
                    out.append(str(f))
        return out

    # ---------- merge ----------

    # default target rows per bucket: ~2M keys-only rows ≈ tens of MB of
    # parquet — one comfortable task per bucket rewrite at any table size
    DEFAULT_TARGET_BUCKET_ROWS = 2_000_000
    # rebucket when average bucket exceeds 2x target (doubling NB halves it)
    REBUCKET_FACTOR = 2

    def buckets_for_keys(
        self, keys: DataFrame, key_cols: list[str]
    ) -> Optional[list[int]]:
        """Bucket ids that could contain the given keys — the public
        file-pruning hint for ``read(buckets=...)``: a reader that will
        join/combine against a key set (e.g. incremental view
        maintenance folding touched groups) can scan only those buckets'
        dirs. Returns None when the table is not (fully) bucketized or
        the keys don't match the pinned bucket key columns; callers fall
        back to a full read. Same hash/type-pinning rules as the merge
        path, so the hint is exact, never lossy."""
        st = self._state_at()
        nb = st.get("num_buckets")
        if not nb or not st["dirs"] or not all(
            d.get("bucket") is not None for d in st["dirs"]
        ):
            return None
        if st.get("bucket_cols") and list(st["bucket_cols"]) != list(key_cols):
            return None
        kt = self._bucket_key_schema(st, key_cols)
        if kt is None:
            return None
        key_types = {f.name: f.dataType for f in kt.fields}
        bexpr = F.pmod(
            F.xxhash64(*[F.col(c).cast(key_types[c]) for c in key_cols]),
            F.lit(nb),
        ).cast("int")
        return sorted(
            r[0] for r in keys.select(bexpr.alias("__b")).distinct().collect()
        )

    @staticmethod
    def _derive_num_buckets(n_rows: int, target_rows: int) -> int:
        """Power-of-two bucket count sized so avg rows/bucket <= target
        (min 4). Powers of two keep rebucketing a clean doubling."""
        need = max(1, -(-max(0, n_rows) // max(1, target_rows)))  # ceil div
        return max(4, 1 << (need - 1).bit_length())

    def read_keys(self, spark: SparkSession, keys: list) -> DataFrame:
        """Keyed point lookup: the rows whose bucket key equals any of
        ``keys`` (scalars for a single-column key, tuples for
        composite). On a bucketized table each key's bucket is computed
        DRIVER-SIDE with the parity-pinned pure-Python xxhash64 chain —
        the same routing merges use — so the scan opens ONLY the
        buckets that can hold the keys ("fetch these ids out of the
        keys index" at metadata cost); a single-column key additionally
        pushes an `in` skip probe through stats/bloom pruning inside
        the surviving buckets. Unsupported key-type encodings, and
        non-bucketized tables, fall back to a (pruned-where-possible)
        scan + filter — always exact, never wrong. NULL key components
        match nothing (SQL equality)."""
        from odbc2deltalake_spark.functions.xxh64 import (
            spark_xxhash64_chain,
        )

        st = self._state_at()
        key_cols = st.get("bucket_cols") or []
        tup = [k if isinstance(k, tuple) else (k,) for k in keys]
        if key_cols:
            tup = [
                kv
                for kv in tup
                if len(kv) == len(key_cols) and all(v is not None for v in kv)
            ]
        if not tup:
            return self.read(spark).limit(0)
        buckets: Optional[set[int]] = None
        if key_cols and st.get("num_buckets"):
            kt = self._bucket_key_schema(st, key_cols)
            if kt is not None:
                tjsons = [f.dataType.json() for f in kt.fields]
                bs: Optional[set[int]] = set()
                for kv in tup:
                    h = spark_xxhash64_chain(list(kv), tjsons)
                    if h is None:
                        bs = None  # unsupported encoding: scan all
                        break
                    bs.add(h % st["num_buckets"])
                buckets = bs
        skip = None
        fcols = key_cols or []
        if len(fcols) == 1:
            skip = (fcols[0], "in", [kv[0] for kv in tup])
        df = self.read(spark, buckets=sorted(buckets) if buckets else None,
                       skip_where=skip)
        if len(fcols) == 1:
            return df  # residual `in` filter already exact
        if not fcols:
            raise ValueError(
                "read_keys on a non-bucketized table needs bucket_cols "
                "— use read(skip_where=(col, 'in', [...])) instead"
            )
        pred = None
        for kv in tup:
            e = None
            for c, v in zip(fcols, kv):
                t_ = F.col(c) == F.lit(v)
                e = t_ if e is None else (e & t_)
            pred = e if pred is None else (pred | e)
        return df.filter(pred)

    def _bucket_key_schema(self, st: dict[str, Any], key_cols: list[str]) -> Optional[T.StructType]:
        """Key-column types the live buckets were hashed with. Prefer the
        pinned ``bucket_key_types`` commit field; fall back to the table
        schema for tables bucketized before the field existed."""
        if st.get("bucket_key_types"):
            return T.StructType.fromJson(json.loads(st["bucket_key_types"]))
        if st.get("schema"):
            tbl = T.StructType.fromJson(json.loads(st["schema"]))
            have = {f.name: f for f in tbl.fields}
            if all(c in have for c in key_cols):
                return T.StructType([have[c] for c in key_cols])
        return None

    # merge-on-read knobs: a patch commit is allowed while the chain is
    # shorter than PATCH_MAX_CHAIN and the chain's total rows (including
    # this batch) stay under PATCH_MAX_FRACTION of the table's recorded
    # rows; past either bound the merge folds (rewrites buckets),
    # amortizing the chain. Bounds both the read-side reconciliation
    # cost and the CDF synthesis per patch commit. "auto" additionally
    # requires PATCH_MIN_TABLE_ROWS: below it a bucket rewrite is
    # latency-bound, not I/O-bound, so the patch write + reconciling
    # reads cost MORE wall than the rewrite they avoid (measured: the
    # sf0.1 CDC keys index, ~100k rows, runs ~6% slower on patches,
    # while the 5M-row study in SCALE.md shows 6.6x faster merges) —
    # the decision variable IS table size because rewrite cost scales
    # with bucket bytes and patch cost with the batch.
    PATCH_MAX_CHAIN = 8
    PATCH_MAX_FRACTION = 0.2
    PATCH_MIN_TABLE_ROWS = 1_000_000

    def merge_upsert(
        self,
        spark: SparkSession,
        source: DataFrame,
        key_cols: list[str],
        num_buckets: Optional[int] = None,
        target_bucket_rows: Optional[int] = None,
        extra_commit_fields: Optional[dict[str, Any]] = None,
        delete_keys: Optional[DataFrame] = None,
        strategy: str = "rewrite",
    ) -> int:
        """MERGE on key equality: whenMatchedUpdateAll /
        whenNotMatchedInsertAll (reference:odbc2deltalake/reader/spark_reader.py:329-350),
        plus whenMatchedDelete when ``delete_keys`` is given: those key
        tuples are dropped in the SAME commit the upserts land in —
        consumers that must apply adds and retractions atomically (an
        incremental join view's exactly-once marker) get one commit,
        one marker, no crash window between an upsert and its paired
        delete. A key appearing in both ``source`` and ``delete_keys``
        is an upsert (the delete targets only pre-existing rows, like
        Delta's clause ordering).

        Hash-bucketed: rows are stored in ``pmod(xxhash64(keys), NB)``
        buckets (one parquet dir each), and a merge rewrites ONLY the
        buckets that contain changed keys — same asymptotics as Delta
        MERGE's matched-file rewrite; a delta touching k of NB buckets
        rewrites k/NB of the index.

        Scale properties (each with a test in tests/test_tablestore.py):

        - **NB is size-derived** at first bucketization (``n /
          target_bucket_rows`` rounded up to a power of two), overridable
          via ``num_buckets``; a fixed constant would make every bucket a
          monolith at 100 TB.
        - **Rebucketing**: per-bucket row counts ride along in each commit
          (read back from parquet footers of just-written buckets, a
          metadata-only job); when the average bucket exceeds 2x target the
          next merge rewrites once at the doubled NB.
        - **Key types are pinned** in the commit (``bucket_key_types``):
          xxhash64 output depends on the Spark type (int 5 != bigint 5
          hashes), so both the touched-bucket probe and the write-side
          bucket expression cast source keys to the pinned types. A
          widening key-type drift (int → long) triggers one full
          conversion rewrite that re-pins the wider type — without this a
          widened key would hash to the wrong bucket and leave a stale
          duplicate live in the index.

        The first merge after a (full-load) overwrite converts the table
        to bucketed layout in one rewrite; subsequent merges are partial.
        Used on the keys-only ``latest_pk_version`` index; the SCD2
        history table is append-only.

        ``strategy`` picks merge-on-write vs merge-on-read:

        - ``"rewrite"`` (default): today's behavior — rewrite the
          touched buckets. A delta of uniformly-hashed keys touches ~all
          buckets, so small-batch cost approaches a table rewrite —
          Delta MERGE's profile without deletion vectors.
        - ``"patch"``: write the batch as ONE delta-sized patch dir
          (upserts + tombstones) and reconcile at read time — the
          deletion-vector / Iceberg merge-on-read shape. Write cost is
          O(|batch|) regardless of key spread. Requires the bucketized
          layout on exactly ``key_cols`` and an unevolved schema.
        - ``"auto"``: patch while the chain stays under
          ``PATCH_MAX_CHAIN`` commits and ``PATCH_MAX_FRACTION`` of the
          table's rows; otherwise rewrite (which folds the chain).

        Any rewrite-path merge, DML, or overwrite folds outstanding
        patches into the base (the probe expands to every patch key's
        bucket), so a patch chain never survives a bucket rewrite.
        """
        target_rows = target_bucket_rows or self.DEFAULT_TARGET_BUCKET_ROWS
        if delete_keys is not None:
            delete_keys = delete_keys.select(*key_cols).distinct()
        if not self.exists():
            return self._bucketize_full(
                source, key_cols, num_buckets, target_rows,
                extra_commit_fields=extra_commit_fields,
            )
        st = self._state_at()
        # A source missing a table column would silently NULL that column
        # for every matched key (unionByName(allowMissingColumns=True)
        # fills the gap) — data loss, not evolution. Delta's
        # whenMatchedUpdateAll fails analysis in the same situation; so do
        # we. Extra SOURCE columns remain fine (schema evolution).
        tbl_cols = {
            f["name"] for f in json.loads(st["schema"])["fields"]
        }
        missing = sorted(tbl_cols - set(source.columns))
        if missing:
            raise SchemaDriftError(
                f"merge source lacks table columns {missing}; matched rows "
                "would lose their current values. Provide the columns or "
                "drop them from the table first."
            )
        # CHECK constraints gate the merge SOURCE (existing rows already
        # passed at their own write time): one pushdown LIMIT-1 existence
        # probe per constraint over the delta-sized source
        for cname, conj in self._constraints_from_props(st["props"]).items():
            if not {c for c, _, _ in conj} <= set(source.columns):
                continue
            pred = self._conjuncts_predicate(conj)
            if source.filter(pred.isNotNull() & ~pred).limit(1).count() > 0:
                raise ConstraintViolationError(
                    f"merge_upsert rejected: source violates CHECK "
                    f"constraint {cname!r}"
                )
        tagged = bool(st["dirs"]) and all(
            d.get("bucket") is not None for d in st["dirs"]
        )
        if tagged:
            stored_kt = self._bucket_key_schema(st, key_cols)
            src_kt = {f.name: f.dataType for f in source.schema.fields}
            drift = stored_kt is None or any(
                f.name not in src_kt
                or (
                    src_kt[f.name] != f.dataType
                    and not is_type_widening(src_kt[f.name], f.dataType)
                )
                for f in stored_kt.fields
            )
            rows = st["bucket_rows"] or {}
            nb = st["num_buckets"]
            oversize = (
                nb
                and rows
                and sum(rows.values()) / nb > self.REBUCKET_FACTOR * target_rows
            )
            if not drift and not oversize:
                if strategy not in ("rewrite", "patch", "auto"):
                    raise ValueError(f"unknown merge strategy {strategy!r}")
                if strategy != "rewrite" and self._patch_route(
                    spark, source, key_cols, st, delete_keys,
                    forced=strategy == "patch",
                ):
                    return self._write_patch(
                        spark, source, delete_keys, key_cols, st,
                        extra_commit_fields=extra_commit_fields,
                    )
                return self._merge_partial(
                    spark, source, key_cols, st, stored_kt,
                    extra_commit_fields=extra_commit_fields,
                    delete_keys=delete_keys,
                )
            # key-type drift or grown table: one full rewrite re-pins
            # types / doubles NB, then merges go back to partial
            if oversize and num_buckets is None:
                num_buckets = self._derive_num_buckets(
                    sum(rows.values()), target_rows
                )
        # unbucketed table (or drift/rebucket fall-through): full conversion
        target = self.read(spark)
        keep = target.join(source.select(*key_cols), on=key_cols, how="left_anti")
        if delete_keys is not None:
            keep = keep.join(
                delete_keys.join(
                    source.select(*key_cols), on=key_cols, how="left_anti"
                ),
                on=key_cols,
                how="left_anti",
            )
        merged = source.unionByName(keep, allowMissingColumns=True)
        return self._bucketize_full(
            merged, key_cols, num_buckets or st["num_buckets"], target_rows,
            extra_commit_fields=extra_commit_fields,
        )

    def merge_delete_keys(
        self,
        spark: SparkSession,
        keys: DataFrame,
        key_cols: list[str],
        extra_commit_fields: Optional[dict[str, Any]] = None,
        strategy: str = "rewrite",
    ) -> int:
        """Delete the rows whose key tuple appears in ``keys`` — Delta
        MERGE's ``whenMatchedDelete`` (the shape CDC hard-deletes arrive
        in: a key SET, not a predicate, so ``delete_where``'s conjunct
        predicates can't express it). On a bucketized table this
        rewrites ONLY the buckets containing the victim keys (same
        asymptotics as ``merge_upsert``); the commit is mode ``merge``,
        so the change feed synthesizes exact ``delete`` rows for the
        vanished keys and ``read_changes_fold`` retracts them — a
        keyed delete never forces a view re-baseline.

        On an unbucketized table this falls back to one full anti-join
        rewrite THROUGH ``_bucketize_full`` (an overwrite commit — the
        one-time conversion cost ``merge_upsert`` also pays, after
        which deletes are partial)."""
        st = self._state_at()
        keys = keys.select(*key_cols).distinct()
        tagged = bool(st["dirs"]) and all(
            d.get("bucket") is not None for d in st["dirs"]
        )
        if not tagged:
            target = self.read(spark)
            kept = target.join(keys, on=key_cols, how="left_anti")
            return self._bucketize_full(
                kept, key_cols, st["num_buckets"],
                self.DEFAULT_TARGET_BUCKET_ROWS,
                extra_commit_fields=extra_commit_fields,
            )
        if list(st.get("bucket_cols") or []) != list(key_cols):
            raise ValueError(
                f"table is bucketized on {st.get('bucket_cols')}, not on "
                f"{key_cols} — keyed delete must use the bucket keys"
            )
        stored_kt = self._bucket_key_schema(st, key_cols)
        if stored_kt is None:
            raise ValueError("bucket key types unavailable; cannot route")
        if strategy not in ("rewrite", "patch", "auto"):
            raise ValueError(f"unknown merge strategy {strategy!r}")
        if strategy != "rewrite" and self._patch_route(
            spark, None, key_cols, st, keys, forced=strategy == "patch"
        ):
            return self._write_patch(
                spark, None, keys, key_cols, st,
                extra_commit_fields=extra_commit_fields,
            )
        nb = st["num_buckets"]
        key_types = {f.name: f.dataType for f in stored_kt.fields}
        bexpr = F.pmod(
            F.xxhash64(*[F.col(c).cast(key_types[c]) for c in key_cols]),
            F.lit(nb),
        ).cast("int")
        probe = keys
        if st.get("patches"):
            # fold-through, same as _merge_partial: the merge commit
            # clears the chain, so every patch key's bucket must rewrite
            probe = probe.unionByName(
                self._patch_frame(spark, st).select(*key_cols)
            )
        touched = sorted(
            r[0]
            for r in probe.select(bexpr.alias(_BUCKET_COL)).distinct().collect()
        )
        if not touched:
            return self.version()  # empty key set: nothing to do
        kept = self.read(spark, buckets=touched).join(
            keys, on=key_cols, how="left_anti"
        )
        return self._write_bucketized(
            kept, key_cols, nb, replace=touched, key_types=key_types,
            extra_commit_fields=extra_commit_fields,
        )

    def _patch_route(
        self,
        spark: SparkSession,
        source: Optional[DataFrame],
        key_cols: list[str],
        st: dict[str, Any],
        delete_keys: Optional[DataFrame],
        forced: bool,
    ) -> bool:
        """Decide patch vs rewrite for an eligible merge. ``forced``
        (strategy="patch") only validates the hard requirements and
        raises when they don't hold; "auto" additionally applies the
        chain/fraction bounds (one delta-sized count job) and falls back
        to rewrite quietly."""
        tbl_cols = {f["name"] for f in json.loads(st["schema"])["fields"]}
        extra = (
            sorted(set(source.columns) - tbl_cols)
            if source is not None
            else []
        )
        same_keys = list(st.get("bucket_cols") or []) == list(key_cols)
        if forced:
            if extra:
                raise ValueError(
                    f"patch strategy cannot evolve schema (extra source "
                    f"columns {extra}); use strategy='rewrite'"
                )
            if not same_keys:
                raise ValueError(
                    f"patch strategy requires the bucket keys "
                    f"{st.get('bucket_cols')}, got {key_cols}"
                )
            return True
        if extra or not same_keys:
            return False
        rows_meta = st.get("bucket_rows") or {}
        if not rows_meta or len(st["patches"]) >= self.PATCH_MAX_CHAIN:
            return False
        table_rows = sum(int(r) for r in rows_meta.values())
        if table_rows < self.PATCH_MIN_TABLE_ROWS:
            return False  # rewrite is the cheap path on a small table
        chain_rows = sum(int(p.get("rows") or 0) for p in st["patches"])
        batch = source.count() if source is not None else 0
        if delete_keys is not None:
            batch += delete_keys.count()
        return chain_rows + batch <= self.PATCH_MAX_FRACTION * table_rows

    def _write_patch(
        self,
        spark: SparkSession,
        source: Optional[DataFrame],
        delete_keys: Optional[DataFrame],
        key_cols: list[str],
        st: dict[str, Any],
        extra_commit_fields: Optional[dict[str, Any]] = None,
    ) -> int:
        """One merge-on-read patch commit: the batch's upserts plus
        tombstones for ``delete_keys`` not re-upserted, written as a
        single delta-sized dir — O(|batch|) write cost regardless of how
        the keys hash across buckets (the merge-on-write alternative
        rewrites every touched bucket; Delta without deletion vectors).
        Reads reconcile via :meth:`_reconcile_patches`; any rewrite
        merge / DML / overwrite folds the chain. Commit-on-change: an
        empty batch abandons its dir and commits nothing."""
        from pyspark.sql import Observation

        target = T.StructType.fromJson(json.loads(st["schema"]))
        parts = []
        if source is not None:
            parts.append(
                _conform(source, target).withColumn(_PATCH_DEL_COL, F.lit(False))
            )
        if delete_keys is not None:
            tomb = delete_keys
            if source is not None:
                tomb = tomb.join(
                    source.select(*key_cols), on=key_cols, how="left_anti"
                )
            parts.append(
                _conform(tomb, target, have=key_cols).withColumn(
                    _PATCH_DEL_COL, F.lit(True)
                )
            )
        pdf = _union_all(spark, parts, target)
        new_version = st["version"] + 1
        dir_name = f"d{new_version:010d}-{uuid.uuid4().hex[:8]}"
        obs = Observation()
        # key-range stats ride the SAME Observation as the row count
        # (zero extra jobs) — they are the cheap half of the OCC
        # key-disjointness proof (VERDICT r10 #3)
        aggs = [F.count(F.lit(1)).alias("n")]
        for c in key_cols:
            aggs.append(F.min(F.col(c)).alias(f"__kmin_{c}"))
            aggs.append(F.max(F.col(c)).alias(f"__kmax_{c}"))
        pdf = pdf.observe(obs, *aggs)
        pdf.write.mode("overwrite").parquet(self._path(dir_name))
        got = obs.get
        n = int(got["n"])
        if n == 0:
            self.backend.remove_recursive(self._path(dir_name))
            return st["version"]
        key_stats = {
            c: (got[f"__kmin_{c}"], got[f"__kmax_{c}"]) for c in key_cols
        }
        commit: dict[str, Any] = {
            "version": new_version,
            "mode": "patch",
            "dir": dir_name,
            "schema": st["schema"],
            "written_schema": pdf.schema.json(),
            "patch_rows": n,
            "patch_key_stats": {
                c: [self._stat_ser(lo), self._stat_ser(hi)]
                for c, (lo, hi) in key_stats.items()
            },
        }
        if extra_commit_fields:
            commit.update(extra_commit_fields)
        return self._publish_patch_with_rebase(
            spark, commit, key_cols, key_stats
        )

    def fold_patches(self, spark: SparkSession) -> int:
        """Amortize the outstanding patch chain into the bucketized base
        as ONE merge commit: only buckets containing patch keys rewrite
        (via the patch-aware :meth:`read`, so reconciliation happens
        exactly once, at fold time). No-op when the chain is empty.
        Runs implicitly before any operation that must see an
        unpatched dir layout (DML rewrites, appends to a patched
        table)."""
        st = self._state_at()
        if not st["patches"]:
            return st["version"]
        key_cols = list(st["bucket_cols"] or [])
        kt = self._bucket_key_schema(st, key_cols)
        if kt is None or not st["num_buckets"]:
            raise ValueError("patched table lacks bucket metadata")
        key_types = {f.name: f.dataType for f in kt.fields}
        bexpr = F.pmod(
            F.xxhash64(*[F.col(c).cast(key_types[c]) for c in key_cols]),
            F.lit(st["num_buckets"]),
        ).cast("int")
        pdf = self._patch_frame(spark, st)
        touched = sorted(
            r[0]
            for r in pdf.select(bexpr.alias(_BUCKET_COL)).distinct().collect()
        )
        merged = self.read(spark, buckets=touched)
        # pure fold: rows-preserving by construction — tagged so change
        # feeds skip it like OPTIMIZE (the patch commits already emitted
        # these changes; ADVICE r8)
        return self._write_bucketized(
            merged, key_cols, st["num_buckets"], replace=touched,
            key_types=key_types,
            extra_commit_fields={"patches_folded": len(st["patches"])},
        )

    def _bucketize_full(
        self,
        df: DataFrame,
        key_cols: list[str],
        num_buckets: Optional[int],
        target_rows: int,
        extra_commit_fields: Optional[dict[str, Any]] = None,
    ) -> int:
        """Full bucketized (re)write. When NB isn't pinned, the frame is
        persisted, counted, and NB derived from the count — one extra
        metadata pass, paid only at (re)bucketization, never per merge."""
        from pyspark import StorageLevel

        key_types = {
            f.name: f.dataType for f in df.schema.fields if f.name in key_cols
        }
        if num_buckets is None:
            df = df.persist(StorageLevel.MEMORY_AND_DISK)
            try:
                num_buckets = self._derive_num_buckets(df.count(), target_rows)
                return self._write_bucketized(
                    df, key_cols, num_buckets, replace=None,
                    key_types=key_types, extra_commit_fields=extra_commit_fields,
                )
            finally:
                df.unpersist()
        return self._write_bucketized(
            df, key_cols, num_buckets, replace=None, key_types=key_types,
            extra_commit_fields=extra_commit_fields,
        )

    def _merge_partial(
        self,
        spark: SparkSession,
        source: DataFrame,
        key_cols: list[str],
        st: dict[str, Any],
        stored_kt: T.StructType,
        extra_commit_fields: Optional[dict[str, Any]] = None,
        delete_keys: Optional[DataFrame] = None,
    ) -> int:
        """Partial merge: rewrite only buckets containing source (or
        delete) keys."""
        nb = st["num_buckets"]
        key_types = {f.name: f.dataType for f in stored_kt.fields}
        bexpr = F.pmod(
            F.xxhash64(*[F.col(c).cast(key_types[c]) for c in key_cols]),
            F.lit(nb),
        ).cast("int")
        probe = source.select(*key_cols)
        if delete_keys is not None:
            probe = probe.unionByName(delete_keys)
        if st.get("patches"):
            # fold-through: every patch key's bucket must rewrite, or
            # the merge commit (which clears the chain) would drop the
            # patch rows living in untouched buckets
            pf = self._patch_frame(spark, st)
            probe = probe.unionByName(pf.select(*key_cols))
        touched = sorted(
            r[0]
            for r in probe.select(bexpr.alias(_BUCKET_COL)).distinct().collect()
        )
        # scan ONLY touched-bucket dirs (file-level pruning via the log;
        # patch-aware read — outstanding patches reconcile here and are
        # cleared by this commit)
        target_touched = self.read(spark, buckets=touched)
        keep = target_touched.join(
            source.select(*key_cols), on=key_cols, how="left_anti"
        )
        if delete_keys is not None:
            # delete only keys NOT being re-upserted this commit
            keep = keep.join(
                delete_keys.join(
                    source.select(*key_cols), on=key_cols, how="left_anti"
                ),
                on=key_cols,
                how="left_anti",
            )
        merged = source.unionByName(keep, allowMissingColumns=True)
        if (
            not touched
            and not extra_commit_fields
            and _relax_nullability(merged.schema)
            == _relax_nullability(T.StructType.fromJson(json.loads(st["schema"])))
        ):
            # empty source, no delete keys, no patch chain and no schema
            # change: nothing to rewrite, so no version to publish (as
            # merge_delete_keys). Extra commit fields still commit: a
            # caller may record a marker on the merge commit (a view's
            # exactly-once token).
            return st["version"]
        return self._write_bucketized(
            merged, key_cols, nb, replace=touched, key_types=key_types,
            extra_commit_fields=extra_commit_fields,
        )

    def _write_bucketized(
        self,
        df: DataFrame,
        key_cols: list[str],
        num_buckets: int,
        replace: Optional[list[int]],
        key_types: dict[str, T.DataType],
        extra_commit_fields: Optional[dict[str, Any]] = None,
    ) -> int:
        """Write ``df`` partitioned into hash buckets; commit either as a
        full overwrite (``replace=None``) or as a merge replacing only the
        named buckets. Keys are cast to ``key_types`` (the pinned bucket
        types) before hashing so routing is stable across loads."""
        new_version = (self.version() + 1) if self.exists() else 0
        dir_name = f"d{new_version:010d}-{uuid.uuid4().hex[:8]}"
        bexpr = F.pmod(
            F.xxhash64(*[F.col(c).cast(key_types[c]) for c in key_cols]),
            F.lit(num_buckets),
        ).cast("int")
        schema_json = df.schema.json()  # without the bucket col
        out_path = self._path(dir_name)
        # sort within each write partition by (bucket, keys): parquet
        # row-group min/max stats on the key columns become tight ranges,
        # so point/range key reads inside a bucket skip row groups — the
        # same reason Delta recommends OPTIMIZE ZORDER on merge keys
        (
            df.withColumn(_BUCKET_COL, bexpr)
            .sortWithinPartitions(_BUCKET_COL, *key_cols)
            .write.mode("overwrite")
            .partitionBy(_BUCKET_COL)
            .parquet(out_path)
        )
        # per-bucket row counts for the rebucket heuristic: count(*) over
        # the just-written dirs projects zero data columns — parquet
        # row-group metadata only, ≤NB result rows. An empty source writes
        # zero partition dirs (only _SUCCESS), so guard on the listing and
        # pass the known schema — schema inference over an empty dir throws
        # UNABLE_TO_INFER_SCHEMA.
        spark = df.sparkSession
        bucket_children = sorted(
            c
            for c in self.backend.list_dir(out_path)
            if c.startswith(f"{_BUCKET_COL}=")
        )
        if bucket_children:
            read_schema = df.withColumn(_BUCKET_COL, bexpr).schema
            bucket_rows = {
                str(r[_BUCKET_COL]): r["count"]
                for r in spark.read.schema(read_schema)
                .parquet(out_path)
                .groupBy(_BUCKET_COL)
                .count()
                .collect()
            }
        else:
            bucket_rows = {}
        dirs_added = [
            {
                "dir": f"{dir_name}/{child}",
                "schema": schema_json,
                "bucket": int(child.split("=", 1)[1]),
            }
            for child in bucket_children
        ]
        # preserve the table's skipping metadata through EVERY bucket
        # rewrite (r10): a merge that silently dropped the per-file
        # stats or bloom bitmaps would degrade reads after each CDC
        # cycle — the same preservation rule compact/fold_masks already
        # follow. Stats come from the just-written parquet FOOTERS
        # (driver-side metadata, zero jobs) for the bucket keys plus
        # every column a replaced dir carried stats for; blooms are one
        # collection pass over the whole top dir (split per bucket
        # child afterwards), paid only on tables that carry an index.
        prior_dirs = self._state_at()["dirs"] if self.exists() else []
        stat_cols = sorted(
            (
                set(key_cols)
                | {
                    c
                    for d in prior_dirs
                    for s in (d.get("stats") or {}).values()
                    for c in s
                }
            )
            & set(df.columns)
        )
        if stat_cols and bucket_children:
            fstats = self._footer_file_stats(out_path, stat_cols)
            if fstats:
                by_child_stats: dict[str, dict[str, Any]] = {}
                for rel, per in fstats.items():
                    child, _, inner = rel.partition("/")
                    if inner:
                        by_child_stats.setdefault(child, {})[inner] = per
                for e in dirs_added:
                    per = by_child_stats.get(e["dir"].split("/", 1)[1])
                    if per:
                        e["stats"] = per
        bloom_cols = sorted(
            {
                c
                for d in prior_dirs
                for c in ((d.get("bloom") or {}).get("types") or {})
                if c in df.columns
            }
        )
        if bloom_cols and bucket_children:
            bl = self._collect_file_blooms(
                spark, out_path, df.schema, bloom_cols, None
            )
            if bl and bl.get("files"):
                by_child: dict[str, dict[str, Any]] = {}
                for rel, per in bl["files"].items():
                    child, _, inner = rel.partition("/")
                    if inner:
                        by_child.setdefault(child, {})[inner] = per
                for e in dirs_added:
                    files = by_child.get(e["dir"].split("/", 1)[1])
                    if files:
                        e["bloom"] = self._bloom_field(
                            {
                                "m": bl["m"],
                                "k": bl["k"],
                                "types": bl["types"],
                                "files": files,
                            },
                            e["dir"],
                        )
        commit = {
            "version": new_version,
            "mode": "merge" if replace is not None else "overwrite",
            "dirs_added": dirs_added,
            "buckets_replaced": replace,
            "schema": schema_json,
            "written_schema": schema_json,
            "num_buckets": num_buckets,
            "bucket_cols": key_cols,
            "bucket_key_types": T.StructType(
                [T.StructField(c, key_types[c], True) for c in key_cols]
            ).json(),
            "bucket_rows": bucket_rows,
        }
        if extra_commit_fields:
            commit.update(extra_commit_fields)
        self._write_commit(commit)
        return new_version
