"""The CDC → SCD2 load lifecycle — the engine's core plan.

Implements the reference's algorithm (SURVEY.md §3) Spark-first: every
"local SQL" becomes a DataFrame plan over the destination tables, every
"source SQL" a pushdown-friendly Source read. Stage structure, side-table
contract, and failure semantics mirror
reference:odbc2deltalake/db_to_delta.py:178-286 (dispatch), 483-691
(delta load), 995-1184 (strange updates), 749-859 (deletes), 1254-1326
(full load), 708-743 (append inserts).

Scale design (100 TB):
- The history table is append-only; per-load writes touch only change
  sets. Nothing ever rewrites history.
- ``latest_pk_version`` / ``primary_keys_ts`` are keys-only. A delta load
  shuffles them once: the key diff (``operators.scd2.key_diff``) groups
  the snapshot, the old index and the change-set keys on the PKs, and
  the strange keys, the deleted keys and the new index are narrow
  filters over that one checkpointed aggregate.
- Watermark probes are scalar aggregates pushed to the source.
- The strange-update key fetch is a broadcast semi join against the
  source (no 7000-char SQL cap, reference:db_to_delta.py:960-992); above
  ``max_complex_entries`` keys it degrades to the same watermark-rewind
  re-extraction the reference uses.
"""

from __future__ import annotations

import dataclasses
import datetime
import traceback
from pathlib import Path
from typing import Any, Optional

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from odbc2deltalake_spark.config import WriteConfig, WriteConfigAndInfos
from odbc2deltalake_spark.functions.projection import (
    convert_projection,
    tombstone_projection,
    with_system_cols,
)
from odbc2deltalake_spark.metadata import SYS, ColInfo, resolve_type
from odbc2deltalake_spark.operators.scd2 import (
    KD_IN_NEW,
    KD_IN_OLD,
    KD_NEW,
    derive_latest_pk_from_history,
    key_diff,
    key_diff_deleted,
    key_diff_latest_pk,
    key_diff_moved,
    key_diff_strange,
    latest_pk_union,
)
from odbc2deltalake_spark.plans.destination import DeltaDestination, DeltaLogger
from odbc2deltalake_spark.session import SparkThreadPool
from odbc2deltalake_spark.sources.base import Source


# ---------------------------------------------------------------- results --


@dataclasses.dataclass
class LoadResult:
    executed: bool = True
    dirty: bool = False


class NoLoadResult(LoadResult):
    def __init__(self):
        super().__init__(executed=False)


class FullLoadResult(LoadResult):
    pass


class AppendOnlyLoadResult(LoadResult):
    pass


@dataclasses.dataclass
class DeltaLoadResult(LoadResult):
    starting_local_state: Optional[tuple] = None
    starting_source_state: Optional[tuple] = None
    end_source_state: Optional[tuple] = None


# ----------------------------------------------------------------- helpers --


@dataclasses.dataclass
class _Ctx:
    """Resolved load context passed between stages."""

    spark: SparkSession
    source: Source
    dest: DeltaDestination
    cols: list[ColInfo]
    pk_names: list[str]  # target (compat) names
    delta_name: Optional[str]  # target name of the delta col
    cfg: WriteConfig
    logger: DeltaLogger
    load_ts: datetime.datetime

    def target_name(self, c: ColInfo) -> str:
        return self.cfg.target_name(c)

    @property
    def all_target_names(self) -> list[str]:
        return [self.target_name(c) for c in self.cols]

    def extract(self, df: DataFrame) -> DataFrame:
        """Source rows → converted/renamed projection + user hook."""
        out = convert_projection(df, self.cols, self.target_name, self.cfg.no_trim)
        return self.cfg.transformation_hook(out, "sql2delta")

    def append_history(self, df: DataFrame, delta_interval=None) -> None:
        """Append to the SCD2 history with drift-aware schema merging
        (type widening flows through; reference Delta equivalent:
        mergeSchema + delta.enableTypeWidening,
        reference:odbc2deltalake/reader/spark_reader.py:154-162).

        ``delta_interval`` = (lo, hi) bounds of the DELTA COLUMN in this
        batch when the caller already knows them (step 2 writes rows with
        delta_col in (last_watermark, source_max] — both ends come from
        probes the load ran anyway, so the stats are zero-cost like the
        __timestamp constant). They make the current-rows hot path
        (:func:`read_current_rows`) prune fully-superseded load commits
        at the commit log; appends without the bounds (tombstones,
        strange updates) are simply never pruned — skipping is
        conservative by construction.

        The append counts its rows as they are written and a zero-row
        append publishes no commit, so a batch the caller cannot size in
        advance needs no emptiness probe."""
        known = {SYS.timestamp: (self.load_ts, self.load_ts)}
        if (
            delta_interval is not None
            and self.delta_name is not None
            and delta_interval[0] is not None
            and delta_interval[1] is not None
        ):
            known[self.delta_name] = tuple(delta_interval)
        # zero-cost data-skipping stats: __timestamp is a per-load
        # constant the engine already holds, so the commit interval is
        # exact without any stats job — watermark/latest-load reads then
        # prune whole older commits at the commit log
        self.dest.delta.write_counted_minmax(
            df,
            [],
            mode="append",
            merge_schema=self.cfg.allow_schema_drift in (True, "new_only"),
            known_stats=known,
        )


def _resolve_cols(
    cfg: WriteConfig, raw: list[ColInfo], dialect: str = "spark"
) -> list[ColInfo]:
    """Apply the user+default type map to the introspected columns
    (reference:odbc2deltalake/write_init.py:29-38; user override
    tests/test_05_conversion.py:29-36). The dialect scopes type-string
    aliases (tsql "timestamp" = rowversion) so Spark-native timestamp
    columns are never remapped to bigint.

    Temporal-table ROW END columns (generated_always_type_desc ==
    'AS_ROW_END') are excluded from the projection by design (r14,
    VERDICT r13 #3): on the CURRENT row version MSSQL pins ROW END to
    9999-12-31 (it only moves in the hidden history table, which a
    plain SELECT never sees), so loading it adds a column that never
    carries information — while ROW START is the delta criterion
    (reference:odbc2deltalake/write_init.py:144-167) and IS loaded."""
    out = []
    for c in raw:
        if c.generated_always_type_desc == "AS_ROW_END":
            continue
        mapped = resolve_type(c.data_type_str, cfg.data_type_map or None, dialect)
        if mapped is not None and mapped != c.data_type:
            c = dataclasses.replace(c, data_type=mapped)
        out.append(c)
    return out


def make_writer(
    spark: SparkSession,
    source: Source,
    destination: str | Path,
    write_config: Optional[WriteConfig] = None,
) -> WriteConfigAndInfos:
    """Analyze phase — resolve columns, PKs and the delta column into a
    frozen plan (reference:odbc2deltalake/write_init.py:170-303)."""
    cfg = write_config or WriteConfig()
    cols = _resolve_cols(cfg, source.col_infos(spark), getattr(source, "dialect", "spark"))
    by_name = {c.column_name: c for c in cols}

    pk_names = cfg.primary_keys if cfg.primary_keys is not None else source.primary_keys(spark)
    pk_cols = [by_name[p] for p in pk_names if p in by_name]

    delta_col: Optional[ColInfo] = None
    if cfg.delta_col is not None:
        delta_col = by_name.get(cfg.delta_col)
        if delta_col is None:
            raise ValueError(f"delta_col {cfg.delta_col!r} not in source columns")
    else:
        auto = source.default_delta_col(spark)
        if auto is not None:
            delta_col = by_name.get(auto)
            if delta_col is None:
                # hidden column injected by the source (postgres xmin):
                # re-read col_infos — detection appended it to the cache —
                # and carry it in the plan's column list so extraction
                # selects it (reference:odbc2deltalake/write_init.py:255-261)
                cols = _resolve_cols(
                    cfg, source.col_infos(spark), getattr(source, "dialect", "spark")
                )
                by_name = {c.column_name: c for c in cols}
                delta_col = by_name.get(auto)

    return WriteConfigAndInfos(
        spark=spark,
        source=source,
        destination=Path(destination),
        col_infos=cols,
        pk_cols=pk_cols,
        delta_col=delta_col,
        write_config=cfg,
    )


def write_db_to_delta(
    spark: SparkSession,
    source: Source,
    destination: str | Path,
    write_config: Optional[WriteConfig] = None,
) -> LoadResult:
    """Top-level entry point (reference:odbc2deltalake/__init__.py:14-25)."""
    return make_writer(spark, source, destination, write_config).execute()


# ------------------------------------------------------------ entry point --


def exec_write_db_to_delta(infos: WriteConfigAndInfos) -> LoadResult:
    """Lifecycle driver: schema.json, rollback point, lock, dispatch,
    vacuum, failure restore (reference:odbc2deltalake/db_to_delta.py:178-286)."""
    spark = infos.spark
    cfg = infos.write_config
    dest = DeltaDestination(infos.destination)
    logger = DeltaLogger(spark, dest)
    ctx = _Ctx(
        spark=spark,
        source=infos.source,
        dest=dest,
        cols=infos.col_infos,
        pk_names=[cfg.target_name(c) for c in infos.pk_cols],
        delta_name=cfg.target_name(infos.delta_col) if infos.delta_col else None,
        cfg=cfg,
        logger=logger,
        load_ts=datetime.datetime.now(datetime.timezone.utc).replace(tzinfo=None),
    )

    dest.write_schema_json(infos.col_infos)
    last_pk_version = (
        dest.latest_pk_version.version() if dest.latest_pk_version.exists() else None
    )

    dest.acquire_lock()
    try:
        if not dest.delta.exists() or cfg.load_mode == "overwrite":
            result = do_full_load(ctx, mode="overwrite")
        elif cfg.load_mode == "append_inserts":
            if ctx.delta_name is None and len(infos.pk_cols) == 1 and infos.pk_cols[0].is_identity:
                # identity pk promoted to delta col
                # (reference:odbc2deltalake/db_to_delta.py:237-239)
                ctx.delta_name = ctx.pk_names[0]
            assert ctx.delta_name is not None, (
                "Must provide delta column for append_inserts load"
            )
            result = do_append_inserts_load(ctx)
        elif ctx.delta_name is None or not ctx.pk_names or cfg.load_mode == "force_full":
            result = do_full_load(ctx, mode="append")
        else:
            result = do_delta_load(
                ctx,
                simple=cfg.load_mode in ("simple_delta", "simple_delta_check"),
                simple_check=cfg.load_mode == "simple_delta_check",
            )
        dest.release_lock()
        dest.maintain_side_tables(spark)
        return result
    except Exception:
        # restore the current-rows index to its pre-load version
        # (reference:odbc2deltalake/db_to_delta.py:269-282)
        if last_pk_version is not None and dest.latest_pk_version.exists():
            if dest.latest_pk_version.version() > last_pk_version:
                dest.latest_pk_version.restore(last_pk_version)
        logger.error("Error during load", error_trackback=traceback.format_exc())
        raise
    finally:
        dest.release_lock()
        logger.flush()


# -------------------------------------------------------------- full load --


def do_full_load(ctx: _Ctx, mode: str) -> FullLoadResult:
    """One full snapshot extraction → history append/overwrite, then derive
    ``latest_pk_version`` from the rows just written
    (reference:odbc2deltalake/db_to_delta.py:1254-1326)."""
    ctx.logger.info("Start Full Load", load="full")
    src = ctx.extract(ctx.source.read(ctx.spark))
    rows = with_system_cols(src, ctx.load_ts, is_deleted=False, is_full_load=True)
    ctx.dest.delta.write(
        rows,
        mode=mode,
        merge_schema=ctx.cfg.allow_schema_drift in (True, "new_only"),
        known_stats={SYS.timestamp: (ctx.load_ts, ctx.load_ts)},
    )
    if ctx.delta_name is None:
        ctx.logger.info("Full Load done", load="full")
        return FullLoadResult()

    # latest_pk = pk+delta cols of rows at MAX(__timestamp) among full loads
    # (reference:odbc2deltalake/db_to_delta.py:1289-1325)
    hist = ctx.dest.delta.read(ctx.spark)
    full_rows = hist.filter(F.col(SYS.is_full_load))
    max_ts = full_rows.agg(F.max(SYS.timestamp).alias("m")).first()["m"]
    # the equality re-read skips every older load's files via the commit
    # stats just written (P10 with data skipping)
    latest = (
        ctx.dest.delta.read(
            ctx.spark, skip_where=(SYS.timestamp, "=", max_ts)
        )
        .filter(F.col(SYS.is_full_load))
        .select(*ctx.pk_names, ctx.delta_name)
    )
    # counted: the commit records the row count and delta-col bounds the
    # next load's local watermark probe reads (_local_value_and_count)
    ctx.dest.latest_pk_version.write_counted_minmax(
        latest, [ctx.delta_name], mode="overwrite"
    )
    ctx.logger.info("Full Load done, wrote meta for delta load", load="full")
    return FullLoadResult()


# --------------------------------------------------------- append inserts --


def do_append_inserts_load(ctx: _Ctx) -> AppendOnlyLoadResult:
    """Append-only mode: extract rows past the watermark, append, no delete
    detection (reference:odbc2deltalake/db_to_delta.py:708-743)."""
    ctx.logger.info("Start Append Only Load", load="append_inserts")
    wm, _ = _local_value_and_count(ctx, from_history=True)
    if wm is None:
        changed = ctx.source.read(ctx.spark)
    else:
        changed = ctx.source.read_where_gt(ctx.spark, _source_delta_name(ctx), wm)
    rows = with_system_cols(
        ctx.extract(changed), ctx.load_ts, is_deleted=False, is_full_load=False
    )
    _, n = ctx.dest.delta_1.write_counted(rows, mode="overwrite")
    if n:
        ctx.append_history(ctx.dest.delta_1.read(ctx.spark))
    ctx.logger.info("Done Append only load", load="append_inserts")
    return AppendOnlyLoadResult()


# ------------------------------------------------------------- delta load --


def do_delta_load(ctx: _Ctx, simple: bool = False, simple_check: bool = False) -> LoadResult:
    """The incremental algorithm (reference:odbc2deltalake/db_to_delta.py:483-691)."""
    res = DeltaLoadResult()
    dest = ctx.dest
    logger = ctx.logger
    assert ctx.delta_name is not None

    # drift gate: new source columns ⇒ full load
    # (reference:odbc2deltalake/db_to_delta.py:496-508)
    existing = {c.lower() for c in dest.delta.schema().fieldNames()}
    missing = [n for n in ctx.all_target_names if n.lower() not in existing]
    if missing and ctx.cfg.allow_schema_drift:
        logger.warning(f"New columns from source: {missing}. Do a full load")
        return do_full_load(ctx, mode="append")

    if not simple and not dest.latest_pk_version.exists():
        # try restore from history (reference:db_to_delta.py:519-532)
        logger.warning("Primary keys missing, try to restore")
        if not _restore_last_pk(ctx):
            logger.warning("No primary keys found, do a full load")
            return do_full_load(ctx, mode="append")
    elif not simple:
        have = {c.lower() for c in dest.latest_pk_version.schema().fieldNames()}
        if not have.issuperset({p.lower() for p in ctx.pk_names}):
            logger.warning("Primary keys do not match. Do a full load")
            return do_full_load(ctx, mode="append")

    old_pk_version = dest.latest_pk_version.version() if not simple else None

    # the local and source watermark probes are independent scalar
    # aggregates over different tables — overlap them so the second
    # job's tasks back-fill the first's tail (guide §2.6; on a cluster
    # the source probe is remote-RDBMS latency the local job need not
    # wait behind)
    with SparkThreadPool(ctx.spark, 2) as pool:
        f_local = pool.submit(_local_value_and_count, ctx)
        f_src = pool.submit(
            ctx.source.max_and_count, ctx.spark, _source_delta_name(ctx)
        )
        wm, local_count = f_local.result()
        src_wm, src_count = f_src.result()
    res.starting_local_state = (wm, local_count)
    src_wm = _normalize_wm(src_wm)
    res.starting_source_state = (src_wm, src_count)
    if wm is not None and src_wm is not None and (wm, local_count) == (src_wm, src_count):
        logger.info("No updates, done")
        return NoLoadResult()
    if wm is None:
        logger.warning("No delta load value, do a full load")
        return do_full_load(ctx, mode="append")
    delta_load_value = wm

    # step 1 — source key snapshot (reference:db_to_delta.py:575-579,862-890)
    def _step1() -> None:
        logger.info("Delta step 1: snapshot source PK/TS")
        keys = ctx.source.read_keys(
            ctx.spark, [_source_name(ctx, n) for n in ctx.pk_names + [ctx.delta_name]]
        )
        keys = convert_projection(
            keys,
            [c for c in ctx.cols if ctx.target_name(c) in ctx.pk_names + [ctx.delta_name]],
            ctx.target_name,
            ctx.cfg.no_trim,
        )
        dest.primary_keys_ts.write(keys, mode="overwrite")

    # step 2 — changed rows past the watermark (reference:db_to_delta.py:584-610)
    def _step2_write() -> tuple[int, dict]:
        logger.info(
            f"Delta step 2: load updates WHERE {ctx.delta_name} > {delta_load_value}"
        )
        changed = ctx.source.read_where_gt(
            ctx.spark, _source_delta_name(ctx), delta_load_value
        )
        d1_rows = with_system_cols(
            ctx.extract(changed), ctx.load_ts, is_deleted=False, is_full_load=False
        )
        # count + exact delta-col bounds observed during the write — no
        # read-back emptiness job, and the bounds become commit-log skipping
        # stats on the history append (read_current_rows prunes with them)
        _, n1, mm = dest.delta_1.write_counted_minmax(
            d1_rows, [ctx.delta_name], mode="overwrite"
        )
        return n1, mm

    def _step2_append(n1: int, mm: dict) -> None:
        if n1:
            ctx.append_history(
                dest.delta_1.read(ctx.spark), delta_interval=mm.get(ctx.delta_name)
            )

    if simple:
        n1, mm = _step2_write()
        # r14 (guide §2.6): the HISTORY append and _finish_simple's
        # housekeeping prefix (delta_2 reset + pk_ts drop —
        # other tables entirely) are data-independent; overlap them.
        # The latest_pk merge — the load's effective watermark commit —
        # stays strictly AFTER the append: advancing the watermark
        # before the history rows land would make a crash drop those
        # keys from the current-rows read. Housekeeping-done-but-
        # history-missing equals a sequential crash before step 2's
        # append: the unchanged index keeps the old watermark and the
        # next load re-extracts.
        with SparkThreadPool(ctx.spark, 2) as pool:
            f_hist = pool.submit(_step2_append, n1, mm)
            f_pre = pool.submit(_finish_simple_prefix, ctx)
            f_pre.result()
            f_hist.result()
        return _finish_simple(
            ctx, res, src_count, simple_check, delta_rows=n1
        )

    # steps 1 and 2 touch disjoint tables (primary_keys_ts vs delta_1 +
    # history) and only step 3 reads both — overlap them (guide §2.6).
    # Failure-mode note: a step-1 failure after step 2's history append
    # leaves the same on-disk state as a sequential crash between steps
    # 2 and 4 — a state the watermark contract already tolerates
    # (_local_value_and_count reads the COMMITTED latest_pk_version, so
    # orphan staging rows are invisible until a later load re-indexes
    # them).
    with SparkThreadPool(ctx.spark, 2) as pool:
        f1 = pool.submit(_step1)
        f2 = pool.submit(_step2_write)
        f1.result()
        n1, mm = f2.result()

    # step 3 — one key diff (K1) over primary_keys_ts, latest_pk@old and
    # the delta_1 keys: a single checkpointed shuffle from which the
    # strange keys (reference:db_to_delta.py:995-1184), the deleted keys
    # (:749-859) and the new index are all narrow filters. The step-2
    # HISTORY append and the diff are data-independent — the diff reads
    # primary_keys_ts, delta_1 (both committed above) and latest_pk@old,
    # never the history — so they overlap (guide §2.6). Only the RARE
    # strange-update branches append history themselves;
    # _key_diff therefore returns the decision without acting on it,
    # and the branch work (which must serialize after step 2's append
    # for the +1µs ordering contract) runs after both futures complete.
    # The diff itself lives only in executor memory. Crash
    # interleavings: history-appended-but-no-diff equals a sequential
    # crash between steps 2 and 3; diff-done-but-history-missing commits
    # nothing but (at most) the delta_2 reset — a sequential crash inside
    # step 3; both states the restore path already tolerates.
    assert old_pk_version is not None
    with SparkThreadPool(ctx.spark, 2) as pool:
        f_hist = pool.submit(_step2_append, n1, mm)
        f_diff = pool.submit(_key_diff, ctx, old_pk_version)
        diff = f_diff.result()
        f_hist.result()
    diff = _act_additional_updates(ctx, diff)

    # steps 3.5 (deletes) and 4 (current-rows index) are data-independent:
    # both read only the checkpointed diff and the change sets step 3
    # left final; _do_deletes appends tombstones to the HISTORY table,
    # which step 4 never reads, and the diff no longer reads the
    # latest_pk_version that step 4 overwrites. Overlap them the same way
    # (guide §2.6); both must complete before the reconcile. Either one
    # failing fails the load, and the failure path restores
    # latest_pk_version, so the next load diffs against the same old
    # index and derives the same deleted keys again.
    logger.info("Delta step 3.5: write deletes")
    with SparkThreadPool(ctx.spark, 2) as pool:
        f_del = pool.submit(_do_deletes, ctx, diff)
        f4 = pool.submit(_write_latest_pk, ctx, diff, delta_load_value)
        f_del.result()
        target_count = f4.result()

    # reconcile (reference:db_to_delta.py:641-658) — the target count is
    # observed during the write itself, no second scan
    res.dirty = src_count != target_count
    if res.dirty:
        logger.warning(
            f"Source and target count do not match. Source: {src_count}, Target: {target_count}"
        )
        end_wm, end_cnt = ctx.source.max_and_count(ctx.spark, _source_delta_name(ctx))
        res.end_source_state = (_normalize_wm(end_wm), end_cnt)
        if res.end_source_state != res.starting_source_state:
            logger.warning(
                f"Source state changed during load: {res.starting_source_state} -> {res.end_source_state}"
            )
    else:
        logger.info(f"Source and target count match: {src_count}")
    return res


def _finish_simple_prefix(ctx: _Ctx) -> None:
    """Housekeeping half of the simple-delta tail (r14 split): reset
    delta_2 to empty and drop the pk snapshot — tables the history
    append never touches, so the caller may overlap the two."""
    dest = ctx.dest
    _reset_delta_2(ctx)
    if dest.primary_keys_ts.exists():
        dest.primary_keys_ts.delete_table()


def _finish_simple(
    ctx: _Ctx,
    res: DeltaLoadResult,
    src_count: int,
    simple_check: bool,
    delta_rows: int,
) -> LoadResult:
    """Simple-delta tail: merge delta_1 keys into latest_pk, count-check,
    optionally escalate (reference:odbc2deltalake/db_to_delta.py:659-691).
    The caller has already run _finish_simple_prefix (r14 overlap).
    ``delta_rows``: delta_1's row count, observed at write time."""
    dest = ctx.dest
    assert ctx.delta_name is not None
    if delta_rows or not dest.latest_pk_version.exists():
        # merge-on-write: the index is merged once per load and folded
        # never. A merge-on-read patch pays off only when one fold
        # covers many writes, but the post-load maintenance window
        # folds after every load, so a patch here would be written,
        # count-reconciled and rewritten back in the same load. An
        # empty delta_1 (a redelivered micro-batch) changes no key, so
        # an existing index keeps its version.
        dest.latest_pk_version.merge_upsert(
            ctx.spark,
            latest_pk_union(
                None,
                dest.delta_1.read(ctx.spark),
                None,
                ctx.pk_names,
                ctx.delta_name,
            ),
            ctx.pk_names,
        )
    # count reconcile: from the merge's bucket_rows metadata, zero jobs
    target_count = dest.latest_pk_version.count_rows(ctx.spark)
    res.dirty = src_count != target_count
    if res.dirty:
        ctx.logger.warning(
            f"Source and target count do not match. Source: {src_count}, Target: {target_count}"
        )
        if simple_check:
            # escalate to a full delta load (reference:db_to_delta.py:676-680)
            return do_delta_load(ctx, simple=False)
    return res


def _reset_delta_2(ctx: _Ctx) -> None:
    """Leave delta_2 empty with delta_1's schema. A delta_2 that already
    is (the usual case: the last load fetched no strange rows) keeps its
    version — its row count comes from commit metadata or parquet
    footers, no job — so a load commits no no-op overwrite. ``write_empty``
    otherwise: a 0-row overwrite of one slice, not a 32-task job."""
    d2 = ctx.dest.delta_2
    schema = ctx.dest.delta_1.schema()
    if (
        d2.exists()
        and d2.schema() == schema
        and d2.max_and_count(ctx.spark, None)[1] == 0
    ):
        return
    d2.write_empty(ctx.spark, schema)


# ------------------------------------------------------------- key diff --


@dataclasses.dataclass
class _KeyDiff:
    """Step 3's one pass over the load's key sets (:func:`key_diff`),
    checkpointed, with the counts the later steps branch on. The counts
    ride an Observation on the checkpoint pass itself."""

    keys: DataFrame  # the checkpointed K1 frame
    strange: int  # strange-update keys (key_diff_strange)
    deleted: int  # deleted keys (key_diff_deleted)
    rewind_from: Any  # MIN snapshot ts over the moved keys
    fetched: bool = False  # delta_2 holds this load's key-set fetch
    rewound: bool = False  # the load re-extracted from rewind_from


def _key_diff(ctx: _Ctx, old_pk_version: int) -> _KeyDiff:
    """Decision half of step 3: one shuffle over primary_keys_ts,
    latest_pk@old and the delta_1 keys, checkpointed, counting the
    strange and deleted keys on the way. The common 0-strange case is
    handled inline (the delta_2 reset touches neither the history nor
    delta_1, so it is safe while step 2's history append is still in
    flight); ``_act_additional_updates`` acts on the rest after the
    append completes."""
    dest = ctx.dest
    assert ctx.delta_name is not None
    sel = ctx.pk_names + [ctx.delta_name]
    obs = Observation()
    keys = key_diff(
        dest.primary_keys_ts.read(ctx.spark).select(*sel),
        dest.latest_pk_version.read(ctx.spark, version=old_pk_version).select(*sel),
        dest.delta_1.read(ctx.spark).select(*sel),
        ctx.pk_names,
        ctx.delta_name,
    ).observe(
        obs,
        F.count(F.when(key_diff_strange(), 1)).alias("strange"),
        F.count(F.when(key_diff_deleted(), 1)).alias("deleted"),
        F.min(F.when(key_diff_moved(), F.col(KD_NEW))).alias("rewind_from"),
    )
    # eager: the shuffle and the Observation run once, here; the
    # strange-key fetch, the deletes and the index write read the
    # checkpoint
    keys = keys.localCheckpoint(eager=True)
    got = obs.get
    diff = _KeyDiff(keys, got["strange"], got["deleted"], got["rewind_from"])
    if diff.strange == 0:
        _reset_delta_2(ctx)
    return diff


def _act_additional_updates(ctx: _Ctx, diff: _KeyDiff) -> _KeyDiff:
    """Branch half of step 3 — runs strictly after step 2's history
    append (its own appends carry the +1µs later stamp and assume step
    2's rows already landed). Timestamp-inconsistent updates — e.g. a
    restore-from-backup rewound rows below the watermark
    (reference:odbc2deltalake/db_to_delta.py:995-1184).

    moved   = (pk, ts) in primary_keys_ts EXCEPT (pk, ts) in latest_pk@old
    strange = moved.pks EXCEPT delta_1.pks

    - 0 keys → nothing to do (_key_diff left delta_2 empty)
    - > max_complex_entries (or no_complex_entries_load) → rewind: new
      watermark = MIN(ts of moved); re-extract WHERE ts >= that value
      into the history; the rewound watermark caps step 4
    - else → fetch exactly those rows via broadcast semi join → delta_2
    """
    if diff.strange == 0:
        return diff
    dest = ctx.dest
    assert ctx.delta_name is not None
    if diff.strange > ctx.cfg.max_complex_entries or ctx.cfg.no_complex_entries_load:
        _reset_delta_2(ctx)
        ctx.logger.warning(
            f"Delta step 3: load {diff.strange} strange updates via normal delta load"
        )
        # >= (not the reference's strict >): the min-ts strange row itself
        # must reach the history or step 4 indexes a phantom key
        changed = ctx.source.read_where_ge(
            ctx.spark, _source_delta_name(ctx), diff.rewind_from
        )
        # +1µs on the re-extraction's __timestamp: step 2 already appended
        # some of these keys under ctx.load_ts; if the source row mutated
        # between the two extractions, two different versions with an
        # identical __timestamp would make latest_per_key's ROW_NUMBER
        # tie-break nondeterministic. The reference avoids ties via
        # per-statement server timestamps; a strictly later in-load stamp
        # restores the same total order.
        rewind_ts = ctx.load_ts + datetime.timedelta(microseconds=1)
        rows = with_system_cols(
            ctx.extract(changed), rewind_ts, is_deleted=False, is_full_load=False
        )
        # overwrite the delta_1 TABLE with the wider re-extraction (step 4's
        # union reads these keys from the delta_1 branch; the pk_ts branch
        # is capped at the rewound watermark) — matches the reference's
        # _load_updates_to_delta(delta_name="delta_1")
        # (reference:odbc2deltalake/db_to_delta.py:1137-1146,1223-1251)
        _, n, mm = dest.delta_1.write_counted_minmax(
            rows, [ctx.delta_name], mode="overwrite"
        )
        if n:
            ctx.append_history(
                dest.delta_1.read(ctx.spark),
                delta_interval=mm.get(ctx.delta_name),
            )
        return dataclasses.replace(diff, rewound=True)

    ctx.logger.warning(
        f"Delta step 3: load {diff.strange} strange updates via key-set join"
    )
    src_keys = diff.keys.filter(key_diff_strange()).select(
        *[F.col(n).alias(_source_name(ctx, n)) for n in ctx.pk_names]
    )
    fetched = ctx.source.read_for_keys(
        ctx.spark, src_keys, [_source_name(ctx, n) for n in ctx.pk_names]
    )
    rows = with_system_cols(
        ctx.extract(fetched), ctx.load_ts, is_deleted=False, is_full_load=False
    )
    _, n, mm = dest.delta_2.write_counted_minmax(
        rows, [ctx.delta_name], mode="overwrite"
    )
    if n:
        ctx.append_history(
            dest.delta_2.read(ctx.spark), delta_interval=mm.get(ctx.delta_name)
        )
    return dataclasses.replace(diff, fetched=n > 0)


# ----------------------------------------------------------------- deletes --

#: tombstones per history file a delete-bearing load writes
TOMBSTONE_ROWS_PER_FILE = 2_000_000


def _do_deletes(ctx: _Ctx, diff: _KeyDiff) -> None:
    """Step 3.5 — deletes = latest_pk@old ∖ currently-expected keys →
    tombstones (reference:odbc2deltalake/db_to_delta.py:749-859), a
    filter over the key diff. A rewound load re-extracted delta_1, so its
    expected keys are the snapshot's plus the re-extraction's."""
    dest = ctx.dest
    assert ctx.delta_name is not None
    if not diff.rewound:
        # counted with the diff: a zero-delete load runs no job here and
        # appends nothing
        if not diff.deleted:
            return
        dels = diff.keys.filter(key_diff_deleted()).select(*ctx.pk_names)
    else:
        dels = (
            diff.keys.filter(F.col(KD_IN_OLD) & ~F.col(KD_IN_NEW))
            .select(*ctx.pk_names)
            .join(
                dest.delta_1.read(ctx.spark).select(*ctx.pk_names),
                on=ctx.pk_names,
                how="left_anti",
            )
        )
    # the diff's partitioning would spread a handful of tombstones over
    # one small file per partition; size the files by the deleted count
    dels = dels.coalesce(max(1, -(-diff.deleted // TOMBSTONE_ROWS_PER_FILE)))
    schema = {f.name: f.dataType for f in dest.delta_1.schema().fields}
    tombs = tombstone_projection(
        dels,
        [n for n in ctx.all_target_names],
        ctx.pk_names,
        schema,
        ctx.load_ts,
    )
    ctx.append_history(tombs)


# ------------------------------------------------------- key index write --


def _write_latest_pk(ctx: _Ctx, diff: _KeyDiff, delta_load_value: Any) -> int:
    """Step 4 — overwrite latest_pk_version with the load's current keys
    (U1, reference:odbc2deltalake/db_to_delta.py:289-427); returns its
    row count, observed during the write.

    From the key diff: delta_1's version of the keys it holds, else the
    snapshot's capped at ``delta_load_value``, with the key-set fetch in
    delta_2 overriding both. The index keeps the snapshot's layout: as
    many files as the primary_keys_ts scan has partitions, each in key
    order. A rewound load instead unions the re-extracted delta_1 with the
    snapshot capped at the rewound watermark."""
    ctx.logger.info("Delta step 4: write latest_pk_version")
    dest = ctx.dest
    assert ctx.delta_name is not None
    sel = ctx.pk_names + [ctx.delta_name]
    d1 = dest.delta_1.read(ctx.spark).select(*sel)
    pk_ts = dest.primary_keys_ts.read(ctx.spark).select(*sel)
    if diff.rewound:
        latest = latest_pk_union(
            None, d1, pk_ts, ctx.pk_names, ctx.delta_name,
            delta_load_value=diff.rewind_from,
        )
    else:
        latest = key_diff_latest_pk(
            diff.keys, ctx.pk_names, ctx.delta_name, delta_load_value
        )
        types = d1.unionByName(pk_ts)
        if diff.fetched:
            d2 = dest.delta_2.read(ctx.spark).select(*sel)
            latest = latest.join(
                d2.select(*ctx.pk_names), on=ctx.pk_names, how="left_anti"
            ).unionByName(d2)
            types = d2.unionByName(types)
        # the key diff groups on the types widened over the OLD index
        # too; the index keeps the change sets' and snapshot's types
        latest = (
            latest.select(*[F.col(f.name).cast(f.dataType) for f in types.schema])
            .coalesce(max(1, pk_ts.rdd.getNumPartitions()))
            .sortWithinPartitions(*ctx.pk_names)
        )
    _, n, _ = dest.latest_pk_version.write_counted_minmax(
        latest, [ctx.delta_name], mode="overwrite"
    )
    return n


# ------------------------------------------------------------- watermarks --


def _local_value_and_count(ctx: _Ctx, from_history: bool = False) -> tuple[Any, int]:
    """Local watermark: MAX(delta_col), COUNT(*).

    Deliberate deviation from the reference, which prefers the
    ``primary_keys_ts`` snapshot (reference:odbc2deltalake/load_infos.py:11-41).
    That snapshot is taken *before* a load commits: a failed load leaves it
    matching the source exactly, so the retry short-circuits as "no
    change" and silently drops the interrupted load's rows. The committed
    ``latest_pk_version`` index is the correct local state — its MAX is
    the highest ingested delta value and its count the live-row count.
    ``from_history`` (append_inserts, which keeps no key index) falls back
    to the history table like the reference does. The store answers from
    commit metadata where its last index write recorded the count and
    bounds, and scans otherwise."""
    if not from_history and ctx.dest.latest_pk_version.exists():
        table = ctx.dest.latest_pk_version
    elif ctx.dest.delta.exists():
        table = ctx.dest.delta
    else:
        return None, 0
    wm, n = table.max_and_count(ctx.spark, ctx.delta_name)
    return _normalize_wm(wm), n


def _normalize_wm(v: Any) -> Any:
    """rowversion bytes → int so watermark values compare across engines
    (reference:odbc2deltalake/load_infos.py:39-41)."""
    if isinstance(v, (bytes, bytearray)):
        return int.from_bytes(bytes(v), "big")
    return v


def _source_name(ctx: _Ctx, target: str) -> str:
    """Map a target (compat) column name back to the source column name."""
    for c in ctx.cols:
        if ctx.target_name(c) == target:
            return c.column_name
    return target


def _source_delta_name(ctx: _Ctx) -> Optional[str]:
    return _source_name(ctx, ctx.delta_name) if ctx.delta_name else None


# ---------------------------------------------------------------- restore --


def _restore_last_pk(ctx: _Ctx) -> bool:
    """Rebuild latest_pk_version from the SCD2 history
    (reference:odbc2deltalake/write_utils/restore_pk.py:206-228)."""
    assert ctx.delta_name is not None
    hist = ctx.dest.delta.read(ctx.spark)
    derived = derive_latest_pk_from_history(hist, ctx.pk_names, ctx.delta_name)
    if derived is None or derived.isEmpty():
        return False
    ctx.dest.latest_pk_version.write(derived, mode="overwrite")
    return True


# ----------------------------------------------------- current-rows read --


def read_current_rows(
    spark: SparkSession,
    destination,
    pk_cols: list[str],
    delta_col: str,
    prune: bool = True,
) -> DataFrame:
    """The HOT read path: current (non-deleted) rows as the history
    rows that have an entry in ``latest_pk_version`` on (pks, delta_col)
    — J2 — with the history scan pruned by commit-level delta-col stats.

    Why this beats the W1 full-history window at scale: the window must
    shuffle EVERY history version ever written; this read is one pass
    over the commits that can still hold a current row, semi-joined with
    the keys-only index (broadcast while it fits the session's broadcast
    threshold), so no shuffle at all. Every current row's delta value is
    >= min(delta_col) over ``latest_pk_version`` (that's what the index
    stores), so commits whose recorded delta-col max lies below that
    scalar are provably fully superseded and are dropped at the commit
    log before Spark plans the scan. Loads without recorded bounds
    (tombstone appends, pre-r6 history) are conservatively kept. The
    min() probe is answered from the index's commit or footer metadata
    where it can be (:meth:`TableStore.min_and_nulls`), with no job.

    The semi join emits each history row at most once, whatever the
    index holds, so nothing is deduplicated: a key has one current row
    as long as each extraction delivers one row per primary key. The
    rewind re-extraction re-appends a key's current version stamped
    ``load_ts + 1µs``, so those copies differ in ``__timestamp`` and a
    distinct would not merge them either (see
    tests/cdc_utils.py:current_rows). A source that delivers the same
    row twice in one extraction writes two history rows and two index
    entries for it, and both rows come back.
    """
    dest = destination if isinstance(destination, DeltaDestination) else (
        DeltaDestination(destination)
    )
    lpk = dest.latest_pk_version
    skip = None
    if prune:
        # a nullable delta col (legacy temporal rows, a restore nulling
        # the column) makes the residual `ts >= min` filter drop NULL-ts
        # current rows, so pruning is disabled whenever the index holds
        # any NULL — conservative and exact
        low, nulls = lpk.min_and_nulls(spark, delta_col)
        if low is not None and not nulls:
            skip = (delta_col, ">=", low)
    hist = (
        dest.delta.read(spark, skip_where=skip)
        .filter(~F.col(SYS.is_deleted))
        .alias("h")
    )
    index = lpk.read(spark).select(*pk_cols, delta_col).alias("l")
    # pks are non-null (plain =); the delta col joins NULL-SAFELY so a
    # current version whose delta value is NULL (nullable datetime delta
    # col) still matches its index entry — `=` would silently drop it
    cond = F.col(f"h.`{delta_col}`").eqNullSafe(F.col(f"l.`{delta_col}`"))
    for c in pk_cols:
        cond = cond & (F.col(f"h.`{c}`") == F.col(f"l.`{c}`"))
    return hist.join(index, on=cond, how="left_semi")
