"""Spark-job budget of a warm CDC load on a ``ParquetTableSource``.

A scheduled CDC poller mostly runs no-op loads, so the watermark probes
must not cost jobs: the source probe reads the parquet footer, the local
probe reads the ``latest_pk_version`` commit, and the source schema is
inferred once. A changed load derives its strange updates, deletes and
new key index from one key diff (one shuffle). Jobs are counted from the
DAG scheduler's job-id counter (as ``perfbench`` does), so jobs the
engine starts from pool threads are counted too.

The current-rows read is budgeted too: its prune probe answers from
index metadata with no job, and the read is one pass whose only exchange
is the index broadcast.

The equivalence tests at the end run the same load sequences through a
copy of the earlier three-cascade algorithm (an ``exceptAll`` probe,
``latest_pk_union`` + ``deletes_keys`` for the deletes, and a second
``latest_pk_union`` for the index) and require equal tables, and compare
the current-rows read with a copy of the earlier probe + inner join +
``distinct`` read.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from odbc2deltalake_spark import (
    DeltaDestination,
    ParquetTableSource,
    WriteConfig,
    write_db_to_delta,
)
from odbc2deltalake_spark.plans.db_to_delta import (
    DeltaLoadResult,
    FullLoadResult,
    NoLoadResult,
    read_current_rows,
)
from odbc2deltalake_spark.tablestore import TableStore, VersionedParquetTable

NOOP_BUDGET = 2
DELTA_BUDGET = 9


class _Rows:
    """A source table as {id: (value, rv)}; each change takes the next rv."""

    def __init__(self, n: int):
        self.rows = {i: (f"v{i}", i) for i in range(1, n + 1)}
        self.rv = n

    def change(self, update=(), insert=(), delete=()):
        for i in list(update) + list(insert):
            self.rv += 1
            self.rows[i] = (f"w{i}", self.rv)
        for i in delete:
            del self.rows[i]

    def write(self, path: str) -> ParquetTableSource:
        ids = sorted(self.rows)
        pq.write_table(
            pa.table(
                {
                    "id": pa.array(ids, pa.int64()),
                    "val": [self.rows[i][0] for i in ids],
                    "rv": pa.array([self.rows[i][1] for i in ids], pa.int64()),
                }
            ),
            path,
            row_group_size=64,
        )
        return ParquetTableSource(path, primary_keys=["id"])


def _jobs(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def _load(spark, src, dest):
    j0 = _jobs(spark)
    res = write_db_to_delta(
        spark, src, dest, WriteConfig(primary_keys=["id"], delta_col="rv")
    )
    return res, _jobs(spark) - j0


def _current(spark, dest):
    return sorted(
        (r["id"], r["val"], r["rv"])
        for r in read_current_rows(spark, dest, ["id"], "rv").collect()
    )


def _data_dirs(dest) -> set[str]:
    root = os.path.join(dest, "delta")
    return {d for d in os.listdir(root) if not d.startswith("_")}


def _assert_local_probe_from_commit(spark, dest, want):
    """The local watermark probe answers from the latest_pk_version
    commit with zero jobs, and equals the scan."""
    lpk = DeltaDestination(dest).latest_pk_version
    j0 = _jobs(spark)
    got = lpk.max_and_count(spark, "rv")
    assert _jobs(spark) == j0
    assert got == TableStore.max_and_count(lpk, spark, "rv") == want


@pytest.fixture()
def loaded(spark, tmp_path):
    """A destination after a full load and one warm-up delta load."""
    table = _Rows(300)
    dest = str(tmp_path / "dest")
    res, _ = _load(spark, table.write(str(tmp_path / "s0.parquet")), dest)
    assert isinstance(res, FullLoadResult)
    _assert_local_probe_from_commit(spark, dest, (300, 300))
    table.change(update=[5], insert=[301])
    res, _ = _load(spark, table.write(str(tmp_path / "s1.parquet")), dest)
    assert isinstance(res, DeltaLoadResult)
    _assert_local_probe_from_commit(spark, dest, (302, 301))
    return table, dest


def test_warm_load_job_budget(spark, tmp_path, loaded):
    table, dest = loaded
    table.change(update=[1, 2, 3], insert=[302, 303], delete=[10, 11])
    src = table.write(str(tmp_path / "s2.parquet"))
    res, jobs = _load(spark, src, dest)
    assert isinstance(res, DeltaLoadResult) and not res.dirty
    assert jobs <= DELTA_BUDGET, jobs
    want = sorted((i, v, rv) for i, (v, rv) in table.rows.items())
    assert _current(spark, dest) == want
    # the poll that follows finds nothing: the same source object, then
    # a fresh one over the same file (which infers the schema once more)
    for poll in (src, ParquetTableSource(src.path, primary_keys=["id"])):
        res, jobs = _load(spark, poll, dest)
        assert isinstance(res, NoLoadResult)
        assert jobs <= NOOP_BUDGET, jobs
    assert _current(spark, dest) == want


def test_zero_delete_load_commits_no_tombstones(spark, tmp_path, loaded):
    table, dest = loaded
    hist = DeltaDestination(dest).delta
    v0, dirs0 = hist.version(), _data_dirs(dest)
    table.change(update=[7], insert=[400])
    res, _ = _load(spark, table.write(str(tmp_path / "s2.parquet")), dest)
    assert isinstance(res, DeltaLoadResult) and not res.dirty
    # the change-set append is the only history commit and the only dir
    assert hist.version() == v0 + 1
    assert len(_data_dirs(dest) - dirs0) == 1
    assert hist.read(spark).filter("__is_deleted").count() == 0


def test_every_job_of_a_load_carries_the_callers_job_group(spark, tmp_path, loaded):
    """The engine's pool threads run under the caller's Spark local
    properties, so every job of a warm delta load is in the job group
    set around it and ``cancelJobGroup`` can stop all of them."""
    table, dest = loaded
    table.change(update=[1, 2], insert=[302], delete=[10])
    src = table.write(str(tmp_path / "s2.parquet"))
    sc = spark.sparkContext
    sc.setJobGroup("load-1", "warm delta load")
    try:
        res, jobs = _load(spark, src, dest)
        j1 = _jobs(spark)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert isinstance(res, DeltaLoadResult) and jobs > 0
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    in_group = set(sc.statusTracker().getJobIdsForGroup("load-1"))
    missing = sorted(set(range(j1 - jobs, j1)) - in_group)
    assert not missing, f"{len(missing)} of {jobs} jobs lack the group: {missing}"


def test_delete_bearing_load_lands_tombstones(spark, tmp_path, loaded):
    table, dest = loaded
    hist = DeltaDestination(dest).delta
    v0 = hist.version()
    table.change(delete=[20, 21, 22])
    res, _ = _load(spark, table.write(str(tmp_path / "s2.parquet")), dest)
    assert isinstance(res, DeltaLoadResult) and not res.dirty
    assert hist.version() == v0 + 1  # nothing changed, only tombstones
    dead = hist.read(spark).filter("__is_deleted").select("id").collect()
    assert sorted(r["id"] for r in dead) == [20, 21, 22]
    assert {r[0] for r in _current(spark, dest)} == set(table.rows)


STREAM_BATCH_BUDGET = 13
STREAM_REDELIVERY_BUDGET = 6


def _batch(spark, table: _Rows, ids, path: str):
    """A micro-batch of ``table``'s current rows for ``ids``, read back
    from a parquet file as a file stream would deliver it."""
    ids = sorted(ids)
    pq.write_table(
        pa.table(
            {
                "id": pa.array(ids, pa.int64()),
                "val": [table.rows[i][0] for i in ids],
                "rv": pa.array([table.rows[i][1] for i in ids], pa.int64()),
            }
        ),
        path,
    )
    return spark.read.parquet(path)


def test_stream_batch_merges_the_key_index_once(spark, tmp_path, monkeypatch):
    """A warm ``foreach_batch_scd2`` micro-batch writes the
    ``latest_pk_version`` change once: one merge commit, no merge-on-read
    patch for the post-load maintenance to fold back. Its at-least-once
    redelivery finds every row loaded and commits nothing to the index or
    the history. The patch threshold is lowered to one row so that a
    small index would take the patch route if the load asked for it."""
    from odbc2deltalake_spark.streaming.driver import foreach_batch_scd2

    monkeypatch.setattr(VersionedParquetTable, "PATCH_MIN_TABLE_ROWS", 1)
    dest = str(tmp_path / "dest")
    apply = foreach_batch_scd2(dest, ["id"], "rv")
    table = _Rows(300)
    apply(_batch(spark, table, table.rows, str(tmp_path / "b0.parquet")), 0)
    table.change(update=[5], insert=[301])  # the first merge bucketizes
    apply(_batch(spark, table, [5, 301], str(tmp_path / "b1.parquet")), 1)

    d = DeltaDestination(dest)
    lpk, hist = d.latest_pk_version, d.delta
    table.change(update=[1, 2, 3], insert=[302, 303])
    batch = _batch(spark, table, [1, 2, 3, 302, 303], str(tmp_path / "b2.parquet"))
    v0, h0 = lpk.version(), hist.version()
    j0 = _jobs(spark)
    apply(batch, 2)
    jobs = _jobs(spark) - j0
    assert lpk.version() == v0 + 1
    assert [c["mode"] for c in lpk.history()[:1]] == ["merge"]
    assert not lpk._state_at()["patches"]
    assert hist.version() == h0 + 1
    assert jobs <= STREAM_BATCH_BUDGET, jobs
    want = sorted((i, v, rv) for i, (v, rv) in table.rows.items())
    assert _current(spark, dest) == want

    j0 = _jobs(spark)
    apply(batch, 2)  # redelivered after a crash before the offset commit
    jobs = _jobs(spark) - j0
    assert (lpk.version(), hist.version()) == (v0 + 1, h0 + 1)
    assert jobs <= STREAM_REDELIVERY_BUDGET, jobs
    assert _current(spark, dest) == want


# ---------------------------------------------------- current-rows read --

READ_BUDGET = 3


def _read_probe_route(spark, dest, monkeypatch):
    """The current-rows read's prune probe on ``dest``'s index, checked
    equal to the scan: the route that answered it ("metadata", "footer"
    or "scan") and the jobs it ran."""
    import odbc2deltalake_spark.tablestore as ts

    lpk = DeltaDestination(dest).latest_pk_version
    routes = []
    scan, footers = ts.TableStore.min_and_nulls, ts.footer_col_stats

    def scan_spy(self, spark, col):
        routes.append("scan")
        return scan(self, spark, col)

    def footer_spy(files, col):
        got = footers(files, col)
        if got is not None and got.nulls is not None:
            routes.append("footer")
        return got

    with monkeypatch.context() as m:
        m.setattr(ts.TableStore, "min_and_nulls", scan_spy)
        m.setattr(ts, "footer_col_stats", footer_spy)
        j0 = _jobs(spark)
        got = lpk.min_and_nulls(spark, "rv")
        jobs = _jobs(spark) - j0
    assert got == scan(lpk, spark, "rv")
    return (routes or ["metadata"])[-1], jobs


def _assert_one_pass_read(spark, dest, want):
    """A warm read of ``dest``'s current rows counts them in at most
    READ_BUDGET jobs, and plans no exchange but the index broadcast."""
    assert _current(spark, dest) == want  # warm
    rows = read_current_rows(spark, dest, ["id"], "rv")
    plan = rows._jdf.queryExecution().executedPlan().toString()
    exchanges = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert len(exchanges) == 1 and "BroadcastExchange" in exchanges[0], plan
    j0 = _jobs(spark)
    assert rows.count() == len(want)
    jobs = _jobs(spark) - j0
    assert jobs <= READ_BUDGET, jobs


def test_warm_read_is_one_pass_on_a_counted_index(spark, tmp_path, loaded, monkeypatch):
    """After a delta load, whose counted overwrite records the index's
    bounds and NULL count, the read's probe answers from the commit."""
    table, dest = loaded
    table.change(update=[1, 2], insert=[302], delete=[10])
    _load(spark, table.write(str(tmp_path / "s2.parquet")), dest)
    assert _read_probe_route(spark, dest, monkeypatch) == ("metadata", 0)
    want = sorted((i, v, rv) for i, (v, rv) in table.rows.items())
    _assert_one_pass_read(spark, dest, want)


def test_warm_read_is_one_pass_on_a_bucketized_index(spark, tmp_path, monkeypatch):
    """After micro-batches, whose merges bucketize the index and record
    no counts, the read's probe answers from the footers."""
    from odbc2deltalake_spark.streaming.driver import foreach_batch_scd2

    dest = str(tmp_path / "dest")
    apply = foreach_batch_scd2(dest, ["id"], "rv")
    table = _Rows(300)
    apply(_batch(spark, table, table.rows, str(tmp_path / "b0.parquet")), 0)
    for b, ids in enumerate(([5, 301], [1, 2, 302]), start=1):
        table.change(update=ids[:-1], insert=ids[-1:])
        apply(_batch(spark, table, ids, str(tmp_path / f"b{b}.parquet")), b)
    lpk = DeltaDestination(dest).latest_pk_version
    assert lpk._state_at()["num_buckets"]
    assert _read_probe_route(spark, dest, monkeypatch) == ("footer", 0)
    want = sorted((i, v, rv) for i, (v, rv) in table.rows.items())
    _assert_one_pass_read(spark, dest, want)


def test_prune_probe_routes_match_the_scan(spark, tmp_path, loaded, monkeypatch):
    """Whatever route answers the probe, the pruned read equals the
    unpruned one: on a counted index, one holding a NULL delta value
    (pruning off), a counted commit from before the NULL count was
    recorded, a mask and its fold, a bucketized merge and a patch."""
    import json

    table, dest = loaded
    lpk = DeltaDestination(dest).latest_pk_version

    def check(route):
        assert _read_probe_route(spark, dest, monkeypatch)[0] == route
        pruned = read_current_rows(spark, dest, ["id"], "rv").collect()
        full = read_current_rows(spark, dest, ["id"], "rv", prune=False).collect()
        assert sorted(map(tuple, pruned)) == sorted(map(tuple, full))
        return sorted((r["id"], r["val"], r["rv"]) for r in pruned)

    want = sorted((i, v, rv) for i, (v, rv) in table.rows.items())
    assert check("metadata") == want
    # a NULL delta value in the index turns pruning off
    lpk.write_counted_minmax(
        spark.createDataFrame([(2, None)], "id long, rv long"), ["rv"], mode="append"
    )
    assert lpk.min_and_nulls(spark, "rv") == (1, 1)
    assert check("metadata") == want
    # an old commit: the NULL count stripped from the index's head commit
    head = os.path.join(lpk._commits_dir, f"{lpk.version():010d}.json")
    with open(head) as fh:
        commit = json.load(fh)
    del commit["nulls"]
    with open(head, "w") as fh:
        json.dump(commit, fh)
    assert check("scan") == want
    # a mask dropping a key's index entries drops its current row; the
    # fold rewrites the dirs without counts, so the footers answer
    lpk.delete_where(spark, ("id", "=", 2), lazy=True)
    want = [w for w in want if w[0] != 2]
    assert check("scan") == want
    lpk.fold_masks(spark)
    assert check("footer") == want
    # a merge bucketizes the index, then a patch re-upserts an entry the
    # index already holds
    entry = lpk.read(spark).filter("id = 1")
    lpk.merge_upsert(spark, entry, ["id"], num_buckets=4)
    assert check("footer") == want
    # a NULL entry merged into the bucketized index: its footers count
    # the NULL, so pruning stays off
    null_entry = spark.createDataFrame([(2, None)], "id long, rv long")
    lpk.merge_upsert(spark, null_entry, ["id"])
    assert lpk.min_and_nulls(spark, "rv") == (1, 1)
    assert check("footer") == want
    lpk.merge_upsert(spark, entry, ["id"], strategy="patch")
    assert lpk._state_at()["patches"]
    assert check("scan") == want


# ------------------------------------------------------------ key diff --


def test_warm_load_diffs_the_key_sets_in_one_shuffle(
    spark, tmp_path, loaded, monkeypatch
):
    """A warm delta load reads primary_keys_ts and latest_pk@old in one
    hash exchange (the key diff), and neither the 0-strange nor the
    key-set-join path runs ``exceptAll`` or ``latest_pk_union``."""
    from pyspark.sql import DataFrame

    from odbc2deltalake_spark.plans import db_to_delta as mod

    table, dest = loaded
    diffs = []
    real_diff = mod.key_diff

    def spy(*a, **kw):
        diffs.append(real_diff(*a, **kw))
        return diffs[-1]

    def forbidden(*a, **kw):
        raise AssertionError("three-cascade operator on the load path")

    monkeypatch.setattr(mod, "key_diff", spy)
    monkeypatch.setattr(mod, "latest_pk_union", forbidden)
    monkeypatch.setattr(DataFrame, "exceptAll", forbidden)
    d = DeltaDestination(dest)

    table.change(update=[1, 2], insert=[302], delete=[10])
    res, _ = _load(spark, table.write(str(tmp_path / "s2.parquet")), dest)
    assert isinstance(res, DeltaLoadResult) and not res.dirty
    assert d.delta_2.read(spark).count() == 0
    plan = diffs[-1]._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "Exchange hashpartitioning" in plan
    files = diffs[-1].inputFiles()
    for table_dir in ("primary_keys_ts", "latest_pk_version", "delta_1"):
        assert any(f"/{table_dir}/" in f for f in files), table_dir

    # a backdated version of key 7: below the watermark, so only the
    # key-set join can load it
    table.rows[7] = ("back", 3)
    table.change(update=[4])
    res, _ = _load(spark, table.write(str(tmp_path / "s3.parquet")), dest)
    assert isinstance(res, DeltaLoadResult) and not res.dirty
    assert [r["id"] for r in d.delta_2.read(spark).collect()] == [7]
    assert len(diffs) == 2
    want = sorted((i, v, rv) for i, (v, rv) in table.rows.items())
    assert _current(spark, dest) == want


def test_delta_2_reset_only_when_not_already_empty(spark, tmp_path, loaded):
    """A plain warm load commits no delta_2 version (it is already empty);
    the load after a key-set fetch still empties it."""
    table, dest = loaded
    d2 = DeltaDestination(dest).delta_2
    v0 = d2.version()
    table.change(update=[3])
    _load(spark, table.write(str(tmp_path / "s2.parquet")), dest)
    assert d2.version() == v0

    table.rows[8] = ("back", 4)
    table.change(update=[5])
    _load(spark, table.write(str(tmp_path / "s3.parquet")), dest)
    assert d2.version() == v0 + 1
    assert d2.read(spark).count() == 1

    table.change(update=[6])
    res, _ = _load(spark, table.write(str(tmp_path / "s4.parquet")), dest)
    assert isinstance(res, DeltaLoadResult) and not res.dirty
    assert d2.version() == v0 + 2
    assert d2.read(spark).count() == 0
    assert d2.schema() == DeltaDestination(dest).delta_1.schema()
    want = sorted((i, v, rv) for i, (v, rv) in table.rows.items())
    assert _current(spark, dest) == want


# ------------------------------------------- equivalence with the cascades --
#
# The earlier algorithm, kept here only as the reference the key diff must
# reproduce: step 3 probed with ``pk_ts EXCEPT ALL latest_pk@old``, the
# deletes rebuilt ``latest_pk_union`` and anti-joined the old index, and
# step 4 rebuilt the union once more. The functions plug into
# ``do_delta_load`` in place of ``_key_diff``, ``_act_additional_updates``,
# ``_do_deletes`` and ``_write_latest_pk``, so both algorithms run under the
# same phase order and overlap.


class _CascadeState:
    def __init__(self, old_pk_version, probe):
        self.old_pk_version = old_pk_version
        self.probe = probe
        self.rewind_wm = None


def _cascade_probe(ctx, old_pk_version):
    dest = ctx.dest
    sel = ctx.pk_names + [ctx.delta_name]
    pk_ts = dest.primary_keys_ts.read(ctx.spark).select(*sel)
    old_lpk = dest.latest_pk_version.read(ctx.spark, version=old_pk_version).select(*sel)
    additional = pk_ts.exceptAll(old_lpk)
    d1_keys = dest.delta_1.read(ctx.spark).select(*ctx.pk_names)
    real_additional = (
        additional.select(*ctx.pk_names)
        .join(d1_keys, on=ctx.pk_names, how="left_anti")
        .distinct()
    )
    additional = additional.localCheckpoint(eager=False)
    real_additional = real_additional.localCheckpoint(eager=False)
    update_count = real_additional.count()
    if update_count == 0:
        dest.delta_2.write_empty(ctx.spark, dest.delta_1.schema())
        return _CascadeState(old_pk_version, None)
    return _CascadeState(
        old_pk_version, (additional, real_additional, update_count)
    )


def _cascade_act(ctx, st):
    import datetime

    from odbc2deltalake_spark.functions.projection import with_system_cols
    from odbc2deltalake_spark.plans import db_to_delta as mod
    from pyspark.sql import functions as F

    if st.probe is None:
        return st
    additional, real_additional, update_count = st.probe
    dest = ctx.dest
    if update_count > ctx.cfg.max_complex_entries or ctx.cfg.no_complex_entries_load:
        dest.delta_2.write_empty(ctx.spark, dest.delta_1.schema())
        rewind_wm = additional.agg(F.min(ctx.delta_name).alias("m")).first()["m"]
        changed = ctx.source.read_where_ge(
            ctx.spark, mod._source_delta_name(ctx), rewind_wm
        )
        rows = with_system_cols(
            ctx.extract(changed),
            ctx.load_ts + datetime.timedelta(microseconds=1),
            is_deleted=False,
            is_full_load=False,
        )
        _, n, mm = dest.delta_1.write_counted_minmax(
            rows, [ctx.delta_name], mode="overwrite"
        )
        if n:
            ctx.append_history(
                dest.delta_1.read(ctx.spark), delta_interval=mm.get(ctx.delta_name)
            )
        st.rewind_wm = rewind_wm
        return st
    src_keys = real_additional.select(
        *[F.col(n).alias(mod._source_name(ctx, n)) for n in ctx.pk_names]
    )
    fetched = ctx.source.read_for_keys(
        ctx.spark, src_keys, [mod._source_name(ctx, n) for n in ctx.pk_names]
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
    return st


def _cascade_union(ctx, delta_load_value=None):
    from odbc2deltalake_spark.operators.scd2 import latest_pk_union

    dest = ctx.dest
    return latest_pk_union(
        dest.delta_2.read(ctx.spark) if dest.delta_2.exists() else None,
        dest.delta_1.read(ctx.spark),
        dest.primary_keys_ts.read(ctx.spark),
        ctx.pk_names,
        ctx.delta_name,
        delta_load_value=delta_load_value,
    )


def _cascade_deletes(ctx, st):
    from odbc2deltalake_spark.functions.projection import tombstone_projection
    from odbc2deltalake_spark.operators.scd2 import deletes_keys

    dest = ctx.dest
    old_lpk = dest.latest_pk_version.read(ctx.spark, version=st.old_pk_version)
    dels = deletes_keys(old_lpk, _cascade_union(ctx), ctx.pk_names)
    schema = {f.name: f.dataType for f in dest.delta_1.schema().fields}
    ctx.append_history(
        tombstone_projection(
            dels, ctx.all_target_names, ctx.pk_names, schema, ctx.load_ts
        )
    )


def _cascade_index(ctx, st, delta_load_value):
    wm = st.rewind_wm if st.rewind_wm is not None else delta_load_value
    _, n, _ = ctx.dest.latest_pk_version.write_counted_minmax(
        _cascade_union(ctx, wm), [ctx.delta_name], mode="overwrite"
    )
    return n


def _use_cascades(m):
    from odbc2deltalake_spark.plans import db_to_delta as mod

    m.setattr(mod, "_key_diff", _cascade_probe)
    m.setattr(mod, "_act_additional_updates", _cascade_act)
    m.setattr(mod, "_do_deletes", _cascade_deletes)
    m.setattr(mod, "_write_latest_pk", _cascade_index)


def _tables(spark, dest):
    """History (tombstones included), tombstones, latest_pk_version and
    delta_2 as sorted row lists. ``__timestamp`` is each load's wall
    clock, so the history carries its rank instead."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    d = DeltaDestination(dest)

    def rows(df):
        return df.columns, sorted((tuple(r) for r in df.collect()), key=repr)

    hist = d.delta.read(spark)
    hist = hist.withColumn(
        "__load_rank", F.dense_rank().over(Window.orderBy("__timestamp"))
    ).drop("__timestamp")
    return {
        "history": rows(hist),
        "tombstones": rows(hist.filter("__is_deleted")),
        "latest_pk_version": (
            d.latest_pk_version.schema().simpleString(),
            rows(d.latest_pk_version.read(spark)),
        ),
        "delta_2": d.delta_2.exists()
        and rows(d.delta_2.read(spark).drop("__timestamp")),
    }


def _user_rows(spark, rows, schema=None):
    from tests.cdc_utils import USER_SCHEMA

    return spark.createDataFrame(rows, schema or USER_SCHEMA)


V1 = [
    (1, "John", "Anders", 32.0, "c1", 1000),
    (2, "Peter", "Johniingham", 41.0, "c1", 1001),
    (3, "Petra", "wayne", 28.0, "c2 ", 1002),
]


def _seq_no_strange(spark, src, run):
    yield run(src)
    src.set_df(_user_rows(spark, [V1[0], (2, "Peter", "J", 42.0, "c1", 1003),
                                  V1[2], (4, "Marie", "Curie", 66.0, "c3", 1004)]))
    yield run(src)
    src.set_df(_user_rows(spark, [(1, "Jon", "Anders", 32.0, "c1", 1005),
                                  (2, "Peter", "J", 42.0, "c1", 1003),
                                  V1[2], (4, "Marie", "Curie", 66.0, "c3", 1004)]))
    yield run(src)


def _seq_strange(n_extra):
    def seq(spark, src, run):
        yield run(src)
        extra = [
            (100 + i, f"Extra{i}", "Strange", 1.0 * i, "cx", 500 + i)
            for i in range(n_extra)
        ]
        src.set_df(_user_rows(spark, [V1[0], (2, "Pietro", "J", 41.0, "c1", 900),
                                      V1[2], (4, "Marie", "Curie", 66.0, "c3", 1003)]
                              + extra))
        yield run(src)
        src.set_df(_user_rows(spark, [V1[0], (2, "Pietro", "J", 41.0, "c1", 900),
                                      (3, "Petra", "Wayne", 28.0, "c2", 1004),
                                      (4, "Marie", "Curie", 66.0, "c3", 1003)]
                              + extra))
        yield run(src)

    return seq


def _seq_deletes(spark, src, run):
    yield run(src)
    src.set_df(_user_rows(spark, [(2, "Peter", "J", 42.0, "c1", 1003),
                                  (4, "Marie", "Curie", 66.0, "c3", 1004)]))
    yield run(src)
    src.set_df(_user_rows(spark, [(4, "Marie", "Curie", 66.0, "c3", 1004)]))
    yield run(src)
    src.set_df(_user_rows(spark, []))  # the source table emptied
    yield run(src)


def _seq_delete_reinsert(spark, src, run):
    yield run(src)
    src.set_df(_user_rows(spark, V1[:2] + [(4, "Marie", "Curie", 66.0, "c3", 1003)]))
    yield run(src)
    # key 3 comes back with a fresh rowversion
    src.set_df(_user_rows(spark, V1[:2] + [(3, "Petra", "New", 29.0, "c2", 1004),
                                           (4, "Marie", "Curie", 66.0, "c3", 1003)]))
    yield run(src)
    src.set_df(_user_rows(spark, V1[:2] + [(4, "Marie", "Curie", 66.0, "c3", 1003)]))
    yield run(src)
    # and once with its old one, below the watermark
    src.set_df(_user_rows(spark, V1 + [(4, "Marie", "Curie", 66.0, "c3", 1003)]))
    yield run(src)


def _seq_insert_between_steps(spark, src, run):
    yield run(src)
    rows2 = V1 + [(4, "Marie", "Curie", 66.0, "c3", 1004)]
    mid = rows2 + [(5, "Late", "Arrival", 1.0, "c9", 2000)]
    src.set_df(_user_rows(spark, rows2))
    # key 5 is visible to the key snapshot only: its ts lies past the
    # watermark, so the cap keeps it out of this load's index
    src.between_stages = lambda tag, df: _user_rows(
        spark, mid if tag == "read_keys" else rows2
    )
    yield run(src)
    src.between_stages = None
    src.set_df(_user_rows(spark, rows2 + [(5, "Late", "Arrival", 1.0, "c9", 2001)]))
    yield run(src)


def _nullable_source(spark):
    from pyspark.sql import types as T

    from tests.cdc_utils import USER_COLS, ColInfo, DataFrameSource, USER_SCHEMA

    schema = T.StructType(
        USER_SCHEMA.fields[:-1] + [T.StructField("time stamp", T.LongType(), True)]
    )
    cols = USER_COLS[:-1] + [ColInfo("time stamp", T.LongType(), "bigint", True)]
    return DataFrameSource(
        spark.createDataFrame(V1, schema), cols, primary_keys=["User - iD"]
    )


def _seq_null_delta_value(spark, src, run):
    schema = src.df.schema
    yield run(src)
    src.set_df(_user_rows(spark, [V1[0], (2, "Peter", "J", 41.0, "c1", None),
                                  V1[2], (4, "Nadia", "Null", 50.0, "c9", None)],
                          schema))
    yield run(src)
    src.set_df(_user_rows(spark, [V1[0], (2, "Peter", "J", 41.0, "c1", None),
                                  (3, "Petra", "w", 28.0, "c2", 1003),
                                  (4, "Nadia", "Null", 50.0, "c9", None)],
                          schema))
    yield run(src)


def _drift_shape(spark, precision):
    """An ``id, amount decimal(precision, 3), rv`` source table and its
    column infos; the wider shape changes one row and inserts one."""
    from decimal import Decimal

    from pyspark.sql import types as T

    from tests.cdc_utils import ColInfo

    schema = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("amount", T.DecimalType(precision, 3), True),
        T.StructField("rv", T.LongType(), False),
    ])
    cols = [
        ColInfo("id", T.LongType(), "bigint", False),
        ColInfo("amount", T.DecimalType(precision, 3), f"decimal({precision},3)"),
        ColInfo("rv", T.LongType(), "rowversion", False),
    ]
    rows = {
        15: [(1, Decimal("1.5"), 10), (2, Decimal("2.5"), 11), (3, Decimal("3.5"), 12)],
        20: [(1, Decimal("1.5"), 10), (2, Decimal("12345678901234567.25"), 13),
             (4, Decimal("4.5"), 14)],
    }[precision]
    return spark.createDataFrame(rows, schema), cols


def _seq_schema_drift(spark, src, run):
    yield run(src)
    src.set_df(*_drift_shape(spark, 20))
    yield run(src)


def _parity_source(spark, name):
    from tests.cdc_utils import DataFrameSource, make_source

    if name == "null_delta_value":
        return _nullable_source(spark)
    if name == "schema_drift":
        return DataFrameSource(*_drift_shape(spark, 15), primary_keys=["id"])
    return make_source(spark)


_PARITY = {
    "no_strange": (_seq_no_strange, {}),
    "keyset_strange": (_seq_strange(0), {}),
    "rewind_strange": (_seq_strange(3), dict(max_complex_entries=2)),
    "deletes": (_seq_deletes, {}),
    "delete_then_reinsert": (_seq_delete_reinsert, {}),
    "insert_between_steps": (_seq_insert_between_steps, {}),
    "null_delta_value": (_seq_null_delta_value, dict(delta_col="time stamp")),
    "schema_drift": (_seq_schema_drift, {}),
}


@pytest.mark.parametrize("name", sorted(_PARITY))
def test_key_diff_matches_the_cascades(spark, tmp_path, monkeypatch, name):
    """Each load of the sequence leaves the history, its tombstones,
    latest_pk_version and delta_2 equal to what the three-cascade
    algorithm writes for the same sources."""
    from tests.cdc_utils import run_load

    seq, cfg = _PARITY[name]
    dests = {side: str(tmp_path / side) for side in ("diff", "cascade")}

    def runner(side):
        return lambda src: run_load(
            spark, src, dests[side], WriteConfig(**cfg), check=False
        )[1]

    loads = {
        side: seq(spark, _parity_source(spark, name), runner(side))
        for side in dests
    }
    for step, got in enumerate(loads["diff"]):
        with monkeypatch.context() as m:
            _use_cascades(m)
            want = next(loads["cascade"])
        assert type(got) is type(want), step
        assert getattr(got, "dirty", None) == getattr(want, "dirty", None), step
        assert _tables(spark, dests["diff"]) == _tables(spark, dests["cascade"]), step
    assert next(loads["cascade"], None) is None


# ------------------------------- current-rows read: equivalence with parent --
#
# The earlier read, kept here only as the reference the one-pass read must
# reproduce: a one-job min/NULL probe over the index, an inner join of the
# history with the index, and a ``.distinct()``.


def _parent_read_current_rows(spark, destination, pk_cols, delta_col):
    from pyspark.sql import functions as F

    from odbc2deltalake_spark.metadata import SYS

    dest = DeltaDestination(destination)
    lpk = dest.latest_pk_version.read(spark)
    skip = None
    probe = lpk.agg(
        F.min(delta_col).alias("m"),
        F.max(F.col(delta_col).isNull()).alias("has_null"),
    ).first()
    if probe["m"] is not None and not probe["has_null"]:
        skip = (delta_col, ">=", probe["m"])
    hist = dest.delta.read(spark, skip_where=skip).alias("h")
    right = lpk.select(*pk_cols, delta_col).alias("l")
    cond = F.col(f"h.`{delta_col}`").eqNullSafe(F.col(f"l.`{delta_col}`"))
    for c in pk_cols:
        cond = cond & (F.col(f"h.`{c}`") == F.col(f"l.`{c}`"))
    return (
        hist.join(right, on=cond, how="inner")
        .select("h.*")
        .filter(~F.col(SYS.is_deleted))
        .distinct()
    )


def _assert_read_matches_parent(spark, dest, pk_cols, delta_col):
    from collections import Counter

    def multiset(df):
        return Counter(tuple(r) for r in df.collect())

    got = multiset(read_current_rows(spark, dest, pk_cols, delta_col))
    assert got == multiset(
        _parent_read_current_rows(spark, dest, pk_cols, delta_col)
    )


@pytest.mark.parametrize("name", sorted(_PARITY))
def test_read_matches_the_parent_read(spark, tmp_path, name):
    """After each load of every parity sequence, the one-pass read
    returns the same row multiset as the earlier probe + inner join +
    distinct read."""
    from tests.cdc_utils import run_load

    seq, cfg = _PARITY[name]
    dest = str(tmp_path / "dest")
    pk_cols, delta_col = (
        (["id"], "rv") if name == "schema_drift" else (["User_-_iD"], "time_stamp")
    )
    loads = seq(
        spark,
        _parity_source(spark, name),
        lambda src: run_load(spark, src, dest, WriteConfig(**cfg), check=False),
    )
    for _ in loads:
        _assert_read_matches_parent(spark, dest, pk_cols, delta_col)


def test_stream_read_matches_the_parent_read(spark, tmp_path):
    """The same over three ``foreach_batch_scd2`` micro-batches: the full
    batch, the merge that bucketizes the index, and a partial merge."""
    from odbc2deltalake_spark.streaming.driver import foreach_batch_scd2

    dest = str(tmp_path / "dest")
    apply = foreach_batch_scd2(dest, ["id"], "rv")
    table = _Rows(50)
    batches = [list(table.rows), [5, 51], [1, 2, 52]]
    for b, ids in enumerate(batches):
        if b:
            table.change(update=ids[:-1], insert=ids[-1:])
        apply(_batch(spark, table, ids, str(tmp_path / f"b{b}.parquet")), b)
        _assert_read_matches_parent(spark, dest, ["id"], "rv")
