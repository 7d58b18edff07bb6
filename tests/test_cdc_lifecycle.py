"""End-to-end CDC/SCD2 lifecycle scenarios, mirroring the reference's test
files one-to-one (SURVEY.md §5; reference:tests/test_01..test_12)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from odbc2deltalake_spark import (
    ColInfo,
    DataFrameSource,
    DeltaDestination,
    WriteConfig,
    check_delta_consistency,
    check_latest_pk,
)
from odbc2deltalake_spark.plans.consistency import InconsistentPrimaryKeyError
from odbc2deltalake_spark.plans.db_to_delta import (
    DeltaLoadResult,
    NoLoadResult,
)

from odbc2deltalake_spark.plans.db_to_delta import make_writer
from tests.cdc_utils import (
    ROWS_V1,
    USER_COLS,
    USER_SCHEMA,
    current_rows,
    history_rows,
    make_source,
    run_load,
)


# ------------------------------------------------ test_01: first full load --


def test_first_full_load(spark, dest):
    src = make_source(spark)
    infos, result = run_load(spark, src, dest)
    d = DeltaDestination(dest)

    hist = d.delta.read(spark)
    rows = hist.collect()
    assert len(rows) == 3
    assert all(r["__is_full_load"] for r in rows)
    assert all(not r["__is_deleted"] for r in rows)
    # compat rename: "User - iD" -> "User_-_iD", "time stamp" -> "time_stamp"
    assert "User_-_iD" in hist.columns and "time_stamp" in hist.columns
    # trim: trailing space removed (reference:tests/test_01_first_full.py:73)
    comp = {r["companyid"] for r in rows}
    assert "c2" in comp and "c2 " not in comp

    lpk = d.latest_pk_version.read(spark)
    assert sorted(tuple(r) for r in lpk.collect()) == [(1, 1000), (2, 1001), (3, 1002)]
    # meta written
    assert (dest / "meta" / "schema.json").exists()
    assert not (dest / "meta" / "lock.txt").exists()


# -------------------------------------------- test_02: no pks => full loads --


def test_full_load_without_pks_appends(spark, dest):
    df = spark.createDataFrame(ROWS_V1, USER_SCHEMA)
    src = DataFrameSource(df, USER_COLS, primary_keys=[])
    _, r1 = run_load(spark, src, dest, check=False)
    _, r2 = run_load(spark, src, dest, check=False)
    d = DeltaDestination(dest)
    assert d.delta.read(spark).count() == 6  # repeated full loads append


# ---------------------------------------- test_03: insert / update / delete --


def test_delta_load_insert_update_delete(spark, dest):
    src = make_source(spark)
    run_load(spark, src, dest)

    # no change => NoLoadResult short-circuit (reference:db_to_delta.py:560-566)
    _, r = run_load(spark, src, dest, check=False)
    assert isinstance(r, NoLoadResult)

    # mutate: update row 2, delete row 3, insert row 4 (monotonic rowversion)
    rows2 = [
        (1, "John", "Anders", 32.0, "c1", 1000),
        (2, "Peter", "Johniingham", 42.0, "c1", 1003),
        (4, "Marie", "Curie", 66.0, "c3", 1004),
    ]
    src.set_df(spark.createDataFrame(rows2, USER_SCHEMA))
    infos, r = run_load(spark, src, dest)
    assert isinstance(r, DeltaLoadResult) and not r.dirty

    d = DeltaDestination(dest)
    hist = d.delta.read(spark)
    # history: 3 full + 2 delta_1 (id2 updated, id4 new) + 1 tombstone (id3)
    assert hist.count() == 6
    tomb = hist.filter("__is_deleted").collect()
    assert len(tomb) == 1 and tomb[0]["User_-_iD"] == 3
    assert tomb[0]["FirstName"] is None  # non-pk cols nulled (P4)

    assert current_rows(spark, dest) == [
        (1, "John", "Anders", 32.0),
        (2, "Peter", "Johniingham", 42.0),
        (4, "Marie", "Curie", 66.0),
    ]


# -------------------------------- test_04: strange (backdated) updates ------


def _strange_setup(spark, dest, n_extra=0):
    """Full load at rv<=1002, then an update whose rowversion goes BACKWARD
    (backup-restore shape: same key, new value, rv below the watermark)."""
    src = make_source(spark)
    run_load(spark, src, dest)
    rows = [
        (1, "John", "Anders", 32.0, "c1", 1000),
        (2, "Pietro", "Johniingham", 41.0, "c1", 900),  # backdated update!
        (3, "Petra", "wayne", 28.0, "c2 ", 1002),
        (4, "Marie", "Curie", 66.0, "c3", 1003),  # normal insert — makes the
        # source state differ so the no-change short-circuit doesn't fire
    ]
    extra = [
        (100 + i, f"Extra{i}", "Strange", 1.0 * i, "cx", 500 + i) for i in range(n_extra)
    ]
    src.set_df(spark.createDataFrame(rows + extra, USER_SCHEMA))
    return src


def test_strange_updates_keyset_path(spark, dest):
    src = _strange_setup(spark, dest)
    infos, r = run_load(spark, src, dest)
    d = DeltaDestination(dest)
    # the backdated row was fetched via the key-set join into delta_2
    d2 = d.delta_2.read(spark).collect()
    assert [x["User_-_iD"] for x in d2] == [2]
    assert d2[0]["FirstName"] == "Pietro"
    cur = current_rows(spark, dest)
    assert (2, "Pietro", "Johniingham", 41.0) in cur
    assert len(cur) == 4


def test_strange_updates_rewind_path(spark, dest):
    # cutoff forces the watermark-rewind strategy
    # (reference:odbc2deltalake/db_to_delta.py:1105-1146)
    src = _strange_setup(spark, dest, n_extra=3)
    cfg = WriteConfig(max_complex_entries=2)
    infos, r = run_load(spark, src, dest, cfg)
    cur = current_rows(spark, dest)
    assert (2, "Pietro", "Johniingham", 41.0) in cur
    assert len(cur) == 7  # 4 current + 3 extra
    d = DeltaDestination(dest)
    assert d.delta_2.read(spark).count() == 0  # rewind path leaves delta_2 empty


def test_strange_updates_rewind_includes_ties_at_min(spark, dest):
    """Dialect edge (VERDICT r7 #8): a tsql temporal-table ROW START (and
    a restored multi-row transaction's rowversion snapshot) can TIE
    across several rows. When every strange row of one transaction
    shares the rewound MIN timestamp, the re-extraction criterion must
    be `>=` — the reference's strict `>`
    (reference:odbc2deltalake/db_to_delta.py:1120-1127) would skip ALL
    rows of exactly that transaction, leaving phantom stale values that
    re-trigger the strange-update path on every subsequent load."""
    src = make_source(spark)
    run_load(spark, src, dest)
    rows = [
        # one restored transaction: rows 1 AND 2 share the backdated
        # ROW START 900 — the tie sits exactly AT the rewound MIN
        (1, "Gianni", "Anders", 33.0, "c1", 900),
        (2, "Pietro", "Johniingham", 41.0, "c1", 900),
        (3, "Petra", "wayne", 28.0, "c2 ", 1002),
        # three more strange rows ABOVE the min to push update_count
        # over the cutoff without moving the min
        (100, "Extra0", "Strange", 0.0, "cx", 950),
        (101, "Extra1", "Strange", 1.0, "cx", 951),
        (102, "Extra2", "Strange", 2.0, "cx", 952),
    ]
    src.set_df(spark.createDataFrame(rows, USER_SCHEMA))
    infos, r = run_load(spark, src, dest, WriteConfig(max_complex_entries=2))
    cur = current_rows(spark, dest)
    # BOTH min-tied rows carry their restored values
    assert (1, "Gianni", "Anders", 33.0) in cur
    assert (2, "Pietro", "Johniingham", 41.0) in cur
    assert len(cur) == 6
    d = DeltaDestination(dest)
    assert d.delta_2.read(spark).count() == 0  # rewind, not keyset
    # and the NEXT load is clean: no phantom strange updates re-detected
    _, r2 = run_load(spark, src, dest, check=False)
    assert isinstance(r2, NoLoadResult)


# -------------------------------------------- test_06: append inserts mode --


def test_append_inserts(spark, dest):
    src = make_source(spark)
    cfg = WriteConfig(load_mode="append_inserts")
    run_load(spark, src, dest, cfg, check=False)  # first load = full
    rows2 = ROWS_V1 + [(4, "Marie", "Curie", 66.0, "c3", 1004)]
    src.set_df(spark.createDataFrame(rows2, USER_SCHEMA))
    run_load(spark, src, dest, cfg, check=False)
    d = DeltaDestination(dest)
    hist = d.delta.read(spark)
    assert hist.count() == 4  # 3 full + 1 appended insert, no tombstones
    assert hist.filter("__is_deleted").count() == 0


# ----------------------------------- test_07/08: simple delta + escalation --


def test_simple_delta(spark, dest):
    src = make_source(spark)
    run_load(spark, src, dest)
    rows2 = [
        (1, "John", "Anders", 32.0, "c1", 1000),
        (2, "Peter", "Johniingham", 42.0, "c1", 1003),
        (3, "Petra", "wayne", 28.0, "c2 ", 1002),
        (4, "Marie", "Curie", 66.0, "c3", 1004),
    ]
    src.set_df(spark.createDataFrame(rows2, USER_SCHEMA))
    cfg = WriteConfig(load_mode="simple_delta")
    infos, r = run_load(spark, src, dest, cfg)
    assert not r.dirty
    assert current_rows(spark, dest) == [
        (1, "John", "Anders", 32.0),
        (2, "Peter", "Johniingham", 42.0),
        (3, "Petra", "wayne", 28.0),
        (4, "Marie", "Curie", 66.0),
    ]


def test_simple_delta_check_escalates_on_delete(spark, dest):
    """simple_delta misses deletes; simple_delta_check count-mismatch
    escalates to a full delta load which tombstones them
    (reference:tests/test_08_simple_delta_check.py:80-110)."""
    src = make_source(spark)
    run_load(spark, src, dest)
    rows2 = [
        (1, "John", "Anders", 32.0, "c1", 1000),
        (2, "Peter", "Johniingham", 42.0, "c1", 1003),
    ]  # row 3 deleted
    src.set_df(spark.createDataFrame(rows2, USER_SCHEMA))

    infos, r = run_load(spark, src, dest, WriteConfig(load_mode="simple_delta_check"))
    assert current_rows(spark, dest) == [
        (1, "John", "Anders", 32.0),
        (2, "Peter", "Johniingham", 42.0),
    ]
    d = DeltaDestination(dest)
    assert d.delta.read(spark).filter("__is_deleted").count() == 1

    # plain simple_delta would NOT have caught it: dirty flag set instead
    dest2 = dest.parent / "dest2"
    src2 = make_source(spark)
    run_load(spark, src2, dest2)
    src2.set_df(spark.createDataFrame(rows2, USER_SCHEMA))
    _, r2 = run_load(spark, src2, dest2, WriteConfig(load_mode="simple_delta"), check=False)
    assert r2.dirty


# --------------------------------------------- test_09: query-as-source -----


def test_query_source_with_explicit_pks(spark, dest, tmp_path):
    """Query sources can't be introspected — pks/delta col come from config
    (reference:tests/test_09_query.py:25-43)."""
    p = str(tmp_path / "users.parquet")
    spark.createDataFrame(ROWS_V1, USER_SCHEMA).write.parquet(p)

    from odbc2deltalake_spark import ParquetTableSource

    src = ParquetTableSource(p, type_strs={"time stamp": "rowversion"})
    cfg = WriteConfig(primary_keys=["User - iD"], delta_col="time stamp")
    infos, r = run_load(spark, src, dest, cfg)
    assert infos.delta_col is not None and infos.delta_col.column_name == "time stamp"
    assert len(current_rows(spark, dest)) == 3


# ------------------------------------- test_10: consistency check + fix -----


def test_consistency_check_and_auto_fix(spark, dest):
    src = make_source(spark)
    infos, _ = run_load(spark, src, dest)
    d = DeltaDestination(dest)
    # corrupt latest_pk: drop a key
    lpk = d.latest_pk_version.read(spark)
    d.latest_pk_version.write(lpk.filter("`User_-_iD` <> 2"), mode="overwrite")

    with pytest.raises(InconsistentPrimaryKeyError):
        check_latest_pk(infos)
    issues = check_delta_consistency(infos, auto_fix=True)
    assert issues  # reported the corruption
    check_latest_pk(infos)  # now consistent


# ------------------------------------------- test_restore: latest_pk loss ---


def test_restore_latest_pk_from_history(spark, dest):
    src = make_source(spark)
    run_load(spark, src, dest)
    rows2 = ROWS_V1 + [(4, "Marie", "Curie", 66.0, "c3", 1004)]
    src.set_df(spark.createDataFrame(rows2, USER_SCHEMA))
    run_load(spark, src, dest)

    d = DeltaDestination(dest)
    d.latest_pk_version.delete_table()  # lose the index entirely

    rows3 = rows2 + [(5, "Ada", "Lovelace", 36.0, "c3", 1005)]
    src.set_df(spark.createDataFrame(rows3, USER_SCHEMA))
    infos, r = run_load(spark, src, dest)  # restores from history, then delta
    assert len(current_rows(spark, dest)) == 5


# ------------------------------------------- test_11: schema drift ----------


def test_schema_drift_new_column_full_load(spark, dest):
    src = make_source(spark)
    run_load(spark, src, dest)

    schema2 = T.StructType(USER_SCHEMA.fields + [T.StructField("email", T.StringType())])
    rows2 = [r + (f"u{r[0]}@x.io",) for r in ROWS_V1]
    cols2 = USER_COLS + [ColInfo("email", T.StringType(), "varchar(100)")]
    src.set_df(spark.createDataFrame(rows2, schema2), infos=cols2)

    infos, r = run_load(spark, src, dest)
    d = DeltaDestination(dest)
    hist = d.delta.read(spark)
    assert "email" in hist.columns
    # drift triggered a second FULL load (append)
    assert hist.filter("__is_full_load").count() == 6
    # old rows read back with NULL email
    olds = hist.filter(F.col("email").isNull()).count()
    assert olds == 3


def test_schema_drift_type_widening_keeps_delta(spark, dest):
    """decimal widening: delta loads continue
    (reference:tests/test_11_schema_drift.py:71-102)."""
    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("amount", T.DecimalType(15, 3), True),
            T.StructField("rv", T.LongType(), False),
        ]
    )
    cols = [
        ColInfo("id", T.LongType(), "bigint", False),
        ColInfo("amount", T.DecimalType(15, 3), "decimal(15,3)"),
        ColInfo("rv", T.LongType(), "rowversion", False),
    ]
    from decimal import Decimal

    df = spark.createDataFrame([(1, Decimal("1.5"), 10)], schema)
    src = DataFrameSource(df, cols, primary_keys=["id"])
    run_load(spark, src, dest)

    schema2 = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("amount", T.DecimalType(20, 3), True),
            T.StructField("rv", T.LongType(), False),
        ]
    )
    cols2 = [
        ColInfo("id", T.LongType(), "bigint", False),
        ColInfo("amount", T.DecimalType(20, 3), "decimal(20,3)"),
        ColInfo("rv", T.LongType(), "rowversion", False),
    ]
    df2 = spark.createDataFrame(
        [(1, Decimal("1.5"), 10), (2, Decimal("12345678901234567.25"), 11)], schema2
    )
    src.set_df(df2, infos=cols2)
    infos, r = run_load(spark, src, dest)
    d = DeltaDestination(dest)
    assert isinstance(r, DeltaLoadResult)
    hist = d.delta.read(spark)
    assert dict(hist.dtypes)["amount"] == "decimal(20,3)"
    assert hist.count() == 2


# ----------------------------------- test_05: type conversion map -----------


def test_type_map_decimal_to_double(spark, dest):
    """User type map decimal->double (reference:tests/test_05_conversion.py:29-36)."""
    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("amount", T.DecimalType(15, 3), True),
            T.StructField("rv", T.LongType(), False),
        ]
    )
    cols = [
        ColInfo("id", T.LongType(), "bigint", False),
        ColInfo("amount", T.DecimalType(15, 3), "decimal(15,3)"),
        ColInfo("rv", T.LongType(), "rowversion", False),
    ]
    from decimal import Decimal
    from pyspark.sql import types as TT

    df = spark.createDataFrame([(1, Decimal("1.5"), 10)], schema)
    src = DataFrameSource(df, cols, primary_keys=["id"])
    cfg = WriteConfig(data_type_map={"decimal": TT.DoubleType()})
    run_load(spark, src, dest, cfg)
    d = DeltaDestination(dest)
    assert dict(d.delta.read(spark).dtypes)["amount"] == "double"


# ----------------------------- test_12: concurrent mutation mid-load --------


def test_insert_while_load_capped(spark, dest):
    """A row deleted between the PK snapshot and later stages must not leave
    a phantom in latest_pk; a row inserted mid-load (ts > delta_load_value)
    must not enter latest_pk this round (P9 cap;
    reference:tests/test_12_insert_while_load.py:43-87)."""
    src = make_source(spark)
    run_load(spark, src, dest)

    rows2 = ROWS_V1 + [(4, "Marie", "Curie", 66.0, "c3", 1004)]
    rows_mid = rows2 + [(5, "Late", "Arrival", 1.0, "c9", 2000)]
    # when id 5 is *really* inserted later it gets a fresh rowversion
    # (monotonic) — re-inserting at the old rv would be indistinguishable
    # from the stale snapshot
    rows3 = rows2 + [(5, "Late", "Arrival", 1.0, "c9", 2001)]
    src.set_df(spark.createDataFrame(rows2, USER_SCHEMA))

    def hook(tag, df):
        # id=5 is inserted after the watermark probe and visible to the
        # PK/TS snapshot, then deleted again before the delta_1 extraction
        # — without the P9 cap it would become a phantom key in latest_pk
        # with no history row
        if tag == "read_keys":
            return spark.createDataFrame(rows_mid, USER_SCHEMA)
        return spark.createDataFrame(rows2, USER_SCHEMA)

    src.between_stages = hook
    infos, r = run_load(spark, src, dest, check=False)
    d = DeltaDestination(dest)
    lpk_keys = {r["User_-_iD"] for r in d.latest_pk_version.read(spark).collect()}
    assert 4 in lpk_keys
    assert 5 not in lpk_keys  # the vanished mid-load key is not indexed
    check_latest_pk(infos)  # and the invariant holds

    # a later load (id 5 now really present) picks it up cleanly
    src.between_stages = None
    src.set_df(spark.createDataFrame(rows3, USER_SCHEMA))
    infos, r = run_load(spark, src, dest)
    lpk_keys = {r["User_-_iD"] for r in d.latest_pk_version.read(spark).collect()}
    assert 5 in lpk_keys


# --------------------------------------------------- lock + rollback --------


def test_lock_blocks_concurrent_load(spark, dest):
    src = make_source(spark)
    run_load(spark, src, dest)
    d = DeltaDestination(dest)
    d.lock_path.parent.mkdir(parents=True, exist_ok=True)
    d.lock_path.write_text("")
    from odbc2deltalake_spark.plans.destination import LockHeldError

    with pytest.raises(LockHeldError):
        run_load(spark, src, dest, check=False)
    d.release_lock()


def test_failure_restores_latest_pk(spark, dest):
    src = make_source(spark)
    run_load(spark, src, dest)
    d = DeltaDestination(dest)
    v_before = d.latest_pk_version.version()

    rows2 = ROWS_V1 + [(4, "Marie", "Curie", 66.0, "c3", 1004)]
    src.set_df(spark.createDataFrame(rows2, USER_SCHEMA))

    boom = {"armed": True}

    def hook(df, tag):
        if boom["armed"] and tag == "sql2delta" and not df.isEmpty():
            raise RuntimeError("injected failure")
        return df

    cfg = WriteConfig(transformation_hook=hook)
    with pytest.raises(RuntimeError):
        run_load(spark, src, dest, cfg, check=False)
    # the index was rolled back to its pre-load version and the lock released
    assert d.latest_pk_version.version() >= v_before
    assert (
        d.latest_pk_version.read(spark).count()
        == d.latest_pk_version.read(spark, version=v_before).count()
    )
    assert not d.lock_path.exists()

    boom["armed"] = False
    infos, r = run_load(spark, src, dest)
    assert len(current_rows(spark, dest)) == 4


# ------------------- timestamp data columns survive the type map (r2 fix) --


def test_parquet_source_timestamp_column_stays_timestamp(spark, dest, tmp_path):
    """A Spark-native source whose data_type_str is "timestamp" (i.e. a real
    TimestampType column, simpleString()) must NOT hit the tsql
    rowversion->bigint alias: the alias is dialect-scoped
    (reference:odbc2deltalake/write_init.py:29-38 — the map is per-dialect).
    Round-1 VERDICT found the unscoped alias silently cast every timestamp
    data column to bigint epoch values in the SCD2 history."""
    import datetime as dt

    from odbc2deltalake_spark import DeltaDestination, ParquetTableSource

    df = spark.createDataFrame(
        [
            (1, dt.datetime(2024, 1, 1, 12, 0, 0), 100),
            (2, dt.datetime(2024, 2, 2, 13, 30, 0), 101),
        ],
        T.StructType(
            [
                T.StructField("id", T.LongType(), False),
                T.StructField("created_at", T.TimestampType(), True),
                T.StructField("rv", T.LongType(), False),
            ]
        ),
    )
    p = str(tmp_path / "src_ts.parquet")
    df.write.parquet(p)
    src = ParquetTableSource(p, primary_keys=["id"], type_strs={"rv": "rowversion"})
    run_load(spark, src, dest)

    hist = DeltaDestination(dest).delta.read(spark)
    field = {f.name: f.dataType for f in hist.schema.fields}
    assert isinstance(field["created_at"], T.TimestampType), field["created_at"]
    got = {r["id"]: r["created_at"] for r in hist.collect()}
    assert got[1] == dt.datetime(2024, 1, 1, 12, 0, 0)
    # and the rowversion-annotated column is still the delta col, not created_at
    infos = make_writer(spark, ParquetTableSource(p, primary_keys=["id"], type_strs={"rv": "rowversion"}), dest)
    assert infos.delta_col is not None and infos.delta_col.column_name == "rv"


def test_spark_timestamp_never_autopicked_as_delta_col(spark, tmp_path):
    """Spark-dialect sources must not auto-pick a TimestampType column as a
    rowversion delta col (unscoped alias bug, round-1 VERDICT wrong #2)."""
    import datetime as dt

    from odbc2deltalake_spark import ParquetTableSource

    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1))],
        T.StructType(
            [
                T.StructField("id", T.LongType(), False),
                T.StructField("updated", T.TimestampType(), True),
            ]
        ),
    )
    p = str(tmp_path / "src_ts2.parquet")
    df.write.parquet(p)
    src = ParquetTableSource(p, primary_keys=["id"])
    assert src.default_delta_col(spark) is None


# --------------------------- r7: GDPR point erasure over the history -------


def test_gdpr_erasure_via_delete_where(spark, dest):
    """Right-to-be-forgotten at the store level: `delete_where` erases a
    subject's rows from the SCD2 HISTORY (a file-pruned rewrite, not a
    tombstone — tombstones don't satisfy erasure), the consistency
    check flags the now-phantom latest_pk entry, auto_fix repairs it,
    and subsequent delta loads continue. This is the operational path a
    100 TB lake needs: the rewrite touches only stat-intersecting
    files, and the erased key may later re-enter as a fresh insert."""
    src = make_source(spark)
    infos, _ = run_load(spark, src, dest)
    d = DeltaDestination(dest)
    assert len(history_rows(spark, dest)) == 3

    # erase subject 2 from history entirely (update + delete rows alike)
    out = d.delta.delete_where(spark, ("User_-_iD", "=", 2))
    assert out["rows_deleted"] == 1
    assert {r[0] for r in history_rows(spark, dest)} == {1, 3}

    # the latest_pk index now references a key history cannot derive
    with pytest.raises(InconsistentPrimaryKeyError):
        check_latest_pk(infos)
    issues = check_delta_consistency(infos, auto_fix=True)
    assert issues
    check_latest_pk(infos)  # consistent again

    # the subject's key can re-enter later as a brand-new insert
    rows2 = [r for r in ROWS_V1 if r[0] != 2] + [
        (2, "New", "Person", 30.0, "c9", 2000)
    ]
    src.set_df(spark.createDataFrame(rows2, USER_SCHEMA))
    run_load(spark, src, dest)
    cur = {r[0]: r[1] for r in current_rows(spark, dest)}
    assert cur[2] == "New" and set(cur) == {1, 2, 3}
    check_latest_pk(infos)


def test_nullable_delta_col_rows_ride_keyset_path(spark, dest):
    """Dialect edge: a NULLABLE datetime delta column (temporal tables
    allow it on legacy rows; a restore can null it). NULL never passes
    `ts > wm`, so such rows are invisible to the timestamp criterion —
    they must surface through the strange-update detection (the (pk, ts)
    EXCEPT is null-safe set algebra in both engines) and load via the
    keyset fetch. Also pins load-to-load stability: a NULL-ts row must
    not re-trigger the strange path forever."""
    from tests.cdc_utils import ColInfo, DataFrameSource

    schema = T.StructType(
        [
            T.StructField("User - iD", T.LongType(), False),
            T.StructField("FirstName", T.StringType(), True),
            T.StructField("LastName", T.StringType(), True),
            T.StructField("Age", T.DoubleType(), True),
            T.StructField("companyid", T.StringType(), True),
            T.StructField("time stamp", T.LongType(), True),  # nullable!
        ]
    )
    cols = [
        ColInfo("User - iD", T.LongType(), "bigint", False),
        ColInfo("FirstName", T.StringType(), "varchar(100)"),
        ColInfo("LastName", T.StringType(), "varchar(100)"),
        ColInfo("Age", T.DoubleType(), "float"),
        ColInfo("companyid", T.StringType(), "varchar(10)"),
        ColInfo("time stamp", T.LongType(), "bigint", True),  # nullable!
    ]
    # datetime2 is never auto-detected as a delta col (only rowversion /
    # ROW START are) — a nullable delta col enters via explicit config
    cfg = WriteConfig(delta_col="time stamp")
    df = spark.createDataFrame(ROWS_V1, schema)
    src = DataFrameSource(df, cols, primary_keys=["User - iD"])
    run_load(spark, src, dest, cfg)

    rows2 = [
        (1, "John", "Anders", 32.0, "c1", 1000),
        (2, "Peter", "Johniingham", 41.0, "c1", None),  # ts nulled by restore
        (3, "Petra", "wayne", 28.0, "c2 ", 1002),
        (4, "Nadia", "Null", 50.0, "c9", None),  # inserted with NULL ts
    ]
    src.set_df(spark.createDataFrame(rows2, schema))
    infos, r = run_load(spark, src, dest, cfg)
    d = DeltaDestination(dest)
    fetched = sorted(x["User_-_iD"] for x in d.delta_2.read(spark).collect())
    assert fetched == [2, 4]  # both NULL-ts rows came via the keyset join
    cur = current_rows(spark, dest)
    assert (4, "Nadia", "Null", 50.0) in cur
    assert len(cur) == 4

    # stable: the very next load must short-circuit, not re-detect them
    _, r2 = run_load(spark, src, dest, cfg, check=False)
    assert isinstance(r2, NoLoadResult)


# ----------------- test_12: post-load maintenance window (VERDICT r9 #6) ----


def test_post_load_maintenance_preserves_consistency(spark, dest):
    """The lifecycle's post-load maintenance routes through
    ``auto_maintain`` (fold -> compact -> checkpoint -> vacuum), not an
    unconditional vacuum — and a full extra window, vacuum included,
    must leave the consistency invariant and the current-rows read
    untouched. Three loads churn every side table first, so the window
    has real versions to fold/compact/reclaim."""
    src = make_source(spark)
    run_load(spark, src, dest)
    rows2 = [
        (1, "John", "Anders", 32.0, "c1", 1000),
        (2, "Peter", "Johniingham", 42.0, "c1", 1003),
        (4, "Marie", "Curie", 66.0, "c3", 1004),
    ]
    src.set_df(spark.createDataFrame(rows2, USER_SCHEMA))
    run_load(spark, src, dest)
    rows3 = rows2[:2] + [(4, "Marie", "Curie", 67.0, "c3", 1005)]
    src.set_df(spark.createDataFrame(rows3, USER_SCHEMA))
    infos, _ = run_load(spark, src, dest)

    d = DeltaDestination(dest)
    before = current_rows(spark, dest)
    # the automatic post-load pass already ran inside run_load; run the
    # window again explicitly to capture its outcome dict
    out = d.maintain_side_tables(spark)
    assert "latest_pk_version" in out  # exists after three keyed loads
    for name, steps in out.items():
        # auto_maintain outcomes carry the window's step keys — an
        # unconditional-vacuum fallback would only ever say
        # "vacuum_removed"
        assert set(steps) & {
            "vacuum_would_remove", "vacuum_removed", "compact",
            "compact_partial", "checkpoint", "fold_patches", "fold_masks",
        }, (name, steps)
        assert "vacuum_removed" in steps  # lifecycle runs vacuum_now=True
    # invariant + reads survive the destructive step
    check_latest_pk(infos, raise_if_not_consistent=True)
    assert current_rows(spark, dest) == before == [
        (1, "John", "Anders", 32.0),
        (2, "Peter", "Johniingham", 42.0),
        (4, "Marie", "Curie", 67.0),
    ]


# --------------------- r13: case-divergent string keys (VERDICT r12 #5) --


def test_case_divergent_string_keys_stay_byte_exact(spark, dest):
    """The engine's key world is BYTE-EXACT (SCALE.md §CDC). Against a
    case-insensitive source, a server-side 'update that only changes
    key casing' surfaces here as the old byte-key leaving the key set
    and a new byte-key arriving — the FULL algorithm must tombstone the
    old casing, insert the new one, and keep check_latest_pk green
    (one latest_pk row per BYTE key, never a conflated or duplicated
    key). The server-side half of the contract — the keyset fetch
    never conflates casings — is pinned DuckDB-executed in
    tests/test_sources.py::test_ci_collation_keyset_join_stays_byte_exact."""
    schema = T.StructType([
        T.StructField("k", T.StringType(), False),
        T.StructField("val", T.DoubleType(), True),
        T.StructField("rv", T.LongType(), False),
    ])
    cols = [
        ColInfo("k", T.StringType(), "varchar(50)", False),
        ColInfo("val", T.DoubleType(), "float"),
        ColInfo("rv", T.LongType(), "rowversion", False),
    ]
    v1 = [("Alice", 1.0, 1000), ("bob", 2.0, 1001), ("Carol", 3.0, 1002)]
    src = DataFrameSource(
        spark.createDataFrame(v1, schema), cols, primary_keys=["k"]
    )
    _, r1 = run_load(spark, src, dest)

    # CI-server view: one key 'alice' updated (casing + payload).
    # Byte-exact view: 'Alice' deleted, 'ALICE' inserted.
    v2 = [("ALICE", 9.0, 2000), ("bob", 2.0, 1001), ("Carol", 3.0, 1002)]
    src.set_df(spark.createDataFrame(v2, schema))
    _, r2 = run_load(spark, src, dest)  # run_load re-checks latest_pk

    d = DeltaDestination(dest)
    lpk = sorted(tuple(r) for r in d.latest_pk_version.read(spark).collect())
    assert lpk == [("ALICE", 2000), ("Carol", 1002), ("bob", 1001)], lpk

    hist = d.delta.read(spark)
    tombs = sorted(
        r["k"] for r in hist.filter(F.col("__is_deleted")).collect()
    )
    assert tombs == ["Alice"], tombs  # the old casing is tombstoned

    from odbc2deltalake_spark.plans.db_to_delta import read_current_rows

    cur = sorted(
        tuple(r)
        for r in read_current_rows(spark, d, ["k"], "rv")
        .select("k", "val")
        .collect()
    )
    assert cur == [("ALICE", 9.0), ("Carol", 3.0), ("bob", 2.0)], cur


# -------- temporal-table (GENERATED ALWAYS AS ROW START) delta column ------
#
# The reference auto-detects a temporal table's ROW START as the delta
# column (reference:odbc2deltalake/write_init.py:144-167) and its hardest
# scenario manipulates temporal history: ROW START moves forward on a
# normal UPDATE, but a RESTORE rewinds it below the watermark — the
# strange-update path with a TIMESTAMP delta column instead of a
# rowversion (reference:tests/test_04_strange_delta.py:134-229: drop
# PERIOD FOR SYSTEM_TIME, backdate an INSERT to 2022 and rewind an
# UPDATE to 2000, re-add the period; the next load must surface both).
# No RDBMS is reachable in this sandbox, so the scenario runs the same
# lifecycle against the DataFrame-backed source with the SAME column
# metadata a temporal table introspects (generated_always_type_desc).

_FAR_FUTURE = "9999-12-31 23:59:59"


def _temporal_schema():
    return T.StructType(
        [
            T.StructField("id", T.StringType(), False),
            T.StructField("name", T.StringType(), True),
            T.StructField("SysStartTime", T.TimestampType(), False),
            T.StructField("SysEndTime", T.TimestampType(), False),
        ]
    )


_TEMPORAL_COLS = [
    ColInfo("id", T.StringType(), "varchar(100)", False),
    ColInfo("name", T.StringType(), "varchar(100)"),
    ColInfo(
        "SysStartTime", T.TimestampType(), "datetime2", False,
        generated_always_type_desc="AS_ROW_START",
    ),
    ColInfo(
        "SysEndTime", T.TimestampType(), "datetime2", False,
        generated_always_type_desc="AS_ROW_END",
    ),
]


def _temporal_rows(spark, rows):
    from datetime import datetime

    far = datetime.fromisoformat(_FAR_FUTURE)
    data = [
        (i, n, datetime.fromisoformat(ts), far) for (i, n, ts) in rows
    ]
    return spark.createDataFrame(data, _temporal_schema())


def _temporal_current(spark, dest):
    from odbc2deltalake_spark.plans.db_to_delta import read_current_rows

    cur = read_current_rows(spark, dest, ["id"], "SysStartTime")
    # distinct: a rewind re-extraction appends a second history row for
    # a current (pk, ROW START) version, stamped one microsecond later in
    # __timestamp; the read returns both, and this projection makes them
    # equal — same as cdc_utils.current_rows
    return sorted(
        (r["id"], r["name"])
        for r in cur.select("id", "name").distinct().collect()
    )


def _run_temporal_lifecycle(spark, dest, strange_cfg):
    src = DataFrameSource(
        _temporal_rows(spark, [
            ("c1", "The 1 company", "2023-05-01 10:00:00"),
            ("c2", "The Second company", "2023-05-01 10:00:01"),
            ("c3", "The 3rd company", "2023-05-01 10:00:02"),
        ]),
        _TEMPORAL_COLS,
        primary_keys=["id"],
    )
    infos, r = run_load(spark, src, dest)
    # ROW START auto-detected as the delta column (no rowversion col)
    assert infos.delta_col is not None
    assert infos.delta_col.column_name == "SysStartTime"
    from odbc2deltalake_spark import DeltaDestination

    d = DeltaDestination(dest)
    hist = d.delta.read(spark)
    # ROW END is excluded from the projection by design (r14): on the
    # current row version it is constant 9999-12-31 noise
    assert "SysEndTime" not in hist.columns
    assert "SysStartTime" in hist.columns

    # normal delta: ROW START moves FORWARD on an update; plus an insert
    src.set_df(_temporal_rows(spark, [
        ("c1", "The 1 company", "2023-05-01 10:00:00"),
        ("c2", "The Second company renamed", "2023-06-01 09:00:00"),
        ("c3", "The 3rd company", "2023-05-01 10:00:02"),
        ("c4", "The 4th company", "2023-06-01 09:00:01"),
    ]))
    infos, r = run_load(spark, src, dest)
    assert isinstance(r, DeltaLoadResult)
    assert _temporal_current(spark, dest) == [
        ("c1", "The 1 company"),
        ("c2", "The Second company renamed"),
        ("c3", "The 3rd company"),
        ("c4", "The 4th company"),
    ]

    # the restore (reference:tests/test_04_strange_delta.py:168-189):
    # c299 INSERTED with a ROW START backdated BELOW the watermark and
    # c1 renamed with its ROW START rewound to 2000 — both invisible to
    # the plain `> watermark` criterion
    src.set_df(_temporal_rows(spark, [
        ("c1", "The 1 company - renamed", "2000-01-01 00:00:00"),
        ("c2", "The Second company renamed", "2023-06-01 09:00:00"),
        ("c3", "The 3rd company", "2023-05-01 10:00:02"),
        ("c4", "The 4th company", "2023-06-01 09:00:01"),
        ("c299", "The 299th company", "2022-01-01 00:00:00"),
    ]))
    infos, r = run_load(spark, src, dest, strange_cfg)  # consistency-checked
    assert _temporal_current(spark, dest) == [
        ("c1", "The 1 company - renamed"),
        ("c2", "The Second company renamed"),
        ("c299", "The 299th company"),  # sorts before c3 ('2' < '3')
        ("c3", "The 3rd company"),
        ("c4", "The 4th company"),
    ]
    # and the NEXT load is clean — no phantom strange updates
    _, r2 = run_load(spark, src, dest, check=False)
    assert isinstance(r2, NoLoadResult)
    return d


def test_temporal_row_start_strange_update_keyset(spark, dest):
    """Backdated restore fetched via the key-list path (few keys)."""
    d = _run_temporal_lifecycle(spark, dest, WriteConfig())
    # the keyset path fetched the strange rows into delta_2
    assert d.delta_2.read(spark).count() > 0


def test_temporal_row_start_strange_update_rewind(spark, dest):
    """Same restore forced through the watermark-rewind strategy: the
    re-extraction criterion is `>= MIN(rewound ROW START)` — the 2000
    rewind drags the whole table back in, and the load must still
    converge with consistency green and no phantom re-detections."""
    d = _run_temporal_lifecycle(
        spark, dest, WriteConfig(max_complex_entries=0)
    )
    assert d.delta_2.read(spark).count() == 0  # rewind leaves delta_2 empty


def test_delta_col_autodetect_precedence(spark):
    """reference:odbc2deltalake/write_init.py:144-167 — a rowversion
    column ALWAYS beats a temporal ROW START, which beats a column
    literally named __timestamp; the ROW END column is never a
    candidate (and is excluded from the projection entirely)."""
    from datetime import datetime

    from odbc2deltalake_spark.plans.db_to_delta import make_writer

    far = datetime.fromisoformat(_FAR_FUTURE)
    row = [(1, "x", datetime(2024, 1, 1), far, 7, datetime(2024, 2, 2))]
    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("name", T.StringType(), True),
            T.StructField("SysStartTime", T.TimestampType(), False),
            T.StructField("SysEndTime", T.TimestampType(), False),
            T.StructField("rv", T.LongType(), False),
            T.StructField("__timestamp", T.TimestampType(), True),
        ]
    )
    base_cols = [
        ColInfo("id", T.LongType(), "bigint", False),
        ColInfo("name", T.StringType(), "varchar(100)"),
        ColInfo("SysStartTime", T.TimestampType(), "datetime2", False,
                generated_always_type_desc="AS_ROW_START"),
        ColInfo("SysEndTime", T.TimestampType(), "datetime2", False,
                generated_always_type_desc="AS_ROW_END"),
        ColInfo("__timestamp", T.TimestampType(), "datetime2"),
    ]
    rv = ColInfo("rv", T.LongType(), "rowversion", False)
    df = spark.createDataFrame(row, schema)

    def pick(cols):
        return DataFrameSource(
            df, cols, primary_keys=["id"]
        ).default_delta_col(spark)

    # all three candidates present: rowversion wins
    assert pick(base_cols + [rv]) == "rv"
    # no rowversion: ROW START wins over __timestamp
    assert pick(base_cols) == "SysStartTime"
    # neither: the __timestamp name convention is the fallback
    no_temporal = [c for c in base_cols
                   if c.generated_always_type_desc is None]
    assert pick(no_temporal) == "__timestamp"
    # ROW END is never picked and never projected
    infos = make_writer(spark, DataFrameSource(df, base_cols,
                                               primary_keys=["id"]), "/tmp/_unused_dest")
    assert infos.delta_col is not None
    assert infos.delta_col.column_name == "SysStartTime"
    assert "SysEndTime" not in [c.column_name for c in infos.col_infos]
