"""Shared scenario harness for the CDC/SCD2 lifecycle tests.

Mirrors the reference's test strategy (SURVEY.md §5): a mutable source
table (here DataFrame-backed; reference uses dockerized MSSQL/Postgres),
loads run end-to-end, assertions read the produced tables back, and the
``check_latest_pk`` invariant runs after every load
(reference:odbc2deltalake/consistency.py:17-56,
reference:tests/utils.py:29-56).
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from odbc2deltalake_spark import (
    ColInfo,
    DataFrameSource,
    WriteConfig,
    check_latest_pk,
)
from odbc2deltalake_spark.plans.db_to_delta import make_writer

USER_SCHEMA = T.StructType(
    [
        T.StructField("User - iD", T.LongType(), False),
        T.StructField("FirstName", T.StringType(), True),
        T.StructField("LastName", T.StringType(), True),
        T.StructField("Age", T.DoubleType(), True),
        T.StructField("companyid", T.StringType(), True),
        T.StructField("time stamp", T.LongType(), False),  # rowversion stand-in
    ]
)

USER_COLS = [
    ColInfo("User - iD", T.LongType(), "bigint", False),
    ColInfo("FirstName", T.StringType(), "varchar(100)"),
    ColInfo("LastName", T.StringType(), "varchar(100)"),
    ColInfo("Age", T.DoubleType(), "float"),
    ColInfo("companyid", T.StringType(), "varchar(10)"),
    ColInfo("time stamp", T.LongType(), "rowversion", False),
]

ROWS_V1 = [
    (1, "John", "Anders", 32.0, "c1", 1000),
    (2, "Peter", "Johniingham", 41.0, "c1", 1001),
    (3, "Petra", "wayne", 28.0, "c2 ", 1002),  # trailing space in company
]


def make_source(spark: SparkSession, rows=None) -> DataFrameSource:
    df = spark.createDataFrame(rows or ROWS_V1, USER_SCHEMA)
    return DataFrameSource(df, USER_COLS, primary_keys=["User - iD"])


def run_load(spark, source, dest, cfg: WriteConfig | None = None, check=True):
    infos = make_writer(spark, source, dest, cfg or WriteConfig())
    result = infos.execute()
    if check and infos.delta_col is not None and infos.pk_cols:
        check_latest_pk(infos, raise_if_not_consistent=True)
    return infos, result


def history_rows(spark, dest):
    from odbc2deltalake_spark import DeltaDestination

    df = DeltaDestination(dest).delta.read(spark)
    return sorted(
        (
            tuple(r)
            for r in df.select(
                "User_-_iD",
                "FirstName",
                "LastName",
                "__is_deleted",
                "__is_full_load",
            ).collect()
        ),
    )


def current_rows(spark, dest):
    """Current (non-deleted) rows via latest_pk ⨝ history with commit
    pruning — the engine's J2 hot path (plans/db_to_delta.py:
    read_current_rows; reference read-side verification pattern
    reference:tests/test_03_delta.py:132-138). Every lifecycle test
    going through here also exercises the pruned read's exactness.

    The ``.distinct()`` is for the rewind re-extraction: it appends a
    second history row for a key's current (pk, delta) version, stamped
    one microsecond later in ``__timestamp``. The read returns both
    rows; this projection, without ``__timestamp``, makes them equal."""
    from odbc2deltalake_spark.plans.db_to_delta import read_current_rows

    cur = read_current_rows(spark, dest, ["User_-_iD"], "time_stamp")
    return sorted(
        tuple(r)
        for r in cur.select("User_-_iD", "FirstName", "LastName", "Age")
        .distinct()
        .collect()
    )
