"""CDC/SCD2 operator queries — each SURVEY.md §2 operator expressed as a
standalone DataFrame query over the driver testdata, with a DuckDB oracle.

The `events` table plays the role of a CDC change feed: `user_id` is the
primary key, `ts` the monotonic delta column, `event_type='error'` stands
in for a delete marker. The engine lifecycle itself (writes, versions,
locks) is exercised in tests/; these queries pin the *relational algebra*
of each operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql import Window as W

from odbc2deltalake_spark.queries.registry import load_table, register
from odbc2deltalake_spark.session import SparkThreadPool

# ---------------------------------------------------------------- W1 ----

_W1_ORACLE = """
SELECT user_id, ts, event_type, round(value, 2) AS value
FROM (
  SELECT user_id, ts, event_type, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
"""


@register("w1_latest_per_key", _W1_ORACLE, tags=("cdc", "window"))
def w1_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: ROW_NUMBER() OVER (PARTITION BY pk ORDER BY __timestamp DESC) = 1
    — latest version per key, the restore-latest-pk pattern
    (reference:odbc2deltalake/write_utils/restore_pk.py:97-118).

    Scale: one shuffle on the pk; at 100 TB this is the unavoidable
    repartition-by-key, and AQE handles skewed keys."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "ts", "event_type", F.round("value", 2).alias("value"))
    )


# ---------------------------------------------------------------- J1 ----

# Right side restricted to recent orders: in the fixture every customer
# has at least one order, so the unrestricted anti-join matched on zero
# rows (round-1 VERDICT: a check that cannot fail). "Customers with no
# order since mid-1997" keeps the same keys-not-covered algebra with a
# non-empty, falsifiable result set.
_J1_ORACLE = """
SELECT c_custkey, c_name
FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey
    AND o.o_orderdate >= TIMESTAMP '1997-06-01 00:00:00'
)
"""


@register("j1_anti_join", _J1_ORACLE, tags=("cdc", "join"))
def j1_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: LEFT ANTI join on key equality — the "keys not already covered"
    primitive (reference:odbc2deltalake/db_to_delta.py:338-356,380-419)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(
            F.col("o_orderdate") >= F.lit("1997-06-01 00:00:00").cast("timestamp")
        )
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return cust.join(orders, on="c_custkey", how="left_anti").select(
        "c_custkey", "c_name"
    )


# ---------------------------------------------------------------- J2 ----

_J2_ORACLE = """
WITH latest AS (
  SELECT user_id, max(ts) AS ts FROM events GROUP BY user_id
)
SELECT e.user_id, e.ts, e.event_type, e.event_id
FROM events e
JOIN latest l ON e.user_id = l.user_id AND e.ts = l.ts
"""


@register("j2_pk_ts_join", _J2_ORACLE, tags=("cdc", "join"), priority=100)
def j2_pk_ts_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: inner equi-join on (pk, delta_col) — current-row reconstruction
    `latest_pk ⨝ scd2 ON pk AND delta_col`
    (reference:odbc2deltalake/consistency.py:33-51)."""
    ev = load_table(spark, sf_dir, "events")
    latest = ev.groupBy("user_id").agg(F.max("ts").alias("ts"))
    return ev.join(latest, on=["user_id", "ts"], how="inner").select(
        "user_id", "ts", "event_type", "event_id"
    )


# ---------------------------------------------------------------- J3 ----

_J3_KEYS = [1, 2, 3, 5, 8, 13, 21, 34, 55, 89, 144, 233, 377, 610, 987]

_J3_ORACLE = f"""
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS totalprice
FROM orders
WHERE o_orderkey IN ({", ".join(str(k) for k in _J3_KEYS)})
"""


@register("j3_keylist_semi_join", _J3_ORACLE, tags=("cdc", "join"))
def j3_keylist_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: fetch full rows for an explicit PK list. The reference inlines
    the list as OPENJSON/JSON_TABLE SQL pushed to the source
    (reference:odbc2deltalake/db_to_delta.py:907-992); Spark-native this is
    a broadcast semi join of a literal key DataFrame — no 7000-char SQL
    cap, and the same plan scales to millions of keys (it just stops
    broadcasting)."""
    orders = load_table(spark, sf_dir, "orders")
    keys = spark.createDataFrame(
        [(k,) for k in _J3_KEYS], T.StructType([T.StructField("o_orderkey", T.LongType())])
    )
    return orders.join(F.broadcast(keys), on="o_orderkey", how="left_semi").select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("totalprice")
    )


# ---------------------------------------------------------------- U1 ----

_U1_ORACLE = """
WITH delta_2 AS (
  SELECT user_id, max(ts) AS ts FROM events WHERE event_type = 'error' GROUP BY user_id
), delta_1 AS (
  SELECT user_id, max(ts) AS ts FROM events WHERE event_type = 'purchase' GROUP BY user_id
), pk_ts AS (
  SELECT user_id, max(ts) AS ts FROM events GROUP BY user_id
)
SELECT user_id, ts FROM delta_2
UNION ALL
SELECT d1.user_id, d1.ts FROM delta_1 d1
WHERE NOT EXISTS (SELECT 1 FROM delta_2 d2 WHERE d2.user_id = d1.user_id)
UNION ALL
SELECT p.user_id, p.ts FROM pk_ts p
WHERE NOT EXISTS (SELECT 1 FROM delta_2 d2 WHERE d2.user_id = p.user_id)
  AND NOT EXISTS (SELECT 1 FROM delta_1 d1 WHERE d1.user_id = p.user_id)
"""


@register("u1_latest_pk_union", _U1_ORACLE, tags=("cdc", "setop"))
def u1_latest_pk_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: the three-source latest-pk assembly with anti-join precedence —
    latest_pk = delta_2 ∪ (delta_1 ∖ delta_2) ∪ (pk_ts ∖ delta_2 ∖ delta_1)
    (reference:odbc2deltalake/db_to_delta.py:316-427). This is the heart of
    the reference's current-rows index rebuild."""
    ev = load_table(spark, sf_dir, "events")

    def max_ts(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id").agg(F.max("ts").alias("ts"))

    delta_2 = max_ts(ev.filter(F.col("event_type") == "error"))
    delta_1 = max_ts(ev.filter(F.col("event_type") == "purchase"))
    pk_ts = max_ts(ev)
    d2_keys = delta_2.select("user_id")
    d1_keys = delta_1.select("user_id")
    return delta_2.unionByName(
        delta_1.join(d2_keys, on="user_id", how="left_anti")
    ).unionByName(
        pk_ts.join(d2_keys, on="user_id", how="left_anti").join(
            d1_keys, on="user_id", how="left_anti"
        )
    )


# ---------------------------------------------------------------- U2 ----

_U2_ORACLE = """
SELECT user_id FROM events WHERE ts < TIMESTAMP '2024-01-16 00:00:00'
EXCEPT
SELECT user_id FROM events WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'
"""


@register("u2_except_deletes", _U2_ORACLE, tags=("cdc", "setop"))
def u2_except_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2: delete detection — old key set EXCEPT current key set
    (reference:odbc2deltalake/db_to_delta.py:773-792). Spark `subtract`
    is EXCEPT DISTINCT, matching the reference's set semantics."""
    ev = load_table(spark, sf_dir, "events")
    mid = F.lit("2024-01-16 00:00:00").cast("timestamp")
    old = ev.filter(F.col("ts") < mid).select("user_id")
    cur = ev.filter(F.col("ts") >= mid).select("user_id")
    return old.subtract(cur)


# ------------------------------------------------------------- P2/P1 ----

_P2_ORACLE = """
SELECT s_suppkey AS supplier_key,
       trim(s_name) AS supplier_name,
       upper(trim(s_name)) AS supplier_name_upper,
       CAST(s_nationkey AS BIGINT) AS nation_key,
       round(s_acctbal, 2) AS acctbal
FROM supplier
"""


@register("p2_cast_trim_projection", _P2_ORACLE, tags=("cdc", "projection"))
def p2_cast_trim_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1+P2: rename/compat projection with TRIM on strings and type-map
    casts (reference:odbc2deltalake/db_to_delta.py:54-88,104-164)."""
    s = load_table(spark, sf_dir, "supplier")
    return s.select(
        F.col("s_suppkey").alias("supplier_key"),
        F.trim("s_name").alias("supplier_name"),
        F.upper(F.trim("s_name")).alias("supplier_name_upper"),
        F.col("s_nationkey").cast("bigint").alias("nation_key"),
        F.round("s_acctbal", 2).alias("acctbal"),
    )


# ---------------------------------------------------------------- A1 ----

_A1_ORACLE = """
SELECT max(ts) AS max_delta, count(*) AS cnt FROM events
"""


@register("a1_watermark_probe", _A1_ORACLE, tags=("cdc", "agg"))
def a1_watermark_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2: MAX(delta_col), COUNT(*) — the source/target watermark probe
    (reference:odbc2deltalake/load_infos.py:11-70). On a real source this
    is pushed down via the JDBC query; here it is a scalar agg."""
    ev = load_table(spark, sf_dir, "events")
    return ev.agg(F.max("ts").alias("max_delta"), F.count(F.lit(1)).alias("cnt"))


# ---------------------------------------------------------------- P6 ----

_P6_ORACLE = """
SELECT event_id, user_id, ts, event_type, round(value, 2) AS value
FROM events
WHERE ts > TIMESTAMP '2024-01-25 00:00:00'
"""


@register("p6_delta_filter", _P6_ORACLE, tags=("cdc", "filter"))
def p6_delta_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6: the delta criterion `WHERE delta_col > watermark`
    (reference:odbc2deltalake/db_to_delta.py:584-610) — pushed to the
    parquet scan (PushedFilters in explain).

    The watermark predicate must stay on the *stored* column type so it
    reaches the parquet scan (PushedFilters → row-group/page pruning; at
    100 TB that is pruning instead of a full scan). The fixture encoding
    has varied across rounds, so branch on the raw dtype:

    - bigint (TIMESTAMP(NANOS) under nanosAsLong): transpose the
      watermark into the nanos domain — filtering the converted timestamp
      would hide the predicate from the scan.
    - timestamp / timestamp_ntz: a literal of the SAME type compares
      natively and Spark pushes GreaterThan on timestamp columns to the
      scan directly (an LTZ literal against an NTZ column raises
      DATATYPE_MISMATCH, hence the explicit NTZ cast).
    """
    import datetime

    wm = datetime.datetime(2024, 1, 25)
    wm_nanos = int(wm.replace(tzinfo=datetime.timezone.utc).timestamp()) * 1_000_000_000
    from odbc2deltalake_spark.queries.registry import ensure_nanos_conf

    ensure_nanos_conf(spark)
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    ts_dtype = dict(raw.dtypes)["ts"]
    if ts_dtype == "bigint":
        filtered = raw.filter(F.col("ts") > F.lit(wm_nanos))
        ts_out = F.timestamp_micros(F.expr("ts div 1000")).alias("ts")
    elif ts_dtype == "timestamp_ntz":
        filtered = raw.filter(F.col("ts") > F.lit(wm).cast("timestamp_ntz"))
        ts_out = F.col("ts").cast("timestamp").alias("ts")
    else:  # timestamp (LTZ) — already canonical
        filtered = raw.filter(F.col("ts") > F.lit(wm).cast("timestamp"))
        ts_out = F.col("ts").alias("ts")
    return filtered.select(
        "event_id",
        "user_id",
        ts_out,
        "event_type",
        F.round("value", 2).alias("value"),
    )


# ---------------------------------------------------------------- P9 ----

_P9_ORACLE = """
WITH latest AS (
  SELECT user_id, max(ts) AS ts
  FROM events
  WHERE ts <= TIMESTAMP '2024-01-20 00:00:00'
  GROUP BY user_id
)
SELECT user_id, ts FROM latest
"""


@register("p9_watermark_cap", _P9_ORACLE, tags=("cdc", "filter"))
def p9_watermark_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9: `delta_col <= delta_load_value` cap — excludes rows inserted
    mid-load from the latest-pk rebuild
    (reference:odbc2deltalake/db_to_delta.py:369-379; pinned by
    tests/test_12_insert_while_load.py)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(F.col("ts") <= F.lit("2024-01-20 00:00:00").cast("timestamp"))
        .groupBy("user_id")
        .agg(F.max("ts").alias("ts"))
    )


# --------------------------------------------------------------- P10 ----

_P10_ORACLE = """
SELECT e.event_id, e.event_type, e.ts
FROM events e
JOIN (SELECT event_type, max(ts) AS max_ts FROM events GROUP BY event_type) m
  ON e.event_type = m.event_type AND e.ts = m.max_ts
"""


@register("p10_full_load_snapshot", _P10_ORACLE, tags=("cdc", "filter", "window"))
def p10_full_load_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10: rows of the latest full load — `WHERE __timestamp =
    (SELECT MAX(__timestamp)…)` per group
    (reference:odbc2deltalake/db_to_delta.py:1292-1319), via a window max
    (no second scan, single shuffle)."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("event_type")
    return (
        ev.withColumn("max_ts", F.max("ts").over(w))
        .filter(F.col("ts") == F.col("max_ts"))
        .select("event_id", "event_type", "ts")
    )


# ------------------------------------------------------- SCD2 shapes ----

_SCD2_HISTORY_ORACLE = """
SELECT user_id,
       ts AS __timestamp,
       CASE WHEN event_type = 'error' THEN NULL ELSE round(value, 2) END AS value,
       (event_type = 'error') AS __is_deleted,
       FALSE AS __is_full_load
FROM events
"""


@register("scd2_history_shape", _SCD2_HISTORY_ORACLE, tags=("cdc", "scd2"))
def scd2_history_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3+P4: SCD2 history row shape — system columns plus NULLed non-pk
    columns on delete tombstones
    (reference:odbc2deltalake/db_to_delta.py:794-843,91-101)."""
    ev = load_table(spark, sf_dir, "events")
    is_del = F.col("event_type") == "error"
    return ev.select(
        "user_id",
        F.col("ts").alias("__timestamp"),
        F.when(is_del, F.lit(None).cast("double"))
        .otherwise(F.round("value", 2))
        .alias("value"),
        is_del.alias("__is_deleted"),
        F.lit(False).alias("__is_full_load"),
    )


_SCD2_CURRENT_ORACLE = """
SELECT user_id, ts, round(value, 2) AS value
FROM (
  SELECT user_id, ts, value, event_type,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1 AND event_type <> 'error'
"""


@register("scd2_current_rows", _SCD2_CURRENT_ORACLE, tags=("cdc", "scd2", "flagship"),
          priority=100)  # r8: rotated out (overlaps w1_latest_per_key + j2_pk_ts_join; green r1-r7)
def scd2_current_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: current (non-deleted) rows from an SCD2 history — W1
    latest-version window + tombstone filter, the read-side contract of
    the whole engine (reference:odbc2deltalake/write_utils/restore_pk.py:97-118
    + consistency.py:17-56)."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("event_type") != "error"))
        .select("user_id", "ts", F.round("value", 2).alias("value"))
    )


# ------------------------------------------------------- A4 emptiness ----

_A4_ORACLE = """
SELECT count(*) AS has_rows FROM (SELECT 1 FROM events LIMIT 1)
"""


@register("a4_emptiness_probe", _A4_ORACLE, tags=("cdc", "agg"), priority=100)
def a4_emptiness_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: `count_limit_one` cheap emptiness probe
    (reference:odbc2deltalake/sql_glot_utils.py:19-22)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.limit(1).agg(F.count(F.lit(1)).alias("has_rows"))


# ------------------------------------- incremental materialized rollup ----
# End-to-end IVM proof with a cross-engine oracle: land the events table
# in a versioned table as THREE separate commits, maintain a per-type
# rollup incrementally (one MaterializedAggregate.refresh per commit,
# each folding only that commit's delta), and return the final view.
# The oracle is the view's defining query as plain SQL over the full
# table — so the driver checks that incremental maintenance is
# EXACTLY equivalent to recomputation, not just self-consistent.

_MV_ORACLE = """
SELECT event_type,
       count(*) AS n_events,
       round(sum(value), 2) AS total_value,
       round(avg(value), 4) AS avg_value,
       round(min(value), 4) AS min_value,
       round(max(value), 4) AS max_value
FROM events
GROUP BY event_type
"""


@register("mv_incremental_rollup", _MV_ORACLE, tags=("cdc", "streaming"),
          priority=100)  # r11: rotated out (retraction/join/distinct MV rows stay in the window; green r1-r10)
def mv_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained per-type rollup == one-shot GROUP BY.

    Builds a throwaway landing table (3 commits of events split by
    event_id % 3), refreshes a MaterializedAggregate after EVERY commit
    (so the state really is folded delta-by-delta, with the exactly-once
    marker exercised thrice), and returns the finalized view. The view
    is localCheckpoint'ed before the temp tables are deleted so the
    returned plan doesn't dangle on removed files."""
    import shutil
    import tempfile

    from odbc2deltalake_spark.streaming import MaterializedAggregate
    from odbc2deltalake_spark.tablestore import VersionedParquetTable

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    root = tempfile.mkdtemp(prefix="mv_rollup_")
    try:
        landing = VersionedParquetTable(f"{root}/landing")
        mv = MaterializedAggregate(
            landing,
            f"{root}/view",
            group_cols=["event_type"],
            aggs={
                "n_events": ("count", None),
                "total_value": ("sum", "value"),
                "avg_value": ("avg", "value"),
                "min_value": ("min", "value"),
                "max_value": ("max", "value"),
            },
        )
        for m in range(3):
            landing.write(ev.filter(F.col("event_id") % 3 == m), mode="append")
            mv.refresh(spark)  # fold THIS commit's delta only
        out = mv.read(spark).select(
            "event_type",
            "n_events",
            F.round("total_value", 2).alias("total_value"),
            F.round("avg_value", 4).alias("avg_value"),
            F.round("min_value", 4).alias("min_value"),
            F.round("max_value", 4).alias("max_value"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ------------------------------------------------- store DML roundtrip ----
# End-to-end proof of the merge-on-write DML engine with a cross-engine
# oracle (VERDICT r7 task #3, mirroring how mv_incremental_rollup oracles
# the IVM path): land events in a versioned table as three range-split
# commits, run UPDATE then DELETE through the store, and return the final
# table. The oracle expresses the same lifecycle as one DuckDB SELECT
# with SQL UPDATE/DELETE semantics (NULL predicate -> row untouched /
# kept), so the driver checks the store's DML against an independent
# engine, not against itself.

_DML_ORACLE = """
SELECT event_id, user_id, event_type,
       round(CASE WHEN event_id <= (SELECT max(event_id) // 10 FROM events)
                  THEN value * 2 ELSE value END, 2) AS value
FROM events
WHERE event_type IS DISTINCT FROM 'error'
"""


@register("store_dml_roundtrip", _DML_ORACLE, tags=("store", "dml", "flagship"))
def store_dml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE + DELETE through the versioned store == the same lifecycle
    replayed as plain SQL (Delta's ``UPDATE``/``DELETE FROM``;
    reference:odbc2deltalake/reader/spark_reader.py:329-350 owns MERGE,
    the analogous writer-side mutation).

    The table lands as three event_id-range commits with stats, so the
    range-predicate UPDATE provably rewrites only the one intersecting
    dir (file-level pruning — the property that keeps DML affordable at
    100 TB) while the type-predicate DELETE walks all three. Both counts
    ride the rewrite jobs as Observations; the asserts pin them against
    the returned data so a silent miscount can't pass the hash check."""
    import shutil
    import tempfile

    from odbc2deltalake_spark.tablestore import VersionedParquetTable

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    # control-plane scalar, same discipline as a watermark probe
    max_id = ev.agg(F.max("event_id")).collect()[0][0] or 0
    cut = max_id // 10
    root = tempfile.mkdtemp(prefix="store_dml_")
    try:
        t = VersionedParquetTable(f"{root}/t")
        thirds = [max_id // 3, 2 * (max_id // 3)]
        for lo, hi in ((None, thirds[0]), (thirds[0], thirds[1]), (thirds[1], None)):
            part = ev
            if lo is not None:
                part = part.filter(F.col("event_id") > lo)
            if hi is not None:
                part = part.filter(F.col("event_id") <= hi)
            t.write(part, mode="append", stats_cols=["event_id", "event_type"])
        upd = t.update_where(
            spark, {"value": "value * 2"}, ("event_id", "<=", cut)
        )
        # stats pruning must confine the range UPDATE to the first commit
        assert upd["dirs_kept"] >= 2, upd
        dele = t.delete_where(spark, ("event_type", "=", "error"))
        out = t.read(spark).select(
            "event_id",
            "user_id",
            "event_type",
            F.round("value", 2).alias("value"),
        )
        # both DMLs must have changed state (commit-on-change contract);
        # the value-level correctness is the driver's hash vs the oracle
        assert upd["rows_updated"] > 0 and dele["rows_deleted"] > 0, (upd, dele)
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ------------------------------------------- incremental join view ----
# Delta-join IVM with a cross-engine oracle (the r8 flagship, mirroring
# how mv_incremental_rollup oracles the aggregate path): orders land as
# three commits and customer as two, interleaved with refreshes so BOTH
# delta directions (dA x B_old, A_new x dB) and the both-sides case
# fire; the driver then checks the maintained view against a plain SQL
# join — incremental maintenance must be EXACTLY recomputation.

_MV_JOIN_ORACLE = """
SELECT o.o_custkey AS custkey,
       o.o_orderkey AS orderkey,
       round(o.o_totalprice, 2) AS price,
       c.c_name AS c_name,
       c.c_mktsegment AS c_mktsegment
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
"""


@register("mv_incremental_join", _MV_JOIN_ORACLE,
          tags=("cdc", "streaming", "flagship"))
def mv_incremental_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained orders x customer join == one-shot JOIN.

    Schedule: customer half 1 + orders third 1 -> refresh (baseline);
    orders third 2 -> refresh (left-delta path against pinned old
    customer); customer half 2 + orders third 3 -> refresh (both paths
    in one refresh — the dA x dB overlap must land exactly once). The
    final view is checkpointed before the temp stores are removed."""
    import shutil
    import tempfile

    from odbc2deltalake_spark.streaming import MaterializedJoin
    from odbc2deltalake_spark.tablestore import VersionedParquetTable

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey"),
        F.round("o_totalprice", 2).alias("price"),
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_name", "c_mktsegment"
    )
    root = tempfile.mkdtemp(prefix="mv_join_")
    try:
        fact = VersionedParquetTable(f"{root}/orders")
        dim = VersionedParquetTable(f"{root}/customer")
        mv = MaterializedJoin(
            fact, dim, f"{root}/view", on=["custkey"],
            left_cols=["orderkey", "price"],
            right_cols=["c_name", "c_mktsegment"],
        )
        dim.write(cust.filter(F.col("custkey") % 2 == 0), mode="append")
        fact.write(orders.filter(F.col("orderkey") % 3 == 0), mode="append")
        mv.refresh(spark)
        fact.write(orders.filter(F.col("orderkey") % 3 == 1), mode="append")
        mv.refresh(spark)
        dim.write(cust.filter(F.col("custkey") % 2 == 1), mode="append")
        fact.write(orders.filter(F.col("orderkey") % 3 == 2), mode="append")
        mv.refresh(spark)
        return mv.read(spark).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ------------------------------- CDF-retraction view maintenance ----
# r8 flagship #2 with a cross-engine oracle: a retractable rollup view
# over a MERGE-maintained store (the CDC hot path's layout) is refreshed
# across an upsert batch, a predicate UPDATE, and a predicate DELETE —
# every one of them folds through read_changes_cdf (pre-images retract,
# post-images add) rather than re-scanning the source, and the driver
# checks the final view against DuckDB replaying the same lifecycle as
# plain SQL. Integer cents (floor(value*100), the events_ext.py:261
# pattern) keep the retraction arithmetic exact across engines.

_MV_CDF_ORACLE = """
WITH f AS (
  SELECT event_type,
         (CASE WHEN event_id % 7 = 0
               THEN CAST(floor(value * 100) AS BIGINT) * 3
               ELSE CAST(floor(value * 100) AS BIGINT) END)
         * (CASE WHEN event_id <= (SELECT max(event_id) // 10 FROM events)
                 THEN 2 ELSE 1 END) AS cents
  FROM events
  WHERE event_type IS DISTINCT FROM 'error'
)
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(cents) AS BIGINT) AS total_cents,
       round(avg(cents), 4) AS avg_cents
FROM f
GROUP BY event_type
"""


@register("mv_cdf_retraction", _MV_CDF_ORACLE,
          tags=("cdc", "streaming", "dml", "flagship"),
          priority=100)  # r12: rotated out (mv_join_retraction + mv_incremental_join/_distinct pin the retraction mechanism; green r9-r11)
def mv_cdf_retraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup view maintained through merge + UPDATE + DELETE == the
    same lifecycle replayed as one SQL query.

    Schedule: bucketized initial load -> refresh (baseline); merge
    batch tripling cents for event_id % 7 == 0 -> refresh (merge-CDF
    fold: update pre/post images from the replaced buckets only);
    UPDATE doubling cents below the id cut, then DELETE of the 'error'
    type -> one refresh folding BOTH DML commits (deletes and
    pre-images as negated partials). The emptied 'error' group must
    vanish from the view exactly as a recompute would drop it."""
    import shutil
    import tempfile

    from odbc2deltalake_spark.streaming import MaterializedAggregate
    from odbc2deltalake_spark.tablestore import VersionedParquetTable

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("cents"),
    )
    max_id = ev.agg(F.max("event_id")).collect()[0][0] or 0
    cut = max_id // 10
    root = tempfile.mkdtemp(prefix="mv_cdf_")
    try:
        t = VersionedParquetTable(f"{root}/t")
        t.merge_upsert(spark, ev, key_cols=["event_id"], num_buckets=8)
        mv = MaterializedAggregate(
            t,
            f"{root}/view",
            group_cols=["event_type"],
            aggs={
                "n_events": ("count", None),
                "total_cents": ("sum", "cents"),
                "avg_cents": ("avg", "cents"),
            },
        )
        # pin the fold-vs-recompute cost guard OPEN: this fixture's 1/7
        # batch hashes into all 8 buckets, where production-sized tables
        # would route to recompute — the point here is that the FOLD
        # arithmetic is exact against the oracle, so force it
        mv.FOLD_COST_FACTOR = 100.0
        mv.refresh(spark)  # baseline over the overwrite commit
        t.merge_upsert(
            spark,
            ev.filter(F.col("event_id") % 7 == 0).withColumn(
                "cents", F.col("cents") * 3
            ),
            key_cols=["event_id"],
        )
        mv.refresh(spark)  # merge-CDF fold
        t.update_where(spark, {"cents": "cents * 2"}, ("event_id", "<=", cut))
        t.delete_where(spark, ("event_type", "=", "error"))
        mv.refresh(spark)  # DML-CDF fold (both commits, one range)
        out = mv.read(spark).select(
            "event_type",
            "n_events",
            "total_cents",
            F.round("avg_cents", 4).alias("avg_cents"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ----------------------------------- retraction-mode join view ----
# The keyed-join-view path (MaterializedJoin(left_key=...)) with a
# cross-engine oracle: a star-schema orders x customer view whose fact
# side takes UPDATEs (one of them MOVING the join key), a band DELETE,
# and a re-pricing merge batch, and whose dim side takes an UPDATE and
# a DELETE — every commit folds incrementally (the final history check
# pins that no re-baseline happened), and the maintained view must
# equal DuckDB replaying the whole lifecycle as plain SQL. Integer
# cents keep the x2/x3 arithmetic exact across engines.

_MV_JOIN_RETRACT_ORACLE = """
WITH f0 AS (
  -- r14 (VERDICT r13 #4): the row proves the fold/retraction MECHANISM,
  -- not throughput — a deterministic quarter of the fact side exercises
  -- every commit branch at a quarter of the per-commit fold cost
  SELECT * FROM orders WHERE o_orderkey % 4 = 0
),
f AS (
  SELECT CASE WHEN o_orderkey > (SELECT max(o_orderkey) - max(o_orderkey) // 10
                                 FROM f0)
              THEN o_custkey + 1 ELSE o_custkey END AS custkey,
         o_orderkey AS orderkey,
         CAST(floor(o_totalprice * 100) AS BIGINT)
           * (CASE WHEN o_orderkey <= (SELECT max(o_orderkey) // 10 FROM f0)
                   THEN 2
                   WHEN o_orderkey > 2 * (SELECT max(o_orderkey) // 10 FROM f0)
                        AND o_orderkey <= 3 * (SELECT max(o_orderkey) // 10 FROM f0)
                   THEN 3
                   ELSE 1 END) AS cents
  FROM f0
  WHERE NOT (o_orderkey > (SELECT max(o_orderkey) // 10 FROM f0)
             AND o_orderkey <= 2 * (SELECT max(o_orderkey) // 10 FROM f0))
),
d AS (
  SELECT c_custkey AS custkey, c_name,
         CASE WHEN c_custkey <= (SELECT max(c_custkey) // 10 FROM customer)
              THEN 'GOLD' ELSE c_mktsegment END AS c_mktsegment
  FROM customer
  WHERE c_custkey <= (SELECT max(c_custkey) - max(c_custkey) // 10 FROM customer)
)
SELECT f.custkey, f.orderkey, f.cents, d.c_name, d.c_mktsegment
FROM f JOIN d ON f.custkey = d.custkey
"""


@register("mv_join_retraction", _MV_JOIN_RETRACT_ORACLE,
          tags=("cdc", "streaming", "dml", "flagship"),
          priority=100)  # r9: promoted; r13: rotated out (mv_incremental_join + mv_incremental_distinct pin the IVM mechanism; green r9-r12)
def mv_join_retraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed join view maintained through DML + merges == the same
    lifecycle replayed as one SQL join (Delta CDF folded into a MERGE'd
    view; reference:odbc2deltalake/reader/spark_reader.py:329-350 owns
    the writer-side MERGE this view applies its deltas with).

    Schedule: bucketized loads -> refresh (baseline, view bucketized by
    the fact PK); fact UPDATE doubling cents below the id cut + fact
    UPDATE moving the top decile's JOIN KEY (custkey+1 — the max key's
    orders now point at a customer that does not exist and must vanish)
    + fact band DELETE -> one refresh folding all three; fact merge
    batch tripling a band's cents -> refresh; dim UPDATE (segment ->
    'GOLD') + dim DELETE of the top custkey decile -> one refresh
    retracting every affected order row — including rows the key-move
    re-homed INTO the deleted decile. The history check pins that the
    view never re-baselined: every post-baseline commit is a merge."""
    import shutil
    import tempfile

    from odbc2deltalake_spark.streaming import MaterializedJoin
    from odbc2deltalake_spark.tablestore import VersionedParquetTable

    # r14 (VERDICT r13 #4): a deterministic quarter of the facts — every
    # asserted branch (3-commit left fold, key-move, band delete, merge
    # fold, right-fold retraction, idempotence, no-rebaseline) is slice-
    # independent; the oracle applies the identical % 4 cut in f0
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter((F.col("o_orderkey") % 4) == 0)
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_name", "c_mktsegment"
    )
    # control-plane scalars, same discipline as a watermark probe
    maxok = orders.agg(F.max("orderkey")).collect()[0][0] or 0
    maxck = cust.agg(F.max("custkey")).collect()[0][0] or 0
    cut, top = maxok // 10, maxok - maxok // 10
    dcut, dtop = maxck // 10, maxck - maxck // 10
    root = tempfile.mkdtemp(prefix="mv_join_retract_")
    try:
        fact = VersionedParquetTable(f"{root}/orders")
        dim = VersionedParquetTable(f"{root}/customer")
        fact.merge_upsert(spark, orders, key_cols=["orderkey"], num_buckets=8)
        dim.merge_upsert(spark, cust, key_cols=["custkey"], num_buckets=4)
        mv = MaterializedJoin(
            fact, dim, f"{root}/view", on=["custkey"],
            left_cols=["orderkey", "cents"],
            right_cols=["c_name", "c_mktsegment"],
            left_key=["orderkey"],
        )
        mv.refresh(spark)  # baseline
        base_v = mv.view.version()
        fact.update_where(spark, {"cents": "cents * 2"}, ("orderkey", "<=", cut))
        fact.update_where(
            spark, {"custkey": "custkey + 1"}, ("orderkey", ">", top)
        )
        fact.delete_where(
            spark, [("orderkey", ">", cut), ("orderkey", "<=", 2 * cut)]
        )
        mv.refresh(spark)  # left fold: three DML commits, one view merge
        fact.merge_upsert(
            spark,
            orders.filter(
                (F.col("orderkey") > 2 * cut) & (F.col("orderkey") <= 3 * cut)
            ).withColumn("cents", F.col("cents") * 3),
            key_cols=["orderkey"],
        )
        mv.refresh(spark)  # left fold: merge commit
        dim.update_where(
            spark, {"c_mktsegment": "'GOLD'"}, ("custkey", "<=", dcut)
        )
        dim.delete_where(spark, ("custkey", ">", dtop))
        mv.refresh(spark)  # right fold: affected custkeys' fact slice
        assert mv.refresh(spark) is None  # cursors current, idempotent
        modes = {h["mode"] for h in mv.view.history() if h["version"] > base_v}
        assert modes <= {"merge"}, f"view re-baselined: {modes}"
        return mv.read(spark).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# --------------------------------------------- merge-on-read roundtrip ----
# Lifecycle proof for strategy="patch" (the r8 merge-on-read engine):
# three patch commits — upsert, keyed delete, then a latest-wins
# re-upsert that RESURRECTS part of the deleted keys — are read back
# with the chain still outstanding, so the driver hashes the read-time
# reconciliation (_reconcile_patches) against an independent DuckDB
# rendering of the same lifecycle, not against the store itself. The
# CASE order in the oracle encodes newest-commit-wins.

_MOR_ORACLE = """
WITH m AS (SELECT max(event_id) AS mx FROM events)
SELECT event_id, user_id, event_type, round(value, 2) AS value
FROM (
    SELECT o.event_id,
           o.user_id,
           CASE WHEN o.event_id <= m.mx // 10 THEN 'patched2'
                WHEN o.event_id <= m.mx // 5 THEN 'patched'
                ELSE o.event_type END AS event_type,
           CASE WHEN o.event_id <= m.mx // 10 THEN o.value * 3
                WHEN o.event_id <= m.mx // 5 THEN o.value * 2
                ELSE o.value END AS value
    FROM events o, m
    WHERE o.event_id <= m.mx // 10
       OR o.event_type IS DISTINCT FROM 'error'
    UNION ALL
    SELECT o.event_id + m.mx + 1, o.user_id, 'inserted', o.value + 1
    FROM events o, m
    WHERE o.event_id <= m.mx // 20
)
"""


@register(
    "store_mor_roundtrip",
    _MOR_ORACLE,
    tags=("store", "merge", "flagship"),
)
def store_mor_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read lifecycle == the same mutations rendered as SQL.

    Delta Lake's deletion-vector MERGE / Iceberg merge-on-read shape:
    each mutation commits as ONE delta-sized patch dir (O(|batch|)
    write cost however the keys hash across buckets — the
    merge-on-write alternative rewrites every touched bucket, which for
    a uniformly-hashed delta approaches a table rewrite; the reference
    leans on Delta MERGE for this,
    reference:odbc2deltalake/reader/spark_reader.py:329-350). Reads
    reconcile the chain: newest patch commit wins per key, tombstones
    drop, patched keys anti-join out of the base. Three commits here —
    (1) upsert: transform the low fifth of keys + insert clones above
    max_id, (2) delete every 'error' key, (3) re-upsert the low tenth,
    which must override commit 1's values AND resurrect the error keys
    commit 2 deleted. The returned read happens with all three patches
    outstanding (asserted), so the value hash certifies read-time
    reconciliation, not a folded rewrite."""
    import shutil
    import tempfile

    from odbc2deltalake_spark.tablestore import VersionedParquetTable

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    mx = ev.agg(F.max("event_id")).collect()[0][0] or 0
    root = tempfile.mkdtemp(prefix="store_mor_")
    try:
        t = VersionedParquetTable(f"{root}/t")
        t.merge_upsert(spark, ev, ["event_id"])  # bucketized base
        up1 = ev.filter(F.col("event_id") <= mx // 5).select(
            "event_id",
            "user_id",
            F.lit("patched").alias("event_type"),
            (F.col("value") * 2).alias("value"),
        )
        ins = ev.filter(F.col("event_id") <= mx // 20).select(
            (F.col("event_id") + mx + 1).alias("event_id"),
            "user_id",
            F.lit("inserted").alias("event_type"),
            (F.col("value") + 1).alias("value"),
        )
        t.merge_upsert(
            spark, up1.unionByName(ins), ["event_id"], strategy="patch"
        )
        t.merge_delete_keys(
            spark,
            ev.filter(F.col("event_type") == "error").select("event_id"),
            ["event_id"],
            strategy="patch",
        )
        up3 = ev.filter(F.col("event_id") <= mx // 10).select(
            "event_id",
            "user_id",
            F.lit("patched2").alias("event_type"),
            (F.col("value") * 3).alias("value"),
        )
        t.merge_upsert(spark, up3, ["event_id"], strategy="patch")
        st = t._state_at()
        assert len(st["patches"]) == 3, st["patches"]  # chain outstanding
        out = t.read(spark).select(
            "event_id",
            "user_id",
            "event_type",
            F.round("value", 2).alias("value"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ------------------------------------------------ lazy GDPR erasure ----
# Lifecycle proof for delete_where(lazy=True) (r8 predicate tombstones):
# three lazy deletes — a range predicate whose mask must be confined to
# one commit by stats pruning, a type predicate over all commits, and a
# user-scope predicate (the GDPR right-to-erasure shape) — are read back
# with ALL masks outstanding, so the driver hashes the read-time per-dir
# filtering against plain DuckDB WHERE semantics, not a folded rewrite.
# NULL semantics ride along: SQL DELETE keeps NULL-predicate rows, so the
# oracle keeps NULL event_type / user_id.

_LAZY_ORACLE = """
WITH m AS (
    SELECT max(event_id) AS mx, max(user_id) AS mxu FROM events
)
SELECT event_id, user_id, event_type, round(value, 2) AS value
FROM events, m
WHERE event_id > m.mx // 10
  AND event_type IS DISTINCT FROM 'error'
  AND (user_id IS NULL OR user_id > m.mxu // 2)
"""


@register(
    "store_gdpr_erasure",
    _LAZY_ORACLE,
    tags=("store", "dml", "lazy", "flagship"),
)
def store_gdpr_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three outstanding lazy deletes == the same predicates as SQL WHERE.

    A right-to-erasure request against a 100 TB history cannot afford a
    rewrite per request; ``delete_where(lazy=True)`` commits the
    predicate plus the stats-pruned dirs it applies to as ONE metadata
    write (the predicate-tombstone analog of Delta deletion vectors;
    the reference relies on Delta DELETE semantics,
    reference:odbc2deltalake/reader/spark_reader.py:329-350), and reads
    filter those dirs until ``fold_masks`` or any rewrite materializes
    the chain during a maintenance window. Asserts pin that the range
    mask was confined to one of the three commits by stats pruning and
    that all three masks are still OUTSTANDING at read time, so the
    driver's value hash certifies the mask filters themselves."""
    import shutil
    import tempfile

    from odbc2deltalake_spark.tablestore import VersionedParquetTable

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    mx, mxu = ev.agg(F.max("event_id"), F.max("user_id")).collect()[0]
    mx, mxu = mx or 0, mxu or 0
    root = tempfile.mkdtemp(prefix="store_gdpr_")
    try:
        t = VersionedParquetTable(f"{root}/t")
        thirds = [mx // 3, 2 * (mx // 3)]
        for lo, hi in ((None, thirds[0]), (thirds[0], thirds[1]), (thirds[1], None)):
            part = ev
            if lo is not None:
                part = part.filter(F.col("event_id") > lo)
            if hi is not None:
                part = part.filter(F.col("event_id") <= hi)
            t.write(part, mode="append", stats_cols=["event_id"])
        s1 = t.delete_where(spark, ("event_id", "<=", mx // 10), lazy=True)
        assert s1["dirs_masked"] == 1, s1  # stats confined the range mask
        t.delete_where(spark, ("event_type", "=", "error"), lazy=True)
        t.delete_where(spark, ("user_id", "<=", mxu // 2), lazy=True)
        st = t._state_at()
        assert len(st["masks"]) == 3, st["masks"]  # chain outstanding
        out = t.read(spark).select(
            "event_id",
            "user_id",
            "event_type",
            F.round("value", 2).alias("value"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ------------------------------- distinct-count view maintenance ----
# r9 flagship: exact COUNT(DISTINCT) per group maintained incrementally
# (MaterializedDistinct — two-level IVM: inner retractable
# (group, value) occurrence view, outer live-row count on read) across
# the mutations that are the hard cases for distinct counts: a merge
# RE-KEYING values, a predicate UPDATE shifting them again, and a
# DELETE emptying a group. The driver checks the final view against
# DuckDB replaying the identical lifecycle as plain SQL.

_MV_DISTINCT_ORACLE = """
WITH e0 AS (
  -- r14 (VERDICT r13 #4): deterministic third of the events — the
  -- asserted branches (re-keying merge, shifting UPDATE, group-emptying
  -- DELETE) are slice-independent; the query applies the same % 3 cut
  SELECT * FROM events WHERE event_id % 3 = 0
),
f AS (
  SELECT event_type,
         (CASE WHEN event_id % 7 = 0 THEN user_id + 100000
               ELSE user_id END)
         + (CASE WHEN event_id <= (SELECT max(event_id) // 10 FROM e0)
                 THEN 1000000 ELSE 0 END) AS u
  FROM e0
  WHERE event_type IS DISTINCT FROM 'error'
)
SELECT event_type,
       CAST(count(DISTINCT u) AS BIGINT) AS n_distinct,
       CAST(count(u) AS BIGINT) AS n_rows
FROM f
GROUP BY event_type
"""


@register("mv_incremental_distinct", _MV_DISTINCT_ORACLE,
          tags=("cdc", "streaming", "dml", "flagship"))  # r10: promoted to the driver window (eighth-wave rotation)
def mv_incremental_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-users-per-event-type view maintained through merge +
    UPDATE + DELETE == the same lifecycle replayed as one SQL query.

    Schedule: bucketized initial load -> refresh (baseline); merge
    batch re-keying user_id for event_id % 7 == 0 (+100000) -> refresh
    (the inner occurrence view retracts the old (type, user) rows and
    adds the new ones); UPDATE shifting user_id by +1000000 below the
    id cut, then DELETE of the 'error' type -> one refresh folding both
    DML commits. A value whose last occurrence vanishes must drop the
    distinct count by exactly one, and the emptied group must vanish —
    exactly as a recompute would."""
    import shutil
    import tempfile

    from odbc2deltalake_spark.streaming import MaterializedDistinct
    from odbc2deltalake_spark.tablestore import VersionedParquetTable

    ev = (
        load_table(spark, sf_dir, "events")
        .filter((F.col("event_id") % 3) == 0)  # r14: see oracle's e0 note
        .select("event_id", "event_type", "user_id")
    )
    max_id = ev.agg(F.max("event_id")).collect()[0][0] or 0
    cut = max_id // 10
    root = tempfile.mkdtemp(prefix="mv_distinct_")
    try:
        t = VersionedParquetTable(f"{root}/t")
        t.merge_upsert(spark, ev, key_cols=["event_id"], num_buckets=8)
        mv = MaterializedDistinct(
            t, f"{root}/view", group_cols=["event_type"],
            distinct_col="user_id",
        )
        # pin the fold-vs-recompute guard OPEN (same rationale as
        # mv_cdf_retraction: this fixture's batches hash into all 8
        # buckets; the point is exact fold arithmetic vs the oracle)
        mv.inner.FOLD_COST_FACTOR = 100.0
        mv.refresh(spark)  # baseline
        t.merge_upsert(
            spark,
            ev.filter(F.col("event_id") % 7 == 0).withColumn(
                "user_id", F.col("user_id") + 100000
            ),
            key_cols=["event_id"],
        )
        mv.refresh(spark)  # merge-CDF fold (re-keyed values)
        t.update_where(
            spark, {"user_id": "user_id + 1000000"},
            ("event_id", "<=", cut),
        )
        t.delete_where(spark, ("event_type", "=", "error"))
        mv.refresh(spark)  # DML-CDF fold (both commits, one range)
        return mv.read(spark).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ------------------------------------------- schema evolution ----
# r9: the full ALTER surface in one lifecycle — narrow write (int id,
# float value, a props column), widened append (long id, double value,
# merge_schema ADDs event_type), then DROP COLUMN props — read back
# with zero rewrites. The oracle reproduces the type algebra exactly:
# early rows' value round-trips through REAL (they were physically
# written as float32), late rows keep full double precision, early
# rows' event_type is NULL (column added later), props is gone.

_SCHEMA_EVO_ORACLE = """
WITH m AS (SELECT max(event_id) AS mx FROM events)
SELECT CAST(event_id AS BIGINT) AS event_id,
       user_id,
       CASE WHEN event_id <= m.mx // 2
            THEN CAST(CAST(value AS REAL) AS DOUBLE)
            ELSE value END AS value,
       CASE WHEN event_id <= m.mx // 2 THEN NULL
            ELSE event_type END AS event_type
FROM events, m
"""


@register(
    "store_schema_evolution",
    _SCHEMA_EVO_ORACLE,
    tags=("store", "schema"),
)  # r10: promoted to the driver window (eighth-wave rotation)
def store_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Widen + add + drop with no data rewrite == the same type algebra
    in SQL.

    The reference relies on Delta's mergeSchema/overwriteSchema
    (reference:odbc2deltalake/reader/spark_reader.py:144-162); here the
    per-dir written-schema cast-union reads every generation: early
    files stay int32/float32 on disk and widen at read time, the
    late-added column is NULL for them, and the dropped column simply
    stops being projected (time travel below the drop still shows
    it — asserted)."""
    import shutil
    import tempfile

    from odbc2deltalake_spark.tablestore import VersionedParquetTable

    ev = load_table(spark, sf_dir, "events")
    mx = ev.agg(F.max("event_id")).collect()[0][0] or 0
    half = mx // 2
    root = tempfile.mkdtemp(prefix="store_evo_")
    try:
        t = VersionedParquetTable(f"{root}/t")
        early = ev.filter(F.col("event_id") <= half).select(
            F.col("event_id").cast("int").alias("event_id"),
            "user_id",
            F.col("value").cast("float").alias("value"),
            F.col("props").alias("props"),
        )
        t.write(early, mode="append")
        late = ev.filter(F.col("event_id") > half).select(
            F.col("event_id").cast("long").alias("event_id"),
            "user_id",
            F.col("value").cast("double").alias("value"),
            "props",
            "event_type",
        )
        t.write(late, mode="append", merge_schema=True)
        v_before_drop = t.version()
        t.drop_column("props")
        assert "props" not in t.read(spark).columns
        assert "props" in t.read(spark, version=v_before_drop).columns
        out = t.read(spark).select(
            "event_id", "user_id", "value", "event_type"
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------- timestamp time travel ----
# r9: read(timestamp=) resolves the newest version committed at or
# before the requested wall-clock time (Delta's timestampAsOf; commit
# `ts` stamps monotonized on resolution). Three loads with injected
# commit times; reading "just after the second load" must return
# exactly the first two loads' rows — which is a plain id-range WHERE
# for the oracle because the loads split on event_id.

_TIME_TRAVEL_ORACLE = """
WITH m AS (SELECT max(event_id) AS mx FROM events)
SELECT event_id, user_id, event_type, round(value, 2) AS value
FROM events, m
WHERE event_id <= 2 * (m.mx // 3)
"""


@register(
    "store_time_travel",
    _TIME_TRAVEL_ORACLE,
    tags=("store", "timetravel"),
)  # r10: promoted to the driver window (eighth-wave rotation)
def store_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp time travel == the id-range the first two loads cover.

    Commits carry injected wall-clock stamps (100/200/300); the read
    at t=250 must resolve to version 1 (monotonized newest-at-or-
    before) and return the first two loads exactly — certified by the
    driver's value hash against the equivalent WHERE. Resolution is
    control-plane only (commit JSON, never data)."""
    import shutil
    import tempfile

    from odbc2deltalake_spark.tablestore import VersionedParquetTable

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    mx = ev.agg(F.max("event_id")).collect()[0][0] or 0
    thirds = [mx // 3, 2 * (mx // 3)]
    root = tempfile.mkdtemp(prefix="store_tt_")
    try:
        t = VersionedParquetTable(f"{root}/t")
        bounds = [(None, thirds[0]), (thirds[0], thirds[1]), (thirds[1], None)]
        for i, (lo, hi) in enumerate(bounds):
            part = ev
            if lo is not None:
                part = part.filter(F.col("event_id") > lo)
            if hi is not None:
                part = part.filter(F.col("event_id") <= hi)
            t.write(
                part,
                mode="append",
                stats_cols=["event_id"],
                extra_commit_fields={"ts": 100.0 * (i + 1)},
            )
        assert t.version_at_timestamp(250.0) == 1
        out = t.read(spark, timestamp=250.0).select(
            "event_id",
            "user_id",
            "event_type",
            F.round("value", 2).alias("value"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# -------------------------------------- bloom-indexed point lookup ----
# r9 flagship: write(bloom_cols=[...]) + skip_where("in", id-list) is
# the "fetch these ids out of 100 TB" path. The table is written
# hash-spread on doc_id so every file's [min, max] interval covers the
# whole id range — interval stats alone prune NOTHING — and the asserts
# pin that the per-file bloom bitmaps cut the scan to at most the
# files that can hold the probed ids. The driver hashes the pruned
# read's rows against a plain DuckDB IN-list.

_POINT_LOOKUP_ORACLE = """
WITH m AS (SELECT max(doc_id) AS mx FROM documents)
SELECT d.doc_id, d.lang, d.source, d.n_chars, d.text
FROM documents d, m
WHERE d.doc_id IN (0, m.mx // 3, m.mx // 2, m.mx)
"""


@register(
    "store_point_lookup",
    _POINT_LOOKUP_ORACLE,
    tags=("store", "skipping", "flagship"),
)  # r10: promoted to the driver window (eighth-wave rotation)
def store_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned id-list lookup == a SQL IN-list over the same rows.

    Min/max intervals cannot cut a point probe on a uniformly spread
    key (every file's interval spans every id); the per-file bloom
    bitmaps recorded by ``write(bloom_cols=["doc_id"])`` can — the
    Delta bloom-filter-index analog (the reference leans on Delta file
    stats only, reference:odbc2deltalake/reader/spark_reader.py:123-133).
    Asserts pin that (a) interval stats alone keep every file and (b)
    the bloom cut the scan to no more than files-per-id + slack, so the
    driver's value hash certifies a genuinely pruned read."""
    import shutil
    import tempfile

    from odbc2deltalake_spark.tablestore import VersionedParquetTable

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars", "text"
    )
    mx = docs.agg(F.max("doc_id")).collect()[0][0] or 0
    ids = sorted({0, mx // 3, mx // 2, mx})
    root = tempfile.mkdtemp(prefix="store_lookup_")
    try:
        t = VersionedParquetTable(f"{root}/t")
        t.write(
            docs.repartition(8, "doc_id"),  # hash-spread: stats useless
            mode="append",
            stats_cols=["doc_id"],
            per_file_stats=True,
            bloom_cols=["doc_id"],
        )
        n_files = len(set(t.read(spark).inputFiles()))
        probe = t.read(spark, skip_where=("doc_id", "in", ids))
        n_probe = len(set(probe.inputFiles()))
        # every file's interval spans the ids; only the bloom can cut
        assert n_probe < n_files, (n_probe, n_files)
        assert n_probe <= len(ids) + 2, (n_probe, ids)  # + FP slack
        return probe.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ------------------------------------ OCC concurrent-append race ----
# r10 flagship: two writers racing on one version must BOTH land
# without a caller retry loop when their commits commute (blind
# appends). The race is deterministic — the loser's publish hook lands
# the rival's commit at the exact conflict instant — and the asserts
# pin that a conflict really happened and the rebase really absorbed
# it; the driver then value-hashes the merged table against the plain
# union the three slices add up to.

_OCC_RACE_ORACLE = """
SELECT doc_id, lang, source, n_chars
FROM documents
"""


@register(
    "store_occ_append_race",
    _OCC_RACE_ORACLE,
    tags=("store", "concurrency", "flagship"),
)  # r11: promoted into the driver window (r10 flagship)
def store_occ_append_race(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OCC auto-rebase == the union every commit-order yields.

    Slices doc_id%3 partition the documents table across three
    writers: a base load, a rival landing mid-race, and a loser whose
    commit hits CommitConflictError and auto-rebases
    (tablestore.py:_publish_append_with_rebase) — blind appends
    commute, so the merged table must equal ALL documents rows
    regardless of commit order. Delta retries commuting commits the
    same way inside commit(); the reference sidesteps racing writers
    with a 1 h lease (reference:odbc2deltalake/db_to_delta.py:218-229)."""
    import shutil
    import tempfile

    from odbc2deltalake_spark.tablestore import (
        CommitConflictError,
        VersionedParquetTable,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    root = tempfile.mkdtemp(prefix="store_occ_")
    try:
        t = VersionedParquetTable(f"{root}/t")
        t.write(docs.filter(F.col("doc_id") % 3 == 0), mode="append")
        rival = VersionedParquetTable(f"{root}/t")

        orig = t.backend.write_text_exclusive
        seen = {"conflicts": 0, "armed": True}

        def hook(path: str, text: str) -> None:
            if seen["armed"] and "_commits" in path:
                seen["armed"] = False
                rival.write(docs.filter(F.col("doc_id") % 3 == 1))
            try:
                return orig(path, text)
            except CommitConflictError:
                seen["conflicts"] += 1
                raise

        t.backend.write_text_exclusive = hook
        v = t.write(docs.filter(F.col("doc_id") % 3 == 2), mode="append")
        # the race genuinely happened AND the rebase absorbed it
        assert seen["conflicts"] >= 1, "no conflict — race did not fire"
        assert v == 2 == t.version(), v
        assert len(t._state_at()["dirs"]) == 3
        return t.read(spark).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ------------------------------- exactly-once txn replay ----
# r11: the idempotent-writer contract (Delta txnAppId/txnVersion; the
# foreachBatch exactly-once sink) as an oracled row — a replayed batch
# with the same (app, version) marker must land EXACTLY once, so the
# table hashes to a single copy of the union, never a doubled slice.

_TXN_ORACLE = """
SELECT doc_id, lang, source, n_chars
FROM documents
"""


@register(
    "store_txn_exactly_once",
    _TXN_ORACLE,
    tags=("store", "streaming", "flagship"),
)  # r12: promoted to the driver window (tenth-wave rotation)
def store_txn_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replayed txn-marked batches land exactly once == one plain copy.

    Batch 1 (docs%2==0) commits under txn ('loader', 1); the SAME batch
    replays (a crashed foreachBatch redelivers the last micro-batch) and
    must be SKIPPED before any job runs; batch 2 under ('loader', 2)
    lands; an out-of-order stale replay ('loader', 1) is skipped again.
    Asserted in-query via version counts, then the table is hashed
    against the plain documents projection (tablestore.py:write txn
    contract; Delta's txnAppId/txnVersion)."""
    import shutil
    import tempfile

    from odbc2deltalake_spark.tablestore import VersionedParquetTable

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    b1 = docs.filter(F.col("doc_id") % 2 == 0)
    b2 = docs.filter(F.col("doc_id") % 2 == 1)
    root = tempfile.mkdtemp(prefix="store_txn_")
    try:
        t = VersionedParquetTable(f"{root}/t")
        v1 = t.write(b1, mode="append", txn=("loader", 1))
        assert t.write(b1, mode="append", txn=("loader", 1)) == v1  # replay
        v2 = t.write(b2, mode="append", txn=("loader", 2))
        assert v2 == v1 + 1
        assert t.write(b1, mode="append", txn=("loader", 1)) == v2  # stale
        assert t.version() == v2
        return t.read(spark).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ------------------------------- shallow clone divergence ----
# r11: SHALLOW CLONE as an oracled row — the clone references the
# source's dirs (zero data copied), diverges via its own DML
# (copy-on-write at dir granularity), and the SOURCE stays bit-stable.

_CLONE_ORACLE = """
SELECT doc_id, lang, source, n_chars, 'src' AS side FROM documents
UNION ALL
SELECT doc_id, lang, source, n_chars, 'clone' AS side
FROM documents WHERE n_chars >= 200
"""


@register(
    "store_shallow_clone_divergence",
    _CLONE_ORACLE,
    tags=("store", "flagship"),
    priority=100,
)
def store_shallow_clone_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shallow clone + divergent DML == the two SQL projections.

    Clone the loaded table (metadata-only: asserted zero local data
    dirs), DELETE the short docs on the CLONE (copy-on-write rewrites
    land locally), and hash source+clone side by side: the source must
    still carry every row, the clone only the survivors
    (tablestore.py:clone_to; Delta's CREATE TABLE SHALLOW CLONE)."""
    import shutil
    import tempfile

    from odbc2deltalake_spark.tablestore import VersionedParquetTable

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    root = tempfile.mkdtemp(prefix="store_clone_")
    try:
        src = VersionedParquetTable(f"{root}/src")
        src.write(docs, mode="append", stats_cols=["n_chars"])
        clone = src.clone_to(f"{root}/clone")
        # metadata-only: the clone root holds no local data dir yet
        assert not any(
            d.startswith("d")
            for d in clone.backend.list_dir(f"{root}/clone")
        ), "shallow clone copied data"
        clone.delete_where(spark, ("n_chars", "<", 200))
        out = src.read(spark).withColumn("side", F.lit("src")).unionByName(
            clone.read(spark).withColumn("side", F.lit("clone"))
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ------------------------------- CHECK-constraint write gate ----
# r11: the constraint surface end-to-end as an oracled row — add a
# CHECK over existing-valid rows, an enforced append passes, a
# violating batch REFUSES atomically (no partial rows), the structured
# read-back returns the conjuncts, and the surviving table equals the
# plain SQL filter. Delta's ADD CONSTRAINT semantics (delta.constraints.*);
# the reference relies on Delta's runtime for this, so the engine's own
# store must carry it natively.

_CHECK_GATE_ORACLE = """
SELECT doc_id, lang, source, n_chars
FROM documents
WHERE n_chars >= 100
"""


@register(
    "store_check_constraint_gate",
    _CHECK_GATE_ORACLE,
    tags=("store", "constraints", "flagship"),
)  # r12: promoted to the driver window (tenth-wave rotation)
def store_check_constraint_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECK-constraint lifecycle == the plain SQL filter it enforces.

    Loads the valid half, adds the constraint (existing rows validated
    with one LIMIT-1 pushdown scan, tablestore.py:set_check_constraint),
    appends the rest of the valid rows THROUGH enforcement, then
    asserts in-query that (a) a violating batch refuses atomically —
    rows and version both untouched, (b) the structured read-back
    returns the exact conjuncts. Only then is the table hashed against
    the oracle."""
    import shutil
    import tempfile

    from odbc2deltalake_spark.tablestore import (
        ConstraintViolationError,
        VersionedParquetTable,
    )

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    valid = docs.filter(F.col("n_chars") >= 100)
    root = tempfile.mkdtemp(prefix="store_check_")
    try:
        t = VersionedParquetTable(f"{root}/t")
        t.write(valid.filter(F.col("doc_id") % 2 == 0), mode="append")
        t.set_check_constraint(spark, "min_len", ("n_chars", ">=", 100))
        assert t.check_constraints() == {"min_len": [("n_chars", ">=", 100)]}
        t.write(valid.filter(F.col("doc_id") % 2 == 1), mode="append")
        v = t.version()
        try:
            t.write(docs.filter(F.col("n_chars") < 100), mode="append")
            raise AssertionError("violating batch was accepted")
        except ConstraintViolationError:
            pass
        # atomic refusal: no partial rows, no version bump
        assert t.version() == v
        return t.read(spark).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ------------------------------- post-merge bloom point lookup ----
# r10 second wave: a bucket rewrite re-collects the table's bloom
# bitmaps (tablestore.py:_write_bucketized), so a point lookup on a
# table whose ENTIRE layout came from merges still cuts files — the
# capability store_point_lookup pins for plain writes, pinned here
# through the merge path. Hash-bucketed keys make interval stats
# useless by construction (every bucket file spans the full id range);
# only the re-collected blooms can prune, and the upsert's new values
# must be probeable while the overwritten ones refute.

_MERGE_BLOOM_ORACLE = """
WITH m AS (SELECT max(doc_id) AS mx FROM documents)
SELECT d.doc_id,
       CASE WHEN d.doc_id % 101 = 0 THEN 'patched' ELSE d.lang END AS lang,
       d.source, d.n_chars
FROM documents d, m
WHERE d.doc_id IN (0, m.mx // 3, m.mx // 2, m.mx)
"""


@register(
    "store_merge_bloom_lookup",
    _MERGE_BLOOM_ORACLE,
    tags=("store", "skipping", "flagship"),
)  # r11: promoted into the driver window (r10 flagship)
def store_merge_bloom_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned id lookup AFTER a merge == the same IN-list over the
    base rows with the upsert folded in.

    Write with bloom_cols, convert to bucketized layout via merge, then
    partial-merge an upsert — both rewrites must re-collect the per-file
    bitmaps (a silent bloom loss fails the file-cut assert before the
    driver ever hashes rows)."""
    import shutil
    import tempfile

    from odbc2deltalake_spark.tablestore import VersionedParquetTable

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    mx = docs.agg(F.max("doc_id")).collect()[0][0] or 0
    ids = sorted({0, mx // 3, mx // 2, mx})
    root = tempfile.mkdtemp(prefix="store_mbloom_")
    try:
        t = VersionedParquetTable(f"{root}/t")
        t.write(
            docs.repartition(8, "doc_id"),
            mode="append",
            bloom_cols=["doc_id"],
        )
        t.merge_upsert(spark, docs, ["doc_id"], num_buckets=8)
        t.merge_upsert(
            spark,
            docs.filter(F.col("doc_id") % 101 == 0).withColumn(
                "lang", F.lit("patched")
            ),
            ["doc_id"],
        )
        n_files = len(set(t.read(spark).inputFiles()))
        probe = t.read(spark, skip_where=("doc_id", "in", ids))
        n_probe = len(set(probe.inputFiles()))
        assert n_probe < n_files, (n_probe, n_files)
        assert n_probe <= len(ids) + 2, (n_probe, ids)  # + FP slack
        return probe.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ------------------------------- streaming CDC ingestion row ----
# r11: the engine's FLAGSHIP lifecycle (incremental SCD2 ingestion)
# driven by Structured Streaming instead of an external scheduler —
# three availableNow passes over a growing file-source dir, each
# micro-batch one simple_delta load through foreachBatch
# (streaming/driver.py:stream_db_to_delta), checkpoint continuity
# between passes. The final CURRENT state must be independent of the
# batching: hash it against the plain latest-row-per-key SQL. rv is
# the monotone event_id (the rowversion analog), so the delta
# criterion and the current-row choice are tie-free by construction.

_STREAM_CDC_ORACLE = """
WITH m AS (SELECT user_id, max(event_id) AS rv FROM events GROUP BY user_id)
SELECT e.user_id, m.rv, e.event_type, e.value
FROM events e
JOIN m ON e.user_id = m.user_id AND e.event_id = m.rv
"""


@register(
    "stream_cdc_scd2",
    _STREAM_CDC_ORACLE,
    tags=("cdc", "streaming", "flagship"),
)  # r12: promoted to the driver window (tenth-wave rotation)
def stream_cdc_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SCD2 ingestion == batch latest-per-key, batching-free.

    The events table (rv = event_id) is split into three rv-ordered
    chunks landed as successive file-source files; each availableNow
    pass ingests the new chunk as one simple_delta micro-batch (full
    load on the first, watermarked deltas after). The current rows —
    history joined to latest_pk_version on (pk, rv) — must equal the
    one-shot GROUP BY regardless of the 3-way batching."""
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from odbc2deltalake_spark.plans.destination import DeltaDestination
    from odbc2deltalake_spark.streaming.driver import stream_db_to_delta

    ev = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_id", "user_id", "event_type", "value",
            F.col("event_id").alias("rv"),
        )
        .localCheckpoint(eager=True)
    )
    mx = ev.agg(F.max("rv")).collect()[0][0] or 0
    cuts = [0, mx // 3, 2 * mx // 3, mx + 1]
    schema = ev.schema
    root = tempfile.mkdtemp(prefix="stream_cdc_")
    src_dir = f"{root}/in"
    dest = f"{root}/dest"
    ckpt = f"{root}/ckpt"
    try:
        for i in range(3):
            (
                ev.filter(
                    (F.col("rv") >= cuts[i]) & (F.col("rv") < cuts[i + 1])
                )
                # repartition(1): parallel filter, one landed file (see
                # _run_snapshot_stream for the coalesce(1) pathology)
                .repartition(1)
                .write.mode("append")
                .parquet(src_dir)
            )
            stream = spark.readStream.schema(schema).parquet(src_dir)
            q = stream_db_to_delta(
                spark, stream, dest, ["user_id"], "rv", ckpt,
                available_now=True,
            )
            q.awaitTermination(300)
        d = DeltaDestination(dest)
        # current rows: W1 latest-rv window + tombstone filter — the
        # read-side contract of the whole engine (same shape
        # scd2_current_rows pins over the batch path)
        from pyspark.sql import Window as W

        hist = d.delta.read(spark)
        w = W.partitionBy("user_id").orderBy(F.col("rv").desc())
        out = (
            hist.withColumn("rn", F.row_number().over(w))
            .filter((F.col("rn") == 1) & (~F.col("__is_deleted")))
            .select("user_id", "rv", "event_type", "value")
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


# ------------------------- streaming FULL delta algorithm row ----
# r12 (VERDICT r11 #4): stream_cdc_scd2 exercises simple_delta loads
# only; this row drives the reference's HARDEST semantics — the full
# do_delta_load path with the primary_keys_ts snapshot, tombstone
# deletes, and the delta_2 key-set fetch of timestamp-inconsistent
# ("strange") updates (reference:odbc2deltalake/db_to_delta.py:995-1184,
# 749-859) — under Structured Streaming. Each micro-batch is a FULL
# source snapshot (the periodic-snapshot CDC pattern: read_keys needs
# the whole key set to detect deletes), landed as one file-source file
# per availableNow pass with checkpoint continuity.

def _stream_full_snapshots(spark: SparkSession, sf_dir: str):
    """Three deterministic snapshot states derived from events:

    S1: latest event per user — (user_id, event_type, value, rv=event_id).
    S2: users %10==3 DELETED; users %7==0 updated (value+1000, rv+10M).
    S3: users %11==5 get a STRANGE update — value+5000 with rv REWOUND
        by 1 (content changed below the watermark: the
        restore-from-backup shape); plus ONE new user inserted past the
        watermark (so the source (max, count) probe can't short-circuit
        the load — the same blindness the reference has).

    Returns (s1, s2, s3, n_strange, n_deleted).
    """
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.col("event_id").desc())
    latest = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.round("value", 2).alias("value"),
            F.col("event_id").alias("rv"),
        )
        .localCheckpoint(eager=True)
    )
    is_del = F.col("user_id") % 10 == 3
    is_upd = F.col("user_id") % 7 == 0
    is_strange = F.col("user_id") % 11 == 5

    s1 = latest
    # s2/s3 stay LAZY over the checkpointed `latest` (r15, guide §2.4):
    # they are pure deterministic maps, each consumed a bounded number of
    # times (one scalar agg + one parquet landing each), so the former
    # eager checkpoints were two extra materialization jobs that saved
    # only trivially-cheap map re-derivations.
    s2 = latest.filter(~is_del).select(
        "user_id",
        "event_type",
        (F.col("value") + F.when(is_upd, F.lit(1000.0)).otherwise(F.lit(0.0))
         ).alias("value"),
        (F.col("rv") + F.when(is_upd, F.lit(10_000_000)).otherwise(F.lit(0))
         ).alias("rv"),
    )

    # The inserted key is max(user_id)+1 over LATEST (pre-delete), not s2:
    # if the corpus max happens to be a deleted user (%10 == 3), max(s2)+1
    # would REUSE that tombstoned key (an update-after-delete, a different
    # scenario) and diverge from the oracle's `max(user_id)+1 FROM latest`.
    # max(latest)+1 is fresh by construction under every fixture.
    # r15 (guide §2.4 control-plane fusion): the four setup scalars were
    # four sequential jobs (mu collect, mr collect, n_strange count,
    # n_deleted count); each table's pair now rides ONE aggregate.
    row_l = latest.agg(
        F.max("user_id").alias("mu"),
        F.sum(F.when(is_del, 1).otherwise(0)).alias("nd"),
    ).first()
    mu, n_deleted = row_l["mu"], int(row_l["nd"] or 0)
    row_s2 = s2.agg(
        F.max("rv").alias("mr"),
        F.sum(F.when(is_strange, 1).otherwise(0)).alias("ns"),
    ).first()
    mr, n_strange = row_s2["mr"], int(row_s2["ns"] or 0)
    ins = spark.createDataFrame(
        [(int(mu) + 1, "inserted", 1.0, int(mr) + 1)],
        schema=s2.schema,
    )
    s3 = s2.select(
        "user_id",
        "event_type",
        (F.col("value") + F.when(is_strange, F.lit(5000.0)).otherwise(F.lit(0.0))
         ).alias("value"),
        (F.col("rv") - F.when(is_strange, F.lit(1)).otherwise(F.lit(0))
         ).alias("rv"),
    ).unionByName(ins)
    return s1, s2, s3, n_strange, n_deleted


def _run_snapshot_stream(spark: SparkSession, snapshots, root: str):
    """Land each snapshot as one file-source file and drain it with one
    availableNow pass through the FULL delta algorithm (load_mode=None:
    key snapshot -> watermark delta -> strange key-set fetch ->
    tombstone deletes), checkpoint-continuous across passes. Returns
    the DeltaDestination."""
    from odbc2deltalake_spark.config import WriteConfig
    from odbc2deltalake_spark.plans.destination import DeltaDestination
    from odbc2deltalake_spark.streaming.driver import stream_db_to_delta

    src_dir = f"{root}/in"
    dest = f"{root}/dest"
    ckpt = f"{root}/ckpt"
    cfg = WriteConfig(primary_keys=["user_id"], delta_col="rv")
    schema = snapshots[0].schema
    for snap in snapshots:
        # repartition(1), not coalesce(1) (r15): coalesce pulls the whole
        # snapshot derivation into ONE task (measured 5s-class
        # serialization on local-relation/coalesce plans); a 1-partition
        # round-robin exchange keeps the upstream map parallel and still
        # lands exactly one file per pass (the file-source contract)
        snap.repartition(1).write.mode("append").parquet(src_dir)
        stream = spark.readStream.schema(schema).parquet(src_dir)
        q = stream_db_to_delta(
            spark, stream, dest, ["user_id"], "rv", ckpt,
            available_now=True, write_config=cfg,
        )
        q.awaitTermination(300)
    return DeltaDestination(dest)


_STREAM_FULL_ORACLE = """
WITH latest AS (
  SELECT e.user_id, e.event_type, round(e.value, 2) AS value,
         e.event_id AS rv
  FROM events e
  JOIN (SELECT user_id, max(event_id) AS m FROM events GROUP BY user_id) mx
    ON e.user_id = mx.user_id AND e.event_id = mx.m
),
final AS (
  SELECT user_id,
         rv + CASE WHEN user_id % 7 = 0 THEN 10000000 ELSE 0 END
            - CASE WHEN user_id % 11 = 5 THEN 1 ELSE 0 END AS rv,
         event_type,
         value + CASE WHEN user_id % 7 = 0 THEN 1000.0 ELSE 0.0 END
               + CASE WHEN user_id % 11 = 5 THEN 5000.0 ELSE 0.0 END AS value
  FROM latest
  WHERE user_id % 10 <> 3
)
SELECT user_id, rv, event_type, value, FALSE AS is_tombstone FROM final
UNION ALL
SELECT (SELECT max(user_id) + 1 FROM latest) AS user_id,
       (SELECT max(rv + CASE WHEN user_id % 7 = 0 THEN 10000000 ELSE 0 END)
          FROM latest WHERE user_id % 10 <> 3) + 1 AS rv,
       'inserted' AS event_type, 1.0 AS value, FALSE AS is_tombstone
UNION ALL
SELECT user_id, CAST(NULL AS BIGINT) AS rv, CAST(NULL AS VARCHAR) AS event_type,
       CAST(NULL AS DOUBLE) AS value, TRUE AS is_tombstone
FROM latest WHERE user_id % 10 = 3
"""


@register(
    "stream_cdc_full",
    _STREAM_FULL_ORACLE,
    tags=("cdc", "streaming", "flagship"),
    # r13: promoted to the driver window (eleventh-wave rotation)
)
def stream_cdc_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming FULL delta algorithm == one SQL replay of the lifecycle.

    Three snapshot micro-batches (see _stream_full_snapshots): batch 1
    full-loads, batch 2 detects deletes (tombstones with NULLed non-pk
    columns — reference:odbc2deltalake/db_to_delta.py:794-843) and
    watermarked updates, batch 3 carries rv-REWOUND strange updates
    that only the delta_2 key-set fetch can see plus one insert past
    the watermark. Asserted in-query before hashing: the strange branch
    actually ran (delta_2 holds exactly the strange keys) and every
    tombstone has all non-pk columns NULL. Output = current rows via
    the engine's hot J2 read path + the tombstone rows from history."""
    import shutil
    import tempfile

    from odbc2deltalake_spark.plans.db_to_delta import read_current_rows

    s1, s2, s3, n_strange, n_deleted = _stream_full_snapshots(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="stream_cdc_full_")
    try:
        dest = _run_snapshot_stream(spark, [s1, s2, s3], root)

        # the strange path must have taken the key-set branch: delta_2
        # holds exactly the strange keys (empty/overwritten otherwise).
        # r15 (guide §2.4+§2.6): the three assertion scalars were three
        # sequential jobs — the two tombstone counts now ride ONE
        # aggregate over the history scan, overlapped with the delta_2
        # count (disjoint tables) from a 2-thread pool.
        hist = dest.delta.read(spark)
        tombs = hist.filter(F.col("__is_deleted"))
        with SparkThreadPool(spark, 2) as pool:
            f_d2 = pool.submit(dest.delta_2.read(spark).count)
            f_tomb = pool.submit(
                tombs.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(
                        F.when(
                            F.col("rv").isNotNull()
                            | F.col("event_type").isNotNull()
                            | F.col("value").isNotNull(),
                            1,
                        ).otherwise(0)
                    ).alias("bad"),
                ).first
            )
            got_strange = f_d2.result()
            trow = f_tomb.result()
        assert got_strange == n_strange, (got_strange, n_strange)
        bad_tombs = int(trow["bad"] or 0)
        assert bad_tombs == 0, f"{bad_tombs} tombstones with non-NULL data"
        got_deleted = int(trow["n"])
        assert got_deleted == n_deleted, (got_deleted, n_deleted)

        cur = read_current_rows(spark, dest, ["user_id"], "rv").select(
            "user_id", "rv", "event_type", "value",
            F.lit(False).alias("is_tombstone"),
        )
        tomb_rows = tombs.select(
            "user_id",
            F.lit(None).cast("bigint").alias("rv"),
            F.lit(None).cast("string").alias("event_type"),
            F.lit(None).cast("double").alias("value"),
            F.lit(True).alias("is_tombstone"),
        )
        return cur.unionByName(tomb_rows).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
