"""The SCD2 relational algebra as named DataFrame builders.

These are the genuinely hard pieces of the reference (SURVEY.md §7.3 #1/#2)
— the three-source latest-pk union with anti-join precedence, delete
detection, the one-shuffle key diff from which the delta load derives
both, and the history-derived current-rows reconstruction — kept pure
(DataFrame in → DataFrame out) so the consistency invariant can test them
directly.

Scale notes (100 TB): every join here is a conjunctive PK equi-join.
``delta_1``/``delta_2`` are per-load change sets (small → broadcast side);
``primary_keys_ts``/``latest_pk_version`` are keys-only tables, orders of
magnitude narrower than the history table. The only full-history scan is
``derive_latest_pk_from_history`` (restore path), a single window shuffle
partitioned by PK — the same unavoidable shuffle Delta's own CDC replay
pays. AQE handles skewed keys.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from odbc2deltalake_spark.metadata import SYS


def latest_per_key(
    df: DataFrame, pk_cols: list[str], ts_col: str, tiebreak: Optional[list[str]] = None
) -> DataFrame:
    """W1: ROW_NUMBER() OVER (PARTITION BY pks ORDER BY ts DESC NULLS LAST)
    = 1 (reference:odbc2deltalake/write_utils/restore_pk.py:97-118)."""
    order = [F.col(ts_col).desc_nulls_last()] + [
        F.col(c).desc() for c in (tiebreak or [])
    ]
    w = Window.partitionBy(*pk_cols).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def latest_pk_union(
    delta_2: Optional[DataFrame],
    delta_1: DataFrame,
    pk_ts: Optional[DataFrame],
    pk_cols: list[str],
    ts_col: str,
    delta_load_value=None,
) -> DataFrame:
    """U1: the three-source latest-pk assembly with anti-join precedence
    (reference:odbc2deltalake/db_to_delta.py:289-427 `_get_latest_pk_query`):

        latest_pk = delta_2
                  ∪ (delta_1  ANTI delta_2 on pks)
                  ∪ (pk_ts[ts<=delta_load_value] ANTI delta_2 ANTI delta_1)

    ``pk_ts=None`` is the simple-delta merge shape (first two branches
    only). The ``delta_load_value`` cap applies to the pk_ts branch only —
    it excludes keys whose rows appeared *during* the load (P9; pinned by
    reference:tests/test_12_insert_while_load.py:43-87).
    """
    sel = pk_cols + [ts_col]
    d2 = (delta_2 or None) and delta_2.select(*sel)
    d1 = delta_1.select(*sel)
    parts: list[DataFrame] = []
    if d2 is not None:
        parts.append(d2)
        parts.append(d1.join(d2.select(*pk_cols), on=pk_cols, how="left_anti"))
    else:
        parts.append(d1)
    if pk_ts is not None:
        branch = pk_ts.select(*sel)
        if delta_load_value is not None:
            branch = branch.filter(F.col(ts_col) <= F.lit(delta_load_value))
        if d2 is not None:
            branch = branch.join(d2.select(*pk_cols), on=pk_cols, how="left_anti")
        branch = branch.join(d1.select(*pk_cols), on=pk_cols, how="left_anti")
        parts.append(branch)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def deletes_keys(
    old_latest_pk: DataFrame, current_expected: DataFrame, pk_cols: list[str]
) -> DataFrame:
    """U2: deleted keys = old latest-pk set EXCEPT the currently-expected
    key set, on pk columns (reference:odbc2deltalake/db_to_delta.py:773-792).
    Set semantics (keys are unique) — expressed as a left anti join, which
    Catalyst plans identically to EXCEPT DISTINCT here but without the
    pre-aggregation."""
    return (
        old_latest_pk.select(*pk_cols)
        .join(current_expected.select(*pk_cols), on=pk_cols, how="left_anti")
        .distinct()
    )


# K1's output columns beside the keys: presence flag and delta value of
# each input. A separate flag tells "absent" from "present with a NULL
# delta value"; the "__" prefix keeps them apart from source columns.
KD_IN_NEW, KD_NEW = "__in_new", "__new_ts"
KD_IN_OLD, KD_OLD = "__in_old", "__old_ts"
KD_IN_D1, KD_D1 = "__in_d1", "__d1_ts"


def key_diff(
    pk_ts: DataFrame,
    old_latest_pk: DataFrame,
    delta_1: DataFrame,
    pk_cols: list[str],
    ts_col: str,
) -> DataFrame:
    """K1: the delta load's three key sets side by side, in ONE shuffle.

    One row per key found in the source snapshot ``pk_ts``, the old
    index ``old_latest_pk`` or the change set ``delta_1``, carrying each
    input's presence flag and delta value. The three inputs are tagged,
    unioned and grouped on the keys, so a single hash exchange replaces
    the separate EXCEPT / anti-join cascades of the strange-update probe,
    U2 and U1 (reference:odbc2deltalake/db_to_delta.py:749-859,995-1184).
    Each of those is then a narrow filter over this frame:
    :func:`key_diff_strange`, :func:`key_diff_deleted` and
    :func:`key_diff_latest_pk`. Keys are unique within each input (they
    are primary keys), so each group holds at most one row per input."""
    sel = pk_cols + [ts_col]
    tag = "__kd_src"
    parts = [
        df.select(*sel, F.lit(i).alias(tag))
        for i, df in enumerate((pk_ts, old_latest_pk, delta_1))
    ]
    aggs = []
    for i, (flag, value) in enumerate(
        ((KD_IN_NEW, KD_NEW), (KD_IN_OLD, KD_OLD), (KD_IN_D1, KD_D1))
    ):
        hit = F.col(tag) == i
        aggs.append(F.bool_or(hit).alias(flag))
        aggs.append(F.max(F.when(hit, F.col(ts_col))).alias(value))
    return (
        parts[0].unionByName(parts[1]).unionByName(parts[2])
        .groupBy(*pk_cols)
        .agg(*aggs)
    )


def key_diff_moved():
    """Keys whose snapshot ``(pk, ts)`` is not in the old index: the rows
    of ``pk_ts EXCEPT ALL old_latest_pk``. NULL-safe on ts, as EXCEPT is."""
    same = F.col(KD_IN_OLD) & F.col(KD_NEW).eqNullSafe(F.col(KD_OLD))
    return F.col(KD_IN_NEW) & ~same


def key_diff_strange():
    """Strange-update keys: moved, yet absent from ``delta_1`` (their
    delta value did not pass the watermark)."""
    return key_diff_moved() & ~F.col(KD_IN_D1)


def key_diff_deleted():
    """U2 over K1: keys of the old index that neither the snapshot nor
    ``delta_1`` holds. (``delta_2`` needs no term: its keys come from the
    snapshot.)"""
    return F.col(KD_IN_OLD) & ~F.col(KD_IN_NEW) & ~F.col(KD_IN_D1)


def key_diff_latest_pk(
    diff: DataFrame, pk_cols: list[str], ts_col: str, delta_load_value=None
) -> DataFrame:
    """U1 over K1 without the ``delta_2`` branch: ``delta_1``'s version of
    every key it holds, else the snapshot's, capped at
    ``delta_load_value`` as in :func:`latest_pk_union` (a NULL snapshot
    value fails the cap there too)."""
    snap = F.col(KD_IN_NEW)
    if delta_load_value is not None:
        snap = snap & (F.col(KD_NEW) <= F.lit(delta_load_value))
    return diff.filter(F.col(KD_IN_D1) | snap).select(
        *pk_cols,
        F.when(F.col(KD_IN_D1), F.col(KD_D1)).otherwise(F.col(KD_NEW)).alias(ts_col),
    )


def derive_latest_pk_from_history(
    history: DataFrame,
    pk_cols: list[str],
    ts_col: str,
) -> Optional[DataFrame]:
    """Reconstruct the current-rows key index from the SCD2 history alone
    (reference:odbc2deltalake/write_utils/restore_pk.py:16-203):

    1. ``last_full_ts`` = MAX(__timestamp) over full-load rows; None → fail.
    2. ``last_full_load`` = full-load rows at exactly that timestamp
       (the complete key universe as of the last full load — full loads
       implicitly delete undelivered keys, reference:README.md:7).
    3. ``delta_after`` = latest version per key among rows strictly after
       (W1 window).
    4. current = (delta_after ∪ (last_full_load ANTI delta_after)) minus
       rows whose latest version is a tombstone.

    Returns None when no full load exists (restore impossible).
    """
    full_rows = history.filter(F.col(SYS.is_full_load))
    row = full_rows.agg(F.max(SYS.timestamp).alias("m")).first()
    if row is None or row["m"] is None:
        return None
    last_full_ts = row["m"]

    sel = pk_cols + [ts_col, SYS.is_deleted]
    last_full = (
        full_rows.filter(F.col(SYS.timestamp) == F.lit(last_full_ts))
        .select(*pk_cols, F.col(ts_col), F.lit(False).alias(SYS.is_deleted))
    )
    after = history.filter(F.col(SYS.timestamp) > F.lit(last_full_ts)).select(
        *sel, F.col(SYS.timestamp)
    )
    latest_after = latest_per_key(after, pk_cols, SYS.timestamp).select(*sel)

    base = latest_after.unionByName(
        last_full.join(latest_after.select(*pk_cols), on=pk_cols, how="left_anti")
    )
    return base.filter(~F.col(SYS.is_deleted)).select(*pk_cols, ts_col)
