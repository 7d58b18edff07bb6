"""Structured-Streaming drivers for continuous ingestion.

The reference is a pure batch micro-loop — each ``write_db_to_delta`` call
is one incremental batch and scheduling is external (SURVEY.md §2.9). The
Spark-native continuous form is ``foreachBatch``: a streaming reader feeds
micro-batches into the same SCD2 maintenance algebra, with
``trigger(availableNow=True)`` giving the reference's "run until caught
up" semantics and checkpointing giving exactly-once-ish recovery (the
batch engine's lock + version-restore protocol guards the cross-table
commit inside each micro-batch).

Scale: streaming adds no new shuffle shape — each micro-batch runs the
same keys-only joins as a batch load; state lives in the destination
tables, not executor state stores, so batch size tunes memory directly.
"""

from __future__ import annotations

import datetime
from pathlib import Path
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from odbc2deltalake_spark.config import WriteConfig
from odbc2deltalake_spark.metadata import ColInfo
from odbc2deltalake_spark.plans.db_to_delta import write_db_to_delta
from odbc2deltalake_spark.sources.dataframe import DataFrameSource


def foreach_batch_scd2(
    destination: str | Path,
    primary_keys: list[str],
    delta_col: str,
    col_infos_fn: Optional[Callable[[DataFrame], list[ColInfo]]] = None,
    write_config: Optional[WriteConfig] = None,
) -> Callable[[DataFrame, int], None]:
    """Build a ``foreachBatch`` function that applies each micro-batch as
    one incremental SCD2 load.

    Each micro-batch must hold one row per primary key, as every
    extraction must: the sink does not deduplicate. A batch that repeats
    a row appends it to the history twice and gives the key two
    ``latest_pk_version`` entries, and ``read_current_rows`` then returns
    both copies.

    Usage::

        q = (stream_df.writeStream
             .foreachBatch(foreach_batch_scd2(dest, ["id"], "ts"))
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True)
             .start())
    """

    def _infos(df: DataFrame) -> list[ColInfo]:
        if col_infos_fn is not None:
            return col_infos_fn(df)
        return [
            ColInfo(f.name, f.dataType, f.dataType.simpleString(), f.nullable)
            for f in df.schema.fields
        ]

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        cfg = write_config or WriteConfig(
            primary_keys=primary_keys, delta_col=delta_col, load_mode="simple_delta"
        )
        src = DataFrameSource(batch_df, _infos(batch_df), primary_keys=primary_keys)
        write_db_to_delta(batch_df.sparkSession, src, destination, cfg)

    return apply


def foreach_batch_append(
    table,
    app_id: str = "stream_append",
    transform: Optional[Callable[[DataFrame], DataFrame]] = None,
) -> Callable[[DataFrame, int], None]:
    """Exactly-once plain-append sink for ``foreachBatch``: each
    micro-batch lands via ``table.write(df, txn=(app_id, batch_id))`` —
    Spark's post-crash redelivery of the last batch is skipped by the
    txn marker (Delta's ``txnAppId``/``txnVersion`` contract), so the
    sink needs no dedup keys and no watermark. ``transform`` maps the
    batch before the write (stateless, e.g. a scrub/projection)."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        df = transform(batch_df) if transform is not None else batch_df
        table.write(df, mode="append", txn=(app_id, int(batch_id)))

    return apply


def stream_db_to_delta(
    spark: SparkSession,
    stream_df: DataFrame,
    destination: str | Path,
    primary_keys: list[str],
    delta_col: str,
    checkpoint_dir: str,
    available_now: bool = True,
    write_config: Optional[WriteConfig] = None,
):
    """Run continuous SCD2 ingestion from any streaming DataFrame.

    Returns the started StreamingQuery; with ``available_now`` the query
    drains pending input then stops — the reference's batch-call contract,
    driven by Spark's scheduler instead of an external one."""
    writer = (
        stream_df.writeStream.foreachBatch(
            foreach_batch_scd2(
                destination, primary_keys, delta_col, write_config=write_config
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
