"""``spread_small_scan``: the repartition fires only for an input that
underfills the session's parallelism AND is estimated small."""

from __future__ import annotations

from odbc2deltalake_spark.functions import spread
from odbc2deltalake_spark.functions.spread import (
    SPREAD_MAX_BYTES,
    plan_size_in_bytes,
    spread_small_scan,
)


def _jobs(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def _one_file_scan(spark, tmp_path):
    path = str(tmp_path / "docs")
    spark.range(0, 1000).selectExpr("id", "cast(id AS string) AS text").coalesce(
        1
    ).write.parquet(path)
    df = spark.read.parquet(path)
    assert df.rdd.getNumPartitions() == 1
    return df


def test_small_single_partition_scan_is_spread(spark, tmp_path):
    df = _one_file_scan(spark, tmp_path)
    size = plan_size_in_bytes(df)
    assert size is not None and 0 < size <= SPREAD_MAX_BYTES
    j0 = _jobs(spark)
    out = spread_small_scan(df, target=4)
    assert _jobs(spark) == j0  # the decision runs no job
    assert out.rdd.getNumPartitions() == 4
    assert sorted(r["id"] for r in out.collect()) == list(range(1000))


def test_scan_over_the_byte_bound_is_left_alone(spark, tmp_path, monkeypatch):
    df = _one_file_scan(spark, tmp_path)
    size = plan_size_in_bytes(df)
    monkeypatch.setattr(spread, "SPREAD_MAX_BYTES", size - 1)
    assert spread_small_scan(df, target=4) is df
    monkeypatch.setattr(spread, "SPREAD_MAX_BYTES", size)
    assert spread_small_scan(df, target=4) is not df
    # one partition estimated at 8 TB: never shuffled, and nothing runs
    huge = spark.range(0, 10**12, numPartitions=1)
    assert plan_size_in_bytes(huge) > SPREAD_MAX_BYTES
    j0 = _jobs(spark)
    assert spread_small_scan(huge, target=4) is huge
    assert _jobs(spark) == j0


def test_scan_that_fills_the_cluster_is_left_alone(spark, tmp_path):
    df = spark.range(0, 100, numPartitions=4)
    assert spread_small_scan(df, target=4) is df
