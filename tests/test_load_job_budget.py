"""Spark-job budget of a warm CDC load on a ``ParquetTableSource``.

A scheduled CDC poller mostly runs no-op loads, so the watermark probes
must not cost jobs: the source probe reads the parquet footer, the local
probe reads the ``latest_pk_version`` commit, and the source schema is
inferred once. Jobs are counted from the DAG scheduler's job-id counter
(as ``perfbench`` does), so jobs the engine starts from pool threads are
counted too.
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
DELTA_BUDGET = 20


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


def test_store_that_commits_empty_appends_keeps_the_probe(
    spark, tmp_path, loaded, monkeypatch
):
    """A store that would commit a zero-row append as an empty version
    (Delta cannot withdraw a written commit) keeps the emptiness probe:
    a zero-delete load makes no tombstone append there at all."""
    table, dest = loaded
    hist = DeltaDestination(dest).delta
    monkeypatch.setattr(VersionedParquetTable, "commits_empty_appends", True)
    appends = []
    real = TableStore.write_counted_minmax

    def spy(self, df, minmax_cols, mode="append", **kw):
        if mode == "append" and self._root_str == hist._root_str:
            appends.append(df)
        return real(self, df, minmax_cols, mode=mode, **kw)

    monkeypatch.setattr(TableStore, "write_counted_minmax", spy)
    v0 = hist.version()
    table.change(update=[7], insert=[400])
    res, _ = _load(spark, table.write(str(tmp_path / "s2.parquet")), dest)
    assert isinstance(res, DeltaLoadResult) and not res.dirty
    assert len(appends) == 1  # the change set; no tombstone append
    assert hist.version() == v0 + 1


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
