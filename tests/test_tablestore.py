"""Versioned table store: commit log, time travel, restore, vacuum, merge."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from odbc2deltalake_spark.tablestore import VersionedParquetTable


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, v string")


def test_versions_and_time_travel(spark, tmp_path):
    t = VersionedParquetTable(tmp_path / "t")
    assert not t.exists()
    t.write(_df(spark, [(1, "a")]), mode="overwrite")
    t.write(_df(spark, [(2, "b")]), mode="append")
    t.write(_df(spark, [(9, "z")]), mode="overwrite")
    assert t.version() == 2
    assert t.read(spark, version=0).count() == 1
    assert t.read(spark, version=1).count() == 2
    assert t.read(spark).collect()[0]["id"] == 9


def test_restore_points_at_old_files(spark, tmp_path):
    t = VersionedParquetTable(tmp_path / "t")
    t.write(_df(spark, [(1, "a")]), mode="overwrite")
    t.write(_df(spark, [(2, "b")]), mode="append")
    t.restore(0)
    assert t.version() == 2
    assert t.read(spark).count() == 1  # back to v0's content, as a new commit


def test_vacuum_removes_dead_dirs(spark, tmp_path):
    t = VersionedParquetTable(tmp_path / "t")
    t.write(_df(spark, [(1, "a")]), mode="overwrite")
    t.write(_df(spark, [(2, "b")]), mode="overwrite")  # v0's dir now dead
    removed = t.vacuum()
    assert len(removed) == 1
    assert t.read(spark).count() == 1  # live data intact


def test_schema_merge_on_append(spark, tmp_path):
    t = VersionedParquetTable(tmp_path / "t")
    t.write(_df(spark, [(1, "a")]), mode="overwrite")
    wider = spark.createDataFrame([(2, "b", 5.0)], "id long, v string, x double")
    t.write(wider, mode="append", merge_schema=True)
    out = t.read(spark)
    assert set(out.columns) == {"id", "v", "x"}
    byid = {r["id"]: r for r in out.collect()}
    assert byid[1]["x"] is None and byid[2]["x"] == 5.0


def test_merge_upsert(spark, tmp_path):
    t = VersionedParquetTable(tmp_path / "t")
    t.write(_df(spark, [(1, "a"), (2, "b")]), mode="overwrite")
    t.merge_upsert(spark, _df(spark, [(2, "B"), (3, "c")]), ["id"])
    got = sorted(tuple(r) for r in t.read(spark).collect())
    assert got == [(1, "a"), (2, "B"), (3, "c")]


def test_merge_source_missing_table_column_refused(spark, tmp_path):
    """A source lacking a table column must FAIL the merge, not silently
    NULL that column for matched keys (Delta's whenMatchedUpdateAll fails
    analysis in the same case). Extra source columns remain legal
    (schema evolution)."""
    import pytest

    from odbc2deltalake_spark.tablestore import SchemaDriftError

    t = VersionedParquetTable(tmp_path / "t")
    t.write(_df(spark, [(1, "a"), (2, "b")]), mode="overwrite")
    narrow = spark.createDataFrame([(2,)], "id long")
    with pytest.raises(SchemaDriftError, match="lacks table columns"):
        t.merge_upsert(spark, narrow, ["id"])
    assert t.version() == 0  # nothing committed
    # wider source still merges (new column nulls out for old rows)
    wide = spark.createDataFrame([(3, "c", 7)], "id long, v string, extra long")
    t.merge_upsert(spark, wide, ["id"])
    got = {r["id"]: (r["v"], r["extra"]) for r in t.read(spark).collect()}
    assert got == {1: ("a", None), 2: ("b", None), 3: ("c", 7)}


def test_fsspec_exclusive_concurrent_single_winner():
    """Eight threads race write_text_exclusive through an fsspec-style
    store with native exclusive create (the S3 If-None-Match / ABFS etag
    shape): exactly one commit wins, every loser surfaces
    CommitConflictError, and the winner's bytes are intact."""
    import threading

    from odbc2deltalake_spark.tablestore import (
        CommitConflictError,
        FsspecStorageBackend,
    )

    be = FsspecStorageBackend(_FakeFS(support_x=True))
    target = "/t/_commits/0000000001.json"
    results: list[str] = []
    lock = threading.Lock()
    barrier = threading.Barrier(8)

    def attempt(i: int):
        barrier.wait()
        try:
            be.write_text_exclusive(target, f"writer-{i}")
            outcome = f"won-{i}"
        except CommitConflictError:
            outcome = "lost"
        with lock:
            results.append(outcome)

    threads = [threading.Thread(target=attempt, args=(i,)) for i in range(8)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    winners = [r for r in results if r.startswith("won")]
    assert len(winners) == 1
    assert results.count("lost") == 7
    assert be.read_text(target) == f"writer-{winners[0].split('-')[1]}"


def test_empty_merge_on_bucketized_table_is_noop(spark, tmp_path):
    """Zero-change CDC cycle: merging an EMPTY source into a bucketized
    table touches no bucket, so it publishes no version. With extra
    commit fields to record (a view's exactly-once marker) it still
    commits, and must not crash — an empty partitionBy write leaves zero
    part files, so the per-bucket count read-back cannot infer a schema
    (regression: UNABLE_TO_INFER_SCHEMA)."""
    t = VersionedParquetTable(tmp_path / "t")
    t.write(_df(spark, [(i, f"v{i}") for i in range(20)]), mode="overwrite")
    t.merge_upsert(spark, _df(spark, [(0, "V0")]), ["id"], num_buckets=4)
    v_before = t.version()
    rows_before = sorted(tuple(r) for r in t.read(spark).collect())
    empty = spark.createDataFrame([], "id long, v string")
    assert t.merge_upsert(spark, empty, ["id"]) == v_before
    assert t.version() == v_before
    assert t.count_rows(spark) == 20
    marked = t.merge_upsert(
        spark, empty, ["id"], extra_commit_fields={"set_props": {"m": "1"}}
    )
    assert marked == t.version() == v_before + 1 and t.get_property("m") == "1"
    assert sorted(tuple(r) for r in t.read(spark).collect()) == rows_before
    # and a normal merge still works afterwards
    t.merge_upsert(spark, _df(spark, [(1, "V1")]), ["id"])
    byid = {r["id"]: r["v"] for r in t.read(spark).collect()}
    assert byid[1] == "V1" and byid[0] == "V0"


def test_properties(spark, tmp_path):
    t = VersionedParquetTable(tmp_path / "t")
    t.write(_df(spark, [(1, "a")]), mode="overwrite")
    t.set_properties({"k": "v"})
    assert t.get_property("k") == "v"
    assert t.get_property("nope") is None


def test_partitioned_write_reads_back(spark, tmp_path):
    t = VersionedParquetTable(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "x"), (3, "c", "y")], "id long, v string, pt string"
    )
    t.write(df, mode="overwrite", partition_by=["pt"])
    out = t.read(spark)
    assert out.count() == 3
    assert sorted(r["pt"] for r in out.collect()) == ["x", "x", "y"]
    # partition pruning: filter on the partition column reads only that subdir
    assert t.read(spark).filter("pt = 'y'").count() == 1


def test_bucketed_merge_partial_rewrite(spark, tmp_path):
    """Second merge rewrites only touched buckets; untouched-bucket dirs
    survive across commits (Delta-MERGE-like matched-file rewrite)."""
    t = VersionedParquetTable(tmp_path / "t")
    t.write(_df(spark, [(i, f"v{i}") for i in range(40)]), mode="overwrite")
    # first merge converts to bucketed layout (full rewrite, once)
    t.merge_upsert(spark, _df(spark, [(0, "V0"), (41, "new")]), ["id"], num_buckets=8)
    st1 = t._state_at()
    assert all(d.get("bucket") is not None for d in st1["dirs"])
    assert st1["num_buckets"] == 8
    dirs_before = {d["dir"] for d in st1["dirs"]}
    # second merge: touches only the buckets of ids 1 and 42
    t.merge_upsert(spark, _df(spark, [(1, "V1"), (42, "new2")]), ["id"])
    st2 = t._state_at()
    surviving = {d["dir"] for d in st2["dirs"]} & dirs_before
    assert surviving, "untouched bucket dirs must be reused, not rewritten"
    # content correct
    got = {r["id"]: r["v"] for r in t.read(spark).collect()}
    assert got[0] == "V0" and got[1] == "V1" and got[41] == "new" and got[42] == "new2"
    assert len(got) == 42
    # no duplicate keys
    assert t.read(spark).count() == t.read(spark).select("id").distinct().count()


def test_bucketed_merge_time_travel_and_vacuum(spark, tmp_path):
    t = VersionedParquetTable(tmp_path / "t")
    t.write(_df(spark, [(1, "a"), (2, "b")]), mode="overwrite")
    t.merge_upsert(spark, _df(spark, [(2, "B")]), ["id"], num_buckets=4)
    t.merge_upsert(spark, _df(spark, [(3, "c")]), ["id"])
    # time travel to pre-merge state (the CDC old_pk_version read path)
    assert {r["v"] for r in t.read(spark, version=0).collect()} == {"a", "b"}
    assert {r["v"] for r in t.read(spark, version=1).collect()} == {"a", "B"}
    assert {r["v"] for r in t.read(spark).collect()} == {"a", "B", "c"}
    # vacuum keeps live per-bucket dirs (they live under commit top dirs)
    t.vacuum()
    assert {r["v"] for r in t.read(spark, version=1).collect()} == {"a", "B"}


def test_bucketed_read_prunes_buckets(spark, tmp_path):
    t = VersionedParquetTable(tmp_path / "t")
    t.write(_df(spark, [(i, "x") for i in range(64)]), mode="overwrite")
    t.merge_upsert(spark, _df(spark, [(0, "y")]), ["id"], num_buckets=8)
    st = t._state_at()
    some_bucket = st["dirs"][0]["bucket"]
    pruned = t.read(spark, buckets=[some_bucket])
    full = t.read(spark)
    assert 0 < pruned.count() < full.count()


def test_schema_drift_incompatible_raises(spark, tmp_path):
    """string->binary / timestamp->int must raise, not silently swap
    (reference:tests/test_11_schema_drift.py:71-102)."""
    import pytest

    from odbc2deltalake_spark.tablestore import SchemaDriftError

    t = VersionedParquetTable(tmp_path / "t")
    t.write(_df(spark, [(1, "a")]), mode="overwrite")
    bad = spark.createDataFrame([(2, 99)], "id long, v int")  # string -> int
    with pytest.raises(SchemaDriftError):
        t.write(bad, mode="append", merge_schema=True)


def test_schema_drift_widening_flows(spark, tmp_path):
    t = VersionedParquetTable(tmp_path / "t")
    t.write(spark.createDataFrame([(1, 5)], "id long, n int"), mode="overwrite")
    t.write(
        spark.createDataFrame([(2, 6_000_000_000)], "id long, n long"),
        mode="append",
        merge_schema=True,
    )
    out = t.read(spark)
    assert dict(out.dtypes)["n"] == "bigint"
    assert {r["n"] for r in out.collect()} == {5, 6_000_000_000}


def test_schema_drift_narrowing_keeps_wide_type(spark, tmp_path):
    """Source narrowed long->int: values still fit, history keeps bigint."""
    t = VersionedParquetTable(tmp_path / "t")
    t.write(spark.createDataFrame([(1, 6_000_000_000)], "id long, n long"), mode="overwrite")
    t.write(
        spark.createDataFrame([(2, 7)], "id long, n int"),
        mode="append",
        merge_schema=True,
    )
    out = t.read(spark)
    assert dict(out.dtypes)["n"] == "bigint"
    assert {r["n"] for r in out.collect()} == {6_000_000_000, 7}


def test_is_type_widening_matrix():
    from odbc2deltalake_spark.tablestore import is_type_widening as w

    assert w(T.IntegerType(), T.LongType())
    assert w(T.ByteType(), T.ShortType())
    assert w(T.FloatType(), T.DoubleType())
    assert w(T.IntegerType(), T.DoubleType())
    assert w(T.DecimalType(15, 3), T.DecimalType(20, 3))
    assert w(T.IntegerType(), T.DecimalType(12, 2))
    assert w(T.DateType(), T.TimestampType())
    assert not w(T.LongType(), T.IntegerType())
    assert not w(T.LongType(), T.DoubleType())  # lossy
    assert not w(T.StringType(), T.BinaryType())
    assert not w(T.TimestampType(), T.LongType())
    assert not w(T.DecimalType(20, 3), T.DecimalType(15, 3))
    assert not w(T.DoubleType(), T.DecimalType(38, 10))


def test_storage_backend_interface(spark, tmp_path):
    """The commit log goes through the pluggable StorageBackend; a custom
    backend sees every metadata op (object-store swap point)."""
    from odbc2deltalake_spark.tablestore import LocalStorageBackend

    calls = []

    class SpyBackend(LocalStorageBackend):
        def write_text_exclusive(self, path, text):
            calls.append(("write", path))
            super().write_text_exclusive(path, text)

        def read_text(self, path):
            calls.append(("read", path))
            return super().read_text(path)

    t = VersionedParquetTable(tmp_path / "t", backend=SpyBackend())
    t.write(_df(spark, [(1, "a")]), mode="overwrite")
    assert t.read(spark).count() == 1
    assert any(op == "write" and "_commits" in p for op, p in calls)
    assert any(op == "read" and "_commits" in p for op, p in calls)


# ---------------------------------------------------------------- round 3 --


def test_write_text_exclusive_single_winner(tmp_path):
    """Two concurrent commits of the same version: exactly one wins, the
    loser gets CommitConflictError — the commit log is its own
    serialization point, no lease lock required."""
    import threading

    from odbc2deltalake_spark.tablestore import (
        CommitConflictError,
        LocalStorageBackend,
    )

    be = LocalStorageBackend()
    target = str(tmp_path / "_commits" / "0000000001.json")
    results: list[str] = []
    barrier = threading.Barrier(8)

    def attempt(i: int):
        barrier.wait()
        try:
            be.write_text_exclusive(target, f"writer-{i}")
            results.append("won")
        except CommitConflictError:
            results.append("lost")

    threads = [threading.Thread(target=attempt, args=(i,)) for i in range(8)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert results.count("won") == 1 and results.count("lost") == 7
    # winner's content is complete (no torn write), and no temp litter
    content = be.read_text(target)
    assert content.startswith("writer-")
    assert [n for n in be.list_dir(str(tmp_path / "_commits")) if n.startswith(".")] == []


class _FakeFS:
    """Minimal fsspec-like filesystem (fsspec itself is not installed):
    dict-backed, supports exclusive-create mode 'x' atomically."""

    def __init__(self, support_x: bool = True):
        import io
        import threading

        self.blobs: dict[str, str] = {}
        self.support_x = support_x
        self._lock = threading.Lock()
        self._io = io

    def open(self, path, mode="r"):
        io = self._io
        if mode == "x":
            if not self.support_x:
                raise ValueError("mode 'x' not supported")
            with self._lock:
                if path in self.blobs:
                    raise FileExistsError(path)
                self.blobs[path] = ""

            class _W(io.StringIO):
                def __exit__(inner, *a):
                    self.blobs[path] = inner.getvalue()
                    return False

            return _W()
        if mode == "w":

            class _W(io.StringIO):
                def __exit__(inner, *a):
                    self.blobs[path] = inner.getvalue()
                    return False

            return _W()
        return io.StringIO(self.blobs[path])

    def exists(self, path):
        return path in self.blobs or any(
            k.startswith(path.rstrip("/") + "/") for k in self.blobs
        )

    def ls(self, path, detail=False):
        prefix = path.rstrip("/") + "/"
        return sorted({prefix + k[len(prefix):].split("/", 1)[0] for k in self.blobs if k.startswith(prefix)})

    def rm(self, path, recursive=False):
        for k in [k for k in self.blobs if k == path or k.startswith(path.rstrip("/") + "/")]:
            del self.blobs[k]


def test_fsspec_exclusive_native_and_fallback():
    from odbc2deltalake_spark.tablestore import CommitConflictError, FsspecStorageBackend
    import pytest

    # native 'x' support: conflict detected atomically
    be = FsspecStorageBackend(_FakeFS(support_x=True))
    be.write_text_exclusive("/t/_commits/0000000000.json", "a")
    assert be.exclusive_is_native is True
    with pytest.raises(CommitConflictError):
        be.write_text_exclusive("/t/_commits/0000000000.json", "b")
    assert be.read_text("/t/_commits/0000000000.json") == "a"

    # degraded store without 'x': refused outright unless the caller
    # opts in — a silent check-then-put fallback is not linearizable
    be_strict = FsspecStorageBackend(_FakeFS(support_x=False))
    with pytest.raises(CommitConflictError, match="exclusive-create"):
        be_strict.write_text_exclusive("/t/_commits/0000000000.json", "a")
    assert be_strict.exclusive_is_native is False
    assert not be_strict.fs.exists("/t/_commits/0000000000.json")

    # with allow_nonatomic=True: falls back to check-then-put, warns once
    be2 = FsspecStorageBackend(_FakeFS(support_x=False), allow_nonatomic=True)
    with pytest.warns(RuntimeWarning, match="check-then-put"):
        be2.write_text_exclusive("/t/_commits/0000000000.json", "a")
    assert be2.exclusive_is_native is False
    with pytest.raises(CommitConflictError):
        be2.write_text_exclusive("/t/_commits/0000000000.json", "b")


def test_concurrent_table_commit_one_winner(spark, tmp_path):
    """End-to-end: two VersionedParquetTable writers (no lease lock)
    appending concurrently-computed same-numbered commits — one succeeds,
    the other raises CommitConflictError and no commit is lost."""
    import pytest

    from odbc2deltalake_spark.tablestore import CommitConflictError

    t1 = VersionedParquetTable(tmp_path / "t")
    t2 = VersionedParquetTable(tmp_path / "t")
    t1.write(_df(spark, [(1, "a")]), mode="overwrite")
    # both see version 0 and target version 1; t2 commits first
    st = t1._state_at()
    t2.write(_df(spark, [(2, "b")]), mode="append")
    with pytest.raises(CommitConflictError):
        t1._write_commit({"version": st["version"] + 1, "mode": "append", "dir": None, "schema": st["schema"]})
    assert t1.read(spark).count() == 2  # t2's commit intact


def test_vacuum_honors_retain_versions(spark, tmp_path):
    """After vacuum(retain_versions=2), read(version=v-1) and restore(v-1)
    still work; dirs only referenced by older versions are reclaimed."""
    t = VersionedParquetTable(tmp_path / "t")
    t.write(_df(spark, [(1, "a")]), mode="overwrite")  # v0
    t.write(_df(spark, [(2, "b")]), mode="overwrite")  # v1
    t.write(_df(spark, [(3, "c")]), mode="overwrite")  # v2
    removed = t.vacuum(retain_versions=2)
    assert len(removed) == 1  # v0's dir only
    assert {r["id"] for r in t.read(spark, version=1).collect()} == {2}
    assert {r["id"] for r in t.read(spark, version=2).collect()} == {3}
    t.restore(1)
    assert {r["id"] for r in t.read(spark).collect()} == {2}


def test_vacuum_reclaims_superseded_buckets(spark, tmp_path):
    """Bucket dirs replaced by later merges are reclaimed even though a
    sibling bucket in the same top-level dir stays live (the round-2
    unbounded-leak case), while retained-version buckets survive."""
    t = VersionedParquetTable(tmp_path / "t")
    t.write(_df(spark, [(i, f"v{i}") for i in range(64)]), mode="overwrite")
    t.merge_upsert(spark, _df(spark, [(0, "A")]), ["id"], num_buckets=8)  # v1: full bucketize
    conv_top = {d["dir"].split("/", 1)[0] for d in t._state_at()["dirs"]}
    # repeatedly rewrite the same key -> same bucket superseded many times
    for i in range(3):
        t.merge_upsert(spark, _df(spark, [(0, f"A{i}")]), ["id"])  # v2..v4
    removed = t.vacuum(retain_versions=1)
    # the conversion top dir is still live (7 untouched buckets) but its
    # superseded bucket child, plus the two older merge generations, go
    assert any(r.startswith(tuple(conv_top)) and "__bucket=" in r for r in removed)
    assert {r["v"] for r in t.read(spark).collect()} >= {"A2"}
    got = {r["id"]: r["v"] for r in t.read(spark).collect()}
    assert got[0] == "A2" and len(got) == 64


def test_merge_adaptive_bucket_count(spark, tmp_path):
    """NB is derived from table size / target_bucket_rows (power of two),
    not a constant: 300 rows at target 40 -> 8 buckets."""
    t = VersionedParquetTable(tmp_path / "t")
    src = spark.createDataFrame([(i, "x") for i in range(300)], "id long, v string")
    t.merge_upsert(spark, src, ["id"], target_bucket_rows=40)
    st = t._state_at()
    assert st["num_buckets"] == 8
    assert sum(st["bucket_rows"].values()) == 300
    assert t.read(spark).count() == 300


def test_merge_rebuckets_on_growth(spark, tmp_path):
    """When the average bucket outgrows 2x target, the next merge does ONE
    full rewrite at a doubled NB, then goes back to partial merges."""
    t = VersionedParquetTable(tmp_path / "t")
    t.merge_upsert(
        spark,
        spark.createDataFrame([(i, "x") for i in range(100)], "id long, v string"),
        ["id"],
        target_bucket_rows=25,
    )
    nb0 = t._state_at()["num_buckets"]
    assert nb0 == 4
    # grow the table past 2x target per bucket (100 -> 300 rows, avg 75).
    # Detection is lazy: the growth merge itself still runs at the old NB
    # (the oversize state is only known from the commit it writes)...
    t.merge_upsert(
        spark,
        spark.createDataFrame([(i, "y") for i in range(100, 300)], "id long, v string"),
        ["id"],
        target_bucket_rows=25,
    )
    st = t._state_at()
    assert st["num_buckets"] == nb0
    assert sum(st["bucket_rows"].values()) == 300
    # ...and the NEXT merge pays one full rewrite at the re-derived NB
    t.merge_upsert(spark, _df(spark, [(0, "z")]), ["id"], target_bucket_rows=25)
    st2 = t._state_at()
    assert st2["num_buckets"] == 16  # ceil(300/25)=12 -> next pow2
    assert sum(st2["bucket_rows"].values()) == 300
    assert {r["v"] for r in t.read(spark).filter("id = 0").collect()} == {"z"}
    # subsequent small merge is partial again at the new NB
    dirs_before = {d["dir"] for d in st2["dirs"]}
    t.merge_upsert(spark, _df(spark, [(1, "w")]), ["id"], target_bucket_rows=25)
    st3 = t._state_at()
    assert st3["num_buckets"] == 16
    assert {d["dir"] for d in st3["dirs"]} & dirs_before
    assert t.read(spark).count() == 300


def test_merge_key_type_pinned_across_loads(spark, tmp_path):
    """xxhash64 routing is type-sensitive: a narrower-typed source (int
    keys into a bigint-keyed table) must cast to the pinned type before
    hashing, or the merge scans the wrong bucket and duplicates the key."""
    t = VersionedParquetTable(tmp_path / "t")
    t.merge_upsert(
        spark,
        spark.createDataFrame([(i, "x") for i in range(64)], "id long, v string"),
        ["id"],
        num_buckets=8,
    )
    src = spark.createDataFrame([(0, "updated")], "id int, v string")  # int keys
    t.merge_upsert(spark, src, ["id"])
    got = {r["id"]: r["v"] for r in t.read(spark).collect()}
    assert got[0] == "updated"
    assert len(got) == 64  # no stale duplicate of key 0
    assert t.read(spark).count() == t.read(spark).select("id").distinct().count()


def test_merge_key_type_widening_rebucketizes(spark, tmp_path):
    """Key column widens int->long between loads: one full conversion
    rewrite re-pins the wider type; no stale duplicates, later merges
    route correctly at the new types."""
    import json as _json

    from pyspark.sql import types as T

    t = VersionedParquetTable(tmp_path / "t")
    t.merge_upsert(
        spark,
        spark.createDataFrame([(i, "x") for i in range(64)], "id int, v string"),
        ["id"],
        num_buckets=8,
    )
    st0 = t._state_at()
    kt0 = T.StructType.fromJson(_json.loads(st0["bucket_key_types"]))
    assert kt0["id"].dataType == T.IntegerType()
    # widened source (bigint keys), touching an existing key + a new one
    t.merge_upsert(
        spark,
        spark.createDataFrame([(0, "wide"), (6_000_000_000, "big")], "id long, v string"),
        ["id"],
    )
    st1 = t._state_at()
    kt1 = T.StructType.fromJson(_json.loads(st1["bucket_key_types"]))
    assert kt1["id"].dataType == T.LongType()
    got = {r["id"]: r["v"] for r in t.read(spark).collect()}
    assert got[0] == "wide" and got[6_000_000_000] == "big" and len(got) == 65
    # partial merge at the new pinned type still routes correctly
    t.merge_upsert(spark, _df(spark, [(0, "again")]), ["id"])
    got2 = {r["id"]: r["v"] for r in t.read(spark).collect()}
    assert got2[0] == "again" and len(got2) == 65


# ------------------------------------------------- interface conformance --


def _store_factories():
    import pytest

    factories = [pytest.param(VersionedParquetTable, id="parquet-commitlog")]
    try:
        from odbc2deltalake_spark.delta_store import DeltaTableStore

        DeltaTableStore.__init__  # touch
        import delta  # noqa: F401

        factories.append(pytest.param(DeltaTableStore, id="delta-spark"))
    except ImportError:
        factories.append(
            pytest.param(
                None,
                id="delta-spark",
                marks=pytest.mark.skip(reason="delta-spark not installed"),
            )
        )
    return factories


import pytest as _pytest


@_pytest.mark.parametrize("factory", _store_factories())
def test_table_store_interface_conformance(spark, tmp_path, factory):
    """The full TableStore surface the plans layer relies on, run
    identically against the commit-log parquet store and (where installed)
    the real Delta Lake store — the drop-in guarantee."""
    from odbc2deltalake_spark.tablestore import TableStore

    t: TableStore = factory(tmp_path / "t")
    assert not t.exists()
    v0 = t.write(_df(spark, [(1, "a"), (2, "b")]), mode="overwrite")
    assert t.exists() and t.version() == v0
    v1, n = t.write_counted(_df(spark, [(3, "c")]), mode="append")
    assert n == 1 and v1 > v0
    assert t.read(spark).count() == 3
    assert t.read(spark, version=v0).count() == 2
    assert set(t.schema().fieldNames()) == {"id", "v"}
    t.merge_upsert(spark, _df(spark, [(3, "C"), (4, "d")]), ["id"])
    got = {r["id"]: r["v"] for r in t.read(spark).collect()}
    assert got == {1: "a", 2: "b", 3: "C", 4: "d"}
    t.set_properties({"engine.check": "1"})
    assert t.get_property("engine.check") == "1"
    # merge-on-write DML (r7): same surface on both stores
    out = t.update_where(spark, {"v": "upper(v)"}, ("id", "=", 4))
    assert out["rows_updated"] == 1
    assert {r["id"]: r["v"] for r in t.read(spark).collect()}[4] == "D"
    out = t.delete_where(spark, ("id", ">=", 4))
    assert out["rows_deleted"] == 1
    assert {r["id"] for r in t.read(spark).collect()} == {1, 2, 3}
    vz = t.version()
    assert t.delete_where(spark, ("id", ">", 999))["rows_deleted"] == 0
    assert t.version() == vz  # zero-match MUST NOT commit
    v_before = t.version()
    t.restore(v0)
    assert t.version() > v_before
    assert {r["id"] for r in t.read(spark).collect()} == {1, 2}
    t.vacuum(retain_versions=2)
    assert {r["id"] for r in t.read(spark).collect()} == {1, 2}
    t.delete_table()
    assert not t.exists()


def test_count_rows_metadata_backed(spark, tmp_path):
    """After merges the row count comes from commit metadata (exact
    parquet-footer counts) and matches a real scan."""
    t = VersionedParquetTable(tmp_path / "t")
    t.merge_upsert(spark, _df(spark, [(i, "x") for i in range(57)]), ["id"], num_buckets=4)
    t.merge_upsert(spark, _df(spark, [(0, "y"), (99, "new")]), ["id"])
    assert t.count_rows(spark) == 58
    assert t.count_rows(spark) == t.read(spark).count()
    # unbucketed table falls back to a scan
    t2 = VersionedParquetTable(tmp_path / "t2")
    t2.write(_df(spark, [(1, "a")]), mode="overwrite")
    assert t2.count_rows(spark) == 1


def test_merge_schema_evolution_new_column(spark, tmp_path):
    """A merge source carrying a NEW column: untouched buckets (old
    written schema) read back with NULLs for it, touched buckets carry
    the values — schema evolution without rewriting old buckets."""
    t = VersionedParquetTable(tmp_path / "t")
    t.merge_upsert(spark, _df(spark, [(i, "x") for i in range(32)]), ["id"], num_buckets=8)
    src = spark.createDataFrame([(0, "upd", 9.5)], "id long, v string, score double")
    t.merge_upsert(spark, src, ["id"])
    out = t.read(spark)
    assert set(out.columns) == {"id", "v", "score"}
    got = {r["id"]: (r["v"], r["score"]) for r in out.collect()}
    assert got[0] == ("upd", 9.5)
    assert len(got) == 32
    others = [v for k, v in got.items() if k != 0]
    assert all(s is None for _, s in others)


def test_merge_schema_evolution_widened_value_column(spark, tmp_path):
    """A merge source with a widened NON-key column (int -> long): the
    table schema widens, old buckets cast up on read, key routing is
    unaffected."""
    t = VersionedParquetTable(tmp_path / "t")
    t.merge_upsert(
        spark,
        spark.createDataFrame([(i, i) for i in range(32)], "id long, n int"),
        ["id"],
        num_buckets=8,
    )
    src = spark.createDataFrame([(0, 6_000_000_000)], "id long, n long")
    t.merge_upsert(spark, src, ["id"])
    out = t.read(spark)
    assert dict(out.dtypes)["n"] == "bigint"
    got = {r["id"]: r["n"] for r in out.collect()}
    assert got[0] == 6_000_000_000 and got[5] == 5 and len(got) == 32
    assert out.count() == out.select("id").distinct().count()


def test_delta_store_module_imports_and_gates():
    """delta_store.py must be importable (it is never executed in this
    container otherwise) and must raise ImportError only at construction
    when delta-spark is absent."""
    import importlib

    import pytest

    mod = importlib.import_module("odbc2deltalake_spark.delta_store")
    try:
        import delta  # noqa: F401

        has_delta = True
    except ImportError:
        has_delta = False
    if not has_delta:
        with pytest.raises(ImportError):
            mod.DeltaTableStore("/tmp/nope")


def test_aborted_write_invisible_and_vacuumed(spark, tmp_path):
    """A data dir without a commit file (writer died before publishing) is
    ignored by readers and reclaimed by vacuum — the commit-format.md
    contract that makes data-then-commit crash-safe."""
    t = VersionedParquetTable(tmp_path / "t")
    t.write(_df(spark, [(1, "a")]), mode="overwrite")
    # simulate a crashed writer: orphan data dir, no commit published
    orphan = tmp_path / "t" / "d0000000001-deadbeef"
    _df(spark, [(99, "ghost")]).write.parquet(str(orphan))
    assert {r["id"] for r in t.read(spark).collect()} == {1}
    assert t.version() == 0
    # default orphan-age floor protects a possibly in-flight writer: the
    # fresh dir (data written, commit not yet published) is NOT reclaimed
    assert "d0000000001-deadbeef" not in t.vacuum()
    assert orphan.exists()
    # once older than the floor (age floor disabled here), it is reclaimed
    removed = t.vacuum(orphan_min_age_seconds=0.0)
    assert "d0000000001-deadbeef" in removed
    assert {r["id"] for r in t.read(spark).collect()} == {1}
    # the next real commit takes version 1 cleanly
    t.write(_df(spark, [(2, "b")]), mode="append")
    assert t.version() == 1
    assert {r["id"] for r in t.read(spark).collect()} == {1, 2}


def test_merge_extra_commit_fields_survive_every_path(spark, tmp_path):
    """extra_commit_fields (the exactly-once marker) must ride the SAME
    commit on every merge_upsert physical path: first bucketization with
    EXPLICIT num_buckets (the path that silently dropped them), partial
    merge, and growth-triggered rebucket."""
    from odbc2deltalake_spark.tablestore import VersionedParquetTable

    t = VersionedParquetTable(tmp_path / "t")
    mk = lambda lo, hi: spark.range(lo, hi).selectExpr("id", "id * 2 AS v")
    # path 1: first bucketization, num_buckets pinned by the caller
    t.merge_upsert(spark, mk(0, 20), ["id"], num_buckets=4,
                   extra_commit_fields={"set_props": {"m": "1"}})
    assert t.get_property("m") == "1"
    assert t._state_at(t.version())["props"]["m"] == "1"
    # path 2: partial merge
    t.merge_upsert(spark, mk(0, 5), ["id"],
                   extra_commit_fields={"set_props": {"m": "2"}})
    assert t.get_property("m") == "2"
    # path 3: growth-triggered rebucket (tiny target forces the full
    # conversion rewrite branch)
    t.merge_upsert(spark, mk(20, 2000), ["id"], target_bucket_rows=8,
                   extra_commit_fields={"set_props": {"m": "3"}})
    assert t.get_property("m") == "3"
    v = t.version()
    assert t._state_at(v)["props"]["m"] == "3"  # same commit, not follow-up


def test_concurrent_writers_all_commit_with_retries(spark, tmp_path):
    """Linearizability under real thread races: N writers append
    concurrently with NO caller retry loop — blind appends auto-rebase
    past each other inside the store (OCC, r10). Races are still
    observed at the backend layer (the exclusive-create losses that the
    rebase absorbs), every row lands exactly once, the version sequence
    is dense, and no data dir is orphaned: a rebase reuses its dir, so
    vacuum finds nothing to reclaim."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from odbc2deltalake_spark.tablestore import CommitConflictError

    t = VersionedParquetTable(tmp_path / "t")
    t.write(
        spark.range(0, 10).select(F.col("id").alias("k")), mode="append"
    )
    N_WRITERS, N_EACH = 6, 3
    barrier = threading.Barrier(N_WRITERS)
    conflicts = []
    orig = t.backend.write_text_exclusive

    def counting(path, text):
        try:
            return orig(path, text)
        except CommitConflictError:
            conflicts.append(1)
            raise

    t.backend.write_text_exclusive = counting

    def writer(w):
        barrier.wait()
        for j in range(N_EACH):
            lo = 1000 * (w * N_EACH + j + 1)
            df = spark.range(lo, lo + 10).select(F.col("id").alias("k"))
            t.write(df, mode="append")  # no retry loop: rebase absorbs

    with ThreadPoolExecutor(N_WRITERS) as ex:
        list(ex.map(writer, range(N_WRITERS)))

    assert t.version() == N_WRITERS * N_EACH  # dense: every commit landed
    ks = sorted(r["k"] for r in t.read(spark).collect())
    expect = sorted(
        list(range(10))
        + [
            1000 * i + d
            for i in range(1, N_WRITERS * N_EACH + 1)
            for d in range(10)
        ]
    )
    assert ks == expect
    assert conflicts, "no races observed — the test lost its point"
    # every dir is referenced by its (possibly rebased) commit — nothing
    # is orphaned for vacuum to reclaim
    assert t.vacuum(retain_versions=10**6, orphan_min_age_seconds=0) == []
    assert sorted(r["k"] for r in t.read(spark).collect()) == expect


def test_analyze_column_stats(spark, tmp_path):
    """ANALYZE: one-pass per-column null/ndv/min-max persisted as a
    metadata commit; exact where exactness is cheap (nulls, extrema),
    HLL-approximate NDV within its documented error."""
    import datetime

    t = VersionedParquetTable(tmp_path / "t")
    df = spark.range(0, 1000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 10 == 0, None)
        .otherwise(F.concat(F.lit("s"), (F.col("id") % 37)))
        .alias("name"),
        (F.col("id") % 5).cast("double").alias("score"),
        F.array(F.col("id")).alias("arr"),  # complex: nulls only
        F.to_timestamp(F.lit("2026-01-02 03:04:05")).alias("ts"),
    )
    t.write(df, mode="append")
    v_before = t.version()
    stats = t.analyze(spark)
    assert t.version() == v_before + 1  # one metadata commit
    assert stats["__table"]["rows"] == 1000
    assert stats["k"]["nulls"] == 0
    assert stats["k"]["min"] == 0 and stats["k"]["max"] == 999
    assert abs(stats["k"]["ndv"] - 1000) / 1000 < 0.1
    assert stats["name"]["nulls"] == 100
    assert abs(stats["name"]["ndv"] - 37) <= 4
    assert stats["score"]["min"] == 0.0 and stats["score"]["max"] == 4.0
    assert "ndv" not in stats["arr"] and stats["arr"]["nulls"] == 0
    # read-back path deserializes temporal extrema
    back = t.column_stats()
    assert back["ts"]["min"] == datetime.datetime(2026, 1, 2, 3, 4, 5)
    assert back["k"]["max"] == 999
    # system columns excluded by default; explicit cols override
    t2 = VersionedParquetTable(tmp_path / "t2")
    t2.write(df.withColumn("__sys", F.lit(1)), mode="append")
    s2 = t2.analyze(spark)
    assert "__sys" not in s2
    s3 = t2.analyze(spark, cols=["__sys"])
    assert s3["__sys"]["ndv"] == 1


def test_array_and_struct_columns_roundtrip(spark, tmp_path):
    """Regression: Spark 4 refuses nullability-narrowing casts, so a
    stored array<...> column with containsNull=false (every
    F.array(...) of non-null inputs — i.e. every embedding column)
    used to fail the projection on read. All projection sites must cast
    to the nullability-relaxed type instead."""
    t = VersionedParquetTable(tmp_path / "t")
    df = spark.range(3).select(
        F.col("id").alias("k"),
        F.array(F.col("id"), F.col("id") * 2).alias("emb"),
        F.struct(F.col("id").alias("a")).alias("s"),
        F.create_map(F.lit("x"), F.col("id")).alias("m"),
    )
    t.write(df, mode="append")
    got = sorted((r["k"], tuple(r["emb"]), r["s"]["a"]) for r in t.read(spark).collect())
    assert got == [(0, (0, 0), 0), (1, (1, 2), 1), (2, (2, 4), 2)]
    # append path aligns to the existing schema through the same cast
    t.write(df.withColumn("k", F.col("k") + 10), mode="append")
    assert t.read(spark).count() == 6
    # change feed path too
    ch = t.read_changes(spark, from_version=0)
    assert ch.count() == 3 and ch.select("emb").first()["emb"] is not None


def test_vacuum_dry_run_previews_without_deleting(spark, tmp_path):
    t = VersionedParquetTable(tmp_path / "t")
    t.write(spark.range(10).select(F.col("id").alias("k")), mode="append")
    t.write(spark.range(10).select(F.col("id").alias("k")), mode="overwrite")
    preview = t.vacuum(retain_versions=1, dry_run=True)
    assert preview
    assert t.read(spark, version=0).count() == 10  # nothing deleted
    real = t.vacuum(retain_versions=1)
    assert sorted(real) == sorted(preview)  # preview was exact
    assert t.read(spark).count() == 10


def test_analyze_decimal_column_roundtrip(spark, tmp_path):
    """ADVICE r6: analyze() on a decimal column must not crash in
    json.dumps; column_stats() round-trips Decimal min/max exactly."""
    import decimal

    from pyspark.sql import functions as F

    from odbc2deltalake_spark.tablestore import VersionedParquetTable

    t = VersionedParquetTable(tmp_path / "t")
    df = spark.range(1, 6).select(
        F.col("id").alias("k"),
        (F.col("id").cast("decimal(10,2)") * F.lit(1.25).cast("decimal(10,2)")).cast("decimal(10,2)").alias("amt"),
    )
    t.write(df, mode="append")
    stats = t.analyze(spark)  # returns the serialized (JSON-safe) form
    assert stats["amt"]["min"] == {"t": "dec", "v": "1.25"}
    assert stats["amt"]["max"] == {"t": "dec", "v": "6.25"}
    got = t.column_stats()
    assert got["amt"]["min"] == decimal.Decimal("1.25")
    assert got["amt"]["max"] == decimal.Decimal("6.25")
    assert isinstance(got["amt"]["min"], decimal.Decimal)


def test_txn_idempotent_writer(spark, tmp_path):
    """write(txn=(app, v)) is Delta's txnAppId/txnVersion contract: a
    replayed batch at-or-below the recorded version is skipped BEFORE
    any job runs; distinct apps are independent; the marker lands
    atomically with the data commit."""
    from odbc2deltalake_spark.tablestore import VersionedParquetTable

    t = VersionedParquetTable(tmp_path / "t")
    df = spark.range(5).select(F.col("id").alias("k"))

    v0 = t.write(df, txn=("streamA", 0))
    assert t.read(spark).count() == 5
    assert t.get_property("txn.streamA") == "0"

    # exact replay: skipped, version unchanged, no extra rows
    assert t.write(df, txn=("streamA", 0)) == v0
    assert t.read(spark).count() == 5
    # stale replay (below the marker): also skipped
    t.write(df, txn=("streamA", 3))
    assert t.write(df, txn=("streamA", 1)) == t.version()
    assert t.read(spark).count() == 10

    # a different app's version space is independent
    t.write(df, txn=("streamB", 0))
    assert t.read(spark).count() == 15
    assert t.get_property("txn.streamA") == "3"
    assert t.get_property("txn.streamB") == "0"

    # foreachBatch replay shape: same fn, redelivered batch_id
    def sink(batch_df, batch_id):
        t.write(batch_df, txn=("job", batch_id))

    sink(df, 7)
    sink(df, 7)  # Spark redelivers the last batch after recovery
    assert t.read(spark).count() == 20

    # the marker is in the SAME commit as the data (atomicity): the
    # commit that added rows carries set_props
    import json

    commits = [
        json.loads(
            t.backend.read_text(t.backend.join(t._commits_dir, n))
        )
        for n in t._commit_names()
    ]
    data_commits = [c for c in commits if c.get("dir")]
    assert all("set_props" in c for c in data_commits)


def test_txn_composes_with_caller_set_props(spark, tmp_path):
    """A caller's own set_props (e.g. an IVM marker) and the txn marker
    ride the same commit without clobbering each other."""
    from odbc2deltalake_spark.tablestore import VersionedParquetTable

    t = VersionedParquetTable(tmp_path / "t")
    df = spark.range(3).select(F.col("id").alias("k"))
    t.write(
        df,
        txn=("app", 5),
        extra_commit_fields={"set_props": {"mv.applied_to": "9"}},
    )
    assert t.get_property("txn.app") == "5"
    assert t.get_property("mv.applied_to") == "9"


# ----------------------- r8: keyed deletes (whenMatchedDelete) ------------


def _sorted(df):
    return sorted(tuple(r) for r in df.collect())


def test_merge_delete_keys_partial_rewrite(spark, tmp_path):
    t = VersionedParquetTable(tmp_path / "t")
    t.merge_upsert(
        spark, _df(spark, [(i, f"v{i}") for i in range(40)]), ["id"],
        num_buckets=8,
    )
    dirs_before = {d["dir"] for d in t._state_at()["dirs"]}
    t.merge_delete_keys(
        spark, spark.createDataFrame([(3,), (17,)], "id long"), ["id"]
    )
    st = t._state_at()
    assert _sorted(t.read(spark)) == [
        (i, f"v{i}") for i in range(40) if i not in (3, 17)
    ]
    # only the victim keys' buckets were rewritten
    untouched = {d["dir"] for d in st["dirs"]} & dirs_before
    assert untouched and len(untouched) >= 6 - 2
    # metadata row count stays exact
    assert t.count_rows(spark) == 38
    # absent keys are a no-op delete (no rows vanish)
    t.merge_delete_keys(
        spark, spark.createDataFrame([(999,)], "id long"), ["id"]
    )
    assert t.count_rows(spark) == 38


def test_merge_delete_keys_empty_set_is_noop(spark, tmp_path):
    t = VersionedParquetTable(tmp_path / "t")
    t.merge_upsert(spark, _df(spark, [(1, "a")]), ["id"], num_buckets=2)
    v = t.version()
    empty = spark.createDataFrame([], "id long")
    assert t.merge_delete_keys(spark, empty, ["id"]) == v


def test_merge_delete_keys_unbucketized_converts(spark, tmp_path):
    t = VersionedParquetTable(tmp_path / "t")
    t.write(_df(spark, [(1, "a"), (2, "b"), (3, "c")]))
    t.merge_delete_keys(
        spark, spark.createDataFrame([(2,)], "id long"), ["id"]
    )
    assert _sorted(t.read(spark)) == [(1, "a"), (3, "c")]
    # the conversion bucketized the table: the NEXT delete is partial
    assert t._state_at()["num_buckets"] is not None


def test_merge_delete_keys_wrong_keys_rejected(spark, tmp_path):
    import pytest

    t = VersionedParquetTable(tmp_path / "t")
    t.merge_upsert(spark, _df(spark, [(1, "a")]), ["id"], num_buckets=2)
    with pytest.raises(ValueError, match="bucketized on"):
        t.merge_delete_keys(
            spark, spark.createDataFrame([("a",)], "v string"), ["v"]
        )


def test_merge_delete_keys_emits_cdf_deletes(spark, tmp_path):
    t = VersionedParquetTable(tmp_path / "t")
    t.merge_upsert(
        spark, _df(spark, [(i, f"v{i}") for i in range(10)]), ["id"],
        num_buckets=4,
    )
    base = t.version()
    t.merge_delete_keys(
        spark, spark.createDataFrame([(4,), (7,)], "id long"), ["id"]
    )
    cdf = t.read_changes_cdf(spark, base)
    assert _sorted(cdf.select("id", "v", "_change_type")) == [
        (4, "v4", "delete"), (7, "v7", "delete")
    ]
    adds, subs, cost = t.read_changes_fold(spark, base)
    # coarse feed retracts exactly the victims: subs minus adds
    assert _sorted(subs.exceptAll(adds)) == [(4, "v4"), (7, "v7")]
    assert cost["table_rows"] == 8


def test_merge_upsert_with_delete_keys_one_commit(spark, tmp_path):
    """Upserts + keyed deletes land atomically: ONE commit, marker
    included — the shape an incremental join view applies."""
    t = VersionedParquetTable(tmp_path / "t")
    t.merge_upsert(
        spark, _df(spark, [(i, f"v{i}") for i in range(10)]), ["id"],
        num_buckets=4,
    )
    v0 = t.version()
    t.merge_upsert(
        spark,
        _df(spark, [(3, "NEW3"), (42, "ins")]),
        ["id"],
        delete_keys=spark.createDataFrame([(5,), (3,)], "id long"),
        extra_commit_fields={"set_props": {"m": "1"}},
    )
    assert t.version() == v0 + 1  # exactly one commit
    assert t.get_property("m") == "1"
    got = dict(_sorted(t.read(spark)))
    assert got[3] == "NEW3"      # upsert wins over its own delete key
    assert 5 not in got          # pre-existing row deleted
    assert got[42] == "ins"
    assert len(got) == 10        # 10 - 1 deleted + 1 inserted
    # CDF of the combined commit: update pair for 3, delete for 5,
    # insert for 42
    cdf = t.read_changes_cdf(spark, v0)
    by = _sorted(cdf.select("id", "_change_type"))
    assert by == [(3, "update_postimage"), (3, "update_preimage"),
                  (5, "delete"), (42, "insert")]


def test_store_merge_signatures_stay_polymorphic():
    """The plans layer calls merge_upsert with strategy/delete_keys on
    WHICHEVER store backs latest_pk_version — both implementations must
    accept the full kwarg surface (a Delta store maps strategy to its
    own deletion-vector property), or a Delta-backed deployment
    TypeErrors at runtime."""
    import importlib
    import inspect

    from odbc2deltalake_spark.tablestore import VersionedParquetTable

    mod = importlib.import_module("odbc2deltalake_spark.delta_store")
    need = {"strategy", "delete_keys",
            "extra_commit_fields", "target_bucket_rows"}
    for cls in (VersionedParquetTable, mod.DeltaTableStore):
        params = set(inspect.signature(cls.merge_upsert).parameters)
        missing = need - params
        assert not missing, f"{cls.__name__}.merge_upsert lacks {missing}"
    # and the lazy kwarg on the parquet store's DML stays optional-only
    for meth in ("delete_where", "update_where"):
        p = inspect.signature(getattr(VersionedParquetTable, meth)).parameters
        assert p["lazy"].default is False


def test_delta_store_sql_literal_rendering():
    """ADVICE r8 (low): CHECK constraint SQL interpolated Python repr —
    datetime.date(...) is not SQL and embedded quotes broke the
    statement. The literal renderer is pure (no delta-spark needed)."""
    import datetime
    import decimal
    import importlib

    lit = importlib.import_module(
        "odbc2deltalake_spark.delta_store"
    ).DeltaTableStore._sql_literal
    assert lit(True) == "TRUE" and lit(False) == "FALSE"
    assert lit(42) == "42" and lit(2.5) == "2.5"
    assert lit(decimal.Decimal("1.10")) == "1.10"
    assert lit(datetime.date(2026, 8, 15)) == "DATE '2026-08-15'"
    assert (
        lit(datetime.datetime(2026, 8, 15, 9, 30))
        == "TIMESTAMP '2026-08-15 09:30:00'"
    )
    assert lit("o'neill") == "'o''neill'"
    with _pytest.raises(ValueError):
        lit(object())


def test_delta_store_constraint_name_validated():
    """Same name grammar as the parquet store — no SQL injection via the
    constraint name. Checked before any session use, so it raises even
    without delta-spark installed."""
    import importlib

    mod = importlib.import_module("odbc2deltalake_spark.delta_store")
    store = object.__new__(mod.DeltaTableStore)  # skip delta import
    store.root = "/tmp/x"
    with _pytest.raises(ValueError, match="invalid constraint name"):
        store.set_check_constraint(None, "bad name; DROP", ("id", ">", 0))
    with _pytest.raises(ValueError, match="requires a predicate"):
        store.set_check_constraint(None, "ok_name", [])


def test_delta_store_parity_matrix_covers_full_public_surface():
    """VERDICT r9 #4: every public VersionedParquetTable capability has
    a DeltaTableStore row — pass-through, documented translation, or
    explicit refusal. Enumerated from the parquet store's live surface
    so a NEW public method cannot ship without a parity decision (this
    test fails listing it). Import-gated like the rest of the delta
    rows: signature checks and refusal raises need no delta-spark."""
    import importlib
    import inspect

    mod = importlib.import_module("odbc2deltalake_spark.delta_store")
    D = mod.DeltaTableStore
    V = VersionedParquetTable

    # documented translations / pass-throughs whose delta-side signature
    # must carry the parquet store's kwargs
    for meth, need in {
        "clone_to": {"dest", "version", "timestamp"},
        "drop_column": {"name"},
        "restore": {"version", "timestamp"},
        "read": {"version", "timestamp", "skip_where", "buckets"},
        "write": {"identity_col", "bloom_cols", "txn", "merge_schema",
                  "overwrite_schema", "partition_by"},
        "history": set(),
        "version_at_timestamp": {"ts"},
        "check_constraints": set(),
        "set_check_constraint": {"name", "predicate"},
        "drop_check_constraint": {"name"},
    }.items():
        sig = set(inspect.signature(getattr(D, meth)).parameters)
        missing = need - sig
        assert not missing, f"DeltaTableStore.{meth} lacks {missing}"

    # explicit refusals must raise NotImplementedError BEFORE any
    # session/table access — loud by construction
    with _pytest.raises(NotImplementedError):
        D.read_keys(None, None, [])
    with _pytest.raises(NotImplementedError):
        D.auto_maintain(None)

    # the matrix is exhaustive: every public parquet-store method is on
    # the delta store OR in this documented exemption map (the Delta
    # runtime's native home for the capability). A new method failing
    # here needs a parity decision, not a bigger exemption by reflex.
    exempt = {
        "analyze": "ANALYZE TABLE ... COMPUTE STATISTICS (engine-side)",
        "column_stats": "reads analyze's output — same native home",
        "buckets_for_keys": "bucket routing is parquet-store physical "
                            "layout; Delta prunes via stats/Z-order",
        "checkpoint": "the Delta runtime writes its own _last_checkpoint",
        "compact": "OPTIMIZE (bin-packing) via the Delta runtime",
        "fold_masks": "no lazy-mask plane on Delta: delete_where/"
                      "update_where are immediate merge-on-write",
        "fold_patches": "no patch plane: Delta MERGE routes "
                        "copy-on-write vs deletion vectors itself",
        "maintenance_report": "Delta surfaces this via DESCRIBE DETAIL "
                              "+ history, consumed by the runtime",
        "merge_delete_keys": "delete_keys kwarg on merge_upsert IS the "
                             "delta-side surface (whenMatchedDelete)",
        "read_changes": "native CDF: read with readChangeFeed=true",
        "read_changes_cdf": "same — requires delta.enableChangeDataFeed",
        "read_changes_fold": "IVM fold shape over the commit log; on "
                             "Delta consumers fold native CDF batches",
        "truncate_log": "delta.logRetentionDuration property",
    }
    pub = {
        n for n, f in vars(V).items()
        if callable(f) and not n.startswith("_")
    }
    dpub = {n for n in dir(D) if not n.startswith("_")}
    unmapped = sorted(pub - dpub - set(exempt))
    assert not unmapped, f"no parity row for {unmapped}"
    # exemptions must not go stale: each names a REAL parquet method
    stale = sorted(set(exempt) - pub)
    assert not stale, f"exempt rows for methods that no longer exist: {stale}"
    # and an exemption must not shadow an implemented method
    shadowed = sorted(set(exempt) & dpub)
    assert not shadowed, f"implemented but still exempt: {shadowed}"


def test_delta_check_constraint_sql_round_trips():
    """VERDICT r10 #4: the delta store's CHECK-constraint translation
    round-trips — the canonical SQL it emits for ADD CONSTRAINT parses
    back (from where Delta stores it: the delta.constraints.* table
    property) to the exact conjunct shape the parquet store's
    check_constraints() returns. Classmethod-level, so it runs without
    delta-spark installed — the grammar is the contract."""
    import datetime

    import importlib

    D = importlib.import_module("odbc2deltalake_spark.delta_store").DeltaTableStore

    cases = [
        [("qty", ">=", 0)],
        [("qty", ">", 0), ("price", "<=", 99.5)],
        [("flag", "=", True), ("state", "!=", "x'); DROP")],
        [("state", "in", ["a", "b''c", "d"])],
        [("n", "in", [1, 2, 3]), ("s", "<>", "it's")],
        [("d", ">=", datetime.date(2024, 1, 2))],
        [("ts", "<", datetime.datetime(2024, 1, 2, 3, 4, 5, 123456))],
    ]
    for conj in cases:
        sql = D._check_sql(conj)
        assert D._parse_check_sql(sql) == conj, (conj, sql)

    # a foreign (non-canonical) expression refuses loudly, never
    # misparses — enforcement still lives in the Delta runtime
    for foreign in ("qty > 0 OR price < 1", "length(s) < 10",
                    "`a` BETWEEN 1 AND 2"):
        with _pytest.raises(NotImplementedError):
            D._parse_check_sql(foreign)


def test_delta_check_constraint_grammar_property():
    """Hypothesis round-trip over the canonical constraint grammar:
    ANY conjunct list the parquet store accepts must survive
    render -> parse bit-exactly — including strings full of quotes,
    negative/expontent floats, and mixed IN lists."""
    import datetime
    import importlib

    from hypothesis import given, settings
    from hypothesis import strategies as st

    D = importlib.import_module(
        "odbc2deltalake_spark.delta_store"
    ).DeltaTableStore

    col = st.from_regex(r"[A-Za-z_][A-Za-z0-9_]{0,10}", fullmatch=True)
    scalar = st.one_of(
        st.integers(min_value=-(2**62), max_value=2**62),
        st.floats(allow_nan=False, allow_infinity=False, width=64),
        st.booleans(),
        st.text(max_size=12),
        st.dates(min_value=datetime.date(1, 1, 2)),
        st.datetimes(min_value=datetime.datetime(1, 1, 2)),
    )
    clause = st.one_of(
        st.tuples(col, st.sampled_from(["=", "!=", "<", "<=", ">", ">="]),
                  scalar),
        st.tuples(col, st.just("in"),
                  st.lists(scalar, min_size=1, max_size=4)),
    )

    @settings(max_examples=200, deadline=None, derandomize=True)
    @given(conj=st.lists(clause, min_size=1, max_size=4))
    def run(conj):
        conj = [tuple(c) for c in conj]
        # the degenerate all-NULL IN list renders as FALSE and is
        # documented non-round-trippable; keep at least one non-null
        for c, op, v in conj:
            if op == "in" and all(x is None for x in v):
                return
        sql = D._check_sql(conj)
        back = D._parse_check_sql(sql)
        want = [
            (c, op, [x for x in v if x is not None] if op == "in" else v)
            for c, op, v in conj
        ]
        assert len(back) == len(want)
        for (gc, gop, gv), (wc, wop, wv) in zip(back, want):
            assert (gc, gop) == (wc, wop)
            if wop == "in":
                assert len(gv) == len(wv)
                for g, w in zip(gv, wv):
                    _val_eq(g, w)
            else:
                _val_eq(gv, wv)

    def _val_eq(g, w):
        import math
        if isinstance(w, bool) or isinstance(g, bool):
            assert g == w
        elif isinstance(w, float):
            assert (math.isclose(g, w, rel_tol=0, abs_tol=0)
                    or str(g) == str(w)), (g, w)
        else:
            assert g == w, (g, w)

    run()


def _probe_route(spark, t, col, monkeypatch, probe="max_and_count"):
    """``t.<probe>(spark, col)`` (``max_and_count`` or ``min_and_nulls``),
    checked equal to the scan, and the route that answered it:
    "metadata" (commit log), "footer" (parquet footers) or "scan"."""
    import odbc2deltalake_spark.tablestore as ts

    sched = spark.sparkContext._jsc.sc().dagScheduler()
    answered = []
    real = ts.footer_col_stats

    def spy(files, c):
        got = real(files, c)
        answered.append(got is not None)
        return got

    monkeypatch.setattr(ts, "footer_col_stats", spy)
    j0 = sched.nextJobId()
    got = getattr(t, probe)(spark, col)
    jobs = sched.nextJobId() - j0
    monkeypatch.setattr(ts, "footer_col_stats", real)
    assert got == getattr(ts.TableStore, probe)(t, spark, col), col
    if jobs:
        return "scan"
    return "footer" if any(answered) else "metadata"


def test_max_and_count_from_commit_metadata(spark, tmp_path, monkeypatch):
    """Counted writes record the row count and exact bounds on their
    commit; max_and_count answers from them with zero jobs and equals the
    scan answer after every operation. Dirs rewritten without recording
    (compact, merges, plain writes) answer from their parquet footers;
    operations that leave a dir's numbers stale (masks, patches) fall
    back to the scan."""
    t = VersionedParquetTable(tmp_path / "t")

    def check(route):
        assert _probe_route(spark, t, "id", monkeypatch) == route

    t.write_counted_minmax(_df(spark, [(i, "a") for i in range(10)]), ["id"], mode="overwrite")
    check("metadata")
    assert t.max_and_count(spark, None) == (None, 10)
    v1, n, _ = t.write_counted_minmax(_df(spark, [(42, "b")]), ["id"], mode="append")
    assert n == 1
    check("metadata")
    v = t.version()
    assert t.write_counted_minmax(_df(spark, []), ["id"], mode="append") == (v, 0, {"id": (None, None)})
    assert t.version() == v  # a zero-row counted append commits nothing
    t.checkpoint()
    check("metadata")
    t.write(_df(spark, [(7, "c")]), mode="append")  # uncounted dir
    check("footer")
    t.restore(v1)  # the restored dirs carry their recorded numbers
    check("metadata")
    t.delete_where(spark, ("id", "=", 42), lazy=True)  # mask
    check("scan")
    t.fold_masks(spark)
    check("footer")
    t.write_counted_minmax(_df(spark, [(i, "d") for i in range(5)]), ["id"], mode="overwrite")
    t.write_counted_minmax(_df(spark, [(9, "e")]), ["id"], mode="append")
    t.compact(spark, out_partitions=1)
    check("footer")
    t.merge_upsert(spark, _df(spark, [(3, "f"), (99, "g")]), ["id"], num_buckets=4)
    t.merge_upsert(spark, _df(spark, [(98, "h")]), ["id"], strategy="patch")
    assert t._state_at()["patches"]
    check("scan")


def test_max_and_count_from_footers(spark, tmp_path, monkeypatch):
    """Bucketized merges, folds, compactions and restores record no
    counts, so the probe reads the live dirs' parquet footers: zero jobs
    and the scan's answer. Each case the footers cannot answer exactly
    falls back to the scan."""
    from odbc2deltalake_spark.tablestore import FsspecStorageBackend
    from tests.test_fsspec_backend import LocalLikeFS

    def route(t, col="id"):
        return _probe_route(spark, t, col, monkeypatch)

    t = VersionedParquetTable(tmp_path / "t")
    t.write(_df(spark, [(i, "a") for i in range(100)]), mode="overwrite")
    t.merge_upsert(spark, _df(spark, [(5, "b"), (500, "c")]), ["id"], num_buckets=4)
    v_merged = t.version()
    t.merge_upsert(spark, _df(spark, [(7, "d"), (700, "e")]), ["id"])  # partial
    assert route(t) == "footer" and route(t, None) == "footer"
    t.merge_upsert(spark, _df(spark, [(800, "f")]), ["id"], strategy="patch")
    assert route(t) == "scan"  # a patch chain changes rows in place
    t.fold_patches(spark)
    assert route(t) == "footer"
    t.delete_where(spark, ("id", "=", 7), lazy=True)
    assert route(t) == "scan"  # a mask hides rows the footers count
    t.restore(v_merged)
    assert route(t) == "footer"
    assert t.max_and_count(spark, "id") == (500, 101)
    assert route(t, "v") == "scan"  # non-integral column

    c = VersionedParquetTable(tmp_path / "c")
    for lo in (0, 10, 20):
        c.write(_df(spark, [(i, "a") for i in range(lo, lo + 10)]), mode="append")
    c.compact(spark, out_partitions=2)
    assert route(c) == "footer"

    # a live dir whose written schema lacks the column reads NULL there
    w = VersionedParquetTable(tmp_path / "w")
    w.write(_df(spark, [(1, "a"), (2, "b")]), mode="overwrite")
    w.write(
        spark.createDataFrame([(3, "c", 30)], "id long, v string, n long"),
        mode="append",
        merge_schema=True,
    )
    assert route(w, "n") == "scan" and route(w, "id") == "footer"

    # an all-NULL row group carries no min/max statistics
    z = VersionedParquetTable(tmp_path / "z")
    z.write(
        spark.createDataFrame([(1, "a", None)], "id long, v string, n long"),
        mode="overwrite",
    )
    assert route(z, "n") == "scan" and route(z, "id") == "footer"

    # footers of a non-local data plane are not read
    f = VersionedParquetTable(
        tmp_path / "f", backend=FsspecStorageBackend(LocalLikeFS())
    )
    f.write(_df(spark, [(1, "a")]), mode="overwrite")
    f.merge_upsert(spark, _df(spark, [(2, "b")]), ["id"], num_buckets=4)
    assert route(f) == "scan"


def test_min_and_nulls_from_metadata(spark, tmp_path, monkeypatch):
    """The current-rows prune probe, MIN(col) and the NULL count, answers
    from the NULL count a counted write records beside ``rows``/
    ``minmax``, or from the footers' row-group ``min`` and
    ``null_count``, with zero jobs and the scan's answer. A commit
    written before the count was recorded, a patch, a mask, a
    non-integral column and a non-local backend scan."""
    import json

    from odbc2deltalake_spark.tablestore import FsspecStorageBackend
    from tests.test_fsspec_backend import LocalLikeFS

    def route(t, col="id"):
        return _probe_route(spark, t, col, monkeypatch, probe="min_and_nulls")

    t = VersionedParquetTable(tmp_path / "t")
    t.write_counted_minmax(_df(spark, [(i, "a") for i in range(3, 10)]), ["id"], mode="overwrite")
    assert t._read_commit(0)["nulls"] == {"id": 0}
    assert route(t) == "metadata"
    assert t.min_and_nulls(spark, "id") == (3, 0)
    t.write_counted_minmax(_df(spark, [(None, "n"), (1, "b")]), ["id"], mode="append")
    assert route(t) == "metadata"
    assert t.min_and_nulls(spark, "id") == (1, 1)
    assert route(t, "v") == "scan"  # non-integral column
    t.merge_upsert(spark, _df(spark, [(2, "c")]), ["id"], num_buckets=4)
    assert route(t) == "footer"
    t.merge_upsert(spark, _df(spark, [(11, "d")]), ["id"], strategy="patch")
    assert route(t) == "scan"  # a patch chain changes rows in place
    t.fold_patches(spark)
    assert route(t) == "footer"
    t.delete_where(spark, ("id", "=", 2), lazy=True)
    assert route(t) == "scan"  # a mask hides rows the footers count

    # a counted commit from before the NULL count was recorded
    old = VersionedParquetTable(tmp_path / "old")
    old.write_counted_minmax(_df(spark, [(5, "a"), (6, "b")]), ["id"], mode="overwrite")
    path = tmp_path / "old" / "_commits" / "0000000000.json"
    commit = json.loads(path.read_text())
    del commit["nulls"]
    path.write_text(json.dumps(commit))
    assert route(old) == "scan"
    assert _probe_route(spark, old, "id", monkeypatch) == "metadata"

    f = VersionedParquetTable(
        tmp_path / "f", backend=FsspecStorageBackend(LocalLikeFS())
    )
    f.write(_df(spark, [(1, "a")]), mode="overwrite")
    f.merge_upsert(spark, _df(spark, [(2, "b")]), ["id"], num_buckets=4)
    assert route(f) == "scan"


def test_overwrite_resets_bucket_layout(spark, tmp_path):
    """An overwrite (or a restore) replaces the bucket layout along with
    the dirs: a plain overwrite of a bucketized table leaves no bucket
    count, so compaction and a later bucketization start afresh, also
    when the state is replayed from a checkpoint."""
    t = VersionedParquetTable(tmp_path / "t")
    t.write(_df(spark, [(1, "a"), (2, "b")]), mode="overwrite")
    t.merge_upsert(spark, _df(spark, [(3, "c")]), ["id"], num_buckets=2)
    v_bucketized = t.version()
    t.checkpoint()  # the checkpointed base still holds the layout
    assert t._state_at()["num_buckets"] == 2
    t.write(_df(spark, [(4, "d")]), mode="overwrite")
    keys = _df(spark, [(4, "d")]).select("id")

    def no_layout():
        for st in (t._state_at(), t._state_at(use_checkpoint=False)):
            layout = (st["num_buckets"], st["bucket_cols"], st["bucket_key_types"])
            assert layout == (None, None, None)
        assert t.buckets_for_keys(keys, ["id"]) is None

    no_layout()  # the overwrite replayed over the bucketized checkpoint
    t.checkpoint()
    no_layout()  # read back from a checkpoint of the overwritten state
    t.compact(spark, out_partitions=1)
    assert [tuple(r) for r in t.read(spark).collect()] == [(4, "d")]

    # a restore takes the layout of the version it restores
    t.restore(v_bucketized)
    assert t._state_at()["num_buckets"] == 2
    t.restore(0)
    assert t._state_at()["num_buckets"] is None
    t.merge_upsert(spark, _df(spark, [(5, "e")]), ["id"], num_buckets=4)
    assert t._state_at()["num_buckets"] == 4
    assert sorted(tuple(r) for r in t.read(spark).collect()) == [
        (1, "a"), (2, "b"), (5, "e"),
    ]
