"""Change-data-feed (`read_changes`) and `history()` on the versioned
store: incremental consumers read exactly the rows added after their
checkpointed version, and rewrite commits refuse to masquerade as
deltas."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from odbc2deltalake_spark.tablestore import VersionedParquetTable


def test_read_changes_returns_only_new_commits(spark, tmp_path):
    t = VersionedParquetTable(tmp_path / "t")
    for i in range(4):
        t.write(
            spark.range(i * 10, (i + 1) * 10).select(
                F.col("id"), F.lit(i).alias("batch")
            ),
            mode="append" if i else "overwrite",
        )
    # consumer checkpointed at version 1 → sees batches 2 and 3 only
    ch = t.read_changes(spark, from_version=1)
    rows = ch.collect()
    assert {r["batch"] for r in rows} == {2, 3}
    assert {r["_commit_version"] for r in rows} == {2, 3}
    assert len(rows) == 20
    # bounded range
    ch12 = t.read_changes(spark, from_version=1, to_version=2)
    assert {r["batch"] for r in ch12.collect()} == {2}
    # empty range → empty frame with the right schema
    none = t.read_changes(spark, from_version=t.version())
    assert none.count() == 0
    assert "_commit_version" in none.columns


def test_read_changes_projects_to_table_schema(spark, tmp_path):
    """A consumer reading across a schema-widening boundary sees every
    change projected to the final table schema (missing columns NULL)."""
    t = VersionedParquetTable(tmp_path / "t")
    t.write(spark.range(0, 5).select(F.col("id")), mode="overwrite")
    t.write(spark.range(5, 10).select(F.col("id")), mode="append")
    t.write(
        spark.range(10, 15).select(F.col("id"), F.lit("x").alias("tag")),
        mode="append",
        merge_schema=True,
    )
    ch = t.read_changes(spark, from_version=0)
    assert set(ch.columns) == {"id", "tag", "_commit_version"}
    got = {(r["id"], r["tag"]) for r in ch.collect()}
    assert got == {(i, None) for i in range(5, 10)} | {(i, "x") for i in range(10, 15)}


def test_read_changes_refuses_rewrites(spark, tmp_path):
    t = VersionedParquetTable(tmp_path / "t")
    t.write(spark.range(0, 5).select(F.col("id")), mode="overwrite")
    t.write(spark.range(5, 10).select(F.col("id")), mode="append")
    t.restore(0)  # a genuine row-set rewrite
    with pytest.raises(ValueError, match="not representable"):
        t.read_changes(spark, from_version=0)
    # but a range that stops before the rewrite still works
    assert t.read_changes(spark, from_version=0, to_version=1).count() == 5
    # r7: compaction is rows-preserving and passes through silently
    # (see test_compaction_is_transparent_to_change_feed)


def test_history_surfaces_audit_fields(spark, tmp_path):
    t = VersionedParquetTable(tmp_path / "t")
    t.write(spark.range(0, 5).select(F.col("id")), mode="overwrite")
    t.write(spark.range(5, 10).select(F.col("id")), mode="append")
    t.compact(spark, out_partitions=1)
    h = t.history()
    assert [c["version"] for c in h] == [2, 1, 0]
    assert h[0]["mode"] == "overwrite"
    assert h[0]["compacted_from"] == 1
    assert all("schema" not in c for c in h)


def test_compaction_is_transparent_to_change_feed(spark, tmp_path):
    """OPTIMIZE (full or partial) is a rows-preserving rewrite: the feed
    skips it (zero change rows) instead of forcing a re-baseline —
    Delta CDF's behavior for OPTIMIZE. Deletes still re-baseline."""
    from pyspark.sql import functions as F

    from odbc2deltalake_spark.streaming import (
        MaterializedAggregate,
        TableTailer,
    )
    from odbc2deltalake_spark.tablestore import VersionedParquetTable

    t = VersionedParquetTable(tmp_path / "t")

    def _load(lo, hi):
        return spark.range(lo, hi).select(
            (F.col("id") % 3).alias("g"), F.col("id").alias("v")
        )

    t.write(_load(0, 50), mode="append", stats_cols=["v"])
    t.write(_load(50, 100), mode="append", stats_cols=["v"])
    tail = TableTailer(t)
    tail.process_available(spark, lambda df, a, b: None)  # current at v1
    mv = MaterializedAggregate(
        t, tmp_path / "mv", group_cols=["g"],
        aggs={"n": ("count", None), "total": ("sum", "v")},
    )
    mv.refresh(spark)

    t.compact(spark, out_partitions=1)  # full OPTIMIZE (overwrite commit)
    t.write(_load(100, 120), mode="append", stats_cols=["v"])
    seen = []
    tail.process_available(spark, lambda df, a, b: seen.append(df.count()))
    assert seen == [20], "feed must deliver only the append, skip OPTIMIZE"
    assert tail.last_processed() == t.version()

    rng = mv.refresh(spark)  # incremental, NOT a re-baseline recompute
    assert rng is not None
    assert sorted(tuple(r) for r in mv.read(spark).collect()) == sorted(
        tuple(r) for r in mv.recompute(spark).collect()
    )

    t.compact(spark, where=("v", ">=", 100), out_partitions=1)  # partial
    t.write(_load(120, 130), mode="append", stats_cols=["v"])
    seen2 = []
    tail.process_available(spark, lambda df, a, b: seen2.append(df.count()))
    assert seen2 == [10]
    assert mv.refresh(spark) is not None
    assert sorted(tuple(r) for r in mv.read(spark).collect()) == sorted(
        tuple(r) for r in mv.recompute(spark).collect()
    )

    # a DML rewrite is NOT rows-preserving: feed still raises
    t.delete_where(spark, ("v", ">=", 125))
    import pytest

    with pytest.raises(ValueError):
        tail.process_available(spark, lambda df, a, b: None)


# ----------------------- r8: CDF with DML pre/post images -----------------


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_cdf_synthesizes_dml_changes(spark, tmp_path):
    t = VersionedParquetTable(tmp_path / "t")
    t.write(
        spark.createDataFrame(
            [(k, k * 10) for k in range(1, 5)], "k long, v long"
        ),
        stats_cols=["k"],
    )  # v0
    t.write(
        spark.createDataFrame([(5, 50), (6, 60)], "k long, v long"),
        stats_cols=["k"],
    )  # v1
    t.update_where(spark, {"v": "v * 2"}, ("k", "<=", 2))  # v2
    t.delete_where(spark, ("k", "=", 5))  # v3

    cdf = t.read_changes_cdf(spark, -1)
    by_type = {
        ct: _rows(
            cdf.filter(F.col("_change_type") == ct).select("k", "v")
        )
        for ct in (
            "insert", "update_preimage", "update_postimage", "delete"
        )
    }
    assert by_type["insert"] == [(k, k * 10) for k in range(1, 7)]
    assert by_type["update_preimage"] == [(1, 10), (2, 20)]
    assert by_type["update_postimage"] == [(1, 20), (2, 40)]
    assert by_type["delete"] == [(5, 50)]

    # tail-only read: just the DML rounds
    tail = t.read_changes_cdf(spark, 1)
    assert tail.filter("_change_type = 'insert'").count() == 0
    assert tail.count() == 5

    # folding the full CDF reproduces the live table: inserts + posts
    # minus deletes + pres
    adds = cdf.filter(
        F.col("_change_type").isin("insert", "update_postimage")
    ).select("k", "v")
    subs = cdf.filter(
        F.col("_change_type").isin("delete", "update_preimage")
    ).select("k", "v")
    folded = _rows(adds.exceptAll(subs))
    assert folded == _rows(t.read(spark))


def test_cdf_update_changing_predicate_column(spark, tmp_path):
    """The post-image can STOP matching the predicate (v < 0 set to 0) —
    synthesis applies the recorded SET to the pre-images, never
    re-filters the new dirs, so this case is exact."""
    t = VersionedParquetTable(tmp_path / "t")
    t.write(
        spark.createDataFrame([(1, -5), (2, 3)], "k long, v long"),
        stats_cols=["v"],
    )
    t.update_where(spark, {"v": "0"}, ("v", "<", 0))
    cdf = t.read_changes_cdf(spark, 0)
    assert _rows(cdf.select("k", "v", "_change_type")) == [
        (1, -5, "update_preimage"),
        (1, 0, "update_postimage"),
    ]


def test_cdf_column_set_exprs_not_representable(spark, tmp_path):
    t = VersionedParquetTable(tmp_path / "t")
    t.write(spark.createDataFrame([(1, 5)], "k long, v long"),
            stats_cols=["k"])
    t.update_where(spark, {"v": F.col("v") + 1}, ("k", "=", 1))
    assert t.read(spark).first()["v"] == 6  # the update itself works
    with pytest.raises(ValueError, match="not\\s+CDF-representable"):
        t.read_changes_cdf(spark, 0).count()


def test_cdf_on_bucketized_dml(spark, tmp_path):
    """Per-bucket DML rewrites synthesize the same pre/post images."""
    t = VersionedParquetTable(tmp_path / "t")
    t.merge_upsert(
        spark,
        spark.createDataFrame(
            [(k, k * 10) for k in range(20)], "k long, v long"
        ),
        key_cols=["k"],
        num_buckets=4,
    )
    base_v = t.version()
    t.delete_where(spark, ("k", "=", 7))
    cdf = t.read_changes_cdf(spark, base_v)
    assert _rows(cdf.select("k", "v", "_change_type")) == [
        (7, 70, "delete")
    ]


# ----------------------- r8: CDF across MERGE commits ----------------------


def test_cdf_on_merge_commit(spark, tmp_path):
    """A merge emits insert for new keys, pre/post for changed payloads,
    and NOTHING for matched-but-identical rows or rows that merely rode
    along in a rewritten bucket."""
    t = VersionedParquetTable(tmp_path / "t")
    t.merge_upsert(
        spark,
        spark.createDataFrame(
            [(k, k * 10) for k in range(8)], "k long, v long"
        ),
        key_cols=["k"],
        num_buckets=4,
    )
    base = t.version()
    t.merge_upsert(
        spark,
        spark.createDataFrame(
            [(100, 1000), (2, 999), (3, 30)], "k long, v long"
        ),
        key_cols=["k"],
    )
    cdf = t.read_changes_cdf(spark, base)
    assert _rows(cdf.select("k", "v", "_change_type")) == sorted(
        [
            (100, 1000, "insert"),
            (2, 20, "update_preimage"),
            (2, 999, "update_postimage"),
        ]
    )
    # folding the changes onto the base snapshot reproduces the live table
    folded = _rows(
        t.read(spark, version=base)
        .unionByName(
            cdf.filter(
                F.col("_change_type").isin("insert", "update_postimage")
            ).select("k", "v")
        )
        .exceptAll(
            cdf.filter(
                F.col("_change_type").isin("delete", "update_preimage")
            ).select("k", "v")
        )
    )
    assert folded == _rows(t.read(spark))


def test_cdf_merge_composite_keys(spark, tmp_path):
    t = VersionedParquetTable(tmp_path / "t")
    t.merge_upsert(
        spark,
        spark.createDataFrame(
            [(1, "a", 10), (1, "b", 20), (2, "a", 30)],
            "k1 long, k2 string, v long",
        ),
        key_cols=["k1", "k2"],
        num_buckets=2,
    )
    base = t.version()
    t.merge_upsert(
        spark,
        spark.createDataFrame(
            [(1, "b", 25), (3, "c", 99)], "k1 long, k2 string, v long"
        ),
        key_cols=["k1", "k2"],
    )
    cdf = t.read_changes_cdf(spark, base)
    assert _rows(cdf.select("k1", "k2", "v", "_change_type")) == sorted(
        [
            (1, "b", 20, "update_preimage"),
            (1, "b", 25, "update_postimage"),
            (3, "c", 99, "insert"),
        ]
    )


def test_cdf_merge_keys_only_table(spark, tmp_path):
    """Keys-only index (no payload columns): matched keys can never
    change, so a merge's CDF is pure inserts."""
    t = VersionedParquetTable(tmp_path / "t")
    t.merge_upsert(
        spark,
        spark.createDataFrame([(k,) for k in range(5)], "k long"),
        key_cols=["k"],
        num_buckets=2,
    )
    base = t.version()
    t.merge_upsert(
        spark,
        spark.createDataFrame([(3,), (9,)], "k long"),
        key_cols=["k"],
    )
    cdf = t.read_changes_cdf(spark, base)
    assert _rows(cdf.select("k", "_change_type")) == [(9, "insert")]


def test_cdf_merge_vacuumed_preimage_truncates(spark, tmp_path):
    from odbc2deltalake_spark.tablestore import ChangeFeedTruncatedError

    t = VersionedParquetTable(tmp_path / "t")
    t.merge_upsert(
        spark,
        spark.createDataFrame(
            [(k, k * 10) for k in range(8)], "k long, v long"
        ),
        key_cols=["k"],
        num_buckets=4,
    )
    base = t.version()
    t.merge_upsert(
        spark,
        spark.createDataFrame([(2, 999)], "k long, v long"),
        key_cols=["k"],
    )
    t.checkpoint(full=True)
    t.vacuum(retain_versions=1)
    with pytest.raises(ChangeFeedTruncatedError):
        t.read_changes_cdf(spark, base).count()


# ----------------------- one walker behind the three feeds -----------------


def _signed(plus, minus):
    """The multiset ``plus - minus`` of (k, v) rows, zero counts dropped."""
    from collections import Counter

    n = Counter(tuple(r) for df in plus for r in df.select("k", "v").collect())
    n.subtract(tuple(r) for df in minus for r in df.select("k", "v").collect())
    return {row: c for row, c in n.items() if c}


def test_three_feeds_agree_on_every_commit_kind(spark, tmp_path, monkeypatch):
    """One table carries a commit of every kind the feeds tell apart, and
    read_changes, read_changes_cdf and read_changes_fold agree on it.
    compact() refuses a bucketized table, so the compaction lands first
    and the first merge then bucketizes the table in an overwrite, which
    no feed represents; the identities are checked on either side of it.
    A range with a log hole raises ChangeFeedTruncatedError from all
    three feeds, whatever else the range holds."""
    from odbc2deltalake_spark.tablestore import ChangeFeedTruncatedError

    monkeypatch.setattr(VersionedParquetTable, "PATCH_MIN_TABLE_ROWS", 1)
    t = VersionedParquetTable(tmp_path / "t")

    def rows(ks, mul=10):
        return spark.createDataFrame([(k, k * mul) for k in ks], "k long, v long")

    t.write(rows(range(30)), mode="overwrite")  # v0
    t.write(rows(range(30, 36)), mode="append")  # v1
    t.set_properties({"owner": "feeds"})  # v2: metadata-only append
    t.compact(spark, out_partitions=1)  # v3
    t.merge_upsert(spark, rows([36, 37]), ["k"], num_buckets=4)  # v4
    t.delete_where(spark, ("k", "=", 3))  # v5
    t.update_where(spark, {"v": "v + 1"}, ("k", "<=", 1))  # v6
    t.delete_where(spark, ("k", "=", 5), lazy=True)  # v7
    t.update_where(spark, {"v": "v * 2"}, ("k", ">=", 34), lazy=True)  # v8
    t.fold_masks(spark)  # v9
    t.merge_upsert(spark, rows([2, 40, 41], mul=7), ["k"])  # v10
    t.merge_upsert(  # v11: a tombstone on a present and an absent key
        spark,
        rows([4, 50], mul=3),
        ["k"],
        delete_keys=spark.createDataFrame([(6,), (99,)], "k long"),
        strategy="auto",
    )
    t.fold_patches(spark)  # v12
    t.write(rows(range(60, 63)), mode="append")  # v13
    h = {c["version"]: c for c in t.history()}
    assert [h[v]["mode"] for v in range(14)] == [
        "overwrite", "append", "append", "overwrite", "overwrite",
        "restore", "restore", "mask", "mask", "restore", "merge",
        "patch", "merge", "append",
    ]
    assert h[2]["dir"] is None and "compacted_from" in h[3]
    assert h[5]["dml_op"] == "delete" and h[6]["dml_op"] == "update"
    assert "masks_folded" in h[9] and "patches_folded" in h[12]

    # append-only sub-ranges: the append feed is the CDF's inserts
    for lo, hi in [(0, 3), (12, 13)]:
        plain = _rows(
            t.read_changes(spark, lo, hi).select("k", "v", "_commit_version")
        )
        cdf = t.read_changes_cdf(spark, lo, hi)
        assert plain and plain == _rows(
            cdf.filter(F.col("_change_type") == "insert").select(
                "k", "v", "_commit_version"
            )
        )
        assert cdf.filter(F.col("_change_type") != "insert").count() == 0

    # the fold's adds - subs is the CDF's net change, and both are the
    # difference of the snapshots at the range's ends
    for lo, hi in [(0, 3), (4, 13)]:
        cdf = t.read_changes_cdf(spark, lo, hi)

        def ct(*kinds):
            return cdf.filter(F.col("_change_type").isin(*kinds))

        adds, subs, _cost = t.read_changes_fold(spark, lo, hi)
        net = _signed(
            [ct("insert", "update_postimage")], [ct("delete", "update_preimage")]
        )
        assert net == _signed([adds], [subs])
        assert net == _signed(
            [t.read(spark, version=hi)], [t.read(spark, version=lo)]
        )
    # the unrepresentable bucketizing overwrite splits the two halves
    with pytest.raises(ValueError, match="not representable"):
        t.read_changes_cdf(spark, 3, 4)

    # a log hole wins over every commit that follows it, the restore
    # (and, for read_changes, the merge) included
    t.restore(12)  # v14
    t.checkpoint(8)
    t.truncate_log(before_version=9)
    for feed in (t.read_changes, t.read_changes_cdf, t.read_changes_fold):
        with pytest.raises(ChangeFeedTruncatedError, match="re-baseline"):
            feed(spark, 4)


def test_feeds_resolve_each_prior_state_once(spark, tmp_path, monkeypatch):
    """read_changes_cdf and read_changes_fold replay the log to the state
    before each merge, patch, mask and DML commit once per feed call, and
    not at all for an append."""
    from collections import Counter

    monkeypatch.setattr(VersionedParquetTable, "PATCH_MIN_TABLE_ROWS", 1)
    t = VersionedParquetTable(tmp_path / "t")

    def rows(ks, mul=10):
        return spark.createDataFrame([(k, k * mul) for k in ks], "k long, v long")

    t.write(rows(range(20)), mode="overwrite")  # v0
    t.merge_upsert(spark, rows([20]), ["k"], num_buckets=4)  # v1: bucketizes
    t.merge_upsert(spark, rows([2, 21], mul=7), ["k"])  # v2: merge
    t.merge_upsert(spark, rows([4], mul=3), ["k"], strategy="auto")  # v3: patch
    t.fold_patches(spark)  # v4
    t.delete_where(spark, ("k", "=", 3))  # v5: DML delete
    t.update_where(spark, {"v": "v + 1"}, ("k", "<=", 1))  # v6: DML update
    t.delete_where(spark, ("k", "=", 5), lazy=True)  # v7: mask
    t.write(rows([30]), mode="append")  # v8
    modes = {c["version"]: c["mode"] for c in t.history()}
    assert [modes[v] for v in range(2, 9)] == [
        "merge", "patch", "merge", "restore", "restore", "mask", "append",
    ]
    calls: Counter = Counter()
    real = VersionedParquetTable._state_at

    def counting(self, version=None, use_checkpoint=True):
        calls[version] += 1
        return real(self, version, use_checkpoint)

    monkeypatch.setattr(VersionedParquetTable, "_state_at", counting)
    # v4 folds patches (rows-preserving, skipped); v8 is an append
    want = {v - 1: 1 for v in (2, 3, 5, 6, 7)}
    for feed in (t.read_changes_cdf, t.read_changes_fold):
        calls.clear()
        feed(spark, 1, 8)
        assert {v: n for v, n in calls.items() if v is not None and v < 8} == want
