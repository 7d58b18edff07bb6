"""JDBC source SQL-generation tests (no database in this container — the
generated SQL strings are the contract; the reads are plain
``spark.read.format("jdbc")`` wherever a driver jar exists)."""

from __future__ import annotations

from odbc2deltalake_spark.metadata import ColInfo
from odbc2deltalake_spark.sources.jdbc import JDBCSource, _rebuild_type_str, _sql_type_to_spark

from pyspark.sql import types as T


def _tsql():
    return JDBCSource("jdbc:sqlserver://h;db=x", table=("dbo", "user2$"), dialect="tsql")


def _pg():
    return JDBCSource("jdbc:postgresql://h/x", table=("public", "user"), dialect="postgres")


def test_identifier_quoting():
    assert _tsql().from_clause() == "[dbo].[user2$] t"
    assert _pg().from_clause() == '"public"."user" t'


def test_query_source_wrap():
    s = JDBCSource(
        "jdbc:sqlserver://h", query="select * from dbo.[user] where age > 50"
    )
    assert s.from_clause() == "(select * from dbo.[user] where age > 50) t"


def test_delta_criterion_rowversion_cast():
    s = _tsql()
    s._col_cache = [ColInfo("rv", T.LongType(), "rowversion")]
    assert s.delta_criterion_sql("rv", 1000) == "CAST(t.[rv] AS BIGINT) > 1000"


def test_delta_criterion_xid_wraparound_serial_compare():
    """Dialect edge (VERDICT r6 #8): postgres xid is a modulo-2^32
    counter — the watermark compare must use serial-number arithmetic or
    every post-wraparound delta is silently missed. Pins the generated
    SQL shape, then EXECUTES it in DuckDB over xid values on both sides
    of the wrap to prove the modular semantics."""
    import duckdb

    s = _pg()
    s._col_cache = [ColInfo("xmin", T.LongType(), "xid")]
    sql = s.delta_criterion_sql("xmin", 7)
    assert 'CAST(CAST(t."xmin" AS TEXT) AS BIGINT)' in sql
    assert "% 4294967296" in sql and "2147483647" in sql
    assert ">= 3" in sql  # bootstrap/frozen xids are never deltas

    def selected(watermark, op=">"):
        crit = s.delta_criterion_sql("xmin", watermark, op)
        # the criterion references t."xmin" (already bigint in the probe
        # table) — strip the dialect double-cast for the DuckDB harness
        crit = crit.replace('CAST(CAST(t."xmin" AS TEXT) AS BIGINT)', 't."xmin"')
        rows = duckdb.sql(
            "SELECT x FROM (VALUES (2), (3), (100), (4294967000), "
            "(4294967295), (10), (2000000000)) t(x) "
            f'WHERE {crit.replace(chr(116) + chr(46) + chr(34) + "xmin" + chr(34), "x")} '
            "ORDER BY x"
        ).fetchall()
        return [r[0] for r in rows]

    # pre-wrap watermark near the top of the range: the numerically
    # SMALL post-wrap xids (3, 10, 100) are "after" it — as is any value
    # within the 2^31 forward half-window (2000000000 here); special
    # xids (2) are not
    assert selected(4294967000) == [3, 10, 100, 2000000000, 4294967295]
    # ordinary mid-range watermark behaves like a plain > compare
    assert selected(50) == [100, 2000000000]
    # >= includes the watermark itself
    assert selected(100, op=">=") == [100, 2000000000]
    # far-older rows (> 2^31 behind) are excluded, not wrapped forward
    assert 2 not in selected(1)


def test_keyset_values_join():
    s = _tsql()
    sql = s.keyset_join_sql([{"id": 1}, {"id": 2}], ["id"])
    assert "INNER JOIN (VALUES (1), (2)) AS k ([id])" in sql
    assert "t.[id] = k.[id]" in sql


def test_keyset_string_quoting():
    s = _tsql()
    sql = s.keyset_join_sql([{"k": "O'Neil"}], ["k"])
    assert "(VALUES ('O''Neil'))" in sql


def test_information_schema_sql_shape():
    sql = _tsql().information_schema_sql()
    assert "INFORMATION_SCHEMA.COLUMNS" in sql and "sys.columns" in sql
    assert "WITH(NOLOCK)" in sql and "generated_always_type_desc" in sql
    sql_pg = _pg().information_schema_sql()
    assert "information_schema.columns" in sql_pg


def test_primary_keys_sql_shape():
    sql = _tsql().primary_keys_sql()
    assert "TABLE_CONSTRAINTS" in sql and "CONSTRAINT_COLUMN_USAGE" in sql
    assert "'PRIMARY KEY'" in sql


def test_type_str_rebuild():
    assert _rebuild_type_str({"data_type": "varchar", "character_maximum_length": -1}) == "varchar(MAX)"
    assert _rebuild_type_str({"data_type": "decimal", "numeric_precision": 15, "numeric_scale": 3}) == "decimal(15,3)"
    assert _rebuild_type_str({"data_type": "datetime2", "datetime_precision": 6}) == "datetime2(6)"


def test_sql_type_to_spark():
    assert _sql_type_to_spark("decimal(15,3)") == T.DecimalType(15, 3)
    assert _sql_type_to_spark("bit") == T.BooleanType()
    assert _sql_type_to_spark("uniqueidentifier") == T.StringType()


def test_select_sql_emits_rowversion_cast():
    """tsql rowversion is BINARY(8) on the wire; Spark cannot cast
    BINARY->BIGINT, so the conversion must be in the generated SELECT
    (reference:odbc2deltalake/db_to_delta.py:73-87)."""
    s = _tsql()
    s._col_cache = [
        ColInfo("id", T.IntegerType(), "int"),
        ColInfo("rv", T.LongType(), "rowversion"),
    ]
    sql = s.select_sql()
    assert "CAST(t.[rv] AS BIGINT) AS [rv]" in sql
    assert "t.[id]" in sql and "t.*" not in sql
    # explicit column list too (read_keys path)
    sql_keys = s.select_sql(columns=["id", "rv"])
    assert "CAST(t.[rv] AS BIGINT) AS [rv]" in sql_keys


def test_select_sql_emits_xmin_cast():
    s = _pg()
    s._col_cache = [
        ColInfo("id", T.IntegerType(), "integer"),
        ColInfo("xmin", T.LongType(), "xid"),
    ]
    sql = s.select_sql()
    assert 'CAST(CAST(t."xmin" AS TEXT) AS BIGINT) AS "xmin"' in sql


def test_select_sql_star_when_unknown():
    s = _tsql()
    assert s.select_sql() == "SELECT t.* FROM [dbo].[user2$] t"


def test_max_and_count_converts_rowversion():
    """MAX() over the raw rowversion is binary-max; the watermark must be
    the converted bigint (ADVICE r1, high)."""
    s = _tsql()
    s._col_cache = [ColInfo("rv", T.LongType(), "rowversion")]
    inner = s._hidden_convert_expr("rv")
    assert inner == "CAST(t.[rv] AS BIGINT)"


def test_delta_criterion_ge_operator():
    s = _tsql()
    s._col_cache = [ColInfo("rv", T.LongType(), "rowversion")]
    assert s.delta_criterion_sql("rv", 5, ">=") == "CAST(t.[rv] AS BIGINT) >= 5"


def test_keyset_join_sqls_chunking():
    """Statements stay under the 7000-char cap by recursive halving
    (reference:odbc2deltalake/db_to_delta.py:966-983)."""
    s = _tsql()
    keys = [{"k": f"some-rather-long-key-value-{i:06d}"} for i in range(500)]
    sqls = s.keyset_join_sqls(keys, ["k"], max_len=2000)
    assert len(sqls) > 1
    assert all(len(q) <= 2000 for q in sqls)
    # every key appears in exactly one chunk
    total = sum(q.count("some-rather-long-key-value-") for q in sqls)
    assert total == 500


def test_linked_server_openquery_wrap():
    """Linked-server proxy wraps statements in openquery with quote
    escaping (reference:odbc2deltalake/reader/spark_reader.py:190-195)."""
    s = JDBCSource(
        "jdbc:sqlserver://h",
        table=("dbo", "tbl"),
        dialect="tsql",
        linked_server_proxy="REMOTESRV",
    )
    wrapped = s._proxy("SELECT * FROM [dbo].[tbl] t WHERE name = 'x'")
    assert wrapped.startswith("select * from openquery([REMOTESRV], '")
    assert "''x''" in wrapped


def test_physical_table_probe_sql():
    sql = _pg().physical_table_sql()
    assert "information_schema.tables" in sql
    assert "LOWER(table_schema) = LOWER('public')" in sql
    assert "LOWER(table_name) = LOWER('user')" in sql


def test_xmin_hidden_col_injection():
    """postgres physical tables fall back to the hidden xmin column and
    inject it into the column list
    (reference:odbc2deltalake/write_init.py:159-167,255-261)."""
    s = _pg()
    s._col_cache = [ColInfo("id", T.IntegerType(), "integer")]
    s.is_physical_table = lambda spark: True  # no DB in sandbox
    assert s.default_delta_col(None) == "xmin"
    names = [c.column_name for c in s._col_cache]
    assert names == ["id", "xmin"]
    xmin = s._col_cache[-1]
    assert xmin.data_type_str == "xid" and xmin.data_type == T.LongType()
    # the extraction SELECT now includes the converted hidden column
    assert 'CAST(CAST(t."xmin" AS TEXT) AS BIGINT) AS "xmin"' in s.select_sql()


def test_xmin_not_injected_for_view():
    s = _pg()
    s._col_cache = [ColInfo("id", T.IntegerType(), "integer")]
    s.is_physical_table = lambda spark: False
    assert s.default_delta_col(None) is None
    assert [c.column_name for c in s._col_cache] == ["id"]


def test_describe_first_result_set_sql():
    """tsql query-source schema probe (reference:odbc2deltalake/metadata.py:155-177):
    TVF form for the JDBC subquery wrapper, EXEC form for ODBC-style
    clients; embedded single quotes doubled."""
    s = JDBCSource(
        "jdbc:sqlserver://h",
        query="select id, name from dbo.t where tag = 'x'",
        dialect="tsql",
    )
    tvf = s.describe_first_result_set_sql()
    assert "sys.dm_exec_describe_first_result_set(N'select id, name from dbo.t where tag = ''x''', NULL, 0)" in tvf
    assert tvf.startswith("SELECT name, system_type_name")
    assert "ORDER BY column_ordinal" in tvf
    proc = s.describe_first_result_set_sql(as_proc=True)
    assert proc == (
        "EXEC sp_describe_first_result_set "
        "N'select id, name from dbo.t where tag = ''x''', NULL, 0"
    )


def test_describe_first_result_set_tsql_only():
    import pytest

    s = JDBCSource("jdbc:postgresql://h/x", query="select 1", dialect="postgres")
    with pytest.raises(ValueError):
        s.describe_first_result_set_sql()


def test_query_source_probe_falls_back_to_limit0(spark):
    """When the DMV probe errors (no VIEW SERVER STATE, pre-2012 server),
    col_infos silently falls back to the WHERE-1=0 probe."""
    probes = []

    class FakeJdbc(JDBCSource):
        def _jdbc(self, spark_, sql, partitioned=False):
            probes.append(sql)
            if "dm_exec_describe_first_result_set" in sql:
                raise RuntimeError("VIEW SERVER STATE permission denied")
            assert "WHERE 1=0" in sql
            return spark_.createDataFrame([], "id long, name string")

    s = FakeJdbc("jdbc:sqlserver://h", query="select * from dbo.t", dialect="tsql")
    infos = s.col_infos(spark)
    assert [c.column_name for c in infos] == ["id", "name"]
    assert any("dm_exec_describe_first_result_set" in p for p in probes)
    assert any("WHERE 1=0" in p for p in probes)


def test_query_source_probe_uses_dmv_rows(spark):
    """DMV rows map to ColInfos: exact server type strings resolve through
    the tsql type map; hidden columns are dropped; identity flag carried."""

    class FakeJdbc(JDBCSource):
        def _jdbc(self, spark_, sql, partitioned=False):
            assert "dm_exec_describe_first_result_set" in sql
            return spark_.createDataFrame(
                [
                    ("id", "bigint", False, True, False, 1),
                    ("name", "nvarchar(50)", True, False, False, 2),
                    ("__rv", "timestamp", False, False, True, 3),  # hidden
                ],
                "name string, system_type_name string, is_nullable boolean, "
                "is_identity_column boolean, is_hidden boolean, column_ordinal int",
            )

    s = FakeJdbc("jdbc:sqlserver://h", query="select * from dbo.t", dialect="tsql")
    infos = s.col_infos(spark)
    assert [c.column_name for c in infos] == ["id", "name"]
    byname = {c.column_name: c for c in infos}
    assert byname["id"].is_identity and not byname["id"].is_nullable
    assert isinstance(byname["id"].data_type, T.LongType)
    assert isinstance(byname["name"].data_type, T.StringType)
    assert byname["name"].data_type_str == "nvarchar(50)"


def test_keyset_join_sql_rejects_empty_keys():
    import pytest

    with pytest.raises(ValueError):
        _tsql().keyset_join_sql([], ["id"])


def test_keyset_join_collation_pin_for_string_keys():
    """Dialect edge (conformance corpus growth): tsql string-key joins
    carry COLLATE Latin1_General_100_BIN so the server compares keys
    byte-exactly like Spark does — default SQL Server collations are
    case-insensitive and would match keys ('a' vs 'A') the engine
    treats as distinct (reference:odbc2deltalake/db_to_delta.py:913-916)."""
    s = _tsql()
    s._col_cache = [
        ColInfo("code", T.StringType(), "varchar(10)"),
        ColInfo("n", T.IntegerType(), "int"),
    ]
    sql = s.keyset_join_sql([{"code": "a", "n": 1}], ["code", "n"])
    assert "t.[code] COLLATE Latin1_General_100_BIN = k.[code]" in sql
    assert "t.[n] = k.[n]" in sql  # non-string keys: no pin

    # postgres compares bytewise already: no collate clause
    p = _pg()
    p._col_cache = [ColInfo("code", T.StringType(), "varchar")]
    psql = p.keyset_join_sql([{"code": "a"}], ["code"])
    assert "COLLATE" not in psql


def test_xid_freeze_event_does_not_reextract(tmp_path):
    """Dialect edge (VERDICT r8 #8): VACUUM FREEZE re-stamps old
    committed rows' xmin to FrozenTransactionId (xid 2). A frozen row
    must NEVER satisfy the delta criterion — the reference's xid cast
    path (reference:odbc2deltalake/db_to_delta.py:73-77,
    reference:odbc2deltalake/write_init.py:222-251) likewise never sees
    frozen xids as new deltas. Simulates the full lifecycle in DuckDB:
    extract at watermark, freeze everything, insert new rows, and assert
    the next delta selects ONLY the new rows."""
    import duckdb

    s = _pg()
    s._col_cache = [ColInfo("xmin", T.LongType(), "xid")]

    con = duckdb.connect()
    con.sql("CREATE TABLE src (id BIGINT, xmin BIGINT)")
    # initial state: rows committed under xids 100..104
    con.sql(
        "INSERT INTO src SELECT i, 100 + i FROM range(5) t(i)"
    )
    watermark = 104  # MAX(xmin) recorded by the last extraction

    def delta(w):
        crit = s.delta_criterion_sql("xmin", w).replace(
            'CAST(CAST(t."xmin" AS TEXT) AS BIGINT)', '"xmin"'
        )
        return [
            r[0]
            for r in con.sql(
                f"SELECT id FROM src WHERE {crit} ORDER BY id"
            ).fetchall()
        ]

    assert delta(watermark) == []  # caught up
    # VACUUM FREEZE: every committed row re-stamps to xid 2
    con.sql("UPDATE src SET xmin = 2")
    assert delta(watermark) == [], "freeze must not re-extract the table"
    # new activity after the freeze
    con.sql("INSERT INTO src VALUES (100, 105), (101, 106)")
    assert delta(watermark) == [100, 101]
    # and the same holds POST-WRAPAROUND: watermark near 2^32, frozen
    # rows at 2 stay excluded while small post-wrap xids select
    con.sql("UPDATE src SET xmin = 2 WHERE id < 100")
    con.sql("UPDATE src SET xmin = 5 WHERE id >= 100")  # post-wrap commits
    assert delta(4294967000) == [100, 101]
    # the documented LOSS mode (SCALE.md §CDC): a row committed after
    # the watermark but frozen before the next extraction is invisible —
    # the criterion is working as designed; recovery is a full load
    con.sql("INSERT INTO src VALUES (200, 107)")
    con.sql("UPDATE src SET xmin = 2 WHERE id = 200")  # froze too early
    assert 200 not in delta(watermark)


def test_rowversion_keyset_values_roundtrip_bit_exact():
    """Dialect edge (VERDICT r9 #7): a binary(8) rowversion key in the
    VALUES derived table must round-trip BIT-EXACTLY through the
    engine's bigint normalization — including 0x7FFFFFFFFFFFFFFF+ where
    a signed bigint flips negative. The generated join compares
    ``CAST(t.[rv] AS BIGINT) = k.[rv]`` (the same conversion the
    extraction SELECT pins), and the bytes→literal chain matches the
    reference's raw-bytes watermark handling
    (reference:odbc2deltalake/load_infos.py:39-41). Shape asserted,
    then EXECUTED in DuckDB: ``BLOB::BITSTRING::BIGINT`` reproduces
    T-SQL's big-endian two's-complement CAST exactly, so real 8-byte
    payloads prove the chain end to end."""
    import duckdb

    from odbc2deltalake_spark.sources.jdbc import (
        rowversion_to_bigint,
        sql_quote_value,
    )

    # --- normalization: signed two's complement, bit-exact both sides
    # of the 2^63 boundary; bytearray coerced like the reference
    assert rowversion_to_bigint(bytes.fromhex("0000000000000005")) == 5
    assert rowversion_to_bigint(bytearray.fromhex("ffffffffffffffff")) == -1
    assert (
        rowversion_to_bigint(bytes.fromhex("8000000000000000"))
        == -(2**63)
    )
    # bigint normalization is COLUMN-typed, not value-typed (ADVICE
    # r10): only a rowversion/timestamp column routes bytes through
    # rowversion_to_bigint; plain sql_quote_value emits raw binary
    # literals so non-rowversion (var)binary keys of any length still
    # quote, and an 8-byte one compares binary-to-binary
    assert sql_quote_value(bytes.fromhex("7fffffffffffffff")) == "0x7fffffffffffffff"
    assert sql_quote_value(b"\x01\x02\x03") == "0x010203"
    assert (
        sql_quote_value(b"\x01\x02", dialect="postgres") == "'\\x0102'::bytea"
    )
    _rv_src = _tsql()
    _rv_src._col_cache = [
        ColInfo("rv", T.LongType(), "rowversion", False),
        ColInfo("vb", T.BinaryType(), "varbinary(16)", False),
    ]
    assert _rv_src._quote_for("rv", bytes.fromhex("7fffffffffffffff")) == str(
        2**63 - 1
    )
    assert (
        _rv_src._quote_for("vb", bytes.fromhex("00112233445566778899aabbccddeeff"))
        == "0x00112233445566778899aabbccddeeff"
    )

    # --- generated shape: the t-side carries the bigint cast, the
    # VALUES row carries the normalized literal
    s = _tsql()
    s._col_cache = [
        ColInfo("id", T.LongType(), "bigint", False),
        ColInfo("rv", T.LongType(), "rowversion", False),
    ]
    hi = bytes.fromhex("fffffffffffffffe")  # > 2^63: signed flip range
    lo = bytes.fromhex("00000000000003e8")  # 1000
    sql = s.keyset_join_sql(
        [{"id": 1, "rv": lo}, {"id": 2, "rv": hi}], ["id", "rv"]
    )
    assert "CAST(t.[rv] AS BIGINT) = k.[rv]" in sql
    assert "t.[id] = k.[id]" in sql
    assert f"(1, {rowversion_to_bigint(lo)}), (2, {rowversion_to_bigint(hi)})" in sql

    # --- execute in DuckDB over REAL binary(8) payloads: rows carry
    # blobs; T-SQL's CAST(binary(8) AS BIGINT) == BLOB::BITSTRING::BIGINT
    con = duckdb.connect()
    con.sql(
        "CREATE TABLE src AS SELECT * FROM (VALUES "
        "(1, from_hex('00000000000003e8')), "   # matches key (1, lo)
        "(2, from_hex('fffffffffffffffe')), "   # matches key (2, hi)
        "(3, from_hex('fffffffffffffffe')), "   # right rv, wrong id
        "(2, from_hex('7ffffffffffffffe'))"     # right id, wrong rv —
        # differs from hi ONLY in the sign bit: an unsigned or
        # truncating chain would collide exactly here
        ") v(id, rv)"
    )
    dd = (
        sql.replace("CAST(t.[rv] AS BIGINT)", "CAST(t.rv::BITSTRING AS BIGINT)")
        .replace("[dbo].[user2$]", "src")
        .replace("[id]", "id").replace("[rv]", "rv")
        .replace("t.[", "t.").replace("]", "")
    )
    # keep only the join scaffold: project the key cols
    dd = "SELECT t.id, CAST(t.rv::BITSTRING AS BIGINT) AS rv_big FROM " + dd.split(" FROM ", 1)[1]
    got = sorted(con.sql(dd).fetchall())
    assert got == [(1, 1000), (2, rowversion_to_bigint(hi))]
    # and the normalized value maps back to the exact original bytes
    assert rowversion_to_bigint(hi).to_bytes(8, "big", signed=True) == hi


def test_datetime2_7_watermark_rewind_duplicates_never_loss():
    """Dialect edge (VERDICT r10 #5): temporal-table ROW START columns
    are datetime2(7) (100 ns ticks) while the engine's type map — like
    the reference's datetime2 → datetime2(6)
    (reference:odbc2deltalake/write_init.py:29-38) — stores the
    watermark at Spark micros. Depending on the path, the stored max is
    the FLOOR (arrow/parquet truncation) or the ROUND-HALF-UP (T-SQL
    CONVERT to lower precision) of the true 100 ns max; a rounded-up
    watermark with ``>`` silently LOSES every row in
    (true_max, rounded]. The criterion therefore rewinds a
    >6-precision temporal watermark by exactly 1 µs. EXECUTED in
    DuckDB over real TIMESTAMP_NS payloads: under BOTH rounding modes
    every post-watermark row extracts (never loss), and the
    re-extraction window is the bounded ≤2 µs boundary bucket the
    MERGE upsert absorbs (duplicate-not-loss)."""
    import datetime

    import duckdb

    # --- generated shape: the rewind applies only to tsql datetime2
    # with precision 7 (bare datetime2 IS datetime2(7)); micros
    # precision and non-temporal types are untouched
    w = datetime.datetime(2024, 1, 1, 0, 0, 0, 123456)
    s = _tsql()
    s._col_cache = [
        ColInfo("rs7", T.TimestampType(), "datetime2(7)", False),
        ColInfo("rs", T.TimestampType(), "datetime2", False),
        ColInfo("rs6", T.TimestampType(), "datetime2(6)", False),
    ]
    assert "2024-01-01 00:00:00.123455" in s.delta_criterion_sql("rs7", w)
    assert "2024-01-01 00:00:00.123455" in s.delta_criterion_sql("rs", w)
    assert "2024-01-01 00:00:00.123456" in s.delta_criterion_sql("rs6", w)

    # --- execute against 100 ns-precision data. True server-side max
    # after the first load is .1234567; its micros floor is .123456,
    # its T-SQL CONVERT(datetime2(6)) round is .123457 — the dangerous
    # one. Rows 4 and 5 arrive AFTER the first load, 100 ns and 400 ns
    # above the true max: a rounded-up watermark with a plain > MISSES
    # both; the rewound criterion must fetch them.
    con = duckdb.connect()
    # the comparison domain is ns TICKS as bigints (this duckdb build's
    # TIMESTAMP_NS literal parser truncates to micros, which would
    # silently destroy the 100 ns payload under test — same bigint-
    # domain technique as the rowversion pin above); a datetime2(7)
    # column compared against a micros literal behaves identically to
    # ns_ticks > epoch_ns(literal)
    base_ns = 1704067200_000000000  # 2024-01-01 00:00:00 UTC
    rows = {
        1: base_ns + 123_450_0 * 100,   # .1234500
        2: base_ns + 123_456_1 * 100,   # .1234561
        3: base_ns + 123_456_7 * 100,   # .1234567  — 1st-load max
        4: base_ns + 123_456_8 * 100,   # .1234568  — post-load
        5: base_ns + 123_457_1 * 100,   # .1234571  — post-load
    }
    con.sql("CREATE TABLE src (id INT, rs7 BIGINT)")
    con.sql(
        "INSERT INTO src VALUES "
        + ", ".join(f"({i}, {v})" for i, v in rows.items())
    )
    # the payload really is 100 ns-granular (guards the harness itself)
    assert con.sql(
        "SELECT count(DISTINCT rs7) FROM src WHERE id IN (2,3,4)"
    ).fetchone()[0] == 3

    def extracted(watermark: datetime.datetime) -> set[int]:
        sql = s.delta_criterion_sql("rs7", watermark)
        # adapt the T-SQL shape to DuckDB: strip brackets, lift the
        # quoted micros literal into the ns-tick domain
        cond = (
            sql.replace("t.[rs7]", "rs7")
            .replace("> '", "> epoch_ns(TIMESTAMP '")
            .replace(sql[sql.index("> '") + 2:], sql[sql.index("> '") + 2:] + ")")
        )
        return {r[0] for r in con.sql(f"SELECT id FROM src WHERE {cond}").fetchall()}

    floor_wm = datetime.datetime(2024, 1, 1, 0, 0, 0, 123456)
    roundup_wm = datetime.datetime(2024, 1, 1, 0, 0, 0, 123457)
    # never-loss: rows 4 and 5 extract under BOTH stored-watermark modes
    got_floor = extracted(floor_wm)
    got_round = extracted(roundup_wm)
    assert {4, 5} <= got_floor and {4, 5} <= got_round
    # bounded duplicates: only the boundary micro-bucket re-extracts —
    # row 1 (1.5 µs below) never does
    assert 1 not in got_floor and 1 not in got_round
    assert got_floor == {2, 3, 4, 5}   # floor: boundary bucket re-reads
    assert got_round == {2, 3, 4, 5}   # round-up: rewind covers the gap

    # the UNREWOUND criterion under a rounded-up watermark is the loss
    # mode this pin exists for: row 4 (.1234568, genuinely after the
    # first load's true max .1234567) vanishes
    lost = {
        r[0]
        for r in con.sql(
            "SELECT id FROM src WHERE rs7 > "
            "epoch_ns(TIMESTAMP '2024-01-01 00:00:00.123457')"
        ).fetchall()
    }
    assert 4 not in lost and 5 in lost


def test_bool_literal_dialect_pin():
    """postgres boolean has no boolean=integer operator — a keyset join
    or criterion on a bool column must emit TRUE/FALSE there; tsql bit
    compares against 1/0. Executed in DuckDB (postgres-family boolean
    semantics) to prove the TRUE literal really matches bool rows."""
    import duckdb

    from odbc2deltalake_spark.sources.jdbc import sql_quote_value

    assert sql_quote_value(True) == "1"
    assert sql_quote_value(False, dialect="tsql") == "0"
    assert sql_quote_value(True, dialect="postgres") == "TRUE"
    assert sql_quote_value(False, dialect="postgres") == "FALSE"

    s = _pg()
    sql = s.keyset_join_sql([{"id": 1, "flag": True}], ["id", "flag"])
    assert "(VALUES (1, TRUE))" in sql
    got = duckdb.sql(
        "SELECT t.id FROM (VALUES (1, TRUE), (2, FALSE)) t(id, flag) "
        "INNER JOIN (VALUES (1, TRUE)) AS k (id, flag) "
        "ON t.id = k.id AND t.flag = k.flag"
    ).fetchall()
    assert got == [(1,)]


def test_decimal_watermark_rewind_duplicates_never_loss():
    """Dialect edge (VERDICT r11 #5): a user-chosen delta column can be
    NUMERIC/DECIMAL (the reference fixtures use numeric(15,3),
    reference:tests/sqls/init_mssql.sql) while a user type-map sends
    decimal → double (reference:tests/test_05_conversion.py:29-36). The
    stored double watermark is within ulp/2 of the true decimal max; at
    precision ≥ 16 even its shortest repr can land ABOVE the true max
    by more than one scale unit (999999999999999.063 → repr
    '999999999999999.1', +0.037 at scale 3), so a plain ``> str(float)``
    criterion silently loses later rows in (true_max, literal]. The
    criterion rewinds by one double-ulp then floors to the declared
    scale. EXECUTED in DuckDB over real DECIMAL(18,3) payloads: under
    the rewound literal every post-watermark row extracts (never loss),
    duplicates stay inside the ~1.5-ulp boundary bucket the MERGE
    upsert absorbs."""
    from decimal import Decimal

    import duckdb

    # --- generated shape: exact unquoted decimal literal, floored at
    # the column scale after the one-ulp rewind; non-float watermarks
    # (exact Decimal from the native decimal(p,s) mapping) pass through
    # verbatim and unquoted on BOTH dialects
    for mk in (_tsql, _pg):
        s = mk()
        s._col_cache = [ColInfo("wm", T.DecimalType(18, 3), "numeric(18,3)", False)]
        d_true = Decimal("999999999999999.063")
        sql = s.delta_criterion_sql("wm", float(d_true))
        lit = Decimal(sql.split(">")[-1].strip())
        assert lit <= d_true, sql                     # never above the true max
        assert lit >= d_true - Decimal("0.2"), sql    # bounded rewind (~1.5 ulp)
        assert "'" not in sql and "e" not in sql.lower().split(">")[-1], sql
        # exact-Decimal watermark: verbatim, unquoted
        sql2 = s.delta_criterion_sql("wm", Decimal("123456789012.345"))
        assert sql2.endswith("> 123456789012.345"), sql2

    # --- execute against DECIMAL(18,3) data near the magnitude ceiling
    # (double ulp = 0.125 > one scale unit — the dangerous regime).
    # True first-load max is d_true; rows 4 and 5 arrive after it.
    con = duckdb.connect()
    con.sql("CREATE TABLE src (id INT, wm DECIMAL(18,3))")
    rows = {
        1: Decimal("999999999999998.500"),
        2: Decimal("999999999999999.062"),
        3: Decimal("999999999999999.063"),  # 1st-load max
        4: Decimal("999999999999999.064"),  # post-load: +0.001
        5: Decimal("999999999999999.125"),  # post-load
    }
    con.sql(
        "INSERT INTO src VALUES "
        + ", ".join(f"({i}, {v})" for i, v in rows.items())
    )
    s = _pg()
    s._col_cache = [ColInfo("wm", T.DecimalType(18, 3), "numeric(18,3)", False)]
    wm_stored = float(rows[3])  # the double-mapped watermark

    sql = s.delta_criterion_sql("wm", wm_stored)
    cond = sql.replace('t."wm"', "wm")
    got = {r[0] for r in con.sql(f"SELECT id FROM src WHERE {cond}").fetchall()}
    # never-loss: both post-watermark rows extract; duplicates bounded
    # to the boundary bucket (row 1, 0.56 below, never re-extracts)
    assert {4, 5} <= got, (sql, got)
    assert 1 not in got, (sql, got)

    # the UNREWOUND plain-str criterion is the loss mode this pin
    # exists for: repr(float) sits 0.037 ABOVE the true max, so row 4
    # (genuinely after the first load) vanishes
    lost = {
        r[0]
        for r in con.sql(
            f"SELECT id FROM src WHERE wm > {wm_stored!r}"
        ).fetchall()
    }
    assert 4 not in lost and 5 in lost, lost


def test_datetimeoffset_watermark_rewind_matches_datetime2():
    """r12: datetimeoffset(7) carries the same 100 ns grain as
    datetime2(7) (the server compares offset values as UTC instants),
    so a micros-stored watermark has the identical round-up loss mode —
    the 1 µs rewind must apply to it, with the same precision gate
    (bare datetimeoffset IS (7); (<=6) never rewinds)."""
    import datetime

    w = datetime.datetime(2024, 1, 1, 0, 0, 0, 123456)
    s = _tsql()
    s._col_cache = [
        ColInfo("o7", T.TimestampType(), "datetimeoffset(7)", False),
        ColInfo("o", T.TimestampType(), "datetimeoffset", False),
        ColInfo("o6", T.TimestampType(), "datetimeoffset(6)", False),
        ColInfo("o3", T.TimestampType(), "datetimeoffset(3)", False),
    ]
    assert "2024-01-01 00:00:00.123455" in s.delta_criterion_sql("o7", w)
    assert "2024-01-01 00:00:00.123455" in s.delta_criterion_sql("o", w)
    assert "2024-01-01 00:00:00.123456" in s.delta_criterion_sql("o6", w)
    assert "2024-01-01 00:00:00.123456" in s.delta_criterion_sql("o3", w)
    # equality (keyset-join shape) never rewinds
    assert "2024-01-01 00:00:00.123456" in s.delta_criterion_sql("o7", w, op="=")


def test_ci_collation_keyset_join_stays_byte_exact():
    """Dialect edge (VERDICT r12 #5): SQL Server's default collations
    are case-insensitive — on a CI column, two keys differing only in
    case are ONE key server-side while Spark's byte-exact world holds
    TWO. An unpinned keyset join would fetch/flag the wrong rows (the
    conflation mode shown below). The engine replicates the reference's
    pin (COLLATE Latin1_General_100_BIN on every string key comparison,
    reference:odbc2deltalake/db_to_delta.py:913-916). EXECUTED in
    DuckDB against a genuinely CI-collated (NOCASE) column: the
    generated join, with the MSSQL collation name translated to
    DuckDB's binary collate, selects exactly the byte-exact row."""
    import duckdb

    s = _tsql()
    s._col_cache = [
        ColInfo("k", T.StringType(), "varchar(50)", False),
        ColInfo("v", T.LongType(), "bigint", True),
    ]
    sql = s.keyset_join_sql([{"k": "Alice"}], ["k"])
    assert "COLLATE Latin1_General_100_BIN = k.[k]" in sql, sql

    con = duckdb.connect()
    # ICU collation: NOCASE makes the COLUMN case-insensitive — the
    # MSSQL-default-collation stand-in. Both casings coexist as rows.
    con.sql("CREATE TABLE src (k VARCHAR COLLATE NOCASE, v BIGINT)")
    con.sql("INSERT INTO src VALUES ('Alice', 1), ('ALICE', 2), ('bob', 3)")

    # the conflation mode the pin exists for: plain equality on the CI
    # column matches BOTH casings for one key literal
    conflated = con.sql(
        "SELECT v FROM src t JOIN (VALUES ('Alice')) k(k) ON t.k = k.k"
    ).fetchall()
    assert {r[0] for r in conflated} == {1, 2}, conflated

    # the engine's generated join, translated to DuckDB syntax (bracket
    # quoting -> double quotes, MSSQL binary collation name -> DuckDB's
    # byte-comparison collation C, table name -> the fixture):
    # byte-exact rows only
    ducked = (
        sql.replace("[dbo].[user2$]", "src")
        .replace("COLLATE Latin1_General_100_BIN", "COLLATE C")
        .replace("[", '"')
        .replace("]", '"')
    )
    got = con.sql(ducked).fetchall()
    ks = {r[0] for r in got}
    assert ks == {"Alice"}, (ducked, got)


# ------------------------------------------- parquet footer watermark probe --


def _probe(spark, src, col):
    """(footer-or-scan answer, jobs it ran, the scan answer)."""
    from odbc2deltalake_spark.sources.base import Source

    sched = spark.sparkContext._jsc.sc().dagScheduler()
    src.col_infos(spark)  # the load's analyze phase resolves the schema first
    j0 = sched.nextJobId()
    got = src.max_and_count(spark, col)
    jobs = sched.nextJobId() - j0
    return got, jobs, Source.max_and_count(src, spark, col)


def test_parquet_probe_reads_footers_of_an_integral_column(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from odbc2deltalake_spark import ParquetTableSource

    p = str(tmp_path / "s.parquet")
    rv = [(i * 7919) % 1000 for i in range(1000)]  # max not in the last group
    pq.write_table(pa.table({"id": list(range(1000)), "rv": rv}), p, row_group_size=128)
    assert pq.ParquetFile(p).metadata.num_row_groups == 8
    got, jobs, scan = _probe(spark, ParquetTableSource(p), "rv")
    assert got == scan == (999, 1000) and jobs == 0
    got, jobs, scan = _probe(spark, ParquetTableSource(p), None)
    assert got == scan == (None, 1000) and jobs == 0

    # nullable delta column with an all-NULL row group: no min/max there,
    # but its null count equals its row count, so it adds only its rows
    p = str(tmp_path / "nulls.parquet")
    rv = [None] * 100 + list(range(100))
    pq.write_table(pa.table({"id": list(range(200)), "rv": pa.array(rv, pa.int64())}), p, row_group_size=100)
    got, jobs, scan = _probe(spark, ParquetTableSource(p), "rv")
    assert got == scan == (99, 200) and jobs == 0


def test_parquet_probe_falls_back_to_the_scan(spark, tmp_path):
    """Every case the footers cannot answer exactly scans, and agrees."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from odbc2deltalake_spark import ParquetTableSource

    # binary rowversion column
    p = str(tmp_path / "bin.parquet")
    rv = [i.to_bytes(8, "big") for i in range(50)]
    pq.write_table(pa.table({"id": list(range(50)), "rv": rv}), p)
    src = ParquetTableSource(p, type_strs={"rv": "rowversion"})
    got, jobs, scan = _probe(spark, src, "rv")
    assert got == scan and got[1] == 50 and jobs > 0

    # a directory of files, plain and hive-partitioned
    df = spark.range(300).selectExpr("id", "id * 3 as rv", "id % 3 as part")
    for name, writer in (("dir", df.write), ("hive", df.write.partitionBy("part"))):
        p = str(tmp_path / name)
        writer.parquet(p)
        got, jobs, scan = _probe(spark, ParquetTableSource(p), "rv")
        assert got == scan == (897, 300) and jobs > 0


def test_parquet_source_schema_follows_file_changes(spark, tmp_path):
    """The inferred schema is reused across reads until a file changes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from odbc2deltalake_spark import ParquetTableSource

    p = str(tmp_path / "s.parquet")
    pq.write_table(pa.table({"id": [1, 2]}), p)
    src = ParquetTableSource(p)
    assert [c.column_name for c in src.col_infos(spark)] == ["id"]
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = sched.nextJobId()
    src.col_infos(spark)
    src.read(spark)
    assert sched.nextJobId() == j0  # no second inference
    pq.write_table(pa.table({"id": [1, 2, 3], "rv": [4, 5, 6]}), p)
    assert [c.column_name for c in src.col_infos(spark)] == ["id", "rv"]
    assert src.read(spark).count() == 3
    assert src.max_and_count(spark, "rv") == (6, 3)
