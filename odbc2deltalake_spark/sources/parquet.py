"""Parquet-table source — files/lakehouse tables as an ingestion source.

Covers the reference's "query as source" shape for local data
(reference:tests/test_09_query.py:25-43): any parquet path (or a SQL query
over registered views) can drive a load. Predicate pushdown and column
pruning reach the parquet scan via Catalyst (PushedFilters / ReadSchema in
``explain``), which is the Spark-native equivalent of the reference
embedding WHERE clauses in remote SQL.
"""

from __future__ import annotations

from pathlib import Path
from typing import Any, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from odbc2deltalake_spark.metadata import ColInfo
from odbc2deltalake_spark.sources.base import Source


class ParquetTableSource(Source):
    def __init__(
        self,
        path: str,
        primary_keys: Optional[list[str]] = None,
        type_strs: Optional[dict[str, str]] = None,
    ):
        self.path = path
        self._pks = primary_keys or []
        # optional source-type annotations (e.g. {"rv": "rowversion"}) to
        # drive delta-col detection / type mapping like INFORMATION_SCHEMA
        # strings would (reference:odbc2deltalake/metadata.py:129-152)
        self._type_strs = type_strs or {}
        # (file signature, schema) of the last inference over a local path
        self._schema: Optional[tuple[tuple, T.StructType]] = None

    def _file_signature(self) -> Optional[tuple]:
        """(path, size, mtime_ns) of every file under a local path; None
        when the path is not a local file or directory (URIs, globs)."""
        root = Path(self.path)
        if root.is_file():
            files = [root]
        elif root.is_dir():
            files = sorted(f for f in root.rglob("*") if f.is_file())
        else:
            return None
        sig = []
        for f in files:
            st = f.stat()
            sig.append((str(f), st.st_size, st.st_mtime_ns))
        return tuple(sig)

    def _resolved_schema(self, spark: SparkSession) -> T.StructType:
        """The inferred schema, inferred once per file set: schema
        inference is a Spark job, and a load reads the source several
        times. Any changed, added or removed file re-infers."""
        sig = self._file_signature()
        if sig is not None and self._schema is not None and self._schema[0] == sig:
            return self._schema[1]
        schema = spark.read.parquet(self.path).schema
        self._schema = (sig, schema) if sig is not None else None
        return schema

    def col_infos(self, spark: SparkSession) -> list[ColInfo]:
        return [
            ColInfo(
                column_name=f.name,
                data_type=f.dataType,
                data_type_str=self._type_strs.get(f.name, f.dataType.simpleString()),
                is_nullable=f.nullable,
            )
            for f in self._resolved_schema(spark).fields
        ]

    def primary_keys(self, spark: SparkSession) -> list[str]:
        return list(self._pks)

    def read(self, spark: SparkSession) -> DataFrame:
        return spark.read.schema(self._resolved_schema(spark)).parquet(self.path)

    def max_and_count(
        self, spark: SparkSession, delta_col: Optional[str]
    ) -> tuple[Any, int]:
        """The watermark probe, answered from the parquet footer when the
        path is one local file: the footer row count and the largest
        row-group ``max`` of the delta column — zero Spark jobs, the
        file-format analog of pushing the aggregate to a JDBC server.
        Falls back to the scan unless the delta column is a signed
        integer with min/max statistics in every row group (an all-NULL
        row group has none)."""
        got = self._footer_max_and_count(delta_col)
        return got if got is not None else super().max_and_count(spark, delta_col)

    def _footer_max_and_count(
        self, delta_col: Optional[str]
    ) -> Optional[tuple[Any, int]]:
        if not Path(self.path).is_file():
            return None
        try:
            import pyarrow as pa
            import pyarrow.parquet as pq

            pf = pq.ParquetFile(self.path)
        except (ImportError, OSError, ValueError):
            return None
        md = pf.metadata
        if delta_col is None:
            return None, md.num_rows
        idx = pf.schema_arrow.get_field_index(delta_col)
        if idx < 0 or not pa.types.is_signed_integer(pf.schema_arrow.field(idx).type):
            return None
        leaf = next(i for i in range(md.num_columns) if md.schema.column(i).path == delta_col)
        top = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(leaf).statistics
            if st is None or not st.has_min_max:
                return None
            top = st.max if top is None else max(top, st.max)
        return top, md.num_rows
