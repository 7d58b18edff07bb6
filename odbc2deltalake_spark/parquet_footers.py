"""Aggregates answered from parquet footers: driver-side metadata reads,
no Spark job.

Shared by the watermark probes of ``ParquetTableSource`` (one source
file) and ``VersionedParquetTable`` (the live dirs of a table), the
file-format analog of pushing ``MAX``/``COUNT`` to a database server.
"""

from __future__ import annotations

from typing import Any, Iterable, Optional


def footer_max_and_count(
    files: Iterable[str], col: Optional[str]
) -> Optional[tuple[Any, int]]:
    """(MAX(col), COUNT(*)) over ``files`` from their footers: the summed
    row counts and the largest row-group ``max`` of ``col``. ``col=None``
    asks for the count only. Returns None, so the caller scans, when a
    file cannot be read as parquet, lacks ``col`` as a top-level column,
    stores it as anything but a signed integer (other types' footer
    bounds may be truncated or need a logical-type conversion), or has a
    row group without min/max statistics (an all-NULL one has none)."""
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq
    except ImportError:
        return None
    top = None
    rows = 0
    for path in files:
        try:
            pf = pq.ParquetFile(path)
        except (OSError, ValueError):
            return None
        md = pf.metadata
        rows += md.num_rows
        if col is None:
            continue
        idx = pf.schema_arrow.get_field_index(col)
        if idx < 0 or not pa.types.is_signed_integer(pf.schema_arrow.field(idx).type):
            return None
        leaf = next(
            (i for i in range(md.num_columns) if md.schema.column(i).path == col),
            None,
        )
        if leaf is None:
            return None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(leaf).statistics
            if st is None or not st.has_min_max:
                return None
            top = st.max if top is None else max(top, st.max)
    return top, rows
