"""Aggregates answered from parquet footers: driver-side metadata reads,
no Spark job.

Shared by the watermark probes of ``ParquetTableSource`` (one source
file) and ``VersionedParquetTable`` (the live dirs of a table), the
file-format analog of pushing ``MAX``/``COUNT`` to a database server,
and by the table's current-rows prune probe (``MIN`` and NULL count).
"""

from __future__ import annotations

from typing import Any, Iterable, NamedTuple, Optional


class ColStats(NamedTuple):
    """MIN(col), MAX(col), COUNT(*) and the count of NULL ``col`` values.
    ``nulls`` is None where the metadata that answered does not record
    it."""

    min: Any
    max: Any
    rows: int
    nulls: Optional[int]


def footer_col_stats(
    files: Iterable[str], col: Optional[str]
) -> Optional[ColStats]:
    """:class:`ColStats` over ``files`` from their footers: the summed
    row counts, the smallest row-group ``min``, the largest row-group
    ``max`` and the summed ``null_count`` of ``col`` (None when a row
    group records no null count). ``col=None`` asks for the count only.
    Returns None, so the caller scans, when a file cannot be read as
    parquet, lacks ``col`` as a top-level column, stores it as anything
    but a signed integer (other types' footer bounds may be truncated or
    need a logical-type conversion), or has a row group without min/max
    statistics that is not all NULL (an all-NULL row group has no bounds
    and adds only its rows and nulls)."""
    try:
        import pyarrow as pa
        import pyarrow.parquet as pq
    except ImportError:
        return None
    low = top = None
    rows = 0
    nulls: Optional[int] = 0
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
            group = md.row_group(rg)
            st = group.column(leaf).statistics
            if st is None:
                return None
            if st.has_min_max:
                low = st.min if low is None else min(low, st.min)
                top = st.max if top is None else max(top, st.max)
            elif not (st.has_null_count and st.null_count == group.num_rows):
                return None  # bounds missing, and not because all NULL
            if nulls is not None:
                nulls = nulls + st.null_count if st.has_null_count else None
    return ColStats(low, top, rows, nulls if col is not None else None)
