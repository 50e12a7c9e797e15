"""Parquet footer/statistics viewer — `bdt view-parquet-meta`
(reference src/parquet.rs:9-141).

Spark does not expose parquet footers, so this is driver-side pyarrow —
the same architectural position as the reference (single-process metadata
read; no data scan). Output structure mirrors the reference's two tables:
file-level (version, created_by, rows, row groups) then per-row-group
per-column rows (type, nulls, min/max) — parquet.rs:20-44 and 73-127.

UTF-8 min/max stats are decoded for string columns only, like
parquet.rs:105-118 (byte columns stay as hex).

`parquet_row_count` sums the same footers' row counts for `bdt count`."""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any


@dataclass
class ColumnChunkMeta:
    column: str
    file_offset: int
    physical_type: str
    logical_type: str | None
    compressed_bytes: int
    uncompressed_bytes: int
    num_values: int
    null_count: int | None
    distinct_count: int | None
    min: Any = None
    max: Any = None


@dataclass
class RowGroupMeta:
    index: int
    num_rows: int
    total_byte_size: int
    columns: list[ColumnChunkMeta] = field(default_factory=list)


@dataclass
class ParquetMeta:
    path: str
    version: int
    created_by: str | None
    num_rows: int
    num_row_groups: int
    row_groups: list[RowGroupMeta] = field(default_factory=list)


def _stat_value(v: Any) -> Any:
    if isinstance(v, bytes):
        try:
            return v.decode("utf-8")
        except UnicodeDecodeError:
            return v.hex()
    return v


def read_parquet_meta(path: str) -> ParquetMeta:
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    md = pf.metadata
    out = ParquetMeta(
        path=path,
        version=md.format_version if isinstance(md.format_version, int) else 0,
        created_by=md.created_by,
        num_rows=md.num_rows,
        num_row_groups=md.num_row_groups,
    )
    try:
        out.version = int(str(md.format_version).split(".")[0])
    except ValueError:
        pass
    for gi in range(md.num_row_groups):
        rg = md.row_group(gi)
        g = RowGroupMeta(index=gi, num_rows=rg.num_rows,
                         total_byte_size=rg.total_byte_size)
        for ci in range(rg.num_columns):
            col = rg.column(ci)
            st = col.statistics
            g.columns.append(
                ColumnChunkMeta(
                    column=col.path_in_schema,
                    file_offset=col.file_offset,
                    physical_type=col.physical_type,
                    # from the SCHEMA, not the stats object: a chunk
                    # written without statistics still has a logical type
                    logical_type=str(md.schema.column(ci).logical_type),
                    compressed_bytes=col.total_compressed_size,
                    uncompressed_bytes=col.total_uncompressed_size,
                    num_values=col.num_values,
                    null_count=st.null_count if st and st.has_null_count else None,
                    distinct_count=(
                        st.distinct_count if st and st.has_distinct_count else None
                    ),
                    min=_stat_value(st.min) if st and st.has_min_max else None,
                    max=_stat_value(st.max) if st and st.has_min_max else None,
                )
            )
        out.row_groups.append(g)
    return out


def _spark_lists(name: str) -> bool:
    """Spark's file-index rule for data paths (HadoopFSUtils
    shouldFilterOutPathName): hidden `.` names and `_` names such as
    `_SUCCESS` are skipped, unless they hold `=` like the partition
    directory `_k=1`."""
    return not (
        name.startswith(".")
        or (name.startswith("_") and "=" not in name)
        or name.endswith("._COPYING_")
    )


def parquet_row_count(path: str) -> int:
    """Row count of a local parquet file or directory, from footers only.

    A directory sums `num_rows` over every leaf file Spark's file index
    would list (partition directories included). Every footer is read, so
    a non-parquet member raises, as it does in Spark; so does a directory
    with no data file, where Spark cannot infer a schema."""
    import os

    import pyarrow.parquet as pq

    if not os.path.isdir(path):
        return pq.read_metadata(path).num_rows
    files = []
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if _spark_lists(d)]
        files += [os.path.join(root, f) for f in names if _spark_lists(f)]
    if not files:
        raise FileNotFoundError(f"no parquet data files under {path!r}")
    return sum(pq.read_metadata(f).num_rows for f in files)


def format_parquet_meta(meta: ParquetMeta) -> str:
    """ASCII rendering in the reference's two-table shape (parquet.rs:20-71)."""
    lines = [
        f"file: {meta.path}",
        f"version: {meta.version}",
        f"created_by: {meta.created_by}",
        f"rows: {meta.num_rows}",
        f"row groups: {meta.num_row_groups}",
    ]
    for g in meta.row_groups:
        lines.append(
            f"\nrow group {g.index}: {g.num_rows} rows, "
            f"{g.total_byte_size} bytes"
        )
        header = (
            f"{'column':<20} {'type':<12} {'nulls':>8} {'distinct':>9} "
            f"{'min':>24} {'max':>24}"
        )
        lines.append(header)
        lines.append("-" * len(header))
        for c in g.columns:
            lines.append(
                f"{c.column:<20} {c.physical_type:<12} "
                f"{c.null_count if c.null_count is not None else '-':>8} "
                f"{c.distinct_count if c.distinct_count is not None else '-':>9} "
                f"{str(c.min)[:24]:>24} {str(c.max)[:24]:>24}"
            )
    return "\n".join(lines)
