"""Order-insensitive digest of a query's collected rows.

Columns are taken in name order and every value goes through
`tools/check_oracle.canon_value` (floats at 14 significant digits), so the
digest of Spark's rows and of DuckDB's rows for the same result agree.
"""

from __future__ import annotations

import hashlib


def _plain(v):
    """Spark Rows and DuckDB structs as the same nested dicts."""
    if hasattr(v, "asDict"):
        return {k: _plain(x) for k, x in v.asDict().items()}
    if isinstance(v, dict):
        return {k: _plain(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_plain(x) for x in v]
    return v


def digest_table(columns: list[str], rows: list[tuple]) -> tuple[int, str]:
    from check_oracle import canon_value

    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(
        "|".join(canon_value(_plain(row[i])) for i in order) for row in rows
    )
    header = ",".join(columns[i] for i in order)
    h = hashlib.sha256("\n".join([header] + lines).encode()).hexdigest()
    return len(lines), h


def digest_rows(rows: list) -> tuple[int, str]:
    """Digest of Spark `Row`s as returned by `DataFrame.collect()`."""
    columns = list(rows[0].__fields__) if rows else []
    return digest_table(columns, [tuple(r) for r in rows])
