"""Output checks.  They run outside every timed region and feed the
``failed`` count: a job or batch whose output differs from what the
generator made counts as failed."""

from __future__ import annotations

import hashlib

import pyarrow as pa


def _canon_column(col: pa.ChunkedArray) -> list:
    """Python values that compare exactly: timestamps as tagged integer
    microseconds, doubles by their exact hex form, nulls as None."""
    if pa.types.is_timestamp(col.type):
        micros = col.cast(pa.timestamp("us", tz=col.type.tz)).cast(pa.int64())
        return [None if v is None else ("ts", v) for v in micros.to_pylist()]
    if pa.types.is_floating(col.type):
        return [None if v is None else float(v).hex() for v in col.to_pylist()]
    return col.to_pylist()


def row_digests(table: pa.Table) -> list[bytes]:
    """One digest per row over its canonical cells, columns taken in
    lower-cased name order so column order does not matter."""
    names = sorted(table.column_names, key=str.lower)
    cols = [_canon_column(table.column(n)) for n in names]
    return [hashlib.blake2b(repr(row).encode(), digest_size=16).digest() for row in zip(*cols)]


def digest_of(rows: list[bytes], names: list[str]) -> tuple[int, str]:
    """(row count, order-insensitive digest of the row multiset): every
    cell, every null and every repetition of a row counts; order does not."""
    header = repr(sorted(n.lower() for n in names)).encode()
    body = b"".join(sorted(rows))
    return len(rows), hashlib.blake2b(header + body, digest_size=16).hexdigest()


def table_digest(table: pa.Table) -> tuple[int, str]:
    return digest_of(row_digests(table), table.column_names)
