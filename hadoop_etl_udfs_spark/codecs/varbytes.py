"""Canonical numpy representation of Arrow string/binary columns.

A bytes chunk is ``(lengths: int64[n], data: uint8[sum(lengths)])`` — the
zero-copy equivalent of what the reference walks value-by-value with
ObjectInspectors (HdfsSerDeImportService.java:182-198). All conversions here
use Arrow buffers directly; no per-value Python.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

_STRING_TYPES = (pa.utf8(), pa.large_utf8())
_BINARY_TYPES = (pa.binary(), pa.large_binary())


def is_varbytes(typ: pa.DataType) -> bool:
    return typ in _STRING_TYPES or typ in _BINARY_TYPES


def arrow_to_varbytes(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """Array (no nulls) -> (lengths int64, data uint8). Zero-copy on buffers."""
    if arr.null_count:
        raise ValueError("arrow_to_varbytes expects a null-free array")
    arr = arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr
    typ = arr.type
    off_dtype = np.int64 if typ in (pa.large_utf8(), pa.large_binary()) else np.int32
    buffers = arr.buffers()
    offsets = np.frombuffer(buffers[1], dtype=off_dtype)[
        arr.offset : arr.offset + len(arr) + 1
    ].astype(np.int64)
    data_buf = buffers[2]
    data = (
        np.frombuffer(data_buf, dtype=np.uint8)[offsets[0] : offsets[-1]]
        if data_buf is not None and len(arr)
        else np.empty(0, dtype=np.uint8)
    )
    lengths = np.diff(offsets)
    return lengths, data


def varbytes_to_arrow(
    lengths: np.ndarray, data: np.ndarray, typ: pa.DataType
) -> pa.Array:
    """(lengths, data) -> Arrow array of ``typ`` (utf8/binary, large or not)."""
    n = len(lengths)
    large = typ in (pa.large_utf8(), pa.large_binary())
    off_dtype = np.int64 if large else np.int32
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    value_buf = pa.py_buffer(np.ascontiguousarray(data, dtype=np.uint8))
    off_buf = pa.py_buffer(offsets.astype(off_dtype))
    return pa.Array.from_buffers(typ, n, [None, off_buf, value_buf])
