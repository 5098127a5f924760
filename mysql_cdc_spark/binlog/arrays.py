"""Arrow arrays to and from numpy through their buffers.

pyarrow's Python-value conversions (``pa.array``, ``pa.scalar`` and so
``pa.repeat``) and its numpy exports (``Array.to_numpy``) consult
pyarrow's pandas shim, which imports pandas whenever it is installed. The
vectorized decode builds and reads its RecordBatches through these
helpers instead (``Array.from_buffers`` and buffer views), so a Python
worker on that path never loads pandas. Compute kernels on Arrow inputs
(``cast``, ``take``, ``filter``, ``dictionary_encode``) and ``to_pylist``
do not touch the shim.
"""

from __future__ import annotations

from typing import Optional

import numpy as np
import pyarrow as pa

_FROM_NUMPY = {
    np.dtype(np.int64): pa.int64(),
    np.dtype(np.int32): pa.int32(),
    np.dtype(np.float64): pa.float64(),
    np.dtype(np.float32): pa.float32(),
}
_TO_NUMPY = {
    pa.int64(): np.int64,
    pa.int32(): np.int32,
    pa.float64(): np.float64,
    pa.float32(): np.float32,
}


def validity(nulls: Optional[np.ndarray]) -> tuple[Optional[pa.Buffer], int]:
    """(validity bitmap, null count) of a boolean null mask; no bitmap
    when nothing is null."""
    if nulls is None or not nulls.any():
        return None, 0
    return (
        pa.py_buffer(np.packbits(~nulls, bitorder="little")),
        int(np.count_nonzero(nulls)),
    )


def from_numpy(
    values: np.ndarray, typ: pa.DataType, nulls: Optional[np.ndarray] = None
) -> pa.Array:
    """A primitive array of type ``typ`` over ``values`` (null where
    ``nulls``). Timestamps take int64 values in the type's unit; other
    types are built in the values' own width and cast (a checked cast, so
    an out-of-range int raises)."""
    if values.dtype not in _FROM_NUMPY:
        values = values.astype(np.int64)
    values = np.ascontiguousarray(values)
    base = typ if pa.types.is_timestamp(typ) else _FROM_NUMPY[values.dtype]
    bitmap, n_null = validity(nulls)
    arr = pa.Array.from_buffers(
        base, len(values), [bitmap, pa.py_buffer(values)], null_count=n_null
    )
    return arr if arr.type == typ else arr.cast(typ)


def from_objects(values, typ: pa.DataType) -> pa.Array:
    """A string or binary array of type ``typ`` from Python ``str`` /
    ``bytes`` values (None → null)."""
    n = len(values)
    nulls = np.fromiter((v is None for v in values), dtype=bool, count=n)
    raw = [
        b"" if v is None else v.encode("utf-8") if isinstance(v, str) else v
        for v in values
    ]
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(np.fromiter(map(len, raw), dtype=np.int64, count=n), out=offsets[1:])
    binary = pa.types.is_binary(typ) or pa.types.is_large_binary(typ)
    bitmap, n_null = validity(nulls)
    arr = pa.Array.from_buffers(
        pa.large_binary() if binary else pa.large_utf8(), n,
        [bitmap, pa.py_buffer(offsets), pa.py_buffer(b"".join(raw))],
        null_count=n_null,
    )
    return arr if arr.type == typ else arr.cast(typ)


def repeat(value, typ: pa.DataType, n: int) -> pa.Array:
    """``value`` ``n`` times as an array of type ``typ``."""
    if pa.types.is_string(typ) or pa.types.is_large_string(typ):
        return from_objects([value], typ).take(
            from_numpy(np.zeros(n, dtype=np.int64), pa.int64())
        )
    return from_numpy(np.full(n, value, dtype=np.int64), typ)


def mask(keep: np.ndarray) -> pa.Array:
    """A boolean array over the numpy mask ``keep`` (for ``filter``)."""
    return pa.Array.from_buffers(
        pa.bool_(), len(keep),
        [None, pa.py_buffer(np.packbits(keep, bitorder="little"))],
    )


def to_numpy(arr) -> np.ndarray:
    """Zero-copy numpy view of a primitive array's values (timestamps as
    int64 in their unit); null slots hold unspecified values."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    dtype = np.int64 if pa.types.is_timestamp(arr.type) else _TO_NUMPY[arr.type]
    return np.frombuffer(
        arr.buffers()[1], dtype=dtype, count=len(arr),
        offset=arr.offset * np.dtype(dtype).itemsize,
    )


def is_null(arr) -> np.ndarray:
    """Boolean numpy mask of an array's null slots."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if arr.null_count == 0:
        return np.zeros(len(arr), dtype=bool)
    bits = np.unpackbits(
        np.frombuffer(arr.buffers()[0], dtype=np.uint8),
        count=arr.offset + len(arr), bitorder="little",
    )
    return bits[arr.offset:] == 0


def to_objects(arr) -> np.ndarray:
    """Object ndarray of an array's Python values (None for null)."""
    out = np.empty(len(arr), dtype=object)
    out[:] = arr.to_pylist()
    return out
