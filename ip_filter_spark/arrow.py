"""Arrow column helpers for the ``mapInArrow`` kernels.

A kernel receives ``pyarrow.RecordBatch`` columns and hands numpy the
buffers behind them; these are the only conversions it needs:

- ``combine``: a possibly chunked column → one contiguous Array;
- ``uint64_view``: an int64 column (no nulls) → its uint64 numpy view;
- ``bytes_matrix``: a binary column of fixed-width values (the key
  digests) → an (n, width) uint8 matrix;
- ``vec_matrix``: a list column of equal-length vectors → an (n, dim)
  numpy view of its values, honouring the array's slice offset;
- ``list_array``: the inverse, the rows of an (n, dim) matrix as a list
  column.

A column that does not fit its helper raises ``ValueError`` naming the
column, instead of a numpy shape error from deep inside a kernel.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa


def combine(arr):
    """ChunkedArray → contiguous Array (mapInArrow batches may chunk)."""
    return arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr


def uint64_view(arr) -> np.ndarray:
    """Arrow int64 array (no nulls) → uint64 numpy view, zero-copy."""
    return combine(arr).to_numpy(zero_copy_only=False).view(np.uint64)


def bytes_matrix(arr, width: int, name: str) -> np.ndarray:
    """(n, width) uint8 matrix of a binary column whose every value is
    ``width`` bytes long, read from one fixed-size copy of the column. A
    null or a value of another length raises ``ValueError`` naming
    ``name``."""
    arr = combine(arr)
    if arr.null_count:
        raise ValueError(f"binary column {name!r} holds {arr.null_count} null(s)")
    try:
        fixed = arr.cast(pa.binary(width))
    except pa.ArrowInvalid as e:
        raise ValueError(f"binary column {name!r} is not {width} bytes wide: {e}") from None
    M = np.frombuffer(fixed.buffers()[1], dtype=np.uint8).reshape(-1, width) if len(fixed) else np.empty((0, width), np.uint8)
    return M[fixed.offset : fixed.offset + len(fixed)]


def vec_matrix(arr, name: str) -> np.ndarray:
    """(n, dim) numpy view of a list column holding one equal-length
    vector per row. Reads the values between the first and last offset,
    so a sliced array yields its own rows only. Zero-copy for a
    null-free numeric column. A null vector, a null element or rows of
    different lengths raise ``ValueError`` naming ``name``."""
    arr = combine(arr)
    n = len(arr)
    if arr.null_count:
        raise ValueError(f"vector column {name!r} holds {arr.null_count} null vector(s)")
    offs = arr.offsets.to_numpy()
    flat = arr.flatten()
    if flat.null_count:
        raise ValueError(f"vector column {name!r} holds {flat.null_count} null element(s)")
    vals = flat.to_numpy(zero_copy_only=False)
    if n == 0:
        return vals.reshape(0, 0)
    lens = np.diff(offs)
    if (lens != lens[0]).any():
        raise ValueError(
            f"vector column {name!r} is ragged: row lengths range {int(lens.min())}..{int(lens.max())}"
        )
    return vals.reshape(n, int(lens[0]))


def list_array(M: np.ndarray) -> pa.ListArray:
    """The rows of a 2-D matrix as an Arrow list column (``vec_matrix``'s
    inverse): one shared value buffer, int32 offsets ``0, d, 2d, …``."""
    n, d = M.shape
    return pa.ListArray.from_arrays(pa.array(np.arange(n + 1, dtype=np.int32) * d), pa.array(M.reshape(-1)))
