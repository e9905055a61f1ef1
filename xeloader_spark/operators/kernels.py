"""The one encoding of a quantized vector, on both sides of the Arrow
boundary.

JVM side, `quantize_sql` is the component-wise `round(v · scale)` as a
BIGINT array — the same expression the DuckDB oracles replay. Python
side, every `mapInArrow` kernel decodes its list column through
`list_flat` (ragged lists: rebased offsets + flat int64 values) or
`int_matrix` (fixed-width vectors: an n × dim int64 matrix plus a
validity mask), straight from the Arrow offsets buffer — no per-row
Python objects, no `np.stack`.

Hostile input degrades the way the SQL forms the kernels replaced did:
a NULL vector, a vector of the wrong width, or one with a NULL
component is *invalid*. `int_matrix` zero-fills its row so the batch
matmul stays one vectorized call, and each kernel masks that row's
outputs (NULL, or no output row), so an invalid row never changes any
valid row's result.
"""

from __future__ import annotations


def quantize_sql(vec_col: str, scale: int) -> str:
    """`vec_col` quantized to `round(v · scale)` BIGINT components, as
    one SQL string."""
    return (
        f"transform({vec_col}, "
        f"v -> CAST(round(CAST(v AS DOUBLE) * {scale}) AS BIGINT))"
    )


def _parts(arr):
    """(array, offsets rebased to 0, the values slice they index) of an
    Arrow list array (`offsets` honours a sliced array, `values` does
    not)."""
    import numpy as np
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    offs = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    return arr, offs - offs[0], arr.values.slice(offs[0], offs[-1] - offs[0])


def list_flat(arr):
    """(offsets, values) of an Arrow list column: `offsets` (n + 1
    int64, starting at 0) delimit row i's elements as
    `values[offsets[i]:offsets[i + 1]]` (int64). A NULL row is empty."""
    import numpy as np

    _, offs, values = _parts(arr)
    return offs, np.asarray(values.to_numpy(zero_copy_only=False), np.int64)


def int_matrix(arr, dim: int):
    """(n × dim int64 matrix, validity mask) of an Arrow list column. A
    row is valid when it is non-NULL, exactly `dim` long and has no NULL
    component; invalid rows are zero-filled."""
    import numpy as np

    arr, offs, values = _parts(arr)
    n = len(offs) - 1
    lens = np.diff(offs)
    valid = lens == dim
    if arr.null_count:
        valid &= arr.is_valid().to_numpy(zero_copy_only=False)
    if values.null_count:
        comp_null = values.is_null().to_numpy(zero_copy_only=False)
        valid[np.repeat(np.arange(n), lens)[comp_null]] = False
        values = values.fill_null(0)
    flat = np.asarray(values.to_numpy(zero_copy_only=False), np.int64)
    if valid.all():
        return flat.reshape(n, dim), valid
    m = np.zeros((n, dim), dtype=np.int64)
    m[valid] = flat[offs[:-1][valid, None] + np.arange(dim)]
    return m, valid
