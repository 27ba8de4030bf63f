"""Variable-length sequence batches -> Arrow's flat list layout.

Arrow hands a pandas UDF a Series of lists.  The extract route converts
that to flat float64 ``values`` plus int64 ``offsets`` (Arrow's own list
layout) — one flat array per dimension for multivariate rows — and every
operator then runs once over the whole batch as segmented array ops
(:mod:`fruits_spark.kernels.flat`).

This replaces the reference's numba ``prange`` over series
(`/root/reference/fruits/iss/semiring.py:184-200`) as the intra-executor
parallelization strategy: vectorize across rows, parallelize across Spark
partitions.
"""

from __future__ import annotations

import numpy as np


def flatten_lists(col) -> tuple[np.ndarray, np.ndarray]:
    """pandas Series of sequences -> (values float64, offsets int64)."""
    lengths = np.fromiter((len(x) for x in col), dtype=np.int64, count=len(col))
    offsets = np.zeros(len(col) + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    values = np.empty(offsets[-1], dtype=np.float64)
    for i, x in enumerate(col):
        values[offsets[i]:offsets[i + 1]] = x
    return values, offsets


def shared_dims(rows) -> int:
    """The dim count every non-empty (dims, length) row shares; 0 when
    all rows have 0 dims.  Rows that disagree raise ``ValueError``."""
    ndims = {len(r) for r in rows if len(r)}
    if len(ndims) > 1:
        raise ValueError(
            f"multivariate rows disagree on dim count: {sorted(ndims)}"
        )
    return ndims.pop() if ndims else 0


def flatten_lists_mv(rows) -> tuple[list, np.ndarray]:
    """Sequence of (dims, length) nested rows -> (per-dim flat columns,
    offsets).  All non-empty rows must agree on the dim count (see
    :func:`shared_dims`).  Empty rows (0 dims or 0 steps) become empty
    segments; when every row has 0 dims the column list is empty."""
    n = len(rows)
    d = shared_dims(rows)
    lengths = np.fromiter(
        (len(r[0]) if len(r) else 0 for r in rows), dtype=np.int64, count=n
    )
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    cols = [np.empty(offsets[-1], dtype=np.float64) for _ in range(d)]
    for i, r in enumerate(rows):
        s, e = offsets[i], offsets[i + 1]
        if e > s:
            for dim in range(d):
                cols[dim][s:e] = r[dim]
    return cols, offsets
