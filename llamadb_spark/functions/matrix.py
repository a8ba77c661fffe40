"""numpy matrices of vector columns, for the Arrow/pandas Python stages.

The stage functions handed to Spark run in Python workers that may
not be able to import this package (no PYTHONPATH, working directory
outside the tree), so this module registers itself with cloudpickle
to be shipped by value: a stage function that calls `vector_matrix`
carries its code along instead of an import of this module.
"""

from __future__ import annotations

import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark import cloudpickle

cloudpickle.register_pickle_by_value(sys.modules[__name__])


def vector_matrix(vectors, unit: bool = False) -> np.ndarray:
    """The (n, d) float64 matrix of a vector column.

    ``vectors`` is an Arrow list array (chunked or not; its values
    are read with one zero-copy flatten) or any sized sequence of
    vectors: a pandas Series of an array column, or the vector values
    of collected rows. A null or ragged row raises ValueError; a null
    element reads as NaN. ``unit=True`` scales every row to L2 norm
    1, with the norm clamped at 1e-12 so that a zero vector stays the
    zero vector instead of turning into NaNs. With ``unit=False`` the
    result may be a read-only view of Arrow memory.
    """
    if isinstance(vectors, pa.ChunkedArray):
        vectors = vectors.combine_chunks()
    n = len(vectors)
    if n == 0:
        return np.empty((0, 0))
    if isinstance(vectors, pa.Array):
        if vectors.null_count:
            raise ValueError(f"{vectors.null_count} null vector(s) of {n}")
        lengths = pc.list_value_length(vectors)
        d, hi = pc.min(lengths).as_py(), pc.max(lengths).as_py()
        if d != hi:
            raise ValueError(f"ragged vectors: lengths from {d} to {hi}")
        flat = vectors.flatten().to_numpy(zero_copy_only=False)
        m = flat.astype(np.float64, copy=False).reshape(n, d)
    else:
        # numpy rejects ragged rows and a null among vectors itself;
        # rows that are all null come out one-dimensional
        try:
            m = np.array(list(vectors), dtype=np.float64)
        except ValueError as exc:
            raise ValueError(f"ragged or null vectors: {exc}") from None
        if m.ndim != 2:
            raise ValueError("null vectors")
    if unit:
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
    return m
