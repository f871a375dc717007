"""Shared Arrow-batch kernels for the library's Python boundaries.

Every Python stage reads its inputs from Arrow buffers and hands
passthrough columns back as the input's own arrays, so no column takes a
detour through pandas (which turns a null-bearing int64 column into
float64 and rounds every value above 2^53).

* :func:`list_values` — a list column's flat values and row offsets;
* :func:`sorted_lookup` / :func:`segment_sums` — the table lookup and
  per-row sum the hashed-feature scorers run over those values;
* :func:`map_appending` — the ``mapInArrow`` that drops the feature
  columns and appends the computed ones;
* :func:`embedding_matrix` — an embedding list column as an (n, d)
  float64 matrix.
"""

from __future__ import annotations

from typing import Callable, Sequence

import numpy as np


def list_values(lists, as_numpy: bool = True) -> tuple:
    """``(flat, offsets)`` of a list column read from its buffers: row ``i``
    holds ``flat[offsets[i]:offsets[i + 1]]``; a NULL list is an empty
    row. ``flat`` is a numpy array, or with ``as_numpy=False`` the Arrow
    child slice."""
    offsets = lists.offsets.to_numpy().astype(np.int64)
    flat = lists.values.slice(offsets[0], offsets[-1] - offsets[0])
    if as_numpy:
        flat = flat.to_numpy(zero_copy_only=False)
    return flat, offsets - offsets[0]


def sorted_lookup(keys: np.ndarray, flat: np.ndarray, vals=None,
                  default=0) -> tuple[np.ndarray | None, np.ndarray]:
    """``(value, hit)`` per element of ``flat`` against the sorted ``keys``:
    ``hit`` marks members, ``value`` is the matching ``vals`` entry or
    ``default`` (None without ``vals``)."""
    if not len(keys):
        hit = np.zeros(len(flat), dtype=bool)
        return (None if vals is None
                else np.full(len(flat), default, dtype=np.int64)), hit
    idx = np.minimum(np.searchsorted(keys, flat), len(keys) - 1)
    hit = keys[idx] == flat
    return (None if vals is None
            else np.where(hit, vals[idx], default)), hit


def segment_sums(values: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """Per-row int64 sums of ``values`` over the rows ``offsets`` delimits:
    a cumsum difference, exact for integers and 0 for an empty row."""
    cs = np.zeros(len(values) + 1, dtype=np.int64)
    np.cumsum(values, out=cs[1:])
    return cs[offsets[1:]] - cs[offsets[:-1]]


def map_appending(df, drop: Sequence[str], added: dict, fn: Callable):
    """``df.mapInArrow`` that passes every column but ``drop`` through as
    the batch's own arrays and appends the arrays ``fn(batch)`` returns,
    one per entry of ``added`` (column name -> Spark type)."""
    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_type

    keep = [c for c in df.columns if c not in drop]
    clash = [c for c in added if c in keep]
    if clash:
        raise ValueError(f"input already has column(s) {clash}")
    schema = T.StructType([df.schema[c] for c in keep] + [
        T.StructField(c, t) for c, t in added.items()])
    types = [to_arrow_type(t) for t in added.values()]

    def run(batches):
        for batch in batches:
            new = [a if isinstance(a, pa.Array) else pa.array(a, type=t)
                   for a, t in zip(fn(batch), types)]
            yield pa.RecordBatch.from_arrays(
                [batch.column(c) for c in keep] + new, names=schema.names)

    return df.mapInArrow(run, schema)


def embedding_matrix(rows) -> np.ndarray:
    """(n, d) float64 matrix of a list-of-numbers column, read from its
    values buffer. A NULL row or rows of different lengths raise
    ``ValueError``."""
    import pyarrow.compute as pc

    n = len(rows)
    if n == 0:
        return np.empty((0, 0), dtype=np.float64)
    if rows.null_count:
        raise ValueError("NULL embedding row")
    lens = pc.list_value_length(rows).to_numpy(zero_copy_only=False)
    if (lens != lens[0]).any():
        raise ValueError("embedding rows have different lengths")
    flat = rows.flatten().to_numpy(zero_copy_only=False)
    return flat.astype(np.float64).reshape(n, int(lens[0]))
