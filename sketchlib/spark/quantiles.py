"""Distributed quantile estimation via t-digest / KLL two-stage aggregation.

``approx_quantiles(df, value_col, probs, group_cols)`` — the sketch-native
equivalent of ``percentile_approx``: per-group sketch build (``mapInArrow``
partials, streaming), JVM collect_list merge, then one Arrow UDF turning
each group's blob into an ``array<double>`` of quantile estimates.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import types as T

from .aggregate import per_row_udf, sketch_agg
from .specs import TDigestSpec


def quantiles_col(spec, probs: Sequence[float],
                  sketch_col: str | Column = "sketch") -> Column:
    """array<double> of quantile estimates from a sketch-blob column; NULL
    blobs give NULL."""
    probs = np.asarray([float(p) for p in probs])
    quantiles = per_row_udf(
        T.ArrayType(T.DoubleType()),
        lambda b: np.asarray(spec.from_bytes(b).quantile(probs),
                             dtype=np.float64).tolist())
    return quantiles(sketch_col)


def rank_col(spec, x: float, sketch_col: str | Column = "sketch") -> Column:
    """double column: approximate CDF at x per sketch blob; NULL blobs give
    NULL."""
    rank = per_row_udf(T.DoubleType(),
                       lambda b: float(spec.from_bytes(b).rank(x)))
    return rank(sketch_col)


def approx_quantiles(df: DataFrame, value_col: str, probs: Sequence[float],
                     group_cols: Sequence[str] = (), spec=None,
                     result_name: str = "quantiles") -> DataFrame:
    """Per-group quantile estimates: (group_cols..., quantiles array<double>)."""
    spec = spec or TDigestSpec()
    merged = sketch_agg(df, value_col, group_cols, spec)
    return merged.select(*group_cols, quantiles_col(spec, probs).alias(result_name))
