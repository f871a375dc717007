"""SQL-string access to the sketch library.

``register_sql_functions(spark)`` registers Arrow UDFs so sketch columns
produced by the two-stage aggregation are queryable from plain
``spark.sql``:

    SELECT lang, hll_estimate(sketch) FROM sketches_by_lang
    SELECT hll_estimate(hll_merge_all(sketch)) FROM partials      -- via agg
    SELECT bloom_estimate(sketch), cms_total(sketch) ...
    SELECT tdigest_quantile(sketch, 0.5), kll_quantile(sketch, 0.9),
           ddsketch_quantile(ddsketch_merge_all(sketch), 0.99) ...

(Per-group *building* stays with the Python API — Spark has no Python UDAF
with a partial/final split, SURVEY.md §7 — but merge/estimate compose in SQL
through collect_list + these functions.)

NULL semantics: a NULL blob, or a NULL or NaN ``q``/hash argument, gives
NULL; ``*_merge_all`` skips NULL blobs and gives NULL for an empty list.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .aggregate import (HllSpec, _fold_arrow, _list_segments, estimate_udf,
                        per_row_udf)


def _merge_all_udf(spec):
    """Fold each row's list of blobs into one (the HLL kernel for HLL, the
    spec's object merge otherwise)."""
    @F.arrow_udf(T.BinaryType())
    def merge_all(lists: pa.Array) -> pa.Array:
        return _fold_arrow(spec, *_list_segments(lists), None)

    return merge_all


def _point_estimate(sketch, h) -> int:
    """Point query of one signed 64-bit element hash."""
    return int(sketch.estimate_hashes(
        np.array([h], dtype=np.int64).view(np.uint64))[0])


def register_sql_functions(spark: SparkSession) -> None:
    from ..ams import AmsSketch
    from ..ddsketch import DDSketch
    from ..hll import HllSketch
    from ..kll import KllSketch
    from ..mg import MisraGriesSketch
    from ..tdigest import TDigest
    from ..theta import ThetaSketch
    from .specs import AmsSpec, BloomSpec, CmsSpec, DdSpec, MgSpec, ThetaSpec

    long_, double = T.LongType(), T.DoubleType()
    per_row = {
        "hll_count_additions": (
            long_, lambda b: HllSketch.from_bytes(b).count_additions),
        "tdigest_quantile": (
            double, lambda b, q: float(TDigest.from_bytes(b).quantile(float(q)))),
        "kll_quantile": (
            double, lambda b, q: float(KllSketch.from_bytes(b).quantile(float(q)))),
        "ddsketch_quantile": (
            double, lambda b, q: float(DDSketch.from_bytes(b).quantile(float(q)))),
        "theta_intersect_estimate": (
            long_, lambda a, b: ThetaSketch.from_bytes(a).intersect_count(
                ThetaSketch.from_bytes(b))[0]),
        "theta_a_not_b_estimate": (
            long_, lambda a, b: ThetaSketch.from_bytes(a).a_not_b_count(
                ThetaSketch.from_bytes(b))[0]),
        "mg_point_estimate": (
            long_, lambda b, h: _point_estimate(MisraGriesSketch.from_bytes(b), h)),
        "mg_error_bound": (
            long_, lambda b: MisraGriesSketch.from_bytes(b).error_bound()),
        "countsketch_point_estimate": (
            long_, lambda b, h: _point_estimate(AmsSketch.from_bytes(b), h)),
    }
    estimate = {"hll_estimate": HllSpec(), "bloom_estimate": BloomSpec(),
                "theta_estimate": ThetaSpec(), "ams_f2_estimate": AmsSpec(),
                "cms_total": CmsSpec()}
    merge_all = {"hll_merge_all": HllSpec(), "ddsketch_merge_all": DdSpec(),
                 "theta_merge_all": ThetaSpec(), "mg_merge_all": MgSpec(),
                 "ams_merge_all": AmsSpec()}
    for name, (return_type, fn) in per_row.items():
        spark.udf.register(name, per_row_udf(return_type, fn))
    for name, spec in estimate.items():
        spark.udf.register(name, estimate_udf(spec))
    for name, spec in merge_all.items():
        spark.udf.register(name, _merge_all_udf(spec))
