"""Heavy hitters via count-min sketch + bounded per-partition candidates.

Classic two-part design (Cormode & Muthukrishnan 2005 §4; same shape as
Spark's own ``countMinSketch``-based frequent-items): the CMS alone cannot
*enumerate* heavy values (it only answers point queries), so stage 1 also
emits each partition's locally-frequent values as candidates:

* stage 1 (``mapInArrow``, one pass): per (group, partition) a partial CMS
  over all values **and** the top ``candidates_per_partition`` values by a
  *bounded* Misra–Gries-style candidate tracker (capacity ``4*n_cand``):
  every batch's per-value weight sums feed the CMS immediately (CMS cells
  are additive, so per-batch adds equal one bulk add), and when the
  candidate table exceeds ``2*cap`` entries it is compacted by subtracting
  the (cap+1)-th largest count and dropping the non-positive remainder —
  the vectorized decrement step of Misra–Gries / Space-Saving.  Executor
  memory is therefore bounded by ``#groups x (2*cap rows + cms_size)``
  regardless of how many distinct values the partition holds (urls at
  100 TB).  Any value with global frequency >= N/n_cand is still locally
  frequent in at least one partition holding >= its fair share, so the
  candidate union covers the true heavy hitters with the standard
  oversampling argument; the MG decrement only *undercounts* survivors, so
  ``local_count`` stays a valid lower bound.  Stage 1 stays on Arrow:
  groups split through :func:`sketchlib.spark.aggregate.arrow_group_codes`,
  each candidate table is an Arrow ``(value, count)`` table, and group keys
  and candidate values leave as the input's own Arrow values (exact for
  int64 above 2^53).
* stage 2 (one shuffle, grouped ``applyInArrow``): per group, candidate
  local counts sum exactly, CMS partials fold cell-wise, every candidate is
  estimated against the merged CMS (upper-biased, overcount <= eps*N
  w.h.p.), and the top k by (estimate, value) are kept.  One pass over the
  partials — no persist/recompute, no cogroup.

Scale notes: shuffle volume is ``#partitions x #groups x (cms_size + C rows)``
— independent of input rows; the CMS at (w=4096, d=5) is 160 KB. Skewed
values are exactly what the operator is for; they cost one candidate row per
partition, not a shuffle hot key.  A group's stage-2 task folds one CMS blob
per input partition; at >=10k partitions pre-merge units via
:class:`sketchlib.spark.checkpoint.HeavyHittersCheckpoint`.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from .aggregate import (_element_batches, _flat, _group_field, _object_merge,
                        _SketchAccumulator, _with_keys, arrow_group_codes,
                        hash_arrow_columns)
from .blobcache import col_type as _col_type
from .specs import CmsSpec


def _int_weights(w: pa.Array) -> pa.Array:
    """Validate a weight column: non-negative integral values only, as
    int64.

    A safe Arrow cast rejects every value an int64 cast would truncate
    (fractional floats and decimals, NaN/inf), and negative weights would
    wrap through uint64 in the CMS cells — reject both loudly (weights are
    counts: bytes, occurrences, ...)."""
    if w.null_count:
        raise ValueError("weight_col contains NULL")
    try:
        w = pc.cast(w, pa.int64())
    except pa.ArrowInvalid as e:
        raise ValueError("weight_col must hold integral values "
                         f"(fractional weights would be truncated): {e}") from e
    if pc.min(w).as_py() < 0:
        raise ValueError("weight_col must be non-negative")
    return w


def _mg_update(cur: pa.Table | None, s: pa.Table, cap: int) -> pa.Table:
    """Fold a batch's ``(value, count)`` sums into the bounded candidate
    table, an Arrow ``(value, count)`` table.

    Misra–Gries decrement, vectorized: past ``2*cap`` entries, subtract the
    (cap+1)-th largest count and keep the positive remainder (<= cap rows).
    Each survivor is undercounted by at most the sum of decrements, so the
    counts remain lower bounds; the table never exceeds ``2*cap`` entries."""
    if cur is not None:
        s = (pa.concat_tables([cur, s]).group_by("value", use_threads=False)
             .aggregate([("count", "sum")]).rename_columns(["value", "count"]))
    if s.num_rows > 2 * cap:
        a = s.column("count").to_numpy()
        thr = np.partition(a, len(a) - cap - 1)[len(a) - cap - 1]
        keep = a > thr
        s = pa.table({"value": s.column("value").filter(pa.array(keep)),
                      "count": a[keep] - thr})
    return s


def _top(table: pa.Table, count_col: str, n: int) -> pa.Table:
    """The ``n`` rows with the largest ``count_col``, ties by ascending
    ``value``: the order of stage 1's candidate cut and stage 2's top k."""
    return table.take(pc.sort_indices(table, sort_keys=[
        (count_col, "descending"), ("value", "ascending")])[:n])


def heavy_hitters_partials(df: DataFrame, value_col: str,
                           group_cols: Sequence[str] = (),
                           spec: CmsSpec | None = None,
                           n_cand: int = 80,
                           weight_col: str | None = None) -> DataFrame:
    """Stage 1 only (one pass): mixed rows of per-partition candidates
    (``value``, ``local_count``) and partial CMS blobs (``cms``). Exposed so
    checkpointed jobs can persist per-unit partials and resume.

    ``weight_col``: rank by SUM(weight) instead of row count (e.g. hosts by
    total bytes) — the CMS becomes a weighted-frequency sketch, guarantees
    unchanged (weights just scale the counters).  Weights must be
    non-negative integers.

    Candidate state is capacity-bounded (Misra–Gries decrement at
    ``cap = max(4*n_cand, 256)``); the CMS absorbs the full stream, so
    stage-2 estimates are unaffected — only ``local_count`` lower bounds
    shrink for values that survive a compaction.  Group keys and candidate
    values leave as the input's own Arrow values."""
    group_cols = list(group_cols)
    spec = spec or CmsSpec()
    cap = max(4 * n_cand, 256)

    part_schema = T.StructType(
        [_group_field(df, g) for g in group_cols]
        + [T.StructField("value", _col_type(df, value_col), True),
           T.StructField("local_count", T.LongType(), True),
           T.StructField("cms", T.BinaryType(), True)]
    )

    def build(batches):
        # Arrow-native stage 1: the per-batch (value -> weight-sum) reduction
        # runs in Arrow's C++ hash aggregation, values hash straight from
        # the Arrow buffers, and each group's candidates are an Arrow
        # (value, count) table — raw rows and values never leave Arrow.
        acc = _SketchAccumulator(spec, group_cols)  # the live CMS per group
        cands: dict[int, pa.Table] = {}  # <= 2*cap entries per group
        for batch in _element_batches(batches, [value_col]):
            tbl = pa.Table.from_batches([batch])
            if weight_col is None:
                w = pa.array(np.ones(tbl.num_rows, dtype=np.int64))
            else:
                w = _int_weights(_flat(tbl.column(weight_col)))
            agg = (tbl.append_column("__w", w)
                   .group_by(group_cols + [value_col], use_threads=False)
                   .aggregate([("__w", "sum")]))
            values = _flat(agg.column(value_col))
            counts = _flat(agg.column("__w_sum"))
            hashes = hash_arrow_columns(pa.record_batch([values], names=["value"]),
                                        ["value"], spec.hash_name)
            weights = counts.to_numpy(zero_copy_only=False)
            codes, first = arrow_group_codes(agg, group_cols)
            for gid, rows in acc.groups(codes, agg.take(pa.array(first))):
                acc.sketches[gid].add_hashes(hashes[rows], counts=weights[rows])
                take = pa.array(rows)
                cands[gid] = _mg_update(cands.get(gid), pa.table(
                    {"value": values.take(take), "count": counts.take(take)}), cap)
        for keys, blobs in acc.finalize():
            tops = [_top(cands[g], "count", n_cand) for g in range(len(blobs))]
            cand = pa.concat_tables(tops)
            owner = np.concatenate([np.repeat(np.arange(len(blobs)),
                                              [t.num_rows for t in tops]),
                                    np.arange(len(blobs))])
            value, count = _flat(cand.column("value")), _flat(cand.column("count"))
            yield from _with_keys(keys.take(pa.array(owner)), group_cols, [
                pa.concat_arrays([value, pa.nulls(len(blobs), value.type)]),
                pa.concat_arrays([count, pa.nulls(len(blobs), pa.int64())]),
                pa.concat_arrays([pa.nulls(cand.num_rows, pa.binary()), blobs])],
                to_arrow_schema(part_schema))

    needed = list(dict.fromkeys(group_cols + [value_col]
                                + ([weight_col] if weight_col else [])))
    return df.select(*needed).mapInArrow(build, part_schema)


def heavy_hitters_from_partials(partials: DataFrame,
                                k: int = 20, group_cols: Sequence[str] = (),
                                spec: CmsSpec | None = None) -> DataFrame:
    """Stage 2 over (possibly unioned-across-units) stage-1 partials: ONE
    grouped ``applyInArrow`` pass that sums candidate lower bounds, folds
    the group's CMS blobs, point-estimates every candidate and keeps the
    top k.  Candidates are hashed from their Arrow buffers with
    :func:`hash_arrow_columns`, the encoding stage 1 built the CMS with.
    Consumes the partials exactly once (no persist)."""
    group_cols = list(group_cols)
    spec = spec or CmsSpec()

    out_schema = T.StructType(
        [_group_field(partials, g) for g in group_cols]
        + [T.StructField("value", partials.schema["value"].dataType, True),
           T.StructField("est_count", T.LongType(), True),
           T.StructField("lower_bound", T.LongType(), True)]
    )
    pa_schema = to_arrow_schema(out_schema)

    def rank(table: pa.Table) -> pa.Table:
        blobs = table.column("cms").drop_null().to_pylist()
        cand = table.filter(pc.is_valid(table.column("value")))
        if not blobs or cand.num_rows == 0:
            return pa_schema.empty_table()
        cms = _object_merge(spec, blobs)
        lower = cand.group_by("value", use_threads=False).aggregate(
            [("local_count", "sum")])
        values = pa.record_batch([lower.column("value").combine_chunks()],
                                 names=["value"])
        est = cms.estimate_hashes(
            hash_arrow_columns(values, ["value"], spec.hash_name))
        top = pa.table({"value": values.column(0),
                        "est_count": pa.array(est.astype(np.int64)),
                        "lower_bound": lower.column("local_count_sum")})
        top = _top(top, "est_count", k)
        first = pa.array(np.zeros(top.num_rows, dtype=np.int64))
        keys = [table.column(g).take(first) for g in group_cols]
        return pa.Table.from_arrays(keys + top.columns, schema=pa_schema)

    return partials.groupBy(*group_cols).applyInArrow(rank, out_schema)


def heavy_hitters(df: DataFrame, value_col: str, k: int = 20,
                  group_cols: Sequence[str] = (), spec: CmsSpec | None = None,
                  candidates_per_partition: int | None = None,
                  weight_col: str | None = None) -> DataFrame:
    """Approximate top-k most frequent ``value_col`` per group.

    Returns ``(group_cols..., value, est_count, lower_bound)`` with
    ``lower_bound <= true count <= est_count`` and
    ``est_count <= true + eps*N`` w.h.p. (eps = e/width).
    """
    spec = spec or CmsSpec()
    n_cand = candidates_per_partition or max(4 * k, 64)
    partials = heavy_hitters_partials(df, value_col, group_cols, spec, n_cand,
                                      weight_col=weight_col)
    return heavy_hitters_from_partials(partials, k, group_cols, spec)


def estimate_counts(df: DataFrame, value_col: str, cms_blob: bytes,
                    spec: CmsSpec | None = None,
                    est_name: str = "est_count") -> DataFrame:
    """Point-query every row's value against one serialized CMS.

    The blob ships via ``sc.broadcast`` (torrent distribution, one copy per
    executor) rather than the UDF closure — a right-sized 100 TB CMS/Bloom
    can be GBs, and closures re-ship per task."""
    from .blobcache import blob_digest, blob_token, broadcast_blob, get_or_load

    spec = spec or CmsSpec()
    sc = df.sparkSession.sparkContext
    blob_bc = broadcast_blob(sc, cms_blob)  # reused across calls per blob
    # content-derived: repeated estimate_counts calls over the same
    # (blob, spec) share one per-worker deserialization
    token = blob_token(blob_digest(cms_blob), spec)

    @F.arrow_udf(T.LongType())
    def _est(values: pa.Array) -> pa.Array:
        # deserialize ONCE per worker PROCESS, not per task or Arrow
        # batch: a closure-level cache dict is re-pickled into every task,
        # so only the module-level blobcache survives task boundaries —
        # and re-parsing a right-sized (GBs at 100 TB) blob once per short
        # task would dominate a large probe stage.
        cms = get_or_load(token, lambda: spec.from_bytes(blob_bc.value))
        # a NULL value was never counted by the build side: estimate 0
        valid = values.is_valid().to_numpy(zero_copy_only=False)
        est = np.zeros(len(values), dtype=np.int64)
        if valid.any():
            live = pa.record_batch([values.drop_null()], names=["v"])
            est[valid] = cms.estimate_hashes(
                hash_arrow_columns(live, ["v"], spec.hash_name))
        return pa.array(est)

    return df.withColumn(est_name, _est(F.col(value_col)))
