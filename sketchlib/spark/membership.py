"""Bloom-filter membership operators: build a filter per group, probe a
column against it (url-dedup / anti-join pre-filter — SURVEY.md §2.6).

At 100 TB the pattern is: build the filter over the small(er) side with the
two-stage aggregation, then ship the blob to every probe task (closure
capture ~ broadcast; a 1M-bit filter is 128 KB) and filter the big side
*before* any shuffle — the classic semi-join reduction. No false negatives:
a row filtered out definitely does not match.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .aggregate import build_partials, hash_arrow_columns, hash_columns, sketch_agg
# broadcast reuse and the worker dedup cache are shared probe
# infrastructure (heavy_hitters uses them too) — see blobcache
from .blobcache import blob_digest, blob_token, broadcast_blob, get_or_load
from .skew import tree_merge_partials
from .specs import BloomSpec, CuckooSpec


def bloom_build(df: DataFrame, element_cols, group_cols: Sequence[str] = (),
                spec: BloomSpec | None = None) -> DataFrame:
    """One Bloom filter blob per group (two-stage: partial OR-merge)."""
    return sketch_agg(df, element_cols, group_cols, spec or BloomSpec())


def bloom_build_bytes(df: DataFrame, element_cols,
                      spec: BloomSpec | None = None) -> bytes:
    """Global filter as raw bytes (driver-side), for probing other frames."""
    [row] = bloom_build(df, element_cols, (), spec).collect()
    return bytes(row["sketch"])


def cuckoo_build(df: DataFrame, element_cols, group_cols: Sequence[str] = (),
                 spec: CuckooSpec | None = None) -> DataFrame:
    """One cuckoo filter blob per group (two-stage: partial build, merge by
    fingerprint re-insertion).  Unlike Bloom, the result supports deletion
    (:func:`cuckoo_delete_bytes`).

    Cuckoo merge is O(stored fingerprints) per partial — NOT a cheap
    bitwise OR — so with P input partitions a flat fold does P full
    re-insertions in one task.  The partials therefore fold through
    :func:`sketchlib.spark.skew.tree_merge_partials` at fanout 8: no task
    folds more than ~8 blobs even at 10^5 input partitions (measured: flat
    fold at 32 partials was SLOWER than a 2-partition run; the tree
    restores the scaling), and at P <= 8 it is the flat merge."""
    spec = spec or CuckooSpec()
    partials = build_partials(df, element_cols, list(group_cols), spec)
    return tree_merge_partials(partials, group_cols, spec, fanout=8)


def cuckoo_build_bytes(df: DataFrame, element_cols,
                       spec: CuckooSpec | None = None) -> bytes:
    """Global deletable filter as raw bytes (driver-side)."""
    [row] = cuckoo_build(df, element_cols, (), spec).collect()
    return bytes(row["sketch"])


# cuckoo_delete_bytes materializes the withdrawal set on the driver; cap it.
# 4M distinct keys x ~8-64 B/key is tens-of-MB driver memory — generous for
# the intended shape (recrawled urls, a revoked source) while refusing a
# corpus-sized retraction before it OOMs the driver.
MAX_DELETE_KEYS = 4_000_000


def cuckoo_delete_bytes(blob: bytes, df: DataFrame, cols,
                        spec: CuckooSpec | None = None,
                        max_keys: int = MAX_DELETE_KEYS) -> bytes:
    """Retract a (bounded) key set from a cuckoo filter blob; returns the
    updated blob.

    Deletion is inherently sequential against one filter state, so the
    retract keys are collected to the driver — the intended shape is a
    SMALL withdrawal set (recrawled urls, a revoked source) against a
    large seen-filter; the distinct key set is size-guarded at
    ``max_keys`` *executor-side* (collected through a LIMIT, the DSIR
    guard pattern) so an accidentally corpus-sized ``df`` raises instead
    of silently materializing on the driver.  Retract only keys that
    were actually inserted (Fan et al. §3.2): a never-inserted key
    usually deletes nothing, but with probability ~fpr its fingerprint
    collides with a stored element's and removes THAT element's copy —
    a silent false negative.  For corpus-sized retractions rebuild the
    filter instead — that is a full scan either way."""
    spec = spec or CuckooSpec()
    if isinstance(cols, str):
        cols = [cols]
    cols = list(cols)
    # NULL key rows are dropped BEFORE toPandas, for two reasons: a null
    # key was never inserted (build drops nulls), so retracting it is at
    # best a no-op and at ~fpr evicts an unrelated live entry; and one
    # null surviving to pandas degrades an int64 key column to float64,
    # making EVERY key in the frame hash differently from the build-side
    # encoding — the whole delete would silently no-op.
    # LIMIT caps each partition executor-side, so the driver never holds
    # more than max_keys+1 rows even when the guard is about to fire
    pdf = (df.select(*cols).na.drop().distinct()
           .limit(max_keys + 1).toPandas())
    if len(pdf) > max_keys:
        raise ValueError(
            f"withdrawal set exceeds max_keys={max_keys} distinct keys — "
            "driver-side deletion is for small retractions; rebuild the "
            "filter for corpus-sized withdrawals (a full scan either way)")
    cf = spec.from_bytes(blob)
    if len(pdf):
        cf.delete_hashes(hash_columns(pdf, cols, spec.hash_name))
    return cf.to_bytes()


def might_contain_udf(blob: bytes, cols: Sequence[str] | str,
                      spec: BloomSpec | None = None) -> Column:
    """Boolean column: True = possibly in the filter, False = definitely not.
    Rows with a NULL in any key column are definitely not members (the
    build side drops nulls) and return False.

    The blob ships via ``sc.broadcast`` (one torrent-distributed copy per
    executor) instead of the UDF closure — a right-sized 100 TB filter is
    GBs, and closures re-serialize per task."""
    return _might_contain_expr(blob, cols, spec)


def _might_contain_expr(blob: bytes, cols, spec: BloomSpec | None,
                        opaque: bool = False) -> Column:
    """Shared core: one Arrow UDF over the key columns that hashes them
    from their Arrow buffers (the build side's encoding, whatever NULLs
    share the batch) and masks rows with a NULL key to False.

    ``opaque=True`` marks the probe UDF non-deterministic, which pins it
    where the caller placed it: Catalyst's filter inference otherwise
    COPIES a deterministic probe across an equi-join onto the other side
    (semantically safe — no false negatives — but a wasted full Python
    pass over that side; :func:`sketchlib.spark.joinprune.pruned_join`
    probes exactly one side by design)."""
    from pyspark.sql import SparkSession

    cols = [cols] if isinstance(cols, str) else list(cols)
    spec = spec or BloomSpec()
    session = SparkSession.getActiveSession()
    if session is not None:
        blob_ref = broadcast_blob(session.sparkContext, blob)

        def load():  # captures only the broadcast handle, not the blob
            return blob_ref.value
    else:
        def load():
            return blob

    # content-derived worker-cache key: repeated probe calls over the same
    # (blob, spec) share ONE per-worker deserialization — a per-call UUID
    # token would re-parse the (GBs at 100 TB) blob once per call and
    # thrash the capped worker LRU when several probe UDFs are live
    token = blob_token(blob_digest(blob), spec)
    names = [f"k{i}" for i in range(len(cols))]

    @F.arrow_udf(T.BooleanType())
    def _contains(*keys: pa.Array) -> pa.Array:
        bf = get_or_load(token, lambda: spec.from_bytes(load()))
        batch = pa.record_batch(list(keys), names=names)
        valid = np.ones(batch.num_rows, dtype=bool)
        for k in keys:
            valid &= k.is_valid().to_numpy(zero_copy_only=False)
        out = np.zeros(batch.num_rows, dtype=bool)
        if valid.any():
            out[valid] = bf.contains_hashes(hash_arrow_columns(
                batch.filter(pa.array(valid)), names, spec.hash_name))
        return pa.array(out)

    if opaque:
        _contains = _contains.asNondeterministic()
    return _contains(*[F.col(c) for c in cols])


def probe_might_contain(df: DataFrame, cols, blob: bytes,
                        spec: BloomSpec | None = None,
                        opaque: bool = False) -> Column:
    """Null-exact membership column for ``df``'s key columns: rows with a
    NULL key are False (a null key was never inserted), and every other
    key hashes with its exact type, full-range int64 included."""
    return _might_contain_expr(blob, cols, spec, opaque)


def filter_might_contain(df: DataFrame, cols, blob: bytes,
                         spec: BloomSpec | None = None,
                         negate: bool = False,
                         opaque: bool = False) -> DataFrame:
    """Keep rows possibly present in (or, with ``negate``, definitely absent
    from) the filter — the semi-/anti-join pre-filter.  Null-key rows are
    definitely absent (kept only under ``negate``); null handling is exact
    for every key type via :func:`probe_might_contain`."""
    c = probe_might_contain(df, cols, blob, spec, opaque=opaque)
    return df.filter(~c if negate else c)
