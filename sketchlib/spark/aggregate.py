"""Two-stage distributed sketch aggregation.

Spark has no Python UDAF with a partial/final split, so we build the classic
two-phase aggregation explicitly (SURVEY.md §4):

* **stage 1 — partial build** (``mapInArrow``): each input partition streams
  through a Python worker as Arrow record batches; element bytes hash
  straight from Arrow buffers (no pandas string materialization), group keys
  factorize via Arrow dictionary encoding (:func:`arrow_group_codes`) and
  leave as the input's own Arrow values, so NULL and int64 keys stay exact,
  and per (group, partition) one partial sketch is emitted —
  ``(group_cols..., sketch: binary)``.
  This caps shuffle volume at ``#partitions x #groups x sketch_size`` no
  matter how many raw rows went in, and removes data skew from the shuffle:
  a hot group contributes at most one partial per partition.
* **stage 2 — final merge**: a JVM-side ``collect_list`` of each group's
  blobs (map-side partial aggregation + one exchange of blobs) followed by ONE
  Arrow UDF that fold-merges each group's blobs (register-wise max —
  associative & commutative, so any merge order yields bit-identical
  canonical bytes; a lone partial passes through untouched). The whole
  batch of groups folds in one ``spec.fold_segments`` call: HLL's wire
  kernel :func:`sketchlib.hll.fold_segments`, or by default each group's
  blobs in list order through ``from_bytes``/``merge``.

This is the DataFrame-native equivalent of the reference's build-then-Merge
pipeline (``CardinalityEstimator.cs:704-730``, ``CardinalityEstimatorExtensions.cs:87-103``)
and of RDD ``treeAggregate`` — Spark's shuffle IS the parallel merge.

The reference's ``ParallelAdd`` partition strategies (``CardinalityEstimatorExtensions.cs:224-322``)
map to explicit repartitioning: Hash -> ``repartition(n, col)``,
RoundRobin -> ``repartition(n)``, Chunked -> ``coalesce(n)``; see
:mod:`sketchlib.spark.skew` for the salting used on Zipf-skewed inputs.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema, to_arrow_type

from .. import hll
from .._arrow import list_values
from ..encoding import arrow_flat_bytes
from ..hashing import HASHES
from ..hll import HllSketch, concat_ranges


def hash_arrow_columns(batch, cols: Sequence[str], hash_name: str = "murmur3") -> np.ndarray:
    """Composite element hash straight from Arrow buffers (the one hashing
    path — no pandas, no per-row Python string materialization).  Single
    column: the element hash itself (reference-compatible).  Multi-column:
    hash of the concatenated per-column hashes (16/24/... fixed-width
    bytes) — unambiguous, vectorized, and library-normative (the reference
    is single-element only)."""
    _scalar, flat_fn = HASHES[hash_name]
    per = []
    for c in cols:
        flat, offsets = arrow_flat_bytes(batch.column(c))
        per.append(flat_fn(flat, offsets))
    if len(per) == 1:
        return per[0]
    combo = np.empty((per[0].shape[0], len(per)), dtype="<u8")
    for j, h in enumerate(per):
        combo[:, j] = h
    flat = combo.reshape(-1).view(np.uint8)
    offsets = np.arange(per[0].shape[0] + 1, dtype=np.int64) * (8 * len(per))
    return flat_fn(flat, offsets)


def _flat(col) -> pa.Array:
    """A table or batch column as one contiguous Arrow array."""
    return col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col


def arrow_group_codes(batch, group_cols: Sequence[str]) -> tuple[np.ndarray, np.ndarray]:
    """The one group-key contract of the Arrow passes: ``(codes, first)``
    for a record batch or table. ``codes`` is a dense int64 group code per
    row and ``first`` holds each group's first row index, in code order.
    The keys are the group columns of ``batch.take(first)``: the input's
    own Arrow values, so NULL keys and int64 keys above 2^53 stay exact.
    With no group columns every row is one group.

    Codes come from Arrow dictionary encoding, with no per-key Python.
    NULL keys get a dedicated dictionary slot: ``dictionary_encode`` emits
    null *indices* for null values, which would otherwise cast to
    INT64_MIN and silently fold the NULL group into an arbitrary real
    group."""
    combined = np.zeros(batch.num_rows, dtype=np.int64)
    for c in group_cols:
        enc = pc.dictionary_encode(_flat(batch.column(c)))
        idx, size = enc.indices, len(enc.dictionary)
        if idx.null_count:
            idx = pc.fill_null(idx, size)
            size += 1
        combined *= size
        combined += idx.to_numpy(zero_copy_only=False)
    _, first, codes = np.unique(combined, return_index=True, return_inverse=True)
    return codes.astype(np.int64, copy=False), first


def element_batch(pdf: pd.DataFrame, cols: Sequence[str]) -> pa.RecordBatch:
    """The element columns of a pandas frame as an Arrow batch, for
    ``spec.prepare_arrow``.  ``from_pandas=False`` keeps a float NaN as a
    value (pandas' null convention would turn it into a NULL), so a frame
    hashes exactly as the same column does in the batch path."""
    return pa.RecordBatch.from_arrays(
        [pa.array(pdf[c], from_pandas=False) for c in cols], names=list(cols))


def hash_columns(pdf: pd.DataFrame, cols: Sequence[str], hash_name: str = "murmur3") -> np.ndarray:
    """:func:`hash_arrow_columns` over the columns of a driver-side pandas
    frame."""
    return hash_arrow_columns(element_batch(pdf, cols), cols, hash_name)


def _object_merge(spec, blobs):
    """Sequential from_bytes/merge over a non-empty list of blobs: the
    library's one object fold."""
    merged = None
    for b in blobs:
        sk = spec.from_bytes(b)
        merged = sk if merged is None else spec.merge(merged, sk)
    return merged


class SketchSpec:
    """The protocol that binds one sketch type into the two-stage
    aggregation, the SQL functions and the streaming state.  A spec is a
    small picklable value object (UDF closures ship it to executors).  The
    whole protocol is declared here, each member with its default, and the
    build, fold and streaming paths call it directly:

    * ``name`` (``"sketch"``): the family label of checkpoints and audits;
    * ``make()`` -> an empty sketch;
    * ``prepare_arrow(batch, element_cols)`` -> the array ``ingest`` takes
      from an Arrow batch of element columns: 64-bit element hashes
      (:class:`HashSpec`), float64 values (the quantile specs) or an (n, d)
      row matrix (``FdSpec``).  Every path — batch, streaming and
      driver-side frames (:func:`element_batch`) — prepares through it;
    * ``ingest(sketch, prepared)``;
    * ``to_bytes`` / ``from_bytes`` / ``merge`` — by default the
      ``sketch_type`` class's wire format and in-place merge;
    * ``estimate(sketch)`` -> the scalar summary, of Spark type
      ``estimate_type`` (``LongType()``);
    * ``fold_segments(data, offsets, seg_ptr, blob_idx, estimate=False)``
      -> one merged blob (or estimate) per segment, with the contract of
      :func:`sketchlib.hll.fold_segments`: every fold of the library.  By
      default each segment folds through ``from_bytes`` / ``merge``;
    * ``hash_dedup`` (False): stage 1 may dedup (group, hash) pairs and
      build each group through ``blob_from_hashes`` (:class:`HashSpec`);
    * ``hash_name`` (None: elements are not hashed) and ``prehashed``
      (False: see :class:`HashSpec`).

    The repr is parameter-based: two specs constructed with equal
    parameters repr identically (the default object repr embeds the
    instance address — under which ``blobcache.blob_token`` would mint a
    fresh worker-cache token per spec INSTANCE, defeating cross-call
    deserialization reuse for the common ``spec or BloomSpec()`` pattern);
    the class-level defaults stay out of it."""

    sketch_type: type
    name = "sketch"
    hash_name: str | None = None
    prehashed = False
    hash_dedup = False
    estimate_type: T.DataType = T.LongType()

    def __repr__(self) -> str:
        args = ", ".join(f"{k}={v!r}" for k, v in sorted(vars(self).items()))
        return f"{type(self).__name__}({args})"

    def to_bytes(self, sketch) -> bytes:
        return sketch.to_bytes()

    def from_bytes(self, blob: bytes):
        return self.sketch_type.from_bytes(blob)

    def merge(self, a, b):
        a.merge(b)
        return a

    def fold_segments(self, data, offsets, seg_ptr, blob_idx,
                      estimate: bool = False) -> list:
        """Blob ``i`` is ``data[offsets[i]:offsets[i + 1]]`` and segment
        ``s`` folds the blobs ``blob_idx[seg_ptr[s]:seg_ptr[s + 1]]``, in
        that order, through :func:`_object_merge`.  Returns one
        ``to_bytes`` per segment, or with ``estimate`` one ``estimate``."""
        buf = np.frombuffer(data, dtype=np.uint8)
        offsets = np.asarray(offsets).tolist()
        blob_idx = np.asarray(blob_idx).tolist()
        bounds = np.asarray(seg_ptr).tolist()
        out = []
        for a, b in zip(bounds[:-1], bounds[1:]):
            merged = _object_merge(self, [buf[offsets[i]:offsets[i + 1]].tobytes()
                                          for i in blob_idx[a:b]])
            out.append(self.estimate(merged) if estimate else self.to_bytes(merged))
        return out


class HashSpec(SketchSpec):
    """Base of the hash families: elements hash to 64-bit values through
    :func:`hash_arrow_columns` with the spec's ``hash_name``, and the sketch
    ingests them with ``add_hashes``.  A ``prehashed`` spec's single int64
    element column already IS the hash (computed JVM-side, e.g.
    ``F.xxhash64``; see :func:`build_partials`) and is reinterpreted
    instead."""

    def prepare_arrow(self, batch, element_cols: Sequence[str]) -> np.ndarray:
        if self.prehashed:
            return np.ascontiguousarray(
                batch.column(element_cols[0]).to_numpy(zero_copy_only=False)
            ).view(np.uint64)
        return hash_arrow_columns(batch, element_cols, self.hash_name)

    def ingest(self, sketch, prepared: np.ndarray) -> None:
        sketch.add_hashes(prepared)

    def build_from_hashes(self, unique_hashes: np.ndarray, count_additions: int):
        """The sketch of one group's unique element hashes."""
        sk = self.make()
        sk.add_hashes(unique_hashes)
        sk.count_additions = count_additions
        return sk

    def blob_from_hashes(self, sorted_unique_hashes: np.ndarray,
                         count_additions: int) -> bytes:
        """The serialized :meth:`build_from_hashes`: the per-group build of
        a ``hash_dedup`` stage 1."""
        return self.to_bytes(self.build_from_hashes(sorted_unique_hashes,
                                                    count_additions))


class HllSpec(HashSpec):
    """Binds :class:`HllSketch` into the two-stage aggregation."""

    name = "hll"
    sketch_type = HllSketch
    #: distinct-counting sketches are a pure function of the *set* of element
    #: hashes -> stage 1 may dedup (group, hash) pairs and batch-build
    #: (the vectorized many-tiny-groups fast path).
    hash_dedup = True
    #: the wire kernel: every fold of a batch of groups is one call
    fold_segments = staticmethod(hll.fold_segments)

    def __init__(self, p: int = 14, hash_name: str = "murmur3",
                 use_direct_counting: bool = True,
                 prehashed: bool = False) -> None:
        self.p = p
        self.hash_name = hash_name
        self.use_direct_counting = use_direct_counting
        #: the element column already IS the 64-bit element hash (computed
        #: JVM-side, e.g. ``F.xxhash64``); see :class:`HashSpec`.
        self.prehashed = prehashed

    def make(self):
        return HllSketch(p=self.p, use_direct_counting=self.use_direct_counting)

    def build_from_hashes(self, unique_hashes: np.ndarray, count_additions: int):
        return HllSketch.from_unique_hashes(
            unique_hashes, p=self.p, count_additions=count_additions,
            use_direct_counting=self.use_direct_counting)

    def blob_from_hashes(self, sorted_unique_hashes: np.ndarray,
                         count_additions: int) -> bytes:
        """Serialized sketch straight from a group's sorted unique hashes;
        direct-mode groups skip sketch-object construction entirely."""
        n = sorted_unique_hashes.shape[0]
        if (self.use_direct_counting and n <= hll.DIRECT_COUNTER_MAX_ELEMENTS
                and n <= hll.sparse_max_elements(self.p)):
            return hll.direct_blob(self.p, sorted_unique_hashes, count_additions)
        return super().blob_from_hashes(sorted_unique_hashes, count_additions)

    def estimate(self, sketch: HllSketch) -> int:
        return sketch.count()


def _group_field(df: DataFrame, name: str) -> T.StructField:
    f = df.schema[name]
    return T.StructField(f.name, f.dataType, True)


class _PairAccumulator:
    """Stage-1 state for dedup-able sketches (HLL/Bloom): accumulates
    (group-code, element-hash) pairs across Arrow batches, sort-dedups on a
    size threshold, and spills any group past ``spill_threshold`` distinct
    hashes into a register sketch so memory stays bounded by
    ``#small-groups x spill_threshold x 16B + #big-groups x sketch_size``
    regardless of partition row count.

    Per-row AND per-group work is vectorized: batches arrive with
    batch-local codes plus their groups' key rows; codes globalize lazily
    in one :func:`arrow_group_codes` pass over the concatenated key rows
    (no per-key Python), and per-group blob emission at partition end uses
    a direct-blob fast path for small groups. This is what makes millions
    of tiny groups (e.g. per-host distincts) cheap."""

    def __init__(self, spec, group_cols: Sequence[str],
                 compact_threshold: int = 1 << 23,
                 spill_threshold: int = 1 << 12) -> None:
        self.spec = spec
        self.group_cols = list(group_cols)
        self.compact_threshold = compact_threshold
        self.spill_threshold = spill_threshold
        # pending batches: (key rows, local codes, hashes)
        self.batches: list[tuple[pa.Table, np.ndarray, np.ndarray]] = []
        self.pending = 0
        # globalized state: one key row per global group code
        self.keys: pa.Table | None = None
        self.gcodes = np.zeros(0, dtype=np.int64)
        self.ghashes = np.zeros(0, dtype=np.uint64)
        self.gadds = np.zeros(0, dtype=np.int64)
        self.spilled: dict[int, object] = {}

    def add(self, codes: np.ndarray, keys, prepared: np.ndarray) -> None:
        self.batches.append((pa.table(keys),
                             np.ascontiguousarray(codes, dtype=np.int64),
                             np.ascontiguousarray(prepared, dtype=np.uint64)))
        self.pending += codes.shape[0]
        if self.pending > self.compact_threshold:
            self._globalize()

    def _globalize(self) -> None:
        """One vectorized pass: re-code all known keys (existing globals
        + every pending batch's key rows), remap codes through per-source
        LUTs, accumulate additions, sort-dedup pairs, spill huge groups."""
        if not self.batches:
            return
        parts = [k for k, _codes, _hashes in self.batches]
        if self.keys is not None:
            parts.insert(0, self.keys)
        cat = pa.concat_tables(parts)
        all_codes, first = arrow_group_codes(cat, self.group_cols)
        n_uniq = first.shape[0]

        # split the lut back per source
        offs = np.cumsum([0] + [p.num_rows for p in parts])
        luts = [all_codes[offs[i]:offs[i + 1]] for i in range(len(parts))]

        new_adds = np.zeros(n_uniq, dtype=np.int64)
        codes_list = []
        hashes_list = []
        if self.keys is not None:
            lut = luts.pop(0)
            codes_list.append(lut[self.gcodes])
            hashes_list.append(self.ghashes)
            np.add.at(new_adds, lut, self.gadds)
            if self.spilled:
                self.spilled = {int(lut[c]): sk for c, sk in self.spilled.items()}
        for (keys, codes, hashes), lut in zip(self.batches, luts):
            codes_list.append(lut[codes])
            hashes_list.append(hashes)
            np.add.at(new_adds, lut, np.bincount(codes, minlength=keys.num_rows))
        self.batches = []
        self.pending = 0
        self.keys = cat.take(pa.array(first))
        self.gadds = new_adds

        codes = np.concatenate(codes_list)
        hashes = np.concatenate(hashes_list)
        order = np.lexsort((hashes, codes))
        codes = codes[order]
        hashes = hashes[order]
        keep = np.ones(codes.shape[0], dtype=bool)
        keep[1:] = (codes[1:] != codes[:-1]) | (hashes[1:] != hashes[:-1])
        codes = codes[keep]
        hashes = hashes[keep]
        # spill groups with > spill_threshold distinct hashes to sketches
        counts = np.bincount(codes, minlength=n_uniq)
        big = np.nonzero(counts > self.spill_threshold)[0]
        if big.shape[0]:
            starts = np.searchsorted(codes, big, side="left")
            ends = np.searchsorted(codes, big, side="right")
            drop = np.zeros(codes.shape[0], dtype=bool)
            for c, s, e in zip(big.tolist(), starts.tolist(), ends.tolist()):
                sk = self.spilled.get(int(c))
                if sk is None:
                    sk = self.spec.make()
                    self.spilled[int(c)] = sk
                self.spec.ingest(sk, hashes[s:e])
                drop[s:e] = True
            codes = codes[~drop]
            hashes = hashes[~drop]
        self.gcodes = codes
        self.ghashes = hashes

    def finalize(self):
        """Yields the partition's ``(key rows, blobs)`` once (nothing for an
        empty partition)."""
        self._globalize()
        if self.keys is None:
            return
        hashes = self.ghashes
        bounds = np.searchsorted(self.gcodes, np.arange(self.keys.num_rows + 1))
        blobs = []
        adds = self.gadds
        for c, (s, e) in enumerate(zip(bounds[:-1].tolist(), bounds[1:].tolist())):
            seg = hashes[s:e]
            sk = self.spilled.get(c)
            if sk is None:
                blobs.append(self.spec.blob_from_hashes(seg, int(adds[c])))
            else:
                if seg.shape[0]:
                    self.spec.ingest(sk, seg)
                sk.count_additions = int(adds[c])
                blobs.append(self.spec.to_bytes(sk))
        yield self.keys, pa.array(blobs, type=pa.binary())


#: the dict key of every NaN group value (``nan != nan``)
_NAN_KEY = object()


class _SketchAccumulator:
    """Stage-1 state for the sketches that cannot dedup (CMS, t-digest,
    KLL, FD): one live sketch per group. A batch's groups find their
    partition-wide id through a dict on the exact Python key tuple
    (``to_pylist`` values, so NULLs and int64 keys above 2^53 stay
    distinct, and every NaN is one key, as in Arrow's dictionary encoding):
    key work per batch is O(groups in the batch), and the key row of each
    new group is kept as Arrow."""

    def __init__(self, spec, group_cols: Sequence[str]) -> None:
        self.spec = spec
        self.group_cols = list(group_cols)
        self.ids: dict[tuple, int] = {}
        self.keys: list[pa.Table] = []  # key rows of the new groups, per batch
        self.sketches: list = []

    def groups(self, codes: np.ndarray, keys) -> list[tuple[int, np.ndarray]]:
        """``(id, row indices)`` of each group of a batch, its rows in batch
        order; a new group gets an empty sketch."""
        order = np.argsort(codes, kind="stable")
        bounds = np.searchsorted(codes[order], np.arange(keys.num_rows + 1))
        gids, new = [], []
        for i, row in enumerate(keys.select(self.group_cols).to_pylist()):
            key = tuple(_NAN_KEY if v != v else v for v in row.values())
            gid = self.ids.get(key)
            if gid is None:
                gid = self.ids[key] = len(self.sketches)
                self.sketches.append(self.spec.make())
                new.append(i)
            gids.append(gid)
        if new:
            self.keys.append(pa.table(keys.take(pa.array(new))))
        return [(g, order[s:e]) for g, s, e in
                zip(gids, bounds[:-1].tolist(), bounds[1:].tolist())]

    def add(self, codes: np.ndarray, keys, prepared) -> None:
        # one ingest per (group, batch) slice, in row order: t-digest and
        # KLL bytes depend on it
        for gid, rows in self.groups(codes, keys):
            self.spec.ingest(self.sketches[gid], prepared[rows])

    def finalize(self):
        """Yields the partition's ``(key rows, blobs)`` once (nothing for an
        empty partition)."""
        if self.sketches:
            yield (pa.concat_tables(self.keys),
                   pa.array([self.spec.to_bytes(s) for s in self.sketches],
                            type=pa.binary()))


def _element_batches(batches, element_cols: Sequence[str]):
    """The non-empty Arrow batches of a partition with every row that has a
    NULL element dropped (NULL elements carry no sketch mass)."""
    for batch in batches:
        mask = None
        for c in element_cols:
            col = batch.column(c)
            if col.null_count:
                v = pc.is_valid(col)
                mask = v if mask is None else pc.and_(mask, v)
        if mask is not None:
            batch = batch.filter(mask)
        if batch.num_rows:
            yield batch


#: the most binary and string bytes one emitted record batch carries: the
#: JVM reads each Arrow batch into one direct-memory buffer
_BATCH_BYTES = 64 << 20


def _with_keys(keys, group_cols: Sequence[str], arrays: list,
               schema: pa.Schema):
    """The one emitter of the ``mapInArrow`` passes: record batches of
    ``schema``, the group columns of ``keys`` then ``arrays``, cut into
    row slices of at most ``_BATCH_BYTES`` binary and string bytes.  A
    larger single row leaves alone; zero rows yield nothing."""
    batch = pa.RecordBatch.from_arrays(
        [_flat(keys.column(c)) for c in group_cols] + list(arrays),
        schema=schema)
    size = np.zeros(batch.num_rows, dtype=np.int64)
    for col in batch.columns:
        if pa.types.is_binary(col.type) or pa.types.is_string(col.type):
            size += pc.binary_length(col).fill_null(0).to_numpy(zero_copy_only=False)
    end = np.cumsum(size)
    start = 0
    while start < batch.num_rows:
        stop = max(start + 1, int(np.searchsorted(
            end, end[start] - size[start] + _BATCH_BYTES, side="right")))
        yield batch.slice(start, stop - start)
        start = stop


def build_partials(df: DataFrame, element_cols: Sequence[str] | str,
                   group_cols: Sequence[str] = (), spec: HllSpec | None = None,
                   sketch_col: str = "sketch") -> DataFrame:
    """Stage 1: one partial sketch per (group, input partition).

    Only ``group_cols + element_cols`` are selected, so Catalyst prunes every
    other column at the scan (never deserializes e.g. an ``html`` payload).
    Element bytes hash straight from Arrow buffers; dedup-able specs
    (``hash_dedup``) build through the vectorized pair accumulator, the
    others through one live sketch per group. Group keys leave as the
    input's own Arrow values."""
    if isinstance(element_cols, str):
        element_cols = [element_cols]
    element_cols = list(element_cols)
    group_cols = list(group_cols)
    spec = spec or HllSpec()

    if spec.prehashed:
        # JVM-side prehash fast path: the element hash is computed inside
        # whole-stage codegen (xxhash64) and only 8 bytes/row cross the
        # Arrow boundary instead of the raw element bytes — this lifts the
        # measured JVM->Python transfer ceiling ~4x on url-shaped data
        # (BENCH/BASELINE.md).  Semantics: distinct over 64-bit fingerprints;
        # expected collision undercount is n/2^65 relative (2.7e-8 at n=1e12),
        # far below HLL's 1.04/sqrt(m) bound, but blobs are NOT mergeable
        # with murmur3-of-raw-element sketches over the same column.
        cond = None
        for c in element_cols:
            nn = F.col(c).isNotNull()
            cond = nn if cond is None else cond & nn
        df = (df.filter(cond)
                .select(*group_cols, F.xxhash64(*element_cols).alias("__fp64")))
        element_cols = ["__fp64"]

    out_schema = T.StructType(
        [_group_field(df, g) for g in group_cols] + [T.StructField(sketch_col, T.BinaryType(), False)]
    )
    accumulator = _PairAccumulator if spec.hash_dedup else _SketchAccumulator

    def build(batches):
        # a batch's key rows are its groups' first rows, whole: the element
        # columns keep their row count even with no group column (a
        # zero-column Arrow table drops its rows under take and concat)
        acc = accumulator(spec, group_cols)
        for batch in _element_batches(batches, element_cols):
            codes, first = arrow_group_codes(batch, group_cols)
            acc.add(codes, batch.take(pa.array(first)),
                    spec.prepare_arrow(batch, element_cols))
        for keys, blobs in acc.finalize():
            yield from _with_keys(keys, group_cols, [blobs],
                                  to_arrow_schema(out_schema))

    needed = list(dict.fromkeys(group_cols + element_cols))  # dedupe overlap
    return df.select(*needed).mapInArrow(build, out_schema)


def _drop_null_blobs(blobs: pa.Array, lens: np.ndarray, blob_idx: np.ndarray):
    """Segments without their NULL blobs, which carry no sketch mass:
    ``(blobs, lens, blob_idx)`` with every remaining ``blob_idx`` valid."""
    if blobs.null_count:
        keep = blobs.is_valid().to_numpy(zero_copy_only=False)[blob_idx]
        seg_of = np.repeat(np.arange(lens.shape[0]), lens)
        lens = np.bincount(seg_of[keep], minlength=lens.shape[0])
        blob_idx = blob_idx[keep]
        blobs = blobs.fill_null(b"")
    return blobs, lens, blob_idx


def _fold_arrow(spec, blobs: pa.Array, seg_ptr: np.ndarray,
                blob_idx: np.ndarray, empty: bytes | None) -> pa.Array:
    """One merged blob per segment of a binary Arrow array; segment ``s``
    is ``blobs[blob_idx[seg_ptr[s]:seg_ptr[s + 1]]]``.

    NULL blobs carry no sketch mass. A lone blob passes through
    byte-for-byte (canonical serialization: it IS the merge result), a
    segment with no blob yields ``empty``, and the rest fold in one
    ``spec.fold_segments`` call."""
    blobs, lens, blob_idx = _drop_null_blobs(blobs, np.diff(seg_ptr), blob_idx)
    first = np.cumsum(lens) - lens
    multi = np.flatnonzero(lens > 1)
    sub_idx = blob_idx[concat_ranges(first[multi], lens[multi])]
    sub_ptr = np.zeros(multi.shape[0] + 1, dtype=np.int64)
    np.cumsum(lens[multi], out=sub_ptr[1:])
    folded = spec.fold_segments(*arrow_flat_bytes(blobs), sub_ptr, sub_idx)
    pick = np.full(lens.shape[0], len(blobs) + multi.shape[0], dtype=np.int64)
    single = lens == 1
    pick[single] = blob_idx[first[single]]
    pick[multi] = len(blobs) + np.arange(multi.shape[0])
    pool = pa.concat_arrays([blobs, pa.array(folded + [empty], type=blobs.type)])
    return pool.take(pa.array(pick))


def _list_segments(lists: pa.Array):
    """``(blobs, seg_ptr, blob_idx)`` of an ``array<binary>`` batch: segment
    ``s`` is row ``s``'s list (a NULL list is an empty segment)."""
    blobs, offsets = list_values(lists, as_numpy=False)
    return blobs, offsets, np.arange(len(blobs), dtype=np.int64)


def _scatter(values, where: np.ndarray, fill, type_: pa.DataType) -> pa.Array:
    """Arrow array with ``values`` at the rows where ``where`` is True and
    ``fill`` (None: NULL) at the others. A NaN result (e.g. a quantile of
    an empty sketch) becomes NULL, as Spark's pandas conversion makes it."""
    pick = np.full(where.shape[0], len(values), dtype=np.int64)
    pick[where] = np.arange(len(values))
    pool = pa.concat_arrays([pa.array(values, type=type_, from_pandas=True),
                             pa.array([fill], type=type_, from_pandas=True)])
    return pool.take(pa.array(pick))


def per_row_udf(return_type: T.DataType, fn):
    """Arrow UDF applying ``fn`` to the Python values (``bytes`` for blobs)
    of every row whose arguments are all non-NULL and not NaN; any other
    row gives NULL. Integer arguments keep their type with or without NULLs
    in the batch."""
    type_ = to_arrow_type(return_type)

    @F.arrow_udf(return_type)
    def _rows(*cols: pa.Array) -> pa.Array:
        ok = np.ones(len(cols[0]), dtype=bool)
        for c in cols:
            if pa.types.is_floating(c.type):
                ok &= ~np.isnan(c.to_numpy(zero_copy_only=False))
            else:
                ok &= c.is_valid().to_numpy(zero_copy_only=False)
        take = pa.array(np.flatnonzero(ok))
        args = zip(*(c.take(take).to_pylist() for c in cols))
        return _scatter([fn(*a) for a in args], ok, None, type_)

    return _rows


def merge_blobs_udf(spec) -> Column:
    """Vectorized fold-merge of an ``array<binary>`` column of serialized
    partial sketches into one blob per row.  Used after a JVM-side
    ``collect_list`` of each group's blobs (:func:`_collect_fold`) — the
    whole merge stage stays in Spark's hash aggregate (map-side partial
    collect + shuffle), and Python is entered once per Arrow batch of
    groups, not once per group.

    One Arrow UDF for every spec: the whole batch of groups folds in one
    ``spec.fold_segments`` call (:func:`_fold_arrow`). A lone partial
    passes through byte-for-byte, NULL blobs carry no sketch mass, and an
    empty list (global agg over zero rows) gives the empty sketch, so
    COUNT(DISTINCT <empty>) estimates 0 like SQL."""
    empty = spec.to_bytes(spec.make())

    @F.arrow_udf(T.BinaryType())
    def _fold(lists: pa.Array) -> pa.Array:
        return _fold_arrow(spec, *_list_segments(lists), empty)

    return _fold


def _estimate_arrow(spec, blobs: pa.Array, seg_ptr: np.ndarray,
                    blob_idx: np.ndarray, fill, type_: pa.DataType) -> pa.Array:
    """One estimate per segment, with :func:`_fold_arrow`'s segment
    contract. NULL blobs carry no sketch mass and a segment with no blob
    gives ``fill`` (None: NULL). The rest estimate in one
    ``spec.fold_segments(..., estimate=True)`` call."""
    blobs, lens, blob_idx = _drop_null_blobs(blobs, np.diff(seg_ptr), blob_idx)
    live = lens > 0
    live_ptr = np.zeros(np.count_nonzero(live) + 1, dtype=np.int64)
    np.cumsum(lens[live], out=live_ptr[1:])
    est = spec.fold_segments(*arrow_flat_bytes(blobs), live_ptr, blob_idx,
                             estimate=True)
    return _scatter(est, live, fill, type_)


def merge_estimate_udf(spec) -> Column:
    """Fused fold-merge + estimate over an ``array<binary>`` column: one
    Python entry per Arrow batch of groups yielding the scalar estimates
    directly.

    Functionally identical to ``merge_blobs_udf`` followed by
    ``estimate_col`` (canonical serialization round-trips bit-for-bit, so
    estimating the in-memory merged sketch equals estimating its
    deserialized blob) — but the merged blob never crosses back to the JVM
    only to be shipped to Python a second time for estimation: for a
    per-group query that only wants the NUMBER, this removes one full
    JVM->Python->JVM round trip of every group's blob plus a serialize +
    deserialize per group.  Each row's list is one segment of
    :func:`_estimate_arrow`; an empty list estimates as the empty
    sketch."""
    empty_estimate = spec.estimate(spec.make())
    type_ = to_arrow_type(spec.estimate_type)

    @F.arrow_udf(spec.estimate_type)
    def _fold_estimate(lists: pa.Array) -> pa.Array:
        return _estimate_arrow(spec, *_list_segments(lists), empty_estimate,
                               type_)

    return _fold_estimate


def _collect_fold(partials: DataFrame, keys: Sequence[str], sketch_col: str,
                  fold, out_col: str) -> DataFrame:
    """Stage 2's one shuffle: ``collect_list`` gathers each key's blobs
    JVM-side (map-side partial collect + one exchange of blobs), then the
    Arrow UDF ``fold`` turns every key's list into ``out_col``.  With no
    keys this is the global aggregate, which yields one row even over zero
    partials."""
    return (partials.groupBy(*keys)
            .agg(F.collect_list(sketch_col).alias("__blobs"))
            .select(*keys, fold(F.col("__blobs")).alias(out_col)))


def merge_partials(partials: DataFrame, group_cols: Sequence[str] = (),
                   spec: HllSpec | None = None, sketch_col: str = "sketch") -> DataFrame:
    """Stage 2: fold-merge each group's partial sketches into one.

    Register-wise max is associative & commutative, so any merge order yields
    bit-identical canonical bytes (CardinalityEstimator.cs:615-685)."""
    return _collect_fold(partials, list(group_cols), sketch_col,
                         merge_blobs_udf(spec or HllSpec()), sketch_col)


def rollup_sketches(sketch_df: DataFrame, to_group_cols: Sequence[str],
                    spec: HllSpec | None = None,
                    sketch_col: str = "sketch") -> DataFrame:
    """Re-aggregate already-built sketches to a coarser grouping WITHOUT
    touching the raw input — the pre-aggregated rollup pattern.

    Because merge is associative and commutative with canonical
    serialization (reference ``CardinalityEstimator.cs:615-685``; pinned
    bit-for-bit in tests), a materialized per-(lang, day) sketch table rolls
    up to per-lang / per-day / all-time in one tiny shuffle of blobs: at
    10^12 rows the daily build scans the data once, and every coarser
    report is derived from kilobytes of sketches — never a rescan.  The
    rolled-up sketch is bit-identical to one built directly from the raw
    rows, so estimates and error bounds carry over unchanged."""
    return merge_partials(sketch_df, list(to_group_cols), spec, sketch_col)


def _concat_batches(batches) -> "pa.RecordBatch | None":
    """A ``mapInArrow`` partition as one record batch (None when empty):
    the partition's blobs are held anyway, as the collect_list buffer of a
    shuffle-side merge would hold them."""
    batches = [b for b in batches if b.num_rows]
    if not batches:
        return None
    return pa.Table.from_batches(batches).combine_chunks().to_batches()[0]


def rolling_merge(sketch_df: DataFrame, order_col: str, window: int,
                  spec: HllSpec | None = None,
                  group_cols: Sequence[str] = (),
                  sketch_col: str = "sketch") -> DataFrame:
    """Rolling union over the trailing ``window`` units of an integer-ordered
    sketch table: output row (groups..., o) carries the merge of sketches
    for order values in ``(o - window, o]`` — e.g. 7-day rolling distinct
    users from a *daily* sketch table, no raw-input rescan.

    Union-only sketches (HLL/Theta/Bloom/CMS) can't subtract, so the
    classic streaming trick (add new day, remove old) is unavailable;
    instead every window folds its ≤``window``-unit run of blobs. The plan
    is ONE exchange and ONE Python pass: ``repartition(*group_cols)``
    (``repartition(1)`` with no group columns) brings each group's rows
    into one task, where a ``mapInArrow`` factorizes the group keys,
    lexsorts rows by (group, order) and folds every distinct (group, o)
    anchor's rows with order in ``(o - window, o]`` — all windows of the
    partition in one ``spec.fold_segments`` call. Task memory is
    O(blobs in the partition), like the ``collect_list`` buffer of a
    grouped merge. Associativity makes the result bit-identical to
    building each window from raw rows; a one-blob window passes its blob
    through byte-for-byte.

    Output rows exist only for (group, order) pairs present in the input
    (trailing windows anchored at absent units would double-report).
    NULL semantics: a NULL group key is a group of its own (as in
    :func:`merge_partials`); rows with a NULL order value are dropped; a
    NULL sketch carries no mass (a window holding only NULL sketches gets
    the empty sketch).

    ``order_col`` must be integer-like (for dates, pass e.g.
    ``F.datediff(day, lit(epoch))`` first)."""
    spec = spec or HllSpec()
    group_cols = list(group_cols)
    narrowed = sketch_df.select(*group_cols, order_col, sketch_col)
    schema = narrowed.schema
    empty = spec.to_bytes(spec.make())

    def roll(batches):
        batch = _concat_batches(batches)
        if batch is None:
            return
        batch = batch.filter(pc.is_valid(batch.column(order_col)))
        if batch.num_rows == 0:
            return
        codes, _first = arrow_group_codes(batch, group_cols)
        order = batch.column(order_col).to_numpy().astype(np.int64)
        perm = np.lexsort((order, codes))
        codes, order = codes[perm], order[perm]
        # (group, order) as one non-decreasing key over the dense order rank
        values, rank = np.unique(order, return_inverse=True)
        stride = values.shape[0] + 1
        key = codes * stride + rank
        anchors = np.flatnonzero(np.r_[True, key[1:] != key[:-1]])
        hi = np.searchsorted(key, key[anchors], side="right")
        lo = np.searchsorted(key, codes[anchors] * stride + np.searchsorted(
            values, order[anchors] - window, side="right"))
        seg_ptr = np.zeros(anchors.shape[0] + 1, dtype=np.int64)
        np.cumsum(hi - lo, out=seg_ptr[1:])
        sketches = _fold_arrow(spec, batch.column(sketch_col), seg_ptr,
                               perm[concat_ranges(lo, hi - lo)], empty)
        yield from _with_keys(batch.take(pa.array(perm[anchors])),
                              group_cols + [order_col], [sketches],
                              to_arrow_schema(schema))

    shuffled = (narrowed.repartition(*group_cols) if group_cols
                else narrowed.repartition(1))
    return shuffled.mapInArrow(roll, schema)


def estimate_udf(spec) -> Column:
    """Scalar estimate of every blob as one Arrow UDF (one blob per group —
    Python cost is per-group, not per-row).  Each blob is its own segment
    of :func:`_estimate_arrow`, so the whole batch estimates in one
    ``spec.fold_segments`` call; a NULL blob estimates to NULL."""
    type_ = to_arrow_type(spec.estimate_type)

    @F.arrow_udf(spec.estimate_type)
    def _estimate(blobs: pa.Array) -> pa.Array:
        seg_ptr = np.arange(len(blobs) + 1, dtype=np.int64)
        return _estimate_arrow(spec, blobs, seg_ptr, seg_ptr[:-1], None, type_)

    return _estimate


def estimate_col(spec: HllSpec | None = None, sketch_col: str | Column = "sketch") -> Column:
    """:func:`estimate_udf` of ``spec`` (default: HLL) applied to
    ``sketch_col``."""
    col = sketch_col if isinstance(sketch_col, Column) else F.col(sketch_col)
    return estimate_udf(spec or HllSpec())(col)


def sketch_agg(df: DataFrame, element_cols, group_cols: Sequence[str] = (),
               spec: HllSpec | None = None, sketch_col: str = "sketch") -> DataFrame:
    """Full two-stage aggregation -> one sketch blob per group.

    For a very large input partition count with few groups, build the
    partials with :func:`build_partials` and fold them with
    :func:`sketchlib.spark.skew.tree_merge_partials`, so that no single
    task gathers thousands of blobs.

    NULL-semantics caveat: NULL elements carry no sketch mass (matching
    SQL's COUNT(DISTINCT)), so a group whose elements are ALL NULL
    produces NO output row — where SQL's GROUP BY would return that group
    with count 0.  The global (ungrouped) aggregate always yields exactly
    one row (estimate 0 on an empty or all-null input).  Left-join the
    group universe afterwards if zero-rows for null-only groups matter."""
    spec = spec or HllSpec()
    partials = build_partials(df, element_cols, group_cols, spec, sketch_col)
    return merge_partials(partials, group_cols, spec, sketch_col)


def distinct_count(df: DataFrame, element_cols, group_cols: Sequence[str] = (),
                   p: int = 14, hash_name: str = "murmur3",
                   estimate_name: str = "estimate",
                   spec: "HllSpec | None" = None,
                   prehash64: bool = False) -> DataFrame:
    """Approximate ``COUNT(DISTINCT element_cols...)`` per group via HLL (or
    any cardinality-estimating spec passed via ``spec``).

    HLL: exact (direct-count mode) for groups with <= 100 distinct elements;
    within 1.04/sqrt(2^p) relative std-error beyond (README.md:58).

    ``prehash64=True`` computes the element hash JVM-side (``F.xxhash64``)
    so only 8 bytes/row cross the Arrow boundary — the throughput path for
    wide string elements at cluster scale.  Trade-offs documented at
    :func:`build_partials`.

    ``p``, ``hash_name`` and ``prehash64`` build the default ``HllSpec``;
    given together with ``spec`` they raise instead of being ignored.
    """
    if spec is None:
        spec = HllSpec(p=p, hash_name=hash_name, prehashed=prehash64)
    elif p != 14 or hash_name != "murmur3" or prehash64:
        raise ValueError("distinct_count: pass p/hash_name/prehash64 or "
                         "spec, not both")
    group_cols = list(group_cols)
    # fused merge+estimate: the caller only wants the scalar, so the merged
    # blob never round-trips JVM->Python a second time (merge_estimate_udf)
    partials = build_partials(df, element_cols, group_cols, spec)
    return _collect_fold(partials, group_cols, "sketch",
                         merge_estimate_udf(spec), estimate_name)


def premerge_partials(partials: DataFrame, group_cols: Sequence[str],
                      spec=None, sketch_col: str = "sketch") -> DataFrame:
    """Map-side combine for BLOB tables: fold each input partition's blobs
    per group BEFORE any shuffle — a narrow ``mapInArrow`` pass, no
    exchange.  Output is at most (distinct groups in partition) rows per
    partition, so a downstream :func:`merge_partials` shuffles
    ``min(rows, groups x partitions)`` blobs instead of every input row.

    Spark's own map-side combine (partial ``collect_list``) gathers blobs
    but cannot MERGE them (the merge is a Python UDF); this pass does the
    merge early, which matters when many same-group blobs share a
    partition — e.g. HyperBall's relaxation join output, where a node's
    contributions from all its out-neighbors in one partition collapse to
    a single blob (hub fan-in drops from |E| shuffled rows to
    <= |V| x partitions).  Worth it whenever blobs-per-(group, partition)
    exceeds ~1: on a power-law host graph the HyperBall relaxation's
    merge-shuffle input drops 13.15M -> 132k rows (99.7x measured at 24M
    pages); on a uniform-degree synthetic it is ~1.1x and the LOCAL wall
    is a wash (isolated alternating A/B, min-of-2: 220.2 s vs 188.9 s —
    local shuffle is nearly free, so the volume cut pays on
    network-shuffle clusters, not single-box runs).  A truly all-unique
    blob table gains nothing and pays one narrow pass
    (``hyperball(premerge=False)``).

    Associativity + commutativity of the merge (canonical-bytes pinned)
    makes the final result bit-identical with or without this pass.
    Worker memory is O(blobs in the partition) — the shuffle input it
    replaces.  Group keys factorize through :func:`arrow_group_codes` and
    leave as the input's own key values, so NULL keys and full-range int64
    keys round-trip exactly; rows are grouped by one stable sort of the
    codes and every group of the partition folds in one
    ``spec.fold_segments`` call, singleton groups passing their canonical
    blob through untouched.
    """
    spec = spec or HllSpec()
    group_cols = list(group_cols)
    narrowed = partials.select(*group_cols, sketch_col)
    schema = narrowed.schema

    def combine(batches):
        batch = _concat_batches(batches)
        if batch is None:
            return
        codes, first = arrow_group_codes(batch, group_cols)
        perm = np.argsort(codes, kind="stable")
        seg_ptr = np.searchsorted(codes[perm], np.arange(first.shape[0] + 1))
        sketches = _fold_arrow(spec, batch.column(sketch_col), seg_ptr, perm,
                               None)
        yield from _with_keys(batch.take(pa.array(first)), group_cols,
                              [sketches], to_arrow_schema(schema))

    return narrowed.mapInArrow(combine, schema)
