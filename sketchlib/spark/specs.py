"""Sketch-spec bindings for the two-stage aggregation in
:mod:`sketchlib.spark.aggregate`.

A spec adapts one pure-numpy sketch to the partial-build / shuffle-merge /
estimate pipeline.  The protocol is declared once, with its defaults, on
:class:`~sketchlib.spark.aggregate.SketchSpec` and ``HashSpec``; a spec
here sets only what differs from them.  ``HllSpec`` lives in
:mod:`sketchlib.spark.aggregate` for historical reasons; the sibling
sketches bind here.

Batch builds, streaming state and driver-side frames share one Arrow hot
path, ``prepare_arrow``: the hash families hash each element through
:func:`sketchlib.encoding.arrow_flat_bytes`, so a streaming state and a
batch partial over the same column hold the same registers and merge.  A
timestamp element hashes as its int64 UTC microseconds on every path (see
:mod:`sketchlib.streaming.stream_agg`), a ``TIMESTAMP_NTZ`` element as its
wall-clock microseconds and a date as its int64 day count.
"""

from __future__ import annotations

import struct
from typing import Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import types as T

from ..ams import AmsSketch
from ..bloom import BloomFilter
from ..cuckoo import DUP_CAP, CuckooFilter, optimal_params
from ..mg import MisraGriesSketch
from ..cms import CountMinSketch
from ..ddsketch import DDSketch
from ..kll import KllSketch
from ..tdigest import TDigest
from ..theta import ThetaSketch
from .aggregate import HashSpec, SketchSpec


class BloomSpec(HashSpec):
    """Bloom membership sketch: set semantics -> dedup-able stage 1."""

    name = "bloom"
    sketch_type = BloomFilter
    hash_dedup = True

    def __init__(self, m_bits: int = 1 << 20, k: int = 7,
                 hash_name: str = "murmur3") -> None:
        self.m_bits = m_bits
        self.k = k
        self.hash_name = hash_name

    def make(self) -> BloomFilter:
        return BloomFilter(m_bits=self.m_bits, k=self.k)

    def estimate(self, sketch: BloomFilter) -> int:
        return sketch.estimate_cardinality()


class CuckooSpec(HashSpec):
    """Cuckoo membership sketch: set semantics like Bloom (stage-1 dedup is
    per-partition, see the duplicate-copies caveat in
    :mod:`sketchlib.cuckoo`), merge = fingerprint re-insertion.  Estimate is
    the stored-fingerprint count (cap-dropped duplicates excluded; a
    distinct count only when the insert side is pre-deduped — use
    HllSpec/ThetaSpec for cardinality).

    SIZE THE TABLE: with neither ``n_buckets`` nor ``expected_n`` the
    default tables ~64Ki expected keys (DUP_CAP headroom included) and
    tops out around ~260k stored fingerprints before ``add_hashes``
    raises over-capacity; pass ``expected_n`` (>= 1) at your real key
    cardinality for anything bigger."""

    name = "cuckoo"
    sketch_type = CuckooFilter
    hash_dedup = True

    def __init__(self, n_buckets: int | None = None,
                 hash_name: str = "murmur3",
                 expected_n: int | None = None) -> None:
        if n_buckets is not None and expected_n is not None:
            raise ValueError(
                "pass n_buckets OR expected_n, not both — expected_n sizes "
                "the table itself (with DUP_CAP headroom) and would be "
                "silently ignored")
        if expected_n is not None and expected_n < 1:
            # 0 would silently fall through `expected_n or default` to the
            # 64Ki default — an easy way to build a filter 1000x too small
            raise ValueError(f"expected_n must be >= 1, got {expected_n}")
        if n_buckets is None:
            # a distributed build stores up to DUP_CAP copies per key
            # (stage-1 dedup is per-partition; a key spanning partitions
            # or accumulator flushes lands once per source, capped) — size
            # the table for the worst case so partials can't overflow
            n_buckets = optimal_params(DUP_CAP * (expected_n or (1 << 16)))
        self.n_buckets = n_buckets
        self.hash_name = hash_name

    def make(self) -> CuckooFilter:
        return CuckooFilter(n_buckets=self.n_buckets)

    def estimate(self, sketch: CuckooFilter) -> int:
        return sketch.size()


class CmsSpec(HashSpec):
    """Count-min frequency sketch: multiplicities matter -> streaming stage 1
    (``hash_dedup = False``); merge = cell-wise sum."""

    name = "cms"
    sketch_type = CountMinSketch

    def __init__(self, width: int = 1 << 12, depth: int = 5,
                 hash_name: str = "murmur3") -> None:
        self.width = width
        self.depth = depth
        self.hash_name = hash_name

    def make(self) -> CountMinSketch:
        return CountMinSketch(width=self.width, depth=self.depth)

    def estimate(self, sketch: CountMinSketch) -> int:
        """Scalar summary = total stream length N (point queries go through
        :func:`sketchlib.spark.heavy_hitters.estimate_counts`)."""
        return sketch.count_additions


class AmsSpec(HashSpec):
    """AMS/Count-Sketch F2 sketch: linear sketch -> streaming stage 1
    (``hash_dedup = False``, multiplicities are the whole point); merge =
    cell-wise sum; estimate = median-of-rows F2 (self-join size)."""

    name = "ams"
    sketch_type = AmsSketch

    def __init__(self, width: int = 1 << 12, depth: int = 7,
                 hash_name: str = "murmur3") -> None:
        self.width = width
        self.depth = depth
        self.hash_name = hash_name

    def make(self) -> AmsSketch:
        return AmsSketch(width=self.width, depth=self.depth)

    def estimate(self, sketch: AmsSketch) -> int:
        return sketch.estimate_f2()


class MgSpec(HashSpec):
    """Misra–Gries frequent-items summary: deterministic per-key sandwich
    (estimate <= true <= estimate + total_decrement, total_decrement <=
    n/(k+1) under any merge tree — Agarwal et al. 2012).  Multiplicities are
    the point -> streaming stage 1 (``hash_dedup = False``); merge =
    pointwise add + (k+1)-th-largest decrement.  ``estimate`` = the largest
    certified frequency lower bound (the top counter)."""

    name = "mg"
    sketch_type = MisraGriesSketch

    def __init__(self, k: int = 64, hash_name: str = "murmur3") -> None:
        self.k = k
        self.hash_name = hash_name

    def make(self) -> MisraGriesSketch:
        return MisraGriesSketch(k=self.k)

    def estimate(self, sketch: MisraGriesSketch) -> int:
        return int(sketch.counts.max()) if sketch.counts.shape[0] else 0


class _QuantileSpecBase(SketchSpec):
    """Shared binding for value-based (not hash-based) quantile sketches:
    ``prepare_arrow`` extracts the float64 value column; stage 1 streams values into
    one live sketch per group (``hash_dedup = False`` — multiplicity and
    magnitude matter)."""

    estimate_type = T.DoubleType()

    def prepare_arrow(self, batch, element_cols: Sequence[str]) -> np.ndarray:
        if len(element_cols) != 1:
            raise ValueError("quantile sketches take exactly one value column")
        return (batch.column(element_cols[0]).cast(pa.float64())
                .to_numpy(zero_copy_only=False))

    def ingest(self, sketch, prepared: np.ndarray) -> None:
        sketch.add_values(prepared)

    def estimate(self, sketch) -> float:
        """Scalar summary = median (full quantile sets via quantiles_col)."""
        return float(sketch.quantile(0.5))


class TDigestSpec(_QuantileSpecBase):
    name = "tdigest"
    sketch_type = TDigest

    def __init__(self, delta: int = 200) -> None:
        self.delta = delta

    def make(self) -> TDigest:
        return TDigest(delta=self.delta)


class KllSpec(_QuantileSpecBase):
    name = "kll"
    sketch_type = KllSketch

    def __init__(self, k: int = 200) -> None:
        self.k = k

    def make(self) -> KllSketch:
        return KllSketch(k=self.k)


class DdSpec(_QuantileSpecBase):
    """DDSketch relative-error quantiles: value-based stage 1 like
    KLL/t-digest, but the merged state is an EXACT bucket histogram —
    bit-identical under any partitioning or merge tree (the bucket function
    is closed-form, so no insertion-order dependence at all)."""

    name = "ddsketch"
    sketch_type = DDSketch

    def __init__(self, alpha: float = 0.01, min_positive: float = 1e-9) -> None:
        self.alpha = alpha
        self.min_positive = min_positive

    def make(self) -> DDSketch:
        return DDSketch(alpha=self.alpha, min_positive=self.min_positive)


class ComboSpec(SketchSpec):
    """Several sketch families over ONE prepared element stream — one scan
    and one blob shuffle build them all (the alternative is one
    ``sketch_agg`` scan per family; at 100 TB each extra family would cost
    a full corpus re-read).

    All sub-specs must consume the same prepared array: either every spec
    is hash-based with the SAME ``hash_name`` (HLL/Bloom/CMS/AMS/MG/Theta
    share the 64-bit element-hash stream), or every spec is value-based
    (t-digest/KLL/DDSketch share the float64 column).  Mixing the two
    prepare semantics in one combo is rejected — they read different
    arrays.

    ``hash_dedup`` is always False: frequency families need multiplicity,
    and streaming ingest is correct (if conservative) for the dedup-able
    ones.  The scalar ``estimate`` is the FIRST sub-spec's; callers wanting
    every family split the blob with :meth:`split_blob` and use each
    family's own estimators.
    """

    name = "combo"

    _WIRE_MAGIC = b"CB"
    _WIRE_VERSION = 1

    def __init__(self, specs: Sequence) -> None:
        specs = tuple(specs)
        if not specs:
            raise ValueError("ComboSpec needs at least one sub-spec")
        hash_names = [s.hash_name for s in specs]
        n_hash = sum(h is not None for h in hash_names)
        if n_hash not in (0, len(specs)):
            raise ValueError(
                "ComboSpec cannot mix hash-based and value-based sub-specs "
                "(they prepare different arrays)")
        if n_hash and len(set(hash_names)) != 1:
            raise ValueError(
                f"ComboSpec sub-specs must share one hash_name, got "
                f"{sorted(set(hash_names))}")
        if any(s.prehashed for s in specs):
            raise ValueError("ComboSpec does not support prehashed sub-specs")
        self.specs = specs
        self.hash_name = hash_names[0]
        # the scalar estimate delegates to the first sub-spec, so the
        # declared column type must too (a value-based first spec returns a
        # double median; a hardcoded LongType would silently truncate it)
        self.estimate_type = specs[0].estimate_type

    def make(self) -> list:
        return [s.make() for s in self.specs]

    def prepare_arrow(self, batch, element_cols: Sequence[str]) -> np.ndarray:
        return self.specs[0].prepare_arrow(batch, element_cols)

    def ingest(self, sketches: list, prepared: np.ndarray) -> None:
        for spec, sk in zip(self.specs, sketches):
            spec.ingest(sk, prepared)

    def to_bytes(self, sketches: list) -> bytes:
        parts = [self._WIRE_MAGIC,
                 struct.pack("<BBH", self._WIRE_VERSION, 0, len(self.specs))]
        for spec, sk in zip(self.specs, sketches):
            blob = spec.to_bytes(sk)
            parts.append(struct.pack("<I", len(blob)))
            parts.append(blob)
        return b"".join(parts)

    def split_blob(self, blob: bytes) -> list[bytes]:
        """The per-family blobs inside a combo blob (validated)."""
        if blob[:2] != self._WIRE_MAGIC:
            raise ValueError("not a combo-sketch blob")
        if len(blob) < 6:
            raise ValueError("combo blob truncated")
        version, _pad, count = struct.unpack_from("<BBH", blob, 2)
        if version > self._WIRE_VERSION:
            raise ValueError(f"incompatible combo wire version {version}")
        if count != len(self.specs):
            raise ValueError(
                f"combo blob holds {count} families, spec expects "
                f"{len(self.specs)}")
        out = []
        off = 6
        for _ in range(count):
            if off + 4 > len(blob):
                raise ValueError("combo blob truncated")
            (ln,) = struct.unpack_from("<I", blob, off)
            off += 4
            if off + ln > len(blob):
                raise ValueError("combo blob truncated")
            out.append(blob[off:off + ln])
            off += ln
        if off != len(blob):
            raise ValueError("combo blob has trailing bytes")
        return out

    def from_bytes(self, blob: bytes) -> list:
        return [spec.from_bytes(b)
                for spec, b in zip(self.specs, self.split_blob(blob))]

    def merge(self, a: list, b: list) -> list:
        return [spec.merge(x, y)
                for spec, x, y in zip(self.specs, a, b)]

    def estimate(self, sketches: list) -> int:
        return self.specs[0].estimate(sketches[0])


class ThetaSpec(HashSpec):
    """Theta/KMV distinct sketch: set semantics -> dedup-able stage 1, with
    first-class intersection/difference (:mod:`sketchlib.theta`)."""

    name = "theta"
    sketch_type = ThetaSketch
    hash_dedup = True

    def __init__(self, k: int = 4096, hash_name: str = "murmur3",
                 prehashed: bool = False) -> None:
        self.k = k
        self.hash_name = hash_name
        #: element column already IS the 64-bit hash (JVM ``F.xxhash64`` —
        #: same fast path and same caveats as ``HllSpec.prehashed``)
        self.prehashed = prehashed

    def make(self) -> ThetaSketch:
        return ThetaSketch(k=self.k)

    def build_from_hashes(self, unique_hashes: np.ndarray,
                          count_additions: int) -> ThetaSketch:
        # sorted unique hashes ARE the theta state: an O(k) slice, no add loop
        return ThetaSketch.from_unique_hashes(unique_hashes, k=self.k,
                                              count_additions=count_additions)

    def estimate(self, sketch: ThetaSketch) -> int:
        return sketch.count()
