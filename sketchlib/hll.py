"""HyperLogLog sketch with direct-count / sparse / dense lifecycle.

Semantics-identical re-implementation (batch-vectorized, numpy) of the
reference ``CardinalityEstimation.CardinalityEstimator`` (C#):

* three-mode lifecycle: exact direct counting up to 100 element hashes
  (``HllConstants.cs:42``), sparse registers until ``m//15 - 10`` non-zero
  entries (``CardinalityEstimator.cs:290``), then dense ``uint8[m]``;
* estimator: HLL raw estimate with alpha_m (``HllConstants.cs:85-98``),
  Heule et al. empirical bias correction for E <= 5m
  (``CardinalityEstimator.cs:578-581``), LinearCounting below the
  sub-algorithm-selection threshold (``HllConstants.cs:106-127``,
  ``CardinalityEstimator.cs:584-599``);
* register index = top p bits of the 64-bit hash; rank sigma = leading zeros
  within the low 64-p bits, plus one (``CardinalityEstimator.cs:768-769,
  801-814``);
* merge = register-wise max, with direct/sparse/dense mode reconciliation
  (``CardinalityEstimator.cs:615-685``);
* wire format v3.1 (``CardinalityEstimatorSerializer.cs:125-165``) with the
  deserialize-replay rule (``CardinalityEstimator.cs:297-307``), so blobs are
  interchangeable with the reference — with one strengthening: direct hashes
  and sparse registers are written in *sorted* order, making serialization
  canonical (the C# HashSet/Dictionary iteration order is nondeterministic).
  Canonical bytes back the bit-for-bit merge associativity/commutativity
  tests the north rule demands.

Two scale-driven representation choices (both exactly equivalent to the
reference's incremental state machine because non-zero register count and
direct-set size are monotone):

* While direct mode is active the dense register array is **not** stored;
  it is replayed on demand from the <=100 element hashes (the reference's own
  deserialize-replay rule).  A small group's sketch costs ~1 KB instead of
  16 KB — this is what keeps millions of per-group sketches (e.g. per-host)
  cheap inside one executor.
* Once past direct mode, registers are a dense ``uint8[m]`` plus an
  ``is_sparse`` flag; "sparse" affects only serialization layout and
  promotion bookkeeping.  Every inserted rank is >= 1, so the reference's
  sparse-dict entry count always equals the non-zero register count and mode
  transitions land at identical points.
"""

from __future__ import annotations

import math
import struct

import numpy as np

from . import _bias_tables
from .hashing import HASHES, murmur3_64_flat, to_flat_bytes
from ._wire import read_array, unpack

DIRECT_COUNTER_MAX_ELEMENTS = 100  # HllConstants.cs:42
WIRE_MAJOR = 3  # CardinalityEstimatorSerializer.cs:54
WIRE_MINOR = 1

_RAW_ESTIMATE = {p: np.asarray(v, dtype=np.float64) for p, v in _bias_tables.RAW_ESTIMATE.items()}
_BIAS_DATA = {p: np.asarray(v, dtype=np.float64) for p, v in _bias_tables.BIAS_DATA.items()}

_INV_POW2 = 2.0 ** -np.arange(65, dtype=np.float64)  # HllConstants.cs:56-78

# LinearCounting-vs-HLL selection thresholds (HllConstants.cs:106-127)
_THRESHOLD = {
    4: 10.0, 5: 20.0, 6: 40.0, 7: 80.0, 8: 220.0, 9: 400.0, 10: 900.0,
    11: 1800.0, 12: 3100.0, 13: 6500.0, 14: 11500.0, 15: 20000.0,
    16: 50000.0, 17: 120000.0, 18: 350000.0,
}


def alpha_m(m: int) -> float:
    """HLL alpha constant (HllConstants.cs:85-98)."""
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1 + 1.079 / m)


def correct_bias(value: float, p: int) -> float:
    """Bias-corrected estimate, clamped at zero (BiasCorrection.cs:112-172).

    Linear interpolation into the empirical tables; clamps to the first/last
    bias value outside the table range, exactly like the reference's
    binary-search + First()/Last() logic.
    """
    raw = _RAW_ESTIMATE[p]
    bias = _BIAS_DATA[p]
    i = int(np.searchsorted(raw, value, side="left"))
    if i < len(raw) and raw[i] == value:
        b = float(bias[i])
    elif i >= len(raw):
        b = float(bias[-1])
    elif i <= 0:
        b = float(bias[0])
    else:
        frac = (value - raw[i - 1]) / (raw[i] - raw[i - 1])
        b = float(bias[i - 1] + frac * (bias[i] - bias[i - 1]))
    return max(value - b, 0.0)


def sparse_max_elements(p: int) -> int:
    """Sparse-representation bound of precision ``p`` (CardinalityEstimator.cs:290)."""
    return max(0, (1 << p) // 15 - 10)


def get_sigma_batch(hashes: np.ndarray, bits_to_count: int) -> np.ndarray:
    """Vectorized rank: leading zeros of the low ``bits_to_count`` bits of each
    hash (within that bit width), plus one; hash==0 -> bits_to_count+1
    (CardinalityEstimator.cs:801-814)."""
    h = hashes.astype(np.uint64, copy=False)
    mask = np.uint64((1 << bits_to_count) - 1)
    x = h & mask
    # branchless bit_length via shift cascade (exact for uint64, unlike log2)
    bl = np.zeros(x.shape, dtype=np.int64)
    cur = x.copy()
    for shift in (32, 16, 8, 4, 2, 1):
        t = cur >> np.uint64(shift)
        has = t > 0
        bl += shift * has
        cur = np.where(has, t, cur)
    bl += cur > 0  # bit_length; 0 for x == 0 -> sigma = bits_to_count + 1
    return (bits_to_count + 1 - bl).astype(np.uint8)


def get_sigma(hash_value: int, bits_to_count: int) -> int:
    return int(get_sigma_batch(np.asarray([hash_value], dtype=np.uint64), bits_to_count)[0])


class HllSketch:
    """Mergeable HLL sketch.  Batch inputs are ``np.uint64`` hash arrays —
    hashing and element encoding live in :mod:`sketchlib.hashing` /
    :mod:`sketchlib.encoding` so this class stays a pure register algebra."""

    __slots__ = ("p", "m", "bits_for_hll", "sparse_max_elements",
                 "_registers", "_is_sparse", "direct", "count_additions")

    def __init__(self, p: int = 14, use_direct_counting: bool = True,
                 registers: np.ndarray | None = None,
                 direct: np.ndarray | None = None,
                 is_sparse: bool = True, count_additions: int = 0) -> None:
        if not 4 <= p <= 16:
            raise ValueError(f"p must be in [4, 16], got {p}")
        self.p = p
        self.m = 1 << p
        self.bits_for_hll = 64 - p
        self.sparse_max_elements = sparse_max_elements(p)
        self.count_additions = count_additions
        if direct is None and use_direct_counting and registers is None:
            direct = np.zeros(0, dtype=np.uint64)
        self.direct = direct
        if direct is not None:
            self._registers = None  # lazy: replayed from direct hashes on demand
            self._is_sparse = True
        else:
            self._registers = registers if registers is not None else np.zeros(self.m, dtype=np.uint8)
            self._is_sparse = is_sparse
        if self.sparse_max_elements <= 0:
            self._is_sparse = False

    # -- lazy register materialization ----------------------------------------

    def _replay(self, hashes: np.ndarray) -> np.ndarray:
        regs = np.zeros(self.m, dtype=np.uint8)
        if hashes.shape[0]:
            idx = (hashes >> np.uint64(self.bits_for_hll)).astype(np.int64)
            np.maximum.at(regs, idx, get_sigma_batch(hashes, self.bits_for_hll))
        return regs

    @property
    def registers(self) -> np.ndarray:
        """Dense register view (replayed from the direct hash set while in
        direct mode — the deserialize-replay rule, CardinalityEstimator.cs:297-307)."""
        if self._registers is not None:
            return self._registers
        return self._replay(self.direct)

    @property
    def is_sparse(self) -> bool:
        if self._registers is not None:
            return self._is_sparse
        if self.sparse_max_elements <= 0:
            return False
        # direct mode: non-zero registers <= distinct hashes, so a bounded
        # direct set proves sparseness without materializing the registers
        # (the replay costs a 16KB alloc — fatal at millions of tiny groups)
        if self.direct.shape[0] <= self.sparse_max_elements:
            return True
        return int(np.count_nonzero(self.registers)) <= self.sparse_max_elements

    def _drop_direct(self) -> None:
        """Transition out of direct mode: materialize registers by replay."""
        regs = self._replay(self.direct)
        self._registers = regs
        self._is_sparse = self.sparse_max_elements > 0
        self.direct = None
        self._maybe_promote()

    def _maybe_promote(self) -> bool:
        if self._is_sparse and int(np.count_nonzero(self._registers)) > self.sparse_max_elements:
            self._is_sparse = False
            return True
        return False

    # -- build ---------------------------------------------------------------

    def add_hashes(self, hashes: np.ndarray) -> bool:
        """Batch insert of element hashes (vectorized AddElementHash,
        CardinalityEstimator.cs:755-788). Returns True iff the sketch state
        changed — the reference's Add mutation-reporting contract
        (CardinalityEstimator.cs:346-470, CardinalityEstimatorTests.cs:92-126),
        batch-collapsed with OR."""
        h = np.ascontiguousarray(hashes, dtype=np.uint64)
        self.count_additions += int(h.shape[0])
        if h.shape[0] == 0:
            return False
        if self.direct is not None:
            before = self.direct.shape[0]
            self.direct = np.union1d(self.direct, h)
            changed = self.direct.shape[0] > before
            if self.direct.shape[0] > DIRECT_COUNTER_MAX_ELEMENTS:
                self._drop_direct()
                return True
            return changed
        idx = (h >> np.uint64(self.bits_for_hll)).astype(np.int64)
        sig = get_sigma_batch(h, self.bits_for_hll)
        changed = bool((sig > self._registers[idx]).any())
        np.maximum.at(self._registers, idx, sig)
        return self._maybe_promote() or changed

    def add(self, *elements) -> bool:
        """Convenience scalar/list add of raw byte strings (tests only; the
        Spark hot path hashes whole Arrow batches). Returns True iff any
        element changed the sketch (reference Add contract)."""
        vals = [e if isinstance(e, bytes) else str(e).encode("utf-8") for e in elements]
        flat, offsets = to_flat_bytes(vals)
        return self.add_hashes(murmur3_64_flat(flat, offsets))

    # -- estimate ------------------------------------------------------------

    def count(self) -> int:
        """Estimate distinct count (CardinalityEstimator.cs:542-600)."""
        if self.direct is not None:
            return int(self.direct.shape[0])
        counts = np.bincount(self._registers, minlength=65)
        z_inverse = float(counts @ _INV_POW2[: counts.shape[0]])
        v = float(counts[0])
        m = float(self.m)
        e = alpha_m(self.m) * m * m / z_inverse
        if e <= 5.0 * m:
            e = correct_bias(e, self.p)
        if v > 0:
            h = m * math.log(m / v)
        else:
            h = e
        if h <= _THRESHOLD[self.p]:
            return int(round(h))  # C# Math.Round default = banker's = Python round
        return int(round(e))

    # -- merge ---------------------------------------------------------------

    def merge(self, other: "HllSketch") -> None:
        """In-place union merge (CardinalityEstimator.cs:615-685)."""
        if other.m != self.m:
            raise ValueError("cannot merge sketches with different precision")
        self.count_additions += other.count_additions
        if self.direct is not None and other.direct is not None:
            self.direct = np.union1d(self.direct, other.direct)
            if self.direct.shape[0] > DIRECT_COUNTER_MAX_ELEMENTS:
                self._drop_direct()
            return
        # at least one side is past direct mode -> result has no direct set
        other_sparse = other.is_sparse
        if self.direct is not None:
            self._drop_direct()
        self_sparse = self._is_sparse
        if self._registers is None:  # pragma: no cover - defensive
            self._registers = self._replay(np.zeros(0, dtype=np.uint64))
        np.maximum(self._registers, other.registers, out=self._registers)
        self.direct = None
        if self_sparse and other_sparse:
            self._is_sparse = True
            self._maybe_promote()
        else:
            self._is_sparse = False

    def copy(self) -> "HllSketch":
        return HllSketch(
            p=self.p,
            use_direct_counting=False,
            registers=None if self._registers is None else self._registers.copy(),
            direct=None if self.direct is None else self.direct.copy(),
            is_sparse=self._is_sparse,
            count_additions=self.count_additions,
        )

    @classmethod
    def from_unique_hashes(cls, hashes: np.ndarray, p: int = 14,
                           count_additions: int = 0,
                           use_direct_counting: bool = True) -> "HllSketch":
        """Build a sketch from an array of *distinct* element hashes in one
        shot — exactly equivalent to incremental ``add_hashes`` because the
        reference's mode transitions depend only on the distinct-hash count
        and the non-zero register count, both order-independent
        (CardinalityEstimator.cs:755-788). This is the vectorized
        many-tiny-groups fast path used by the Spark stage-1 builder."""
        h = np.ascontiguousarray(hashes, dtype=np.uint64)
        if use_direct_counting and h.shape[0] <= DIRECT_COUNTER_MAX_ELEMENTS:
            sk = cls(p=p, direct=h, count_additions=count_additions)
            return sk
        sk = cls(p=p, use_direct_counting=False, count_additions=count_additions)
        idx = (h >> np.uint64(sk.bits_for_hll)).astype(np.int64)
        np.maximum.at(sk._registers, idx, get_sigma_batch(h, sk.bits_for_hll))
        sk._maybe_promote()
        return sk

    @staticmethod
    def merge_all(sketches) -> "HllSketch | None":
        """Fold-merge, null-safe (static Merge, CardinalityEstimator.cs:704-730)."""
        result = None
        for s in sketches:
            if s is None:
                continue
            if result is None:
                result = s.copy()
            else:
                result.merge(s)
        return result

    # -- serialization (wire format v3.1) --------------------------------------

    def to_bytes(self) -> bytes:
        """Canonical v3.1 blob (CardinalityEstimatorSerializer.cs:125-165):
        u16 major, u16 minor, i32 bitsPerIndex, u8 flags(isSparse<<1|isDirect),
        payload, u64 countAdditions — all little-endian; direct hashes and
        sparse entries written in ascending order (canonical)."""
        is_direct = self.direct is not None
        is_sparse = self.is_sparse
        parts = [struct.pack("<HHiB", WIRE_MAJOR, WIRE_MINOR, self.p,
                             ((1 if is_sparse else 0) << 1) | (1 if is_direct else 0))]
        if is_direct:
            parts.append(struct.pack("<i", self.direct.shape[0]))
            parts.append(np.sort(self.direct).astype("<u8").tobytes())
        elif is_sparse:
            regs = self._registers
            nz = np.nonzero(regs)[0]
            parts.append(struct.pack("<i", nz.shape[0]))
            entries = np.empty(nz.shape[0], dtype=[("idx", "<u2"), ("rank", "u1")])
            entries["idx"] = nz.astype(np.uint16)
            entries["rank"] = regs[nz]
            parts.append(entries.tobytes())
        else:
            parts.append(struct.pack("<i", self.m))
            parts.append(self._registers.tobytes())
        parts.append(struct.pack("<Q", self.count_additions & ((1 << 64) - 1)))
        return b"".join(parts)

    @classmethod
    def from_bytes(cls, blob: bytes) -> "HllSketch":
        """Parse a v1/v2/v3 blob with the reference's hardening checks
        (CardinalityEstimatorSerializer.cs:257-326) and the direct-count
        replay rule (CardinalityEstimator.cs:297-307)."""
        off = 0
        major, minor = unpack("<HH", blob, off, "HLL")
        off += 4
        if major > WIRE_MAJOR:
            raise ValueError(f"incompatible wire format version {major}.{minor}")
        if major == 2:
            off += 1  # v2 hash-function id byte; the hash is caller-supplied here
        (p,) = unpack("<i", blob, off, "HLL")
        off += 4
        if not 4 <= p <= 16:
            raise ValueError(f"invalid bitsPerIndex {p}")
        m = 1 << p
        (flags,) = unpack("<B", blob, off, "HLL")
        off += 1
        is_sparse = bool(flags & 2)
        is_direct = bool(flags & 1)

        if is_direct:
            (n,) = unpack("<i", blob, off, "HLL")
            off += 4
            if not 0 <= n <= DIRECT_COUNTER_MAX_ELEMENTS:
                raise ValueError(f"invalid direct count {n}")
            direct = np.unique(read_array(blob, "<u8", n, off, "HLL").astype(np.uint64))
            off += 8 * n
            sketch = cls(p=p, direct=direct)
        elif is_sparse:
            (n,) = unpack("<i", blob, off, "HLL")
            off += 4
            if not 0 <= n <= m:
                raise ValueError(f"invalid sparse count {n}")
            entries = read_array(blob, [("idx", "<u2"), ("rank", "u1")], n, off, "HLL")
            off += 3 * n
            registers = np.zeros(m, dtype=np.uint8)
            idx = entries["idx"].astype(np.int64)
            if n and int(idx.max()) >= m:
                raise ValueError("sparse index out of range")
            np.maximum.at(registers, idx, entries["rank"])
            sketch = cls(p=p, use_direct_counting=False, registers=registers, is_sparse=True)
            sketch._maybe_promote()
        else:
            (n,) = unpack("<i", blob, off, "HLL")
            off += 4
            if n != m:
                raise ValueError(f"dense length {n} != m {m}")
            registers = read_array(blob, np.uint8, n, off, "HLL").copy()
            off += n
            sketch = cls(p=p, use_direct_counting=False, registers=registers, is_sparse=False)
        # reference predicate is (major >= 2 AND minor >= 1) — NOT tuple
        # order: a hypothetical v3.0 blob carries no count_additions
        # (CardinalityEstimatorSerializer quirk, matched deliberately)
        if major >= 2 and minor >= 1:
            (count_additions,) = unpack("<Q", blob, off, "HLL")
            sketch.count_additions = int(count_additions)
        return sketch

    # -- equality / canonical state -------------------------------------------

    def state_tuple(self):
        return (
            self.p,
            self.is_sparse,
            None if self.direct is None else tuple(np.sort(self.direct).tolist()),
            self.registers.tobytes(),
            self.count_additions,
        )

    def __eq__(self, other: object) -> bool:
        if not isinstance(other, HllSketch):
            return NotImplemented
        return self.state_tuple() == other.state_tuple()

    __hash__ = None  # type: ignore[assignment]


def direct_blob(p: int, sorted_unique_hashes: np.ndarray,
                count_additions: int) -> bytes:
    """Canonical v3.1 direct-mode blob straight from a sorted unique hash
    array — byte-identical to ``HllSketch(direct=...).to_bytes()`` but with
    no sketch object, for the millions-of-tiny-groups emit loop."""
    n = sorted_unique_hashes.shape[0]
    sparse_flag = 2 if sparse_max_elements(p) > 0 else 0
    return (struct.pack("<HHiBi", WIRE_MAJOR, WIRE_MINOR, p, sparse_flag | 1, n)
            + sorted_unique_hashes.astype("<u8").tobytes()
            + struct.pack("<Q", count_additions & ((1 << 64) - 1)))


def union_estimate(*sketches: HllSketch) -> int:
    """|A ∪ B ∪ ...| via merge (lossless for HLL)."""
    merged = HllSketch.merge_all(sketches)
    return 0 if merged is None else merged.count()


def intersection_estimate(a: HllSketch, b: HllSketch) -> int:
    """|A ∩ B| by inclusion-exclusion: |A| + |B| − |A ∪ B|.

    Standard HLL set algebra (the reference has union only); error grows with
    |A ∪ B| / |A ∩ B|, so treat small intersections of large sets as noise —
    the estimate is clamped at 0."""
    u = union_estimate(a, b)
    return max(a.count() + b.count() - u, 0)


def jaccard_estimate(a: HllSketch, b: HllSketch) -> float:
    """J(A, B) ≈ (|A| + |B| − |A∪B|) / |A∪B|, clamped to [0, 1]."""
    u = union_estimate(a, b)
    if u == 0:
        return 0.0
    return min(max((a.count() + b.count() - u) / u, 0.0), 1.0)


def hll_from_values(values, p: int = 14, hash_name: str = "murmur3",
                    use_direct_counting: bool = True) -> HllSketch:
    """Build a sketch from an iterable of byte strings (test convenience)."""
    _scalar, flat_fn = HASHES[hash_name]
    sketch = HllSketch(p=p, use_direct_counting=use_direct_counting)
    vals = [v if isinstance(v, bytes) else str(v).encode("utf-8") for v in values]
    flat, offsets = to_flat_bytes(vals)
    sketch.add_hashes(flat_fn(flat, offsets))
    return sketch




# -- batch wire kernel ---------------------------------------------------------

#: fixed v3.1 blob header: u16 major, u16 minor, i32 bitsPerIndex, u8 flags,
#: i32 payload count (CardinalityEstimatorSerializer.cs:125-165)
_HEADER = np.dtype([("major", "<u2"), ("minor", "<u2"), ("p", "<i4"),
                    ("flags", "u1"), ("n", "<i4")])
_HEADER_BYTES = _HEADER.itemsize
_ENTRY = np.dtype([("idx", "<u2"), ("rank", "u1")])  # one sparse register
_DIRECT, _SPARSE, _DENSE = 0, 1, 2
_PAYLOAD_ITEM = np.array([8, 3, 1], dtype=np.int64)  # bytes per count, by kind
#: register-matrix bytes per fold chunk: bounds worker memory when thousands
#: of segments leave direct mode in one call
_REGISTER_BUDGET = 1 << 24


def concat_ranges(starts, lengths) -> np.ndarray:
    """Concatenated ``arange(s, s + n)`` for every (s, n) pair — the gather
    index of many variable-length slices, with no per-slice Python."""
    starts = np.asarray(starts, dtype=np.int64)
    lengths = np.broadcast_to(np.asarray(lengths, dtype=np.int64), starts.shape)
    shift = starts - (np.cumsum(lengths) - lengths)
    return np.arange(int(lengths.sum()), dtype=np.int64) + np.repeat(shift, lengths)


#: :func:`sparse_max_elements` by precision, for the vectorized kernels
_SPARSE_MAX = np.array([sparse_max_elements(p) for p in range(17)])


def _peek(buf: np.ndarray, starts: np.ndarray, lens: np.ndarray):
    """Vectorized header parse of the blobs ``buf[starts:starts + lens]``.

    Returns ``(p, kind, n, ok, adds)`` per blob. ``ok`` marks a v3.>=1 blob
    that passes every check :meth:`HllSketch.from_bytes` makes short of the
    sparse index bound (which needs the payload): header and payload
    length, 4 <= p <= 16, and the direct/sparse/dense count. The fields of
    a blob that is not ``ok`` are meaningless."""
    if buf.shape[0] == 0:
        buf = np.zeros(1, dtype=np.uint8)
    last = buf.shape[0] - 1
    pos = np.minimum(starts[:, None] + np.arange(_HEADER_BYTES), last)
    h = buf[pos].view(_HEADER)[:, 0]
    p = h["p"].astype(np.int64)
    n = h["n"].astype(np.int64)
    kind = np.where(h["flags"] & 1, _DIRECT,
                    np.where(h["flags"] & 2, _SPARSE, _DENSE))
    m = np.left_shift(1, np.clip(p, 4, 16))
    ok = ((lens >= _HEADER_BYTES) & (h["major"] == WIRE_MAJOR)
          & (h["minor"] >= 1) & (p >= 4) & (p <= 16))
    ok &= np.where(kind == _DIRECT, (n >= 0) & (n <= DIRECT_COUNTER_MAX_ELEMENTS),
                   np.where(kind == _SPARSE, (n >= 0) & (n <= m), n == m))
    tail = _HEADER_BYTES + np.where(ok, n * _PAYLOAD_ITEM[kind], 0)
    ok &= lens >= tail + 8
    pos = np.minimum((starts + tail)[:, None] + np.arange(8), last)
    adds = buf[pos].view("<u8")[:, 0]
    return p, kind, n, ok, adds


def _run_heads(*keys: np.ndarray) -> np.ndarray:
    """Mask of the first element of every run of equal key tuples."""
    heads = np.zeros(keys[0].shape[0], dtype=bool)
    heads[:1] = True
    for k in keys:
        heads[1:] |= k[1:] != k[:-1]
    return heads


def _emit(p, flags, n, payload: np.ndarray, payload_lens, adds) -> list[bytes]:
    """Serialize many v3.1 blobs at once from per-blob header fields,
    count_additions and their payloads concatenated in blob order."""
    k = adds.shape[0]
    if k == 0:
        return []
    sizes = _HEADER_BYTES + np.broadcast_to(payload_lens, (k,)) + 8
    ends = np.cumsum(sizes)
    starts = ends - sizes
    hdr = np.empty(k, dtype=_HEADER)
    hdr["major"], hdr["minor"] = WIRE_MAJOR, WIRE_MINOR
    hdr["p"], hdr["flags"], hdr["n"] = p, flags, n
    out = np.empty(int(ends[-1]), dtype=np.uint8)
    out[concat_ranges(starts, _HEADER_BYTES)] = hdr.view(np.uint8)
    out[concat_ranges(starts + _HEADER_BYTES, payload_lens)] = payload
    out[concat_ranges(ends - 8, 8)] = adds.astype("<u8").view(np.uint8)
    raw = out.tobytes()
    return [raw[a:b] for a, b in zip(starts.tolist(), ends.tolist())]


def _register_chunks(buf, starts, kind, n, ref_row, sparse_entries, p: int,
                     n_rows: int):
    """Fold the blobs of register-path segments into (rows x m) register
    matrices, at most ``_REGISTER_BUDGET`` bytes at a time. ``ref_row`` maps
    each blob reference to its segment's row (-1: not folded here); refs
    are in segment order, so every per-ref and per-entry array below is
    sorted by row and a chunk is a ``searchsorted`` slice of it."""
    m = 1 << p
    bits = 64 - p
    cap = max(1, _REGISTER_BUDGET // m)
    d = np.flatnonzero((ref_row >= 0) & (kind == _DIRECT))
    hashes = buf[concat_ranges(starts[d] + _HEADER_BYTES, 8 * n[d])].view("<u8")
    h_row = np.repeat(ref_row[d], n[d])
    e_ref, e_idx, e_rank = sparse_entries
    live = ref_row[e_ref] >= 0
    e_row, e_idx, e_rank = ref_row[e_ref[live]], e_idx[live], e_rank[live]
    dn = np.flatnonzero((ref_row >= 0) & (kind == _DENSE))
    dn_row = ref_row[dn]
    for c0 in range(0, n_rows, cap):
        c1 = min(c0 + cap, n_rows)
        regs = np.zeros((c1 - c0, m), dtype=np.uint8)
        flat = regs.reshape(-1)
        a, b = np.searchsorted(h_row, [c0, c1])
        h = hashes[a:b]
        np.maximum.at(flat, (h_row[a:b] - c0) * m
                      + (h >> np.uint64(bits)).astype(np.int64),
                      get_sigma_batch(h, bits))
        a, b = np.searchsorted(e_row, [c0, c1])
        np.maximum.at(flat, (e_row[a:b] - c0) * m + e_idx[a:b], e_rank[a:b])
        a, b = np.searchsorted(dn_row, [c0, c1])
        for k0 in range(a, b, cap):  # dense payloads, <= cap at a time
            k1 = min(k0 + cap, b)
            rows = dn_row[k0:k1] - c0
            payload = buf[(starts[dn[k0:k1]] + _HEADER_BYTES)[:, None]
                          + np.arange(m)]
            head = np.flatnonzero(_run_heads(rows))
            regs[rows[head]] = np.maximum(
                regs[rows[head]], np.maximum.reduceat(payload, head, axis=0))
        yield c0, regs


def fold_segments(data, offsets, seg_ptr, blob_idx, estimate: bool = False):
    """Fold many groups ("segments") of serialized sketches in one call.

    Blob ``i`` is ``data[offsets[i]:offsets[i + 1]]`` — an Arrow binary
    array's value and offset buffers — and segment ``s`` folds the blobs
    ``blob_idx[seg_ptr[s]:seg_ptr[s + 1]]``, so one blob may sit in several
    segments (rolling windows). Returns one canonical v3.1 blob per segment,
    or with ``estimate`` the int64 array of their ``count()``; each is
    bit-identical to sequential ``from_bytes`` + ``merge`` + ``to_bytes``
    (property-pinned in tests/test_hll_core.py).

    Every header is parsed and validated with numpy. Then, per segment:

    * all blobs direct and the union <= 100 hashes: the result stays
      direct; every such segment is unioned by one lexsort over
      (segment, hash);
    * otherwise the blobs fold into a (segments x m) register matrix with
      ``np.maximum.at``; the result is dense iff an input was dense or the
      final non-zero count exceeds the sparse bound (which also covers an
      over-full sparse input: ``from_bytes`` promotes it, and its registers
      are part of the final count);
    * ``count_additions`` is summed mod 2^64.

    Order-free equivalence argument: union size is monotone under folding,
    so "stays direct" == "all inputs direct and the full union <= 100"; the
    sparse flag is AND-monotone; registers are an elementwise max
    (commutative); additions are a sum — exactly the decision set of
    :meth:`HllSketch.merge`, evaluated once instead of n-1 times.

    A segment holding a legacy (not v3.>=1) or malformed blob, or blobs of
    different precision, takes the object path, which raises the same
    ``ValueError`` sequential merging raises."""
    buf = np.frombuffer(data, dtype=np.uint8)
    offsets = np.asarray(offsets, dtype=np.int64)
    seg_ptr = np.asarray(seg_ptr, dtype=np.int64)
    blob_idx = np.asarray(blob_idx, dtype=np.int64)
    n_seg = seg_ptr.shape[0] - 1
    seg_len = np.diff(seg_ptr)
    if (seg_len <= 0).any():
        raise ValueError("fold_segments needs at least one blob per segment")
    out = np.zeros(n_seg, dtype=np.int64) if estimate else [None] * n_seg
    if n_seg == 0:
        return out
    first = seg_ptr[:-1]
    seg = np.repeat(np.arange(n_seg), seg_len)
    starts = offsets[blob_idx]
    p, kind, n, ok, adds = _peek(buf, starts, offsets[blob_idx + 1] - starts)

    sp = np.flatnonzero(ok & (kind == _SPARSE))
    entries = buf[concat_ranges(starts[sp] + _HEADER_BYTES, 3 * n[sp])].view(_ENTRY)
    e_ref = np.repeat(sp, n[sp])
    e_idx = entries["idx"].astype(np.int64)
    e_rank = entries["rank"]
    ok[e_ref[e_idx >= np.left_shift(1, p[e_ref])]] = False

    seg_p = p[first]
    obj = np.logical_or.reduceat(~ok | (p != seg_p[seg]), first)
    dense_in = np.logical_or.reduceat(kind == _DENSE, first)
    all_direct = ~np.logical_or.reduceat(kind != _DIRECT, first)
    seg_adds = np.add.reduceat(adds, first)

    # all-direct segments: one lexsort-dedup over (segment, hash)
    cand = ~obj & all_direct
    d = np.flatnonzero(cand[seg])
    h = buf[concat_ranges(starts[d] + _HEADER_BYTES, 8 * n[d])].view("<u8")
    h_seg = np.repeat(seg[d], n[d])
    order = np.lexsort((h, h_seg))
    h, h_seg = h[order], h_seg[order]
    keep = _run_heads(h, h_seg)
    h, h_seg = h[keep], h_seg[keep]
    size = np.bincount(h_seg, minlength=n_seg)
    direct = cand & (size <= DIRECT_COUNTER_MAX_ELEMENTS)
    ds = np.flatnonzero(direct)
    if estimate:
        out[ds] = size[ds]
    elif ds.shape[0]:
        stay = direct[h_seg]
        h, h_seg = h[stay], h_seg[stay]
        # the sparse flag of a direct sketch is its replayed register count
        # (distinct top-p bits of the sorted union) against the sparse bound
        reg_idx = h >> (64 - seg_p[h_seg]).astype(np.uint64)
        nnz = np.bincount(h_seg[_run_heads(reg_idx, h_seg)], minlength=n_seg)[ds]
        smax = _SPARSE_MAX[seg_p[ds]]
        flags = 1 | np.where((smax > 0) & (nnz <= smax), 2, 0)
        blobs = _emit(seg_p[ds], flags, size[ds], h.view(np.uint8), 8 * size[ds],
                      seg_adds[ds])
        for s, b in zip(ds.tolist(), blobs):
            out[s] = b

    reg = ~obj & ~direct
    for pv in np.unique(seg_p[reg]).tolist():
        rs = np.flatnonzero(reg & (seg_p == pv))
        row = np.full(n_seg, -1, dtype=np.int64)
        row[rs] = np.arange(rs.shape[0])
        smax = sparse_max_elements(pv)
        for c0, regs in _register_chunks(buf, starts, kind, n, row[seg],
                                         (e_ref, e_idx, e_rank), pv,
                                         rs.shape[0]):
            segs = rs[c0:c0 + regs.shape[0]]
            if estimate:
                out[segs] = [HllSketch(p=pv, use_direct_counting=False,
                                       registers=r).count() for r in regs]
                continue
            nnz = np.count_nonzero(regs, axis=1)
            sparse = (smax > 0) & ~dense_in[segs] & (nnz <= smax)
            sr = regs[sparse]
            rr, cc = np.nonzero(sr)
            ent = np.empty(cc.shape[0], dtype=_ENTRY)
            ent["idx"], ent["rank"] = cc, sr[rr, cc]
            blobs = (_emit(pv, 2, nnz[sparse], ent.view(np.uint8), 3 * nnz[sparse],
                           seg_adds[segs[sparse]])
                     + _emit(pv, 0, 1 << pv, regs[~sparse].reshape(-1), 1 << pv,
                             seg_adds[segs[~sparse]]))
            for s, b in zip(np.r_[segs[sparse], segs[~sparse]].tolist(), blobs):
                out[s] = b

    for s in np.flatnonzero(obj).tolist():
        merged = None
        for i in blob_idx[seg_ptr[s]:seg_ptr[s + 1]].tolist():
            sk = HllSketch.from_bytes(buf[offsets[i]:offsets[i + 1]].tobytes())
            if merged is None:
                merged = sk
            else:
                merged.merge(sk)
        out[s] = merged.count() if estimate else merged.to_bytes()
    return out


def fold_blobs(blobs) -> bytes:
    """Fold-merge a list of serialized sketches at the wire level — the
    one-segment call of :func:`fold_segments`."""
    if not blobs:
        raise ValueError("fold_blobs needs at least one blob")
    offsets = np.zeros(len(blobs) + 1, dtype=np.int64)
    np.cumsum([len(b) for b in blobs], out=offsets[1:])
    return fold_segments(b"".join(blobs), offsets, [0, len(blobs)],
                         np.arange(len(blobs)))[0]

