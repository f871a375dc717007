"""64-bit element hashes for sketch building.

Implements MurmurHash3 x64_128 (public-domain algorithm by Austin Appleby,
https://github.com/aappleby/smhasher/blob/master/src/MurmurHash3.cpp) returning
the *lower 64 bits* (h1), and FNV-1a 64 — the two hash options the reference
library exposes (reference parity: ``Hash/Murmur3.cs:67-81``,
``Hash/Fnv1A.cs:68-86``).  The north rule pins Murmur3 as the per-element hash.

Two code paths per hash:

* ``murmur3_64`` / ``fnv1a_64`` — scalar, pure Python, used for goldens and
  tiny inputs.
* ``murmur3_64_batch`` / ``fnv1a_64_batch`` — vectorized numpy over a batch of
  variable-length byte strings (offsets + flat buffer, i.e. the Arrow layout).
  This is the hot path inside the Arrow kernels: no per-row Python.

Golden vectors (reference ``Test/Hash/Murmur3Tests.cs:37-40``,
``Test/Hash/Fnv1ATests.cs:38-40``) are pinned in ``tests/test_hashing.py``.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np

_MASK64 = (1 << 64) - 1

_C1 = 0x87C37B91114253D5
_C2 = 0x4CF5AD432745937F

_FNV_OFFSET = 14695981039346656037
_FNV_PRIME = 0x100000001B3


# ---------------------------------------------------------------------------
# Scalar reference implementations
# ---------------------------------------------------------------------------

def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _MASK64


def _fmix64(k: int) -> int:
    k ^= k >> 33
    k = (k * 0xFF51AFD7ED558CCD) & _MASK64
    k ^= k >> 33
    k = (k * 0xC4CEB9FE1A85EC53) & _MASK64
    k ^= k >> 33
    return k


def murmur3_128(data: bytes, seed: int = 0) -> tuple[int, int]:
    """MurmurHash3 x64_128 → (h1, h2)."""
    length = len(data)
    nblocks = length // 16
    h1 = seed
    h2 = seed

    for i in range(nblocks):
        k1 = int.from_bytes(data[i * 16 : i * 16 + 8], "little")
        k2 = int.from_bytes(data[i * 16 + 8 : i * 16 + 16], "little")
        k1 = (k1 * _C1) & _MASK64
        k1 = _rotl64(k1, 31)
        k1 = (k1 * _C2) & _MASK64
        h1 ^= k1
        h1 = _rotl64(h1, 27)
        h1 = (h1 + h2) & _MASK64
        h1 = (h1 * 5 + 0x52DCE729) & _MASK64
        k2 = (k2 * _C2) & _MASK64
        k2 = _rotl64(k2, 33)
        k2 = (k2 * _C1) & _MASK64
        h2 ^= k2
        h2 = _rotl64(h2, 31)
        h2 = (h2 + h1) & _MASK64
        h2 = (h2 * 5 + 0x38495AB5) & _MASK64

    tail = data[nblocks * 16 :]
    if tail:
        padded = tail + b"\x00" * (16 - len(tail))
        k1 = int.from_bytes(padded[0:8], "little")
        k2 = int.from_bytes(padded[8:16], "little")
        k2 = (k2 * _C2) & _MASK64
        k2 = _rotl64(k2, 33)
        k2 = (k2 * _C1) & _MASK64
        h2 ^= k2
        k1 = (k1 * _C1) & _MASK64
        k1 = _rotl64(k1, 31)
        k1 = (k1 * _C2) & _MASK64
        h1 ^= k1

    h1 ^= length
    h2 ^= length
    h1 = (h1 + h2) & _MASK64
    h2 = (h2 + h1) & _MASK64
    h1 = _fmix64(h1)
    h2 = _fmix64(h2)
    h1 = (h1 + h2) & _MASK64
    h2 = (h2 + h1) & _MASK64
    return h1, h2


def murmur3_64(data: bytes) -> int:
    """Lower 64 bits (h1) of Murmur3 x64_128, seed 0 — the reference's hash."""
    return murmur3_128(data)[0]


def fnv1a_64(data: bytes) -> int:
    h = _FNV_OFFSET
    for b in data:
        h ^= b
        h = (h * _FNV_PRIME) & _MASK64
    return h


# ---------------------------------------------------------------------------
# Vectorized batch implementations (Arrow-shaped input)
# ---------------------------------------------------------------------------

def to_flat_bytes(values: Sequence[bytes]) -> tuple[np.ndarray, np.ndarray]:
    """Pack a sequence of byte strings into (flat uint8 buffer, int64 offsets).

    ``offsets`` has len(values)+1 entries; row i is flat[offsets[i]:offsets[i+1]].
    """
    lengths = np.fromiter((len(v) for v in values), dtype=np.int64, count=len(values))
    offsets = np.zeros(len(values) + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    flat = np.frombuffer(b"".join(values), dtype=np.uint8) if len(values) else np.zeros(0, np.uint8)
    return flat, offsets


_AR16 = np.arange(16, dtype=np.int64)


def _rotl64_vec(x: np.ndarray, r: int) -> np.ndarray:
    r_ = np.uint64(r)
    inv = np.uint64(64 - r)
    return (x << r_) | (x >> inv)


def _fmix64_vec(k: np.ndarray) -> np.ndarray:
    k = k ^ (k >> np.uint64(33))
    k = k * np.uint64(0xFF51AFD7ED558CCD)
    k = k ^ (k >> np.uint64(33))
    k = k * np.uint64(0xC4CEB9FE1A85EC53)
    k = k ^ (k >> np.uint64(33))
    return k


def murmur3_64_flat(flat: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """Vectorized Murmur3 x64_128 (h1, seed 0) over n variable-length rows.

    ``flat`` is the concatenated uint8 payload, ``offsets`` the (n+1,) int64
    row boundaries — exactly an Arrow BinaryArray's buffers.  Strategy: rows
    are processed 16-byte-block-parallel, sort-free; at block step j:

    * if most rows are still active, compute the step for ALL rows (reads are
      clamped in-bounds; the pad makes them safe) and keep the old state for
      finished rows via ``np.where`` — no gather/scatter, pure streaming ops;
    * once the active set is small (long-tail rows), switch to index mode and
      touch only the active rows.

    Total work stays O(total_bytes); typical web-url batches take two full-
    width steps plus a tail pass.  Rows are processed in cache-sized chunks
    (like ``xxh3._DISPATCH_CHUNK``): the ~10 u64 temporaries per step stay
    L2-resident instead of streaming DRAM, and a chunk of short rows stops
    at ITS own max block count instead of the global one.
    """
    n = offsets.shape[0] - 1
    if n == 0:
        return np.zeros(0, dtype=np.uint64)
    flat = np.ascontiguousarray(flat, dtype=np.uint8)
    offsets = np.ascontiguousarray(offsets, dtype=np.int64)
    # zero-pad the flat buffer so 16-byte reads past the end are safe (the
    # full-width branch reads clamped windows for finished rows, and the
    # tail block of a buffer-final row extends past offsets[-1])
    flat_pad = np.concatenate([flat, np.zeros(16, dtype=np.uint8)])
    windows = np.lib.stride_tricks.sliding_window_view(flat_pad, 16)
    lim = flat.shape[0]
    out = np.empty(n, dtype=np.uint64)
    for i in range(0, n, _ROW_CHUNK):
        j = min(i + _ROW_CHUNK, n)
        out[i:j] = _mm3_chunk(windows, offsets[i:j],
                              offsets[i + 1:j + 1] - offsets[i:j], lim)
    return out


#: rows per murmur3 chunk — same cache-residency reasoning as
#: xxh3._DISPATCH_CHUNK (measured ~1.5x over unchunked at 2M x 30-60B keys)
_ROW_CHUNK = 32768


def _mm3_chunk(windows: np.ndarray, starts0: np.ndarray,
               lengths: np.ndarray, lim: int) -> np.ndarray:
    n = starts0.shape[0]
    nblocks = lengths // 16
    tail_len = lengths - nblocks * 16
    h1 = np.zeros(n, dtype=np.uint64)
    h2 = np.zeros(n, dtype=np.uint64)
    c1 = np.uint64(_C1)
    c2 = np.uint64(_C2)
    mul5 = np.uint64(5)
    add1 = np.uint64(0x52DCE729)
    add2 = np.uint64(0x38495AB5)

    max_blocks = int(nblocks.max()) if n else 0
    with np.errstate(over="ignore"):
        for j in range(max_blocks):
            active = nblocks > j
            n_active = int(active.sum())
            if n_active == 0:
                break
            if n_active < n // 4:
                idx = np.nonzero(active)[0]
                st = starts0[idx] + 16 * j
                words = windows[st].view("<u8")
                k1 = words[:, 0].copy()
                k2 = words[:, 1].copy()
                a1 = h1[idx]
                a2 = h2[idx]
                k1 = _rotl64_vec(k1 * c1, 31) * c2
                a1 ^= k1
                a1 = _rotl64_vec(a1, 27) + a2
                a1 = a1 * mul5 + add1
                k2 = _rotl64_vec(k2 * c2, 33) * c1
                a2 ^= k2
                a2 = _rotl64_vec(a2, 31) + a1
                a2 = a2 * mul5 + add2
                h1[idx] = a1
                h2[idx] = a2
            else:
                st = np.minimum(starts0 + 16 * j, lim)
                words = windows[st].view("<u8")
                k1 = words[:, 0]
                k2 = words[:, 1]
                a1 = h1.copy()
                a2 = h2.copy()
                k1 = _rotl64_vec(k1 * c1, 31) * c2
                a1 ^= k1
                a1 = _rotl64_vec(a1, 27) + a2
                a1 = a1 * mul5 + add1
                k2 = _rotl64_vec(k2 * c2, 33) * c1
                a2 ^= k2
                a2 = _rotl64_vec(a2, 31) + a1
                a2 = a2 * mul5 + add2
                h1 = np.where(active, a1, h1)
                h2 = np.where(active, a2, h2)

        # tail: the zero-padded final partial block for rows with tail > 0
        t_idx = np.nonzero(tail_len > 0)[0]
        if t_idx.shape[0]:
            st = (starts0 + nblocks * 16)[t_idx]
            block = windows[st].copy()  # (t, 16)
            tl = tail_len[t_idx]
            block[_AR16[None, :] >= tl[:, None]] = 0
            words = block.view("<u8")
            k1 = words[:, 0].copy()
            k2 = words[:, 1].copy()
            k2 = _rotl64_vec(k2 * c2, 33) * c1
            h2[t_idx] ^= k2
            k1 = _rotl64_vec(k1 * c1, 31) * c2
            h1[t_idx] ^= k1

        ln = lengths.astype(np.uint64)
        h1 ^= ln
        h2 ^= ln
        h1 = h1 + h2
        h2 = h2 + h1
        h1 = _fmix64_vec(h1)
        h2 = _fmix64_vec(h2)
        h1 = h1 + h2
    return h1


def murmur3_64_batch(values: Sequence[bytes]) -> np.ndarray:
    flat, offsets = to_flat_bytes(values)
    return murmur3_64_flat(flat, offsets)


def fnv1a_64_flat(flat: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """Vectorized FNV-1a 64.  Byte-serial per row, row-parallel per byte
    position (rows sorted by length so the active set is a prefix).
    Processed in cache-sized row chunks like murmur3/xxh3: the per-position
    state vectors stay L2-resident (measured 2.2x at 2M x 30-60B keys)."""
    n = offsets.shape[0] - 1
    if n == 0:
        return np.zeros(0, dtype=np.uint64)
    flat = np.ascontiguousarray(flat, dtype=np.uint8)
    offsets = np.ascontiguousarray(offsets, dtype=np.int64)
    lengths = offsets[1:] - offsets[:-1]
    out = np.empty(n, dtype=np.uint64)
    prime = np.uint64(_FNV_PRIME)
    with np.errstate(over="ignore"):
        for i in range(0, n, _ROW_CHUNK):
            j = min(i + _ROW_CHUNK, n)
            ln = lengths[i:j]
            order = np.argsort(-ln, kind="stable")
            st = offsets[i:j][order]
            sl = ln[order]
            m = j - i
            h = np.full(m, _FNV_OFFSET, dtype=np.uint64)
            for p in range(int(sl[0]) if m else 0):
                na = m - int(np.searchsorted(sl[::-1], p, side="right"))
                if na <= 0:
                    break
                b = flat[st[:na] + p].astype(np.uint64)
                h[:na] = (h[:na] ^ b) * prime
            o = out[i:j]
            o[order] = h
    return out


def fnv1a_64_batch(values: Sequence[bytes]) -> np.ndarray:
    flat, offsets = to_flat_bytes(values)
    return fnv1a_64_flat(flat, offsets)


def _xxh128_net(data: bytes) -> int:
    from .xxh3 import xxh128_net

    return xxh128_net(data)


def _xxh128_net_flat(flat: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    from .xxh3 import xxh128_net_flat

    return xxh128_net_flat(flat, offsets)


HASHES = {
    "murmur3": (murmur3_64, murmur3_64_flat),
    "fnv1a": (fnv1a_64, fnv1a_64_flat),
    # the C# reference's *default*: BitConverter.ToUInt64(XxHash128.Hash(x))
    # (CardinalityEstimator.cs:212) == byteswap64(high64 of XXH3-128)
    "xxhash128": (_xxh128_net, _xxh128_net_flat),
}
