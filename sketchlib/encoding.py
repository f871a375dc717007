"""Normative element → bytes encodings.

These mirror the reference's ``Add`` overloads (``CardinalityEstimator.cs:
346-459``): the byte encoding determines the hash, hence the registers, hence
cross-system sketch compatibility.

* str     → UTF-8 bytes                          (CardinalityEstimator.cs:346-369)
* int32/uint32 → 4-byte little-endian            (CardinalityEstimator.cs:376-399)
* int64/uint64 → 8-byte little-endian            (CardinalityEstimator.cs:401-429)
* float32 → IEEE-754 little-endian, 4 bytes      (CardinalityEstimator.cs:436-446)
* float64 → IEEE-754 little-endian, 8 bytes      (CardinalityEstimator.cs:448-459)
* bytes   → raw                                  (CardinalityEstimator.cs:467-528)

Batch encoders produce (flat uint8 buffer, int64 offsets) — the shape the
vectorized hashers consume.  :func:`arrow_flat_bytes` is the only type ->
bytes map: fixed-width numerics encode with a single ``astype`` (zero
per-row Python) and strings ride on Arrow buffers.
"""

from __future__ import annotations

import numpy as np

_NUMERIC_DTYPES = {
    "int32": "<i4",
    "uint32": "<u4",
    "int64": "<i8",
    "uint64": "<u8",
    "float32": "<f4",
    "float64": "<f8",
}


def encode_scalar(value) -> bytes:
    """Scalar encoding for tests/goldens."""
    if isinstance(value, bytes):
        return value
    if isinstance(value, str):
        return value.encode("utf-8")
    if isinstance(value, bool):
        raise TypeError("bool has no reference encoding")
    if isinstance(value, (int, np.integer)):
        return int(value).to_bytes(8, "little", signed=int(value) < 0)
    if isinstance(value, (float, np.floating)):
        return np.float64(value).tobytes()  # IEEE-754 LE on little-endian hosts
    raise TypeError(f"unsupported element type {type(value)}")


def encode_numeric_batch(values: np.ndarray, kind: str) -> tuple[np.ndarray, np.ndarray]:
    """Fixed-width LE encoding of a numeric column → (flat, offsets)."""
    dt = _NUMERIC_DTYPES[kind]
    arr = np.ascontiguousarray(values).astype(dt)
    width = arr.dtype.itemsize
    flat = arr.view(np.uint8)
    n = arr.shape[0]
    offsets = np.arange(n + 1, dtype=np.int64) * width
    return flat, offsets


def arrow_flat_bytes(arr) -> tuple[np.ndarray, np.ndarray]:
    """(flat uint8, int64 offsets) straight from an Arrow array's buffers —
    ZERO per-row Python, no pandas materialization. Accepts string/binary
    (32-bit offsets cast up), numerics (fixed-width LE reinterpret; 8- and
    16-bit integers widen to 8 bytes), timestamps (int64 micros) and dates
    (int64 day counts). This is the one element encoding: batch, streaming
    and driver-side frames all hash through it."""
    import pyarrow as pa
    import pyarrow.types as pt

    if arr.null_count:
        raise ValueError("nulls must be filtered before hashing")
    t = arr.type
    if pt.is_string(t) or pt.is_binary(t) or pt.is_large_string(t):
        arr = arr.cast(pa.large_binary())
        t = arr.type
    if pt.is_large_binary(t):
        buffers = arr.buffers()
        offsets = np.frombuffer(buffers[1], dtype=np.int64, count=len(arr) + 1,
                                offset=arr.offset * 8)
        data = np.frombuffer(buffers[2], dtype=np.uint8)
        if offsets[0] != 0:
            data = data[offsets[0]:]
            offsets = offsets - offsets[0]
        return data, offsets
    if pt.is_timestamp(t):
        vals = arr.cast(pa.timestamp("us")).cast(pa.int64())
        return encode_numeric_batch(vals.to_numpy(), "int64")
    if pt.is_integer(t):
        # 1- and 2-byte integers widen to 8 bytes
        kind = ("int32" if t.bit_width == 32 else "int64")
        if pt.is_unsigned_integer(t):
            kind = "u" + kind
        return encode_numeric_batch(arr.to_numpy(), kind)
    if pt.is_floating(t):
        kind = "float32" if t.bit_width == 32 else "float64"
        return encode_numeric_batch(arr.to_numpy(), kind)
    if pt.is_date(t):
        # day counts (date32) widen through int32: pyarrow has no
        # date32 -> int64 cast
        vals = arr.cast(pa.int32() if pt.is_date32(t) else pa.int64()).cast(pa.int64())
        return encode_numeric_batch(vals.to_numpy(), "int64")
    raise TypeError(f"unsupported arrow type for hashing: {t}")
