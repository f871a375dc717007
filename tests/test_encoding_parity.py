"""One element encoding for every path.

Every sketch hashes its elements through ``arrow_flat_bytes``: the batch
builder straight from ``mapInArrow`` batches, and the streaming state
functions and driver-side frames (``hash_columns``) after rebuilding their
pandas columns as Arrow arrays.  No pandas hashing path is left.  Pin that
a pandas column hashes exactly as the Arrow column of the same values, per
element type, and pin the scalar encodings against the reference's Add
overloads."""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from sketchlib.encoding import arrow_flat_bytes, encode_scalar
from sketchlib.hashing import murmur3_64, murmur3_64_flat


def _hash_arrow(arr):
    flat, offsets = arrow_flat_bytes(arr)
    return murmur3_64_flat(flat, offsets)


def _hash_pandas(series):
    from sketchlib.spark.aggregate import hash_columns

    return hash_columns(pd.DataFrame({"e": series}), ["e"])


class TestPathParity:
    def test_string(self):
        vals = ["", "a", "héllo wörld", "日本語テキスト", "x" * 500]
        a = _hash_arrow(pa.array(vals, type=pa.string()))
        p = _hash_pandas(pd.Series(vals))
        assert np.array_equal(a, p)
        # and equals the scalar reference path
        for v, h in zip(vals, a.tolist()):
            assert murmur3_64(v.encode("utf-8")) == h

    def test_large_string(self):
        vals = ["alpha", "beta"]
        a = _hash_arrow(pa.array(vals, type=pa.large_string()))
        assert a.tolist() == [murmur3_64(v.encode()) for v in vals]

    def test_binary(self):
        vals = [b"", b"\x00\x01", b"\xff" * 33]
        a = _hash_arrow(pa.array(vals, type=pa.binary()))
        p = _hash_pandas(pd.Series(vals))
        assert np.array_equal(a, p)

    @pytest.mark.parametrize("pa_type,np_dtype", [
        (pa.int64(), np.int64), (pa.int32(), np.int32),
        (pa.int16(), np.int16), (pa.int8(), np.int8),
    ])
    def test_integers(self, pa_type, np_dtype):
        vals = [0, 1, -1 if not pa_type.equals(pa.uint64()) else 1,
                min(2**30, np.iinfo(np_dtype).max)]
        a = _hash_arrow(pa.array(vals, type=pa_type))
        p = _hash_pandas(pd.Series(np.asarray(vals, dtype=np_dtype)))
        assert np.array_equal(a, p)

    def test_int_width_matters(self):
        """int32 and int64 encodings differ (4 vs 8 LE bytes), matching the
        reference's distinct Add(int)/Add(long) overloads."""
        a32 = _hash_arrow(pa.array([7], type=pa.int32()))
        a64 = _hash_arrow(pa.array([7], type=pa.int64()))
        assert a32[0] != a64[0]
        assert a32[0] == murmur3_64((7).to_bytes(4, "little"))
        assert a64[0] == murmur3_64((7).to_bytes(8, "little"))

    @pytest.mark.parametrize("pa_type,np_dtype", [
        (pa.float64(), np.float64), (pa.float32(), np.float32),
    ])
    def test_floats(self, pa_type, np_dtype):
        vals = [0.0, -1.5, 3.14159, float("inf")]
        a = _hash_arrow(pa.array(vals, type=pa_type))
        p = _hash_pandas(pd.Series(np.asarray(vals, dtype=np_dtype)))
        assert np.array_equal(a, p)
        assert a[1] == murmur3_64(np.asarray([-1.5], dtype=np_dtype).tobytes())

    def test_timestamp(self):
        ts = pd.Series([pd.Timestamp("2026-01-01 00:00:00"),
                        pd.Timestamp("2026-01-02 03:04:05.123456")])
        a = _hash_arrow(pa.array(ts, type=pa.timestamp("us")))
        p = _hash_pandas(pd.Series(ts))
        assert np.array_equal(a, p)

    @pytest.mark.parametrize("np_dtype", [np.float64, np.float32])
    def test_nan_hashes_as_value(self, np_dtype):
        """A float NaN is a value, not a NULL: it hashes as its IEEE-754
        bytes on both paths instead of being rejected."""
        vals = np.asarray([1.0, np.nan], dtype=np_dtype)
        p = _hash_pandas(pd.Series(vals))
        assert np.array_equal(p, _hash_arrow(pa.array(vals, from_pandas=False)))
        assert p[1] == murmur3_64(vals[1:].tobytes())

    def test_date_objects(self):
        """A column of ``datetime.date`` objects (how Spark hands a DateType
        column to pandas) hashes as the Arrow date32 day counts."""
        import datetime

        days = [datetime.date(1970, 1, 1), datetime.date(2026, 3, 8)]
        p = _hash_pandas(pd.Series(days))
        assert np.array_equal(p, _hash_arrow(pa.array(days, type=pa.date32())))
        assert p[1] == murmur3_64((20520).to_bytes(8, "little"))

    def test_null_rejected(self):
        with pytest.raises(ValueError):
            arrow_flat_bytes(pa.array(["a", None]))

    def test_sliced_array_offsets(self):
        """Arrow arrays arriving as slices (non-zero offset) must hash the
        same values as unsliced arrays."""
        arr = pa.array(["aa", "bb", "cc", "dd"])
        assert np.array_equal(_hash_arrow(arr.slice(1, 2)),
                              _hash_arrow(pa.array(["bb", "cc"])))


class TestScalarEncodings:
    def test_reference_add_overload_encodings(self):
        assert encode_scalar("abc") == b"abc"
        assert encode_scalar(b"\x01") == b"\x01"
        assert encode_scalar(5) == (5).to_bytes(8, "little")
        assert encode_scalar(-5) == (-5).to_bytes(8, "little", signed=True)
        assert encode_scalar(1.5) == np.float64(1.5).tobytes()
        with pytest.raises(TypeError):
            encode_scalar(True)
