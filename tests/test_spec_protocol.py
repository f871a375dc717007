"""The spec protocol: declared once, on the shared bases (``SketchSpec`` /
``HashSpec``), with its defaults.

* ``repr`` stays byte-identical: the ``blobcache`` worker-cache token
  keys on it.  The one declared change: ``FdSpec`` used
  the default object repr (``<... object at 0x...>``) and is now
  parameter-based like every other spec.  Class-level defaults are not
  instance attributes, so they never enter the repr.
* Every spec exposes the whole protocol, so the build, fold and combo
  paths call it directly.
* The default ``fold_segments`` is the sequential object fold, byte for
  byte.
* No spec has the pandas ``prepare``: every path prepares through
  ``prepare_arrow``."""

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import types as T

from sketchlib.encoding import arrow_flat_bytes
from sketchlib.similarity.freqdir import FdSpec
from sketchlib.spark.aggregate import HashSpec, HllSpec, SketchSpec
from sketchlib.spark.specs import (AmsSpec, BloomSpec, CmsSpec, ComboSpec,
                                   CuckooSpec, DdSpec, KllSpec, MgSpec,
                                   TDigestSpec, ThetaSpec)


class _ProbeCms(CmsSpec):
    """A CmsSpec subclass with an extra instance attribute, as the
    streaming gates define them."""

    def __init__(self, ph: int) -> None:
        super().__init__(width=64)
        self.ph = ph


# (spec, repr)
CASES = [
    (HllSpec(),
     "HllSpec(hash_name='murmur3', p=14, prehashed=False, "
     "use_direct_counting=True)"),
    (HllSpec(p=10, prehashed=True),
     "HllSpec(hash_name='murmur3', p=10, prehashed=True, "
     "use_direct_counting=True)"),
    (BloomSpec(), "BloomSpec(hash_name='murmur3', k=7, m_bits=1048576)"),
    (CuckooSpec(), "CuckooSpec(hash_name='murmur3', n_buckets=65536)"),
    (CuckooSpec(expected_n=1000),
     "CuckooSpec(hash_name='murmur3', n_buckets=1024)"),
    (CmsSpec(), "CmsSpec(depth=5, hash_name='murmur3', width=4096)"),
    (AmsSpec(), "AmsSpec(depth=7, hash_name='murmur3', width=4096)"),
    (MgSpec(), "MgSpec(hash_name='murmur3', k=64)"),
    (TDigestSpec(), "TDigestSpec(delta=200)"),
    (KllSpec(), "KllSpec(k=200)"),
    (DdSpec(), "DdSpec(alpha=0.01, min_positive=1e-09)"),
    (ThetaSpec(), "ThetaSpec(hash_name='murmur3', k=4096, prehashed=False)"),
    (ThetaSpec(prehashed=True),
     "ThetaSpec(hash_name='murmur3', k=4096, prehashed=True)"),
    (ComboSpec([HllSpec(), CmsSpec()]),
     "ComboSpec(estimate_type=LongType(), hash_name='murmur3', "
     "specs=(HllSpec(hash_name='murmur3', p=14, prehashed=False, "
     "use_direct_counting=True), CmsSpec(depth=5, hash_name='murmur3', "
     "width=4096)))"),
    (ComboSpec([TDigestSpec(), KllSpec()]),
     "ComboSpec(estimate_type=DoubleType(), hash_name=None, "
     "specs=(TDigestSpec(delta=200), KllSpec(k=200)))"),
    (_ProbeCms(7), "_ProbeCms(depth=5, hash_name='murmur3', ph=7, width=64)"),
    # declared change: was "<sketchlib.similarity.freqdir.FdSpec object at 0x...>"
    (FdSpec(ell=4, d=8), "FdSpec(d=8, ell=4)"),
]
IDS = [type(s).__name__ + str(i) for i, (s, _) in enumerate(CASES)]

METHODS = ("make", "prepare_arrow", "ingest", "to_bytes", "from_bytes",
           "merge", "estimate", "fold_segments")
HASH_METHODS = ("build_from_hashes", "blob_from_hashes")


@pytest.mark.parametrize("spec,want_repr", CASES, ids=IDS)
def test_spec_surface(spec, want_repr):
    assert repr(spec) == want_repr
    assert isinstance(spec, SketchSpec)
    assert isinstance(spec.name, str) and spec.name != SketchSpec.name
    assert spec.hash_name is None or isinstance(spec.hash_name, str)
    assert isinstance(spec.prehashed, bool)
    assert isinstance(spec.hash_dedup, bool)
    assert isinstance(spec.estimate_type, (T.LongType, T.DoubleType))
    methods = METHODS + (HASH_METHODS if isinstance(spec, HashSpec) else ())
    for method in methods:
        assert callable(getattr(spec, method)), method
    # set semantics only where the spec builds from the hash set
    assert not spec.hash_dedup or isinstance(spec, HashSpec)
    assert not hasattr(spec, "prepare")


def _segments(blobs, rng):
    """``(data, offsets, seg_ptr, blob_idx)`` over ``blobs``: segments of
    one to four blobs in shuffled order, a blob in several segments."""
    data, offsets = arrow_flat_bytes(pa.array(blobs, type=pa.binary()))
    lens = rng.integers(1, 5, size=6)
    blob_idx = rng.integers(0, len(blobs), size=int(lens.sum()))
    seg_ptr = np.concatenate([[0], np.cumsum(lens)])
    return data, offsets, seg_ptr, blob_idx


def _sequential(spec, blobs, seg_ptr, blob_idx, estimate):
    out = []
    for a, b in zip(seg_ptr[:-1], seg_ptr[1:]):
        merged = spec.from_bytes(blobs[blob_idx[a]])
        for i in blob_idx[a + 1:b]:
            merged = spec.merge(merged, spec.from_bytes(blobs[i]))
        out.append(spec.estimate(merged) if estimate else spec.to_bytes(merged))
    return out


@pytest.mark.parametrize("spec", [CmsSpec(width=64, depth=3),
                                  TDigestSpec(delta=50)], ids=["cms", "tdigest"])
def test_default_fold_segments_is_the_sequential_fold(spec):
    rng = np.random.default_rng(11)
    blobs = []
    for _ in range(5):
        sk = spec.make()
        if isinstance(spec, HashSpec):
            spec.ingest(sk, rng.integers(0, 1 << 63, size=200).astype(np.uint64))
        else:
            spec.ingest(sk, rng.lognormal(3.0, 1.0, size=300))
        blobs.append(spec.to_bytes(sk))
    assert type(spec).fold_segments is SketchSpec.fold_segments
    data, offsets, seg_ptr, blob_idx = _segments(blobs, rng)
    for estimate in (False, True):
        got = spec.fold_segments(data, offsets, seg_ptr, blob_idx,
                                 estimate=estimate)
        assert got == _sequential(spec, blobs, seg_ptr, blob_idx, estimate)
