"""The spec protocol surface, pinned as it stood before the protocol moved
to the shared bases (``SketchSpec`` / ``HashSpec``).

* ``repr`` stays byte-identical: the ``blobcache`` worker-cache token
  keys on it.  The one declared change: ``FdSpec`` used
  the default object repr (``<... object at 0x...>``) and is now
  parameter-based like every other spec.
* The attributes the build, fold and combo paths route on with ``getattr``
  are present on exactly the specs that had them.
* No spec has the pandas ``prepare``: every path prepares through
  ``prepare_arrow``."""

import pytest

from sketchlib.similarity.freqdir import FdSpec
from sketchlib.spark.aggregate import HllSpec
from sketchlib.spark.specs import (AmsSpec, BloomSpec, CmsSpec, ComboSpec,
                                   CuckooSpec, DdSpec, KllSpec, MgSpec,
                                   TDigestSpec, ThetaSpec)


class _ProbeCms(CmsSpec):
    """A CmsSpec subclass with an extra instance attribute, as the
    streaming gates define them."""

    def __init__(self, ph: int) -> None:
        super().__init__(width=64)
        self.ph = ph


ROUTED = ("hash_name", "prehashed", "hash_dedup", "blob_from_hashes",
          "fold_segments", "estimate_type")
HLL = {"hash_name", "prehashed", "hash_dedup", "blob_from_hashes",
       "fold_segments", "estimate_type"}
THETA = {"hash_name", "prehashed", "hash_dedup", "blob_from_hashes",
         "estimate_type"}
HASHED = {"hash_name", "hash_dedup", "estimate_type"}
VALUED = {"hash_dedup", "estimate_type"}

# (spec, repr, routed attributes present)
CASES = [
    (HllSpec(),
     "HllSpec(hash_name='murmur3', p=14, prehashed=False, "
     "use_direct_counting=True)", HLL),
    (HllSpec(p=10, prehashed=True),
     "HllSpec(hash_name='murmur3', p=10, prehashed=True, "
     "use_direct_counting=True)", HLL),
    (BloomSpec(), "BloomSpec(hash_name='murmur3', k=7, m_bits=1048576)",
     HASHED),
    (CuckooSpec(), "CuckooSpec(hash_name='murmur3', n_buckets=65536)",
     HASHED),
    (CuckooSpec(expected_n=1000),
     "CuckooSpec(hash_name='murmur3', n_buckets=1024)", HASHED),
    (CmsSpec(), "CmsSpec(depth=5, hash_name='murmur3', width=4096)", HASHED),
    (AmsSpec(), "AmsSpec(depth=7, hash_name='murmur3', width=4096)", HASHED),
    (MgSpec(), "MgSpec(hash_name='murmur3', k=64)", HASHED),
    (TDigestSpec(), "TDigestSpec(delta=200)", VALUED),
    (KllSpec(), "KllSpec(k=200)", VALUED),
    (DdSpec(), "DdSpec(alpha=0.01, min_positive=1e-09)", VALUED),
    (ThetaSpec(), "ThetaSpec(hash_name='murmur3', k=4096, prehashed=False)",
     THETA),
    (ThetaSpec(prehashed=True),
     "ThetaSpec(hash_name='murmur3', k=4096, prehashed=True)", THETA),
    (ComboSpec([HllSpec(), CmsSpec()]),
     "ComboSpec(estimate_type=LongType(), hash_name='murmur3', "
     "specs=(HllSpec(hash_name='murmur3', p=14, prehashed=False, "
     "use_direct_counting=True), CmsSpec(depth=5, hash_name='murmur3', "
     "width=4096)))", HASHED),
    (ComboSpec([TDigestSpec(), KllSpec()]),
     "ComboSpec(estimate_type=DoubleType(), hash_name=None, "
     "specs=(TDigestSpec(delta=200), KllSpec(k=200)))", HASHED),
    (_ProbeCms(7), "_ProbeCms(depth=5, hash_name='murmur3', ph=7, width=64)",
     HASHED),
    # declared change: was "<sketchlib.similarity.freqdir.FdSpec object at 0x...>"
    (FdSpec(ell=4, d=8), "FdSpec(d=8, ell=4)", VALUED),
]
IDS = [type(s).__name__ + str(i) for i, (s, _, _) in enumerate(CASES)]


@pytest.mark.parametrize("spec,want_repr,routed", CASES, ids=IDS)
def test_spec_surface(spec, want_repr, routed):
    assert repr(spec) == want_repr
    assert {a for a in ROUTED if hasattr(spec, a)} == routed
    assert not hasattr(spec, "prepare")
    for method in ("make", "prepare_arrow", "ingest", "to_bytes",
                   "from_bytes", "merge", "estimate"):
        assert callable(getattr(spec, method)), method

