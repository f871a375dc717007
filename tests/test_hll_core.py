"""HLL core semantics: goldens, lifecycle thresholds, estimator accuracy,
merge algebra, serialization.  Mirrors the reference's test categories
(Test/CardinalityEstimatorTests.cs, Test/BiasCorrectionTests.cs,
Test/HllConstantsTests.cs, Test/CardinalityEstimatorSerializerTests.cs).
"""

import math
import struct

import numpy as np
import pytest

from sketchlib.hll import (
    DIRECT_COUNTER_MAX_ELEMENTS,
    HllSketch,
    alpha_m,
    correct_bias,
    get_sigma,
    hll_from_values,
    _INV_POW2,
    _THRESHOLD,
)


# --- constants / goldens ----------------------------------------------------

def test_direct_counter_max_is_100():
    assert DIRECT_COUNTER_MAX_ELEMENTS == 100  # HllConstants.cs:42


@pytest.mark.parametrize("m,expected", [(16, 0.673), (32, 0.697), (64, 0.709)])
def test_alpha_m_canned(m, expected):
    assert alpha_m(m) == expected


def test_alpha_m_formula():
    for p in range(7, 17):
        m = 1 << p
        assert alpha_m(m) == pytest.approx(0.7213 / (1 + 1.079 / m))


def test_inverse_powers_of_two():
    # Test/CardinalityEstimatorTests.cs:694-714
    assert _INV_POW2.shape[0] == 65
    for i in range(65):
        assert _INV_POW2[i] == math.pow(2.0, -i)


@pytest.mark.parametrize(
    "hash_value,expected",
    [(0, 51), (1, 50), (8, 47), ((1 << 50) - 1, 1), (1 << 51, 51)],
)
def test_get_sigma_goldens(hash_value, expected):
    # Test/CardinalityEstimatorTests.cs:61-70 (bitsToCount = 50)
    assert get_sigma(hash_value, 50) == expected


def test_thresholds():
    # HllConstants.cs:106-127
    assert _THRESHOLD[14] == 11500
    assert _THRESHOLD[16] == 50000
    assert _THRESHOLD[4] == 10


# --- bias correction (Test/BiasCorrectionTests.cs:33-68) ---------------------

def test_bias_correction_exact_table_value():
    assert correct_bias(12.207, 4) == pytest.approx(12.207 - 9.207)


def test_bias_correction_interpolated():
    assert correct_bias(11.1, 4) == pytest.approx(1.1394700139470011)


def test_bias_correction_above_range():
    assert correct_bias(78.0, 4) == pytest.approx(78.0 - (-1.7606))


def test_bias_correction_below_range():
    assert correct_bias(10.5, 4) == pytest.approx(10.5 - 10)


def test_bias_correction_clamps_to_zero():
    assert correct_bias(5.0, 4) == 0.0


# --- lifecycle --------------------------------------------------------------

def test_exact_below_100():
    for n in [1, 50, 99, 100]:
        s = hll_from_values([f"elem-{i}" for i in range(n)])
        assert s.count() == n
        assert s.direct is not None


def test_direct_mode_drops_above_100():
    s = hll_from_values([f"elem-{i}" for i in range(101)])
    assert s.direct is None


def test_duplicates_do_not_advance_direct_mode():
    s = hll_from_values(["x"] * 1000 + [f"y{i}" for i in range(50)])
    assert s.direct is not None
    assert s.count() == 51
    assert s.count_additions == 1050


def test_sparse_to_dense_promotion_threshold():
    # p=14: sparse_max = 16384//15 - 10 = 1082 non-zero registers
    s = HllSketch(p=14)
    assert s.sparse_max_elements == 1082
    n = 0
    while s.is_sparse:
        s.add_hashes(np.random.default_rng(n).integers(0, 2**63, 5000, dtype=np.uint64).astype(np.uint64))
        n += 1
        assert n < 100
    assert int(np.count_nonzero(s.registers)) > 1082


def test_low_precision_starts_dense():
    for p in (4, 5, 6, 7):
        assert not HllSketch(p=p).is_sparse
    for p in (8, 14, 16):
        assert HllSketch(p=p).is_sparse


def test_invalid_precision_rejected():
    for p in (3, 17, 0):
        with pytest.raises(ValueError):
            HllSketch(p=p)


# --- accuracy (harness mirrors Test/CardinalityEstimatorTests.cs:465-510) ----

def _accuracy_run(p, n, max_accepted_error, use_direct=True, seed=0):
    rng = np.random.default_rng(seed)
    hashes = rng.integers(0, 2**64, n, dtype=np.uint64)
    hashes = np.unique(hashes)
    s = HllSketch(p=p, use_direct_counting=use_direct)
    s.add_hashes(hashes)
    n_true = hashes.shape[0]
    err = abs(s.count() - n_true) / n_true
    assert err <= max_accepted_error, f"p={p} n={n_true} est={s.count()} err={err}"


@pytest.mark.parametrize("p,std_error", [(4, 0.26), (12, 0.01625), (14, 0.008125), (16, 0.0040625)])
def test_accuracy_sweep(p, std_error):
    max_err = 10 * std_error
    for n in [1, 10, 100, 1000, 10007, 100003]:
        for seed in (1, 2):
            _accuracy_run(p, n, max(max_err, 1.5 if p == 4 and n < 100 else max_err), seed=seed)


def test_accuracy_no_direct_count_small():
    for n in [1, 5, 50, 99]:
        _accuracy_run(14, n, 10 * 0.008125, use_direct=False, seed=3)


def test_accuracy_large_p14():
    _accuracy_run(14, 1_000_000, 10 * 0.008125, seed=4)


def test_sequential_ints_accuracy():
    vals = np.arange(100_000, dtype=np.int64).astype("<i8").view(np.uint8)
    from sketchlib.hashing import murmur3_64_flat
    offsets = np.arange(100_001, dtype=np.int64) * 8
    s = HllSketch(p=14)
    s.add_hashes(murmur3_64_flat(vals, offsets))
    assert abs(s.count() - 100_000) / 100_000 <= 10 * 0.008125


# --- merge algebra ----------------------------------------------------------

def _sketch_of(vals, **kw):
    return hll_from_values(vals, **kw)


def test_merge_exact_under_100():
    parts = [_sketch_of([f"e{i}-{j}" for j in range(3)]) for i in range(20)]
    merged = HllSketch.merge_all(parts)
    assert merged.count() == 60
    assert merged.direct is not None


def test_merge_overflow_drops_direct():
    a = _sketch_of([f"a{i}" for i in range(60)])
    b = _sketch_of([f"b{i}" for i in range(60)])
    a.merge(b)
    assert a.direct is None
    assert abs(a.count() - 120) / 120 < 0.1


def test_merge_equals_single_estimator():
    all_vals = [f"url-{i}" for i in range(50_000)]
    single = _sketch_of(all_vals)
    parts = [_sketch_of(all_vals[i::7]) for i in range(7)]
    merged = HllSketch.merge_all(parts)
    assert merged.count() == single.count()
    assert merged.registers.tobytes() == single.registers.tobytes()


def test_merge_associative_commutative_bitforbit():
    a = _sketch_of([f"a{i}" for i in range(500)])
    b = _sketch_of([f"b{i}" for i in range(5000)])
    c = _sketch_of([f"c{i}" for i in range(150_000)])  # dense
    ab_c = HllSketch.merge_all([a, b])
    ab_c.merge(c)
    a_bc = HllSketch.merge_all([b, c])
    a_bc.merge(a)
    assert ab_c.to_bytes() == a_bc.to_bytes()
    ba = HllSketch.merge_all([b, a])
    ab = HllSketch.merge_all([a, b])
    assert ba.to_bytes() == ab.to_bytes()


def test_merge_mode_reconciliation():
    # direct+direct overflowing, direct+sparse, sparse+dense
    d1 = _sketch_of([f"d{i}" for i in range(80)])
    d2 = _sketch_of([f"e{i}" for i in range(80)])
    m = HllSketch.merge_all([d1, d2])
    assert m.direct is None and m.is_sparse

    sp = _sketch_of([f"s{i}" for i in range(800)])
    m2 = HllSketch.merge_all([d1, sp])
    assert m2.direct is None

    dn = _sketch_of([f"x{i}" for i in range(150_000)])
    m3 = HllSketch.merge_all([sp, dn])
    assert not m3.is_sparse


def test_merge_count_additions_additive():
    a = _sketch_of(["x", "y", "x"])
    b = _sketch_of(["z"])
    merged = HllSketch.merge_all([a, b])
    assert merged.count_additions == 4
    # seed sketch must not double count (reference regression,
    # Test/CardinalityEstimatorTests.cs:244-263)
    merged2 = HllSketch.merge_all([a])
    assert merged2.count_additions == 3


def test_merge_rejects_mixed_precision():
    with pytest.raises(ValueError):
        HllSketch(p=12).merge(HllSketch(p=14))


# --- serialization ----------------------------------------------------------

def test_wire_layout_direct():
    # n=10 direct, p=14 -> exactly 101 bytes (SerializerTests.cs:63-122)
    s = _sketch_of([f"v{i}" for i in range(10)])
    blob = s.to_bytes()
    assert len(blob) == 101
    assert struct.unpack_from("<HH", blob, 0) == (3, 1)
    assert struct.unpack_from("<i", blob, 4)[0] == 14
    assert blob[8] == 3  # sparse|direct
    assert struct.unpack_from("<i", blob, 9)[0] == 10
    assert struct.unpack_from("<Q", blob, len(blob) - 8)[0] == 10


def test_wire_layout_sparse():
    s = _sketch_of([f"v{i}" for i in range(1000)])
    assert s.direct is None and s.is_sparse
    blob = s.to_bytes()
    n_sparse = int(np.count_nonzero(s.registers))
    assert len(blob) == 21 + 3 * n_sparse
    assert blob[8] == 2


def test_wire_layout_dense():
    s = _sketch_of([f"v{i}" for i in range(150_000)])
    assert not s.is_sparse
    blob = s.to_bytes()
    assert len(blob) == 21 + (1 << 14)
    assert blob[8] == 0


def test_roundtrip_all_modes():
    for n in (5, 99, 1000, 150_000):
        s = _sketch_of([f"v{i}" for i in range(n)])
        t = HllSketch.from_bytes(s.to_bytes())
        assert t == s, n
        assert t.count() == s.count()
        assert t.to_bytes() == s.to_bytes()


def test_deserialized_idempotent_under_readding():
    vals = [f"v{i}" for i in range(1000)]
    s = _sketch_of(vals)
    t = HllSketch.from_bytes(s.to_bytes())
    before = t.registers.copy()
    from sketchlib.hashing import murmur3_64_batch
    t.add_hashes(murmur3_64_batch([v.encode() for v in vals]))
    assert (t.registers == before).all()
    assert t.count() == s.count()


def test_reject_corrupt_blobs():
    s = _sketch_of(["a", "b"])
    blob = bytearray(s.to_bytes())
    bad_p = blob.copy()
    struct.pack_into("<i", bad_p, 4, 99)
    with pytest.raises(ValueError):
        HllSketch.from_bytes(bytes(bad_p))
    bad_ver = blob.copy()
    struct.pack_into("<H", bad_ver, 0, 9)
    with pytest.raises(ValueError):
        HllSketch.from_bytes(bytes(bad_ver))
    bad_n = blob.copy()
    struct.pack_into("<i", bad_n, 9, 5000)
    with pytest.raises(ValueError):
        HllSketch.from_bytes(bytes(bad_n))


def test_direct_blob_replay_reconstructs_registers():
    s = _sketch_of([f"v{i}" for i in range(50)])
    t = HllSketch.from_bytes(s.to_bytes())
    assert (t.registers == s.registers).all()
    assert t.direct is not None and t.direct.shape[0] == 50


def test_set_algebra_estimates():
    """Union/intersection/Jaccard estimates via inclusion-exclusion."""
    from sketchlib.hll import (hll_from_values, intersection_estimate,
                               jaccard_estimate, union_estimate)

    a = hll_from_values([f"a{i}" for i in range(20_000)])
    b = hll_from_values([f"a{i}" for i in range(10_000, 30_000)])
    assert abs(union_estimate(a, b) - 30_000) / 30_000 < 0.05
    inter = intersection_estimate(a, b)
    assert abs(inter - 10_000) / 10_000 < 0.15
    j = jaccard_estimate(a, b)
    assert abs(j - 10_000 / 30_000) < 0.05
    disjoint = hll_from_values([f"z{i}" for i in range(50)])
    assert intersection_estimate(a, disjoint) <= 600  # noise-clamped


def test_add_reports_changed_reference_cases():
    """Mirror of the reference's TestChanged
    (CardinalityEstimatorTests.cs:92-126): Add returns whether the sketch
    state mutated, across direct mode, the direct->sparse promotion, and
    a no-op insert whose register rank is already covered."""
    import struct

    from sketchlib.hashing import murmur3_64
    from sketchlib.hll import HllSketch

    sk = HllSketch(p=14)

    def add_int(i):
        # reference Add(int): 4-byte little-endian Murmur3 (CardinalityEstimator.cs:376)
        return sk.add_hashes(np.array([murmur3_64(struct.pack("<i", i))],
                                      dtype=np.uint64))

    assert sk.count_additions == 0
    assert add_int(0) is True
    assert add_int(0) is False
    for i in range(1, 100):
        assert add_int(i) is True
    assert add_int(100) is True   # first change from direct count (promotion)
    assert add_int(100) is False
    assert add_int(101) is True
    assert add_int(102) is True
    assert add_int(0) is False
    # element not present but the internal state doesn't change
    assert add_int(116) is False


# ---------------------------------------------------------------------------
# fold_blobs: wire-level group fold must be bit-identical to sequential merge
# ---------------------------------------------------------------------------

def _random_blob(rng, p, mode):
    import numpy as np
    from sketchlib.hll import HllSketch

    sk = HllSketch(p=p)
    if mode == "empty":
        n = 0
    elif mode == "direct":
        n = rng.integers(1, 90)
    elif mode == "sparse":
        n = rng.integers(101, 500)
    else:  # dense
        n = (1 << p)  # far past the sparse bound at small p
    if n:
        sk.add_hashes(rng.integers(0, 2**63, size=n, dtype=np.int64)
                      .astype(np.uint64))
    return sk.to_bytes()


@pytest.mark.parametrize("p", [4, 6, 8, 11, 14])
@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_fold_blobs_bit_identical_to_sequential(p, seed):
    import numpy as np
    from sketchlib.hll import HllSketch, fold_blobs

    rng = np.random.default_rng(seed * 1000 + p)
    modes = ["empty", "direct", "sparse", "dense"]
    for _ in range(8):
        k = int(rng.integers(2, 7))
        blobs = [_random_blob(rng, p, modes[int(rng.integers(0, 4))])
                 for _ in range(k)]
        merged = None
        for b in blobs:
            sk = HllSketch.from_bytes(b)
            if merged is None:
                merged = sk
            else:
                merged.merge(sk)
        assert fold_blobs(blobs) == merged.to_bytes()
        # order-invariance of the fold itself
        perm = [blobs[i] for i in rng.permutation(k)]
        assert fold_blobs(perm) == merged.to_bytes()


def test_fold_blobs_all_direct_stays_direct():
    from sketchlib.hll import HllSketch, fold_blobs

    a, b = HllSketch(), HllSketch()
    a.add(b"x", b"y")
    b.add(b"y", b"z")
    out = HllSketch.from_bytes(fold_blobs([a.to_bytes(), b.to_bytes()]))
    assert out.direct is not None and out.count() == 3
    assert out.count_additions == 4


def test_fold_blobs_direct_overflow_promotes():
    import numpy as np
    from sketchlib.hll import HllSketch, fold_blobs

    rng = np.random.default_rng(7)
    parts = []
    for i in range(3):
        sk = HllSketch()
        sk.add_hashes(rng.integers(0, 2**63, size=60, dtype=np.int64)
                      .astype(np.uint64))
        parts.append(sk.to_bytes())
    out = HllSketch.from_bytes(fold_blobs(parts))
    assert out.direct is None  # ~180 distinct > 100
    seq = HllSketch.from_bytes(parts[0])
    for b in parts[1:]:
        seq.merge(HllSketch.from_bytes(b))
    assert out == seq


def test_fold_blobs_precision_mismatch_raises():
    from sketchlib.hll import HllSketch, fold_blobs

    a = HllSketch(p=12); a.add(b"x")
    b = HllSketch(p=14); b.add(b"y")
    with pytest.raises(ValueError, match="precision"):
        fold_blobs([a.to_bytes(), b.to_bytes()])


def test_fold_blobs_rejects_empty_and_truncated():
    from sketchlib.hll import HllSketch, fold_blobs

    with pytest.raises(ValueError):
        fold_blobs([])
    a = HllSketch(); a.add(b"x")
    with pytest.raises(ValueError):
        fold_blobs([a.to_bytes()[:5]])


# ---------------------------------------------------------------------------
# fold_segments: the batch wire kernel behind every HLL merge and estimate
# ---------------------------------------------------------------------------

def _sequential(blobs):
    from sketchlib.hll import HllSketch

    merged = None
    for b in blobs:
        sk = HllSketch.from_bytes(b)
        if merged is None:
            merged = sk
        else:
            merged.merge(sk)
    return merged


def _fold_batch(blobs, segments, estimate=False):
    """fold_segments over one buffer holding ``blobs``; each segment is a
    list of blob indices (a blob may sit in several segments)."""
    import numpy as np
    from sketchlib.hll import fold_segments

    offsets = np.zeros(len(blobs) + 1, dtype=np.int64)
    np.cumsum([len(b) for b in blobs], out=offsets[1:])
    seg_ptr = np.zeros(len(segments) + 1, dtype=np.int64)
    np.cumsum([len(s) for s in segments], out=seg_ptr[1:])
    idx = np.array([i for s in segments for i in s], dtype=np.int64)
    return fold_segments(b"".join(blobs), offsets, seg_ptr, idx, estimate)


def _assert_batch_matches_sequential(blobs, segments):
    got = _fold_batch(blobs, segments)
    est = _fold_batch(blobs, segments, estimate=True)
    for seg, g, e in zip(segments, got, est):
        want = _sequential([blobs[i] for i in seg])
        assert g == want.to_bytes(), seg
        assert int(e) == want.count(), seg


@pytest.mark.parametrize("p", [4, 5, 10, 14, 16])
@pytest.mark.parametrize("seed", [0, 1, 2])
def test_fold_segments_bit_identical_to_sequential(p, seed):
    import numpy as np

    rng = np.random.default_rng(seed * 100 + p)
    modes = ["empty", "direct", "direct", "sparse", "dense"]
    blobs = [_random_blob(rng, p, modes[int(rng.integers(0, len(modes)))])
             for _ in range(24)]
    # many segments per call, overlapping like rolling windows, sizes 1..6
    segments = [rng.integers(0, len(blobs), size=int(rng.integers(1, 7))).tolist()
                for _ in range(40)]
    _assert_batch_matches_sequential(blobs, segments)


def test_fold_segments_overlapping_direct_unions():
    """Direct blobs that share hashes: the lexsort union dedups across
    blobs, and unions crossing 100 hashes leave direct mode."""
    import numpy as np
    from sketchlib.hll import HllSketch

    rng = np.random.default_rng(3)
    pool = rng.integers(0, 2**63, size=150, dtype=np.int64).astype(np.uint64)
    blobs = []
    for lo in range(0, 150, 15):
        sk = HllSketch()
        sk.add_hashes(pool[lo:lo + 40])
        blobs.append(sk.to_bytes())
    segments = [[0, 1], [0, 1, 2, 3], [2, 2, 3], list(range(len(blobs)))]
    _assert_batch_matches_sequential(blobs, segments)


def test_fold_segments_overfull_sparse_blob_promotes():
    """A sparse payload with more non-zero registers than the sparse bound
    is promoted to dense on parse; the batch fold must agree."""
    import struct

    import numpy as np
    from sketchlib.hll import HllSketch

    p, m = 10, 1 << 10
    n = 80  # sparse bound at p=10 is 1024 // 15 - 10 = 58
    entries = np.empty(n, dtype=[("idx", "<u2"), ("rank", "u1")])
    entries["idx"] = np.arange(n) * 7 % m
    entries["rank"] = np.arange(n) % 9 + 1
    overfull = (struct.pack("<HHiBi", 3, 1, p, 2, n) + entries.tobytes()
                + struct.pack("<Q", n))
    assert HllSketch.from_bytes(overfull).is_sparse is False
    small = HllSketch(p=p)
    small.add(b"a", b"b")
    _assert_batch_matches_sequential([overfull, small.to_bytes()],
                                     [[0], [0, 1], [1, 1]])


def test_fold_segments_small_p_direct_union_past_sparse_bound():
    """At p=8 the sparse bound (7) is below the direct limit (100): a
    direct union of 8..100 hashes stays direct, but its sparse flag comes
    from the replayed register count."""
    import numpy as np
    from sketchlib.hll import HllSketch

    rng = np.random.default_rng(11)
    blobs = []
    for n in (3, 4, 5, 30):
        sk = HllSketch(p=8)
        sk.add_hashes(rng.integers(0, 2**63, size=n, dtype=np.int64).astype(np.uint64))
        blobs.append(sk.to_bytes())
    # two hashes sharing a register index: 9 hashes, 8 non-zero registers
    clustered = HllSketch(p=8)
    clustered.add_hashes(np.array([(i << 56) | 1 for i in range(8)] + [5],
                                  dtype=np.uint64))
    blobs.append(clustered.to_bytes())
    _assert_batch_matches_sequential(blobs, [[0, 1], [0, 1, 2], [3, 0], [4],
                                             [4, 0], [0, 1, 2, 3]])


def test_fold_segments_count_additions_wrap_mod_2_64():
    from sketchlib.hll import HllSketch

    blobs = []
    for i, adds in enumerate([2**64 - 3, 5, 2**63, 2**63 + 7]):
        sk = HllSketch()
        sk.add(f"x{i}".encode())
        sk.count_additions = adds
        blobs.append(sk.to_bytes())
    out = _fold_batch(blobs, [[0, 1], [2, 3], [0, 1, 2, 3]])
    assert [HllSketch.from_bytes(b).count_additions for b in out] == [
        2, 7, (2**64 - 3 + 5 + 2**63 + 2**63 + 7) % 2**64]
    _assert_batch_matches_sequential(blobs, [[0, 1], [2, 3], [0, 1, 2, 3]])


def test_fold_segments_empty_batch_and_empty_segment():
    import numpy as np
    from sketchlib.hll import HllSketch, fold_segments

    assert fold_segments(b"", np.zeros(1, dtype=np.int64), [0], []) == []
    assert fold_segments(b"", np.zeros(1, dtype=np.int64), [0], [],
                         estimate=True).shape == (0,)
    blob = HllSketch().to_bytes()
    with pytest.raises(ValueError, match="at least one blob"):
        fold_segments(blob, [0, len(blob)], [0, 1, 1], [0])


def test_fold_segments_single_canonical_blob_is_identity():
    import numpy as np
    from sketchlib.hll import fold_blobs

    rng = np.random.default_rng(5)
    for mode in ("empty", "direct", "sparse", "dense"):
        blob = _random_blob(rng, 12, mode)
        assert fold_blobs([blob]) == blob
        assert _fold_batch([blob], [[0]]) == [blob]


def test_fold_segments_legacy_v2_blob_takes_object_path():
    """A v2 blob (extra hash-id byte after the version) folds through the
    object path; v3.1 segments of the same batch stay on the kernel."""
    from sketchlib.hll import HllSketch

    a, b = HllSketch(), HllSketch()
    a.add(b"x", b"y")
    b.add(b"y", b"z")
    v3 = a.to_bytes()
    v2 = b"\x02\x00\x01\x00" + b"\x00" + v3[4:]  # v2.1: same payload
    assert HllSketch.from_bytes(v2) == a
    blobs = [v2, b.to_bytes(), v3]
    _assert_batch_matches_sequential(blobs, [[0, 1], [1, 2], [0], [2, 0, 1]])


def test_fold_segments_precision_mismatch_raises():
    from sketchlib.hll import HllSketch

    a = HllSketch(p=12); a.add(b"x")
    b = HllSketch(p=14); b.add(b"y")
    blobs = [a.to_bytes(), b.to_bytes()]
    assert len(_fold_batch(blobs, [[0], [1]])) == 2  # per-segment precision
    with pytest.raises(ValueError, match="precision"):
        _fold_batch(blobs, [[0], [0, 1]])


def test_estimate_blobs_matches_from_bytes_count():
    """The estimate of one-blob segments equals from_bytes().count() for
    canonical, unsorted, duplicate and empty direct blobs and for
    sparse/dense blobs."""
    import numpy as np
    from sketchlib.hll import HllSketch, direct_blob, fold_segments

    rng = np.random.default_rng(9)
    h = np.sort(rng.integers(0, 2**63, size=20, dtype=np.int64).astype(np.uint64))
    blobs = [
        direct_blob(14, h, 20),                              # canonical
        direct_blob(14, h[::-1].copy(), 20),                 # unsorted
        direct_blob(14, np.concatenate([h[:5], h[:5]]), 10),  # duplicates
        direct_blob(14, h[:0], 0),                           # empty
        _random_blob(rng, 14, "sparse"),
        _random_blob(rng, 10, "dense"),
    ]
    offsets = np.zeros(len(blobs) + 1, dtype=np.int64)
    np.cumsum([len(b) for b in blobs], out=offsets[1:])
    one_blob_segments = np.arange(len(blobs) + 1)
    got = fold_segments(b"".join(blobs), offsets, one_blob_segments,
                        one_blob_segments[:-1], estimate=True)
    assert got.tolist() == [HllSketch.from_bytes(b).count() for b in blobs]
    assert got[:4].tolist() == [20, 20, 5, 0]


def test_fold_segments_register_chunks_bit_identical(monkeypatch):
    """A tiny register budget forces one-row chunks and one-blob dense
    blocks: the chunked fold must equal the one-chunk fold."""
    import numpy as np
    import sketchlib.hll as hll_mod

    rng = np.random.default_rng(21)
    modes = ["direct", "sparse", "dense"]
    blobs = [_random_blob(rng, 10, modes[i % 3]) for i in range(12)]
    segments = [rng.integers(0, 12, size=int(rng.integers(2, 6))).tolist()
                for _ in range(15)]
    whole = _fold_batch(blobs, segments)
    monkeypatch.setattr(hll_mod, "_REGISTER_BUDGET", 1)
    assert _fold_batch(blobs, segments) == whole
    _assert_batch_matches_sequential(blobs, segments)
