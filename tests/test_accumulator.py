"""Stage-1 internals: _PairAccumulator under forced compaction and spill —
the memory-bounding path that only triggers past ~8M pending pairs in
production (so Spark-level tests never exercise it) — the two accumulators'
shared group keys, and the byte-budgeted emitter."""

import numpy as np
import pyarrow as pa

from sketchlib.hll import HllSketch
from sketchlib.spark import aggregate
from sketchlib.spark.aggregate import (HllSpec, _PairAccumulator,
                                       _SketchAccumulator, _with_keys,
                                       arrow_group_codes)
from sketchlib.spark.specs import CmsSpec


def _feed(acc, rng, n_batches=10, rows=500, n_groups=7, dup_space=300):
    all_pairs = []
    for _ in range(n_batches):
        codes = rng.integers(0, n_groups, size=rows)
        keys = pa.table({"g": [f"g{i}" for i in range(n_groups)]})
        hashes = rng.integers(0, dup_space, size=rows).astype(np.uint64) * np.uint64(
            0x9E3779B97F4A7C15)
        acc.add(codes, keys, hashes)
        all_pairs.extend(zip(codes.tolist(), hashes.tolist()))
    return all_pairs


def _finalize(acc, cols):
    """``{key tuple: blob}`` of the accumulator's one output."""
    [(keys, blobs)] = list(acc.finalize())
    return dict(zip(zip(*(keys.column(c).to_pylist() for c in cols)),
                    blobs.to_pylist()))


def _expected_blobs(all_pairs, n_groups=7):
    out = {}
    for g in range(n_groups):
        hs = np.array(sorted({h for c, h in all_pairs if c == g}), dtype=np.uint64)
        adds = sum(1 for c, _ in all_pairs if c == g)
        sk = HllSketch.from_unique_hashes(hs, p=14, count_additions=adds)
        out[f"g{g}"] = sk.to_bytes()
    return out


def test_forced_compaction_matches_unbounded():
    rng = np.random.default_rng(3)
    tight = _PairAccumulator(HllSpec(), ["g"], compact_threshold=600,
                             spill_threshold=4096)
    pairs = _feed(tight, rng)
    got = {g: blob for (g,), blob in _finalize(tight, ["g"]).items()}
    assert got == _expected_blobs(pairs)


def test_forced_spill_matches_unbounded():
    """spill_threshold tiny -> every group goes through the register-sketch
    spill path; blobs must still match the unbounded build (mode transitions
    are order-independent)."""
    rng = np.random.default_rng(4)
    spilly = _PairAccumulator(HllSpec(), ["g"], compact_threshold=600,
                              spill_threshold=16)
    pairs = _feed(spilly, rng, dup_space=5000)
    got = {g: blob for (g,), blob in _finalize(spilly, ["g"]).items()}
    assert got == _expected_blobs(pairs)


def test_spill_bounds_pending_memory():
    rng = np.random.default_rng(5)
    acc = _PairAccumulator(HllSpec(), ["g"], compact_threshold=400,
                           spill_threshold=32)
    _feed(acc, rng, n_batches=20, rows=400, n_groups=2, dup_space=10_000)
    # after spilling, retained pairs per group never exceed spill_threshold
    assert acc.gcodes.shape[0] <= 2 * 32 + 400  # groups*threshold + last batch


def test_multicolumn_keys_and_empty_batches():
    spec = HllSpec()
    acc = _PairAccumulator(spec, ["s", "i"], compact_threshold=100)
    k1 = pa.table({"s": ["a", "b"], "i": [1, 2]})
    acc.add(np.array([0, 1, 0]), k1, np.array([10, 20, 10], dtype=np.uint64))
    k2 = pa.table({"s": ["b", "a"], "i": [2, 1]})
    acc.add(np.array([0, 1]), k2, np.array([30, 11], dtype=np.uint64))
    rows = {k: HllSketch.from_bytes(b)
            for k, b in _finalize(acc, ["s", "i"]).items()}
    assert rows[("a", 1)].count() == 2          # hashes {10, 11}
    assert rows[("a", 1)].count_additions == 3  # 10 added twice + 11
    assert rows[("b", 2)].count() == 2          # hashes {20, 30}


def test_int64_keys_above_2_53_globalize_exactly():
    """Two batches of int64 keys above 2^53, only one of them with a NULL:
    the globalize pass must keep 2^60+1, 2^60+3 and NULL apart (a float64
    round trip would fold both big keys into 2^60)."""
    big1, big3 = (1 << 60) + 1, (1 << 60) + 3
    acc = _PairAccumulator(HllSpec(), ["k"], compact_threshold=1)
    acc.add(np.array([0, 1, 2]), pa.table({"k": pa.array([big1, big3, None])}),
            np.array([10, 20, 30], dtype=np.uint64))
    acc.add(np.array([0, 1]), pa.table({"k": pa.array([big3, big1])}),
            np.array([40, 50], dtype=np.uint64))
    got = {k: HllSketch.from_bytes(b).count()
           for (k,), b in _finalize(acc, ["k"]).items()}
    assert got == {big1: 2, big3: 2, None: 1}


def test_nan_keys_group_alike_in_both_accumulators():
    """``nan != nan``: a NaN group key must find its group in every batch,
    in the live-sketch accumulator as in the pair accumulator (one partial
    per key, not one per batch)."""
    batch = pa.record_batch({"g": pa.array([float("nan"), 1.0, float("nan"), None])})
    codes, first = arrow_group_codes(batch, ["g"])
    hashes = np.array([1, 2, 3, 4], dtype=np.uint64)
    got = []
    for acc in (_SketchAccumulator(CmsSpec(width=16, depth=2), ["g"]),
                _PairAccumulator(HllSpec(), ["g"])):
        for _ in range(2):
            acc.add(codes, batch.take(pa.array(first)), hashes)
        [(keys, blobs)] = list(acc.finalize())
        assert len(blobs) == keys.num_rows
        got.append(sorted(map(repr, keys.column("g").to_pylist())))
    assert got[0] == got[1] == ["1.0", "None", "nan"]


def _emit(sizes, budget, monkeypatch):
    monkeypatch.setattr(aggregate, "_BATCH_BYTES", budget)
    keys = pa.table({"g": pa.array(range(len(sizes)), pa.int64())})
    blobs = pa.array([b"x" * n for n in sizes], type=pa.binary())
    schema = pa.schema([("g", pa.int64()), ("sketch", pa.binary())])
    return keys, blobs, list(_with_keys(keys, ["g"], [blobs], schema))


def test_emitter_slices_within_the_byte_budget(monkeypatch):
    sizes = [30, 40, 50, 250, 10, 10, 90, 0, 100, 1]
    keys, blobs, out = _emit(sizes, 100, monkeypatch)
    assert len(out) > 1
    for b in out:
        payload = sum(len(v) for v in b.column(1).to_pylist())
        assert payload <= 100 or b.num_rows == 1
    whole = pa.Table.from_batches(out)
    assert whole.column("g").to_pylist() == keys.column("g").to_pylist()
    assert whole.column("sketch").to_pylist() == blobs.to_pylist()
    # greedy: no slice could have taken its successor's first row
    for b, nxt in zip(out, out[1:]):
        assert (sum(map(len, b.column(1).to_pylist()))
                + len(nxt.column(1)[0].as_py()) > 100)


def test_emitter_keeps_a_small_partition_whole(monkeypatch):
    _, _, out = _emit([5] * 40, 64 << 20, monkeypatch)
    assert [b.num_rows for b in out] == [40]


def test_emitter_yields_nothing_for_zero_rows(monkeypatch):
    _, _, out = _emit([], 100, monkeypatch)
    assert out == []
