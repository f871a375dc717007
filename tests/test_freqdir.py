"""Frequent Directions matrix sketch: published bound, mergeability,
low-rank exactness, serde, and the distributed build."""

import numpy as np
import pytest

from sketchlib.similarity.freqdir import FdSpec, FrequentDirections, fd_sketch


def _spec_err(A, B):
    """||A'A - B'B||_2 via eigvalsh of the symmetric difference."""
    D = A.T @ A - B.T @ B
    return float(np.abs(np.linalg.eigvalsh(D)).max())


def _psd_slack(A, B):
    """min eigenvalue of A'A - B'B (must be >= ~0: B never overestimates)."""
    return float(np.linalg.eigvalsh(A.T @ A - B.T @ B).min())


class TestFrequentDirections:
    def test_bound_holds_random_stream(self):
        rng = np.random.default_rng(0)
        A = rng.normal(size=(5000, 32))
        fd = FrequentDirections(ell=16, d=32)
        for chunk in np.array_split(A, 13):
            fd.update(chunk)
        B = fd.sketch()
        assert fd.n_rows == 5000
        assert fd.frobenius_sq == pytest.approx(float((A * A).sum()), rel=1e-9)
        assert _spec_err(A, B) <= fd.covariance_error_bound()
        assert _psd_slack(A, B) >= -1e-6 * fd.frobenius_sq

    def test_low_rank_stream_is_exact(self):
        """rank(A) < ell -> sigma_ell = 0 at every shrink -> B'B == A'A."""
        rng = np.random.default_rng(1)
        basis = rng.normal(size=(5, 24))
        A = rng.normal(size=(2000, 5)) @ basis
        fd = FrequentDirections(ell=8, d=24)
        fd.update(A)
        B = fd.sketch()
        assert _spec_err(A, B) <= 1e-6 * float((A * A).sum())

    def test_merge_bound_and_totals(self):
        """Merged sketch keeps the ell-bound for the concatenated stream
        under an unbalanced merge tree (GLPW mergeability)."""
        rng = np.random.default_rng(2)
        A = rng.normal(size=(6000, 16))
        parts = np.array_split(A, 7)
        sketches = []
        for p in parts:
            fd = FrequentDirections(ell=12, d=16)
            fd.update(p)
            sketches.append(fd)
        acc = sketches[0]
        for s in sketches[1:]:
            acc.merge(s)
        assert acc.n_rows == 6000
        assert acc.frobenius_sq == pytest.approx(float((A * A).sum()), rel=1e-9)
        assert _spec_err(A, acc.sketch()) <= acc.covariance_error_bound()

    def test_serde_roundtrip(self):
        rng = np.random.default_rng(3)
        fd = FrequentDirections(ell=6, d=10)
        fd.update(rng.normal(size=(100, 10)))
        back = FrequentDirections.from_bytes(fd.to_bytes())
        assert back.n_rows == fd.n_rows
        assert back.frobenius_sq == fd.frobenius_sq
        assert np.array_equal(back.sketch_rows(), fd.sketch_rows())

    def test_adversarial_inputs(self):
        with pytest.raises(ValueError):
            FrequentDirections(ell=0, d=4)
        with pytest.raises(ValueError):
            FrequentDirections(ell=4, d=0)
        fd = FrequentDirections(ell=4, d=8)
        with pytest.raises(ValueError):
            fd.update(np.zeros((3, 5)))  # wrong width
        with pytest.raises(ValueError):
            fd.merge(FrequentDirections(ell=4, d=9))
        assert fd.covariance_error_bound() == 0.0  # empty sketch

    def test_distributed_build_bound(self, spark, sf_dir):
        """End-to-end: per-partition FD sketches merged through the blob
        path satisfy the published bound against the exact Gram matrix."""
        df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        fd = fd_sketch(df.repartition(5), "embedding", ell=32, d=64)
        import pandas as pd  # noqa: F401  (collect_as pandas below)

        A = np.stack(df.toPandas()["embedding"].to_numpy()).astype(np.float64)
        assert fd.n_rows == A.shape[0]
        assert fd.frobenius_sq == pytest.approx(float((A * A).sum()), rel=1e-6)
        assert _spec_err(A, fd.sketch()) <= fd.covariance_error_bound()

    def test_spec_prepare_validates(self):
        import pyarrow as pa

        batch = pa.record_batch([pa.array([[1.0]]), pa.array([[2.0]])],
                                names=["a", "b"])
        with pytest.raises(ValueError):
            FdSpec(ell=4, d=8).prepare_arrow(batch, ["a", "b"])

    def test_spec_prepare_arrow_row_matrix(self):
        import pyarrow as pa

        rows = [[1.0, 2.0, 3.0], [4.0, 5.0, 6.0], [7.0, 8.0, 9.5]]
        spec = FdSpec(ell=2, d=3)
        batch = pa.record_batch([pa.array(rows).slice(1)], names=["e"])
        got = spec.prepare_arrow(batch, ["e"])
        assert got.dtype == np.float64 and np.array_equal(got, np.array(rows[1:]))
        ragged = pa.record_batch([pa.array([[1.0, 2.0, 3.0], [4.0]])], names=["e"])
        with pytest.raises(ValueError, match="different lengths"):
            spec.prepare_arrow(ragged, ["e"])
        with pytest.raises(ValueError):
            spec.prepare_arrow(batch, ["e", "e"])
