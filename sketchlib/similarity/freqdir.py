"""Frequent Directions: mergeable low-rank matrix sketch for embeddings.

The embedding-side sibling of the frequency sketches: where CMS summarizes a
count vector and HLL a set, Frequent Directions summarizes the n x d
embedding MATRIX A (n = corpus size, d = embedding dim) with an ell x d
sketch B such that

    0  <=  x'(A'A)x - x'(B'B)x  <=  ||A||_F^2 / ell     for all unit x
    (equivalently ||A'A - B'B||_2 <= ||A||_F^2 / ell),

per Liberty 2013 ("Simple and deterministic matrix sketching") with the
Ghashami-Liberty-Phillips-Woodruff 2015 analysis. That is the exact
guarantee a distributed PCA / covariance estimate over 100 TB of embeddings
needs: A'A is d x d but computing it exactly costs a full pass with d^2
partial state per task; B is ell x d and *mergeable* — sketch each
partition, then merge sketches pairwise in any order (merge = stack + one
shrink; the additive errors telescope, GLPW §3.1, so the merged bound still
holds with the same ell).

Implementation: the standard 2*ell buffer — append rows until full, then one
SVD shrink (sigma'^2 = max(sigma^2 - sigma_ell^2, 0)) keeping ell directions;
amortized O(d*ell) per row. Row order affects low-order bits of B (SVD is
not permutation-equivariant) but the guarantee is order-free — tests pin the
BOUND under adversarial orders/partitionings, not bytes.
"""

from __future__ import annotations

import struct

import numpy as np
from pyspark.sql import types as T

from .._arrow import embedding_matrix
from .._wire import read_array, unpack
from ..spark.aggregate import SketchSpec

WIRE_MAGIC = b"FD"
WIRE_VERSION = 1


class FrequentDirections:
    """Frequent Directions sketch of a stream of d-dimensional rows.

    ``ell`` is the sketch size (error <= ||A||_F^2 / ell); the working
    buffer holds 2*ell rows. State: buffer rows, total row count, and the
    exact running ||A||_F^2 (cheap, and it makes the error bound of any
    sketch instance checkable without a second data pass).
    """

    __slots__ = ("ell", "d", "_buf", "_n_buf", "n_rows", "frobenius_sq")

    def __init__(self, ell: int, d: int) -> None:
        if ell < 1:
            raise ValueError(f"ell must be >= 1, got {ell}")
        if d < 1:
            raise ValueError(f"d must be >= 1, got {d}")
        self.ell = ell
        self.d = d
        self._buf = np.zeros((2 * ell, d), dtype=np.float64)
        self._n_buf = 0
        self.n_rows = 0
        self.frobenius_sq = 0.0

    def _shrink(self) -> None:
        """SVD shrink: subtract sigma_ell^2 from every squared singular
        value; at most ell-1 rows survive (sigma_ell itself shrinks to 0)."""
        # full_matrices=False: (2ell x d) -> U (2ell x r), s (r,), Vt (r x d)
        _u, s, vt = np.linalg.svd(self._buf[:self._n_buf], full_matrices=False)
        if s.shape[0] > self.ell:
            delta = s[self.ell - 1] ** 2
        else:
            delta = 0.0
        s2 = np.maximum(s**2 - delta, 0.0)
        keep = min(self.ell, s2.shape[0])
        rows = np.sqrt(s2[:keep])[:, None] * vt[:keep]
        self._buf[:] = 0.0
        self._buf[:keep] = rows
        self._n_buf = keep

    def update(self, rows: np.ndarray) -> None:
        """Append a batch of rows (n x d), shrinking whenever the buffer
        fills — vectorized in chunks of the free buffer space."""
        rows = np.asarray(rows, dtype=np.float64)
        if rows.ndim == 1:
            rows = rows[None, :]
        if rows.shape[1] != self.d:
            raise ValueError(f"expected d={self.d} columns, got {rows.shape[1]}")
        self.n_rows += rows.shape[0]
        self.frobenius_sq += float((rows * rows).sum())
        i = 0
        while i < rows.shape[0]:
            free = self._buf.shape[0] - self._n_buf
            if free == 0:
                self._shrink()
                free = self._buf.shape[0] - self._n_buf
            take = min(free, rows.shape[0] - i)
            self._buf[self._n_buf:self._n_buf + take] = rows[i:i + take]
            self._n_buf += take
            i += take

    def merge(self, other: "FrequentDirections") -> None:
        """Stack the other sketch's rows and shrink — the GLPW mergeable-
        summaries property: the merged sketch keeps the ell-bound for the
        concatenated stream under any merge tree."""
        if (other.ell, other.d) != (self.ell, self.d):
            raise ValueError("cannot merge FD sketches with different (ell, d)")
        rows = other.sketch_rows()
        self.update(rows)
        # update() booked the sketch rows as new observations; correct the
        # counters to the true stream totals (sketch rows are a summary —
        # shrinks discard Frobenius mass, so other's exact counter rules)
        self.n_rows += other.n_rows - rows.shape[0]
        self.frobenius_sq += other.frobenius_sq - float((rows * rows).sum())

    def sketch_rows(self) -> np.ndarray:
        """Current sketch rows (<= 2*ell x d; call after a final shrink for
        the canonical <= ell rows)."""
        return self._buf[:self._n_buf].copy()

    def sketch(self) -> np.ndarray:
        """Canonical ell x d sketch matrix B (zero-padded, post-shrink)."""
        if self._n_buf > self.ell:
            self._shrink()
        out = np.zeros((self.ell, self.d), dtype=np.float64)
        out[:self._n_buf] = self._buf[:self._n_buf]
        return out

    def covariance_error_bound(self) -> float:
        """The published a-priori bound ||A'A - B'B||_2 <= ||A||_F^2 / ell."""
        return self.frobenius_sq / self.ell

    def to_bytes(self) -> bytes:
        rows = self.sketch_rows()
        return (WIRE_MAGIC
                + struct.pack("<BBiiQid", WIRE_VERSION, 0, self.ell, self.d,
                              self.n_rows, rows.shape[0], self.frobenius_sq)
                + rows.astype("<f8").tobytes())

    @classmethod
    def from_bytes(cls, blob: bytes) -> "FrequentDirections":
        if blob[:2] != WIRE_MAGIC:
            raise ValueError("not a frequent-directions blob")
        version, _pad, ell, d, n_rows, n_buf, fro = unpack(
            "<BBiiQid", blob, 2, "frequent-directions")
        if version > WIRE_VERSION:
            raise ValueError(f"incompatible FD wire version {version}")
        off = 2 + struct.calcsize("<BBiiQid")
        # parameter sanity BEFORE cls() — the constructor allocates the
        # 2*ell x d buffer, so a corrupt ell/d field must not drive a
        # header-claimed multi-GB allocation (same rule as media decoders)
        if not 1 <= ell <= (1 << 20) or not 1 <= d <= (1 << 20) \
                or ell * d > (1 << 26):
            raise ValueError(f"FD parameters out of range: ell={ell} d={d}")
        if not 0 <= n_buf <= 2 * ell:
            raise ValueError(f"FD buffered-row count out of range: {n_buf}")
        if len(blob) - off != n_buf * d * 8:
            raise ValueError("FD payload length mismatch")
        sk = cls(ell=ell, d=d)
        rows = (read_array(blob, "<f8", n_buf * d, off, "frequent-directions")
                .reshape(n_buf, d))
        sk._buf[:n_buf] = rows
        sk._n_buf = n_buf
        sk.n_rows = n_rows
        sk.frobenius_sq = fro
        return sk


class FdSpec(SketchSpec):
    """Binding for the two-stage aggregation in
    :mod:`sketchlib.spark.aggregate`: one FD per (group, partition) built in
    the Arrow stream path (``prepare_arrow`` returns the (n, d) row matrix;
    the stream build's row-indexing composes with 2-D prepared arrays),
    then blob-merged."""

    name = "freqdir"
    sketch_type = FrequentDirections
    estimate_type = T.DoubleType()

    def __init__(self, ell: int, d: int) -> None:
        self.ell = ell
        self.d = d

    def make(self) -> FrequentDirections:
        return FrequentDirections(ell=self.ell, d=self.d)

    def prepare_arrow(self, batch, element_cols):
        """(n, d) float64 matrix of the embedding column's values buffer."""
        if len(element_cols) != 1:
            raise ValueError("FD takes exactly one embedding column")
        return embedding_matrix(batch.column(element_cols[0]))

    def ingest(self, sketch: FrequentDirections, prepared: np.ndarray) -> None:
        sketch.update(prepared)

    def estimate(self, sketch: FrequentDirections) -> float:
        """Scalar summary = the a-priori spectral error bound."""
        return sketch.covariance_error_bound()


def fd_sketch(df, embedding_col: str, ell: int, d: int,
              group_cols=()) -> "FrequentDirections | dict":
    """Distributed FD build: per-partition sketches, blob-only shuffle, one
    merged sketch on the driver (or one per group).

    At 1000-executor scale each task ships a <= 2*ell x d float64 blob
    (ell=64, d=1024 -> 1 MB) — the raw embeddings never leave their
    partitions.
    """
    from ..spark.aggregate import sketch_agg

    spec = FdSpec(ell=ell, d=d)
    merged = sketch_agg(df, embedding_col, list(group_cols), spec)
    if not group_cols:
        [row] = merged.collect()
        return FrequentDirections.from_bytes(bytes(row["sketch"]))
    return {tuple(row[g] for g in group_cols):
            FrequentDirections.from_bytes(bytes(row["sketch"]))
            for row in merged.collect()}
