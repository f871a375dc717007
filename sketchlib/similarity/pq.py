"""Product quantization (PQ) for embedding columns — the compression stage
that makes ANN possible at 100 TB (Jégou, Douze & Schmid, "Product
quantization for nearest neighbor search", TPAMI 2011).

IVF-Flat (:mod:`sketchlib.similarity.ivf`) prunes WHICH rows a query scans;
PQ shrinks WHAT each row costs: the d-dim float vector (d=1024 -> 4 KB) is
split into ``m`` subspaces and each subvector replaced by the index of its
nearest codeword in a per-subspace codebook — ``m`` bytes per row (ksub <=
256), a 100-1000x reduction that turns a 100 TB embedding column into a
~100 GB code column that fits in cluster memory.  Search uses ADC
(asymmetric distance computation): the query stays exact, each subspace
contributes a looked-up ``||q_sub - codeword||^2`` from a per-query table of
``m x ksub`` floats, so scoring a row is ``m`` table lookups + adds — no
float decode of the row at all.

Spark shape:

* **train** — bounded driver-side sample (a codebook needs a representative
  sample, not the corpus), per-subspace Lloyd k-means with k-means++
  seeding, fully seeded/deterministic.  ``method="first_ids"`` instead
  takes the subvectors of the ``ksub`` smallest-id rows as codewords — a
  deterministic, ORDER-BY-reproducible codebook that any external engine
  (the DuckDB oracle) can derive with plain SQL; accuracy is below k-means
  but every downstream step is then machine-checkable end-to-end.
* **encode** — one Arrow UDF; each batch is one BLAS
  ``||x - c||^2 = x^2 + c^2 - 2xc`` per subspace; codes pack into a
  ``binary`` column (m bytes/row).  Encoding is stateless per row —
  partition-independent, re-runnable, and the natural thing to write next
  to the IVF ``cluster_id`` for a ``partitionBy(cluster_id)`` index table.
* **search** — per-query LUTs ship in the task closure (m x ksub doubles);
  the scan never materializes row floats.  ``rerank > 0`` re-scores the
  top-``rerank`` ADC candidates with exact cosine from the original
  vectors, restricted via a broadcast semi-join (the minhash-verify
  pattern: candidates are <<1% of rows, so the full-precision column is
  touched only for them).

Ties everywhere break on the LOWEST codeword index (numpy ``argmin``
semantics == SQL ``ORDER BY dist, idx LIMIT 1``) and the smallest row id,
so results are a deterministic total order.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .._arrow import embedding_matrix
from .search import cosine_topk, scan_topk

_DEF_SEED = 0x90D

__all__ = ["train_codebooks", "pq_encode", "adc_topk"]


def _subspaces(d: int, m: int) -> list[slice]:
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m} subspaces")
    dsub = d // m
    return [slice(j * dsub, (j + 1) * dsub) for j in range(m)]


def _kmeans_1sub(x: np.ndarray, ksub: int, iters: int,
                 rng: np.random.Generator) -> np.ndarray:
    """Seeded Lloyd's with k-means++ init on one subspace (L2)."""
    n = x.shape[0]
    cents = np.empty((ksub, x.shape[1]))
    cents[0] = x[rng.integers(n)]
    d2 = ((x - cents[0]) ** 2).sum(axis=1)
    for j in range(1, ksub):
        probs = np.maximum(d2, 1e-12)
        cents[j] = x[rng.choice(n, p=probs / probs.sum())]
        d2 = np.minimum(d2, ((x - cents[j]) ** 2).sum(axis=1))
    for _ in range(iters):
        dists = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2) \
            if n * ksub * x.shape[1] < 4e7 else \
            (x ** 2).sum(1)[:, None] - 2 * x @ cents.T + (cents ** 2).sum(1)[None, :]
        assign = np.argmin(dists, axis=1)
        for j in range(ksub):
            members = x[assign == j]
            if members.shape[0]:
                cents[j] = members.mean(axis=0)
            else:  # dead codeword: respawn at the worst-quantized point
                cents[j] = x[np.argmax(np.min(dists, axis=1))]
    return cents


def train_codebooks(df: DataFrame, vec_col: str = "embedding", m: int = 8,
                    ksub: int = 16, sample_rows: int = 100_000,
                    iters: int = 12, seed: int = _DEF_SEED,
                    method: str = "kmeans",
                    id_col: str | None = None) -> np.ndarray:
    """(m, ksub, d/m) codebook tensor.

    ``method="kmeans"``: per-subspace Lloyd on a bounded driver sample
    (deterministic given ``seed``).  ``method="first_ids"``: codewords are
    the subvectors of the ``ksub`` rows with the smallest ``id_col`` — the
    SQL-reproducible variant (an external engine derives the identical
    codebook with ``ORDER BY id LIMIT ksub``), used by the oracle-checked
    gate; quantization quality is sample-grade, the plumbing is identical."""
    if not 2 <= ksub <= 256:
        raise ValueError(f"ksub must be in [2, 256] (codes are bytes), got {ksub}")
    base = df.filter(F.col(vec_col).isNotNull())
    if method == "first_ids":
        if id_col is None:
            raise ValueError("method='first_ids' requires id_col")
        rows = (base.select(id_col, vec_col).orderBy(id_col).limit(ksub)
                .collect())
        mat = np.asarray([r[vec_col] for r in rows], dtype=np.float64)
        if mat.shape[0] < ksub:
            raise ValueError(f"table has {mat.shape[0]} rows < ksub={ksub}")
        subs = _subspaces(mat.shape[1], m)
        return np.stack([mat[:, s] for s in subs])
    if method != "kmeans":
        raise ValueError(f"unknown method {method!r}")
    n_total = base.count()
    frac = min(1.0, (3.0 * sample_rows) / max(n_total, 1))
    sample = (base.select(vec_col).sample(fraction=frac, seed=seed)
              .limit(sample_rows).collect())
    mat = np.asarray([r[0] for r in sample], dtype=np.float64)
    if mat.shape[0] < ksub:
        raise ValueError(f"sample ({mat.shape[0]}) smaller than ksub ({ksub})")
    subs = _subspaces(mat.shape[1], m)
    rng = np.random.default_rng(seed)
    return np.stack([_kmeans_1sub(np.ascontiguousarray(mat[:, s]), ksub,
                                  iters, rng) for s in subs])


def _encode_mat(mat: np.ndarray, codebooks: np.ndarray,
                exact_distances: bool = False) -> np.ndarray:
    """(n, m) uint8 codes; ties on the lowest codeword index (argmin).

    Default is the BLAS ``x^2 + c^2 - 2xc`` expansion — one dgemm per
    subspace instead of streaming an (n, ksub, dsub) difference tensor
    through memory (measured 69k -> ~500k rows/s on 1M x 64-dim, m=8,
    ksub=256).  ``exact_distances=True`` keeps the explicit-difference
    kernel: on integer-grid inputs every distance is then an exact
    integer-valued double, so the argmin (and its lowest-index tie-break)
    is reproducible bit-for-bit by an external SQL engine — the oracle
    path.  The expansion may round differently only when two codewords are
    within float epsilon of equidistant; both choices are then equally
    near-optimal."""
    m, ksub, dsub = codebooks.shape
    if mat.shape[1] != m * dsub:
        # without this, a wider vector is silently truncated to its first
        # m*dsub dims (every code then wrong); adc_topk validates the
        # query side the same way
        raise ValueError(
            f"vector dim {mat.shape[1]} != m*dsub {m * dsub} of the codebooks")
    codes = np.empty((mat.shape[0], m), dtype=np.uint8)
    for j in range(m):
        x = mat[:, j * dsub:(j + 1) * dsub]
        c = codebooks[j]
        if exact_distances:
            step = max(1, (1 << 22) // max(ksub * dsub, 1))
            for lo in range(0, x.shape[0], step):
                diff = x[lo:lo + step, None, :] - c[None, :, :]
                codes[lo:lo + step, j] = np.argmin(
                    (diff * diff).sum(axis=2), axis=1).astype(np.uint8)
        else:
            d2 = (-2.0 * (x @ c.T) + (c * c).sum(axis=1)[None, :])
            codes[:, j] = np.argmin(d2, axis=1).astype(np.uint8)  # x^2 const
    return codes


def pq_encode(df: DataFrame, codebooks: np.ndarray,
              vec_col: str = "embedding", code_col: str = "pq_code",
              exact_distances: bool = False) -> DataFrame:
    """Add ``code_col`` (binary, m bytes/row).  NULL vectors get NULL codes.
    Stateless per row -> partition-independent and bit-deterministic.
    ``exact_distances`` selects the oracle-grade argmin kernel (see
    :func:`_encode_mat`)."""
    cb = np.ascontiguousarray(np.asarray(codebooks, dtype=np.float64))

    @F.arrow_udf(T.BinaryType())
    def _enc(vecs: pa.Array) -> pa.Array:
        live = vecs.is_valid()
        codes = np.zeros((len(vecs), cb.shape[0]), dtype=np.uint8)
        if live.true_count:
            codes[live.to_numpy(zero_copy_only=False)] = _encode_mat(
                embedding_matrix(vecs.filter(live)), cb, exact_distances)
        fixed = pa.FixedSizeBinaryArray.from_buffers(
            pa.binary(cb.shape[0]), len(vecs),
            [None, pa.py_buffer(codes.tobytes())])
        return pc.if_else(live, fixed, None).cast(pa.binary())

    return df.withColumn(code_col, _enc(F.col(vec_col)))


def adc_topk(encoded: DataFrame, queries: list[tuple], codebooks: np.ndarray,
             k: int = 10, id_col: str = "vec_id", code_col: str = "pq_code",
             rerank: int = 0, rerank_df: DataFrame | None = None,
             vec_col: str = "embedding") -> DataFrame:
    """Approximate L2 top-k by asymmetric distance over PQ codes.

    Returns ``(query_id, vec_id, adc_dist, rnk)`` ordered by (adc asc, id
    asc) per query.  With ``rerank > 0`` the top-``rerank`` ADC candidates
    are re-scored with exact cosine against ``rerank_df`` (default: the
    ``encoded`` frame's ``vec_col``) and the output is the exact top-k of
    the candidates: ``(query_id, vec_id, cosine, rnk)``.  ``rerank = -1``
    reranks EVERY row (provably-exact mode) without the caller having to
    know — or count() — the table size."""
    cb = np.ascontiguousarray(np.asarray(codebooks, dtype=np.float64))
    m, ksub, dsub = cb.shape
    qids = [int(q) for q, _ in queries]
    qmat = np.asarray([v for _, v in queries], dtype=np.float64)
    if qmat.shape[1] != m * dsub:
        raise ValueError(f"query dim {qmat.shape[1]} != m*dsub {m * dsub}")
    # per-query LUTs: luts[q, j, c] = ||q_sub_j - codeword_jc||^2, computed
    # as explicit differences (exact for integer-valued inputs)
    diff = qmat.reshape(len(qids), m, 1, dsub) - cb[None, :, :, :]
    luts = (diff * diff).sum(axis=3)  # (nq, m, ksub)

    if rerank < -1:
        raise ValueError(f"rerank must be >= -1, got {rerank}")

    def scores_of(batch):
        batch = batch.filter(batch.column(code_col).is_valid())
        n = batch.num_rows
        if not n:
            return None
        fixed = batch.column(code_col).cast(pa.binary(m))
        codes = np.frombuffer(fixed.buffers()[1], dtype=np.uint8, count=n * m,
                              offset=fixed.offset * m).reshape(n, m)
        # dists[row, q] = sum_j luts[q, j, codes[row, j]]
        dists = np.zeros((n, len(qids)))
        for j in range(m):
            dists += luts[:, j, :][:, codes[:, j]].T
        return dists, batch.column(id_col)

    source = rerank_df if rerank_df is not None else encoded
    if rerank == -1:
        # exhaustive: candidates = every encoded id.  Derived from the
        # codes frame directly — routing through the ADC scan would run
        # the full n_queries x n_rows scan and a distinct shuffle just to
        # recover the id set it then discards
        cand_ids = (encoded.filter(F.col(code_col).isNotNull())
                    .select(id_col).distinct())
    else:
        ranked = scan_topk(encoded.select(id_col, code_col), qids,
                           max(k, rerank), id_col, "adc_dist", scores_of,
                           largest=False)
        if rerank == 0:
            return ranked
        cand_ids = ranked.select(id_col).distinct()
    cand = (source.select(id_col, vec_col)
            .join(F.broadcast(cand_ids), id_col, "semi"))
    return cosine_topk(cand, [(q, list(v)) for q, v in zip(qids, qmat)], k=k,
                       vec_col=vec_col, id_col=id_col)
