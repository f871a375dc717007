"""IVF (inverted-file) approximate nearest neighbors over an ``array<float>``
embedding column — the partition-pruned scale path next to the brute-force
baseline and SRP-LSH buckets in :mod:`sketchlib.similarity.search`.

Classic IVF-Flat (Sivic & Zisserman "Video Google" inverted files; the
coarse-quantizer stage of IVFADC, Jégou et al. TPAMI 2011) re-expressed
Spark-first:

1. **Train** — sample a bounded number of vectors to the driver, run a
   seeded spherical k-means (Lloyd's on L2-normalized vectors, cosine ==
   dot). The centroid matrix is tiny (n_clusters x dim) and ships in task
   closures.
2. **Assign** — one Arrow UDF: each batch's embeddings are read from the
   Arrow values buffer into one BLAS matmul against the centroid matrix;
   rows gain a ``cluster_id`` column. At 100 TB you write this table
   ``partitionBy(cluster_id)`` so searches become partition-pruned scans;
   the filter below pushes down to the parquet scan either way
   (``PushedFilters: In(cluster_id, ...)``).
3. **Search** — each query probes its ``nprobe`` nearest centroids; the scan
   touches only rows whose cluster is probed by some query (~nprobe/
   n_clusters of the data) and computes exact cosine within, masked per
   query to the clusters it probes, in one ``mapInArrow`` pass that keeps
   every row tied at a batch's k-th score (the scan
   :func:`sketchlib.similarity.search.cosine_topk` shares).

Recall is the standard IVF trade-off (raise ``nprobe`` for recall, 1.0 when
``nprobe == n_clusters``); everything is deterministic given ``seed``.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .._arrow import embedding_matrix
from .search import scan_topk

_DEF_SEED = 0x1FF


def _normalize(mat: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return mat / norms


def train_centroids(df: DataFrame, vec_col: str = "embedding",
                    n_clusters: int = 16, sample_rows: int = 100_000,
                    iters: int = 12, seed: int = _DEF_SEED) -> np.ndarray:
    """Spherical k-means on a driver-side sample; returns an L2-normalized
    (n_clusters, dim) centroid matrix.

    The sample is bounded (``sample_rows``) regardless of table size — a
    coarse quantizer needs only a representative sample, not the corpus."""
    n_total = df.count()
    frac = min(1.0, (3.0 * sample_rows) / max(n_total, 1))
    sample = (df.select(vec_col).sample(fraction=frac, seed=seed)
              .limit(sample_rows).collect())
    mat = _normalize(np.asarray([r[0] for r in sample], dtype=np.float64))
    n = mat.shape[0]
    if n < n_clusters:
        raise ValueError(f"sample ({n}) smaller than n_clusters ({n_clusters})")
    rng = np.random.default_rng(seed)

    # k-means++ style seeding: first uniform, then distance-weighted
    centroids = np.empty((n_clusters, mat.shape[1]))
    centroids[0] = mat[rng.integers(n)]
    d2 = 1.0 - mat @ centroids[0]
    for j in range(1, n_clusters):
        probs = np.maximum(d2, 1e-12)
        centroids[j] = mat[rng.choice(n, p=probs / probs.sum())]
        d2 = np.minimum(d2, 1.0 - mat @ centroids[j])

    for _ in range(iters):
        assign = np.argmax(mat @ centroids.T, axis=1)
        for j in range(n_clusters):
            members = mat[assign == j]
            if members.shape[0]:
                centroids[j] = members.mean(axis=0)
            else:  # dead centroid: respawn at the worst-served point
                centroids[j] = mat[np.argmin(np.max(mat @ centroids.T, axis=1))]
        centroids = _normalize(centroids)
    return centroids


def ivf_assign(df: DataFrame, centroids: np.ndarray,
               vec_col: str = "embedding",
               cluster_col: str = "cluster_id") -> DataFrame:
    """Add ``cluster_col`` = argmax cosine against the centroid matrix.
    One BLAS matmul per Arrow batch; centroids ship in the closure (tiny)."""
    cmat = _normalize(np.asarray(centroids, dtype=np.float64))

    @F.arrow_udf(T.IntegerType())
    def _assign(vecs: pa.Array) -> pa.Array:
        if len(vecs) == 0:
            return pa.array([], type=pa.int32())
        mat = _normalize(embedding_matrix(vecs))
        return pa.array(np.argmax(mat @ cmat.T, axis=1).astype(np.int32))

    return df.withColumn(cluster_col, _assign(F.col(vec_col)))


def ivf_topk(assigned: DataFrame, queries: list[tuple],
             centroids: np.ndarray, k: int = 10, nprobe: int = 4,
             vec_col: str = "embedding", id_col: str = "vec_id",
             cluster_col: str = "cluster_id") -> DataFrame:
    """Approximate cosine top-k of each query against an IVF-assigned table.

    Returns (query_id, vec_id, cosine, rnk) — same shape as
    :func:`sketchlib.similarity.search.cosine_topk`, so recall is directly
    measurable against the brute-force baseline.

    Two input shapes:

    * ``assigned`` already has ``cluster_col`` (a table materialized via
      :func:`ivf_assign` + ``write.partitionBy(cluster_col)``): the probed
      clusters become a pushed-down ``IN`` predicate that prunes whole
      partitions — the 100 TB path.
    * ``assigned`` has NO ``cluster_col``: assignment happens inside the
      same ``mapInArrow`` batch as the scan (one BLAS matmul each). This
      avoids the Catalyst duplicate-evaluation of an unmaterialized
      assignment UDF referenced by both a Filter and a Project (one Python
      pass instead of two), at the cost of scanning every row once —
      correct for ad-hoc searches over unindexed tables."""
    cmat = _normalize(np.asarray(centroids, dtype=np.float64))
    nprobe = min(nprobe, cmat.shape[0])
    qids = [int(q) for q, _ in queries]
    qmat = _normalize(np.asarray([v for _, v in queries], dtype=np.float64))
    # per-query probed clusters; per-cluster boolean mask over queries,
    # dense-indexed so the in-scan assignment can look clusters up
    order = np.argsort(-(qmat @ cmat.T), axis=1)[:, :nprobe]
    mask_of = np.zeros((cmat.shape[0], len(qids)), dtype=bool)
    mask_of[order, np.arange(len(qids))[:, None]] = True
    probed = [int(c) for c in np.flatnonzero(mask_of.any(axis=1))]
    has_cluster = cluster_col in assigned.columns

    def scores_of(batch):
        mat = _normalize(embedding_matrix(batch.column(vec_col)))
        ids = batch.column(id_col)
        if has_cluster:
            cl = batch.column(cluster_col).to_numpy(zero_copy_only=False)
        else:
            # assign in-scan: same batch, one extra (batch x clusters)
            # matmul — no second Python pass over the table
            cl = np.argmax(mat @ cmat.T, axis=1)
            keep = mask_of[cl].any(axis=1)
            if not keep.any():
                return None
            mat, cl, ids = mat[keep], cl[keep], ids.filter(pa.array(keep))
        # mask (row, query) pairs where the row's cluster isn't probed
        return np.where(mask_of[cl], mat @ qmat.T, -np.inf), ids

    if has_cluster:
        pruned = (assigned.filter(F.col(cluster_col).isin(probed))
                  .select(id_col, vec_col, cluster_col))
    else:
        pruned = assigned.select(id_col, vec_col)
    return scan_topk(pruned, qids, k, id_col, "cosine", scores_of)
