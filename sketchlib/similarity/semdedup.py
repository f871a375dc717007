"""SemDeDup: semantic (embedding-space) deduplication within clusters.

Abbas et al. 2023 ("SemDeDup: Data-efficient learning at web-scale through
semantic deduplication", arXiv:2303.09540) deduplicate web corpora in
EMBEDDING space: k-means the embeddings into clusters, compute pairwise
cosine similarities only WITHIN each cluster, and for every group of
semantic duplicates (pairs above a threshold tau) keep the example with
the LOWEST cosine similarity to its cluster centroid — the member that
adds the most diversity.

Spark-first shape (the paper's own recipe is embarrassingly parallel):

* **Clustering** reuses the IVF coarse quantizer
  (:func:`sketchlib.similarity.ivf.train_centroids` — bounded driver-side
  sample k-means — and :func:`ivf_assign`, one BLAS matmul per Arrow
  batch).  Any precomputed integer cluster column works too — pass
  ``cluster_col`` and the k-means is skipped entirely.
* **Within-cluster dedup** is one ``applyInArrow`` over
  ``groupBy(cluster)``: the only shuffle, keyed by cluster id (clusters
  are the unit of parallelism; choose ``n_clusters ~ n/10^4`` so a
  cluster fits a task).  The kernel normalizes once, computes
  ``sim = U @ U.T`` in ROW BLOCKS (O(block x c) memory, never a full
  c x c matrix), so a 10^5-row cluster needs ~3 GB of streaming matmul,
  not 80 GB of similarity matrix.
* **Decision rule** (exact, deterministic): doc *i* is dropped iff some
  same-cluster doc *j* has ``cos(i, j) >= tau`` and *j* precedes *i* in
  the ``(sim_to_centroid, id)`` lexicographic order — i.e. of every
  duplicate pair the member FARTHER from the centroid survives, ids
  breaking exact ties.  This pairwise formulation (the paper's) is
  order-independent: the decision for *i* depends only on the set of its
  neighbors, not on processing order, so results are bit-stable across
  partitionings.

At 100 TB: no all-pairs across clusters ever forms; per-cluster work is
O(c^2 d / block) flops streamed through BLAS; the cluster-size cap
(``max_cluster_rows``) turns a degenerate quantization into a loud error
instead of a silent OOM.  A giant cluster means k was chosen too small —
re-run the (cheap, sampled) k-means with a larger k.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .._arrow import embedding_matrix

_BLOCK = 4096  # rows per similarity block: 4096 x c doubles in flight


def _cluster_keep_mask(V: np.ndarray, ids: np.ndarray, tau: float,
                       block: int = _BLOCK) -> np.ndarray:
    """keep[i] = no same-cluster j with cos(i,j) >= tau preceding i in the
    (sim_to_centroid, id) order.  Blockwise: O(block x c) memory.

    Bit-determinism: rows are processed in id order (the arrival order
    from ``groupBy`` is partition-dependent, and float reductions are
    order-sensitive), and ``simc`` uses an elementwise-product row sum
    instead of a BLAS matvec — BLAS blocks rows and can accumulate the
    SAME row contents in different orders depending on row position,
    which was observed to break the exact simc tie between a vector and
    its IEEE-lossless x2 clone (the tie the id tie-break relies on)."""
    ord0 = np.argsort(ids)
    V, ids = V[ord0], ids[ord0]
    n = V.shape[0]
    norms = np.linalg.norm(V, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    U = V / norms
    cent = V.mean(axis=0)
    cn = np.linalg.norm(cent)
    uc = cent / cn if cn else cent
    simc = (U * uc).sum(axis=1)
    # rank in lexicographic (simc, id) order: rank[j] < rank[i]  <=>
    # (simc[j], ids[j]) < (simc[i], ids[i]) — ids are unique, no full ties
    order = np.lexsort((ids, simc))
    rank = np.empty(n, dtype=np.int64)
    rank[order] = np.arange(n)
    drop = np.zeros(n, dtype=bool)
    for s in range(0, n, block):
        e = min(s + block, n)
        S = U[s:e] @ U.T                       # (b, n)
        M = S >= tau
        M[np.arange(s, e) - s, np.arange(s, e)] = False  # self-pairs
        drop[s:e] = (M & (rank[None, :] < rank[s:e, None])).any(axis=1)
    keep = np.empty(n, dtype=bool)
    keep[ord0] = ~drop          # back to the caller's row order
    return keep


def semantic_dedup(df: DataFrame, vec_col: str = "embedding",
                   id_col: str = "vec_id", cluster_col: str | None = None,
                   tau: float = 0.75, n_clusters: int = 16,
                   max_cluster_rows: int = 200_000) -> DataFrame:
    """Per-doc SemDeDup decisions: ``(id_col, cluster, keep)``.

    ``cluster_col=None`` runs the bounded-sample spherical k-means
    (:func:`~sketchlib.similarity.ivf.train_centroids`) and assigns
    clusters with one BLAS matmul per batch; pass an existing integer
    column name to dedup within your own partitioning (e.g. the gate
    query uses the table's ``label``).  ``tau`` is the paper's duplicate
    threshold (0.75 for text embeddings in the paper's ablations).

    NULL-embedding rows are excluded up front and never appear in the
    output: a row with no vector cannot be compared, so it has no
    keep/drop decision (callers keep such rows by anti-joining, the same
    policy as ``pq_encode``'s NULL-in-NULL-out).  Without the filter the
    kernel would die deep in numpy on the first None."""
    df = df.filter(F.col(vec_col).isNotNull())
    if cluster_col is None:
        from .ivf import ivf_assign, train_centroids

        cents = train_centroids(df, vec_col, n_clusters=n_clusters)
        df = ivf_assign(df, cents, vec_col, "__sem_cluster")
        cluster_col = "__sem_cluster"
    cluster_field = df.schema[cluster_col].dataType
    id_field = df.schema[id_col].dataType

    out_schema = (f"{id_col} {id_field.simpleString()}, "
                  f"cluster {cluster_field.simpleString()}, keep boolean")

    def kernel(table: pa.Table) -> pa.Table:
        n = table.num_rows
        if n > max_cluster_rows:
            raise ValueError(
                f"cluster of {n} rows exceeds max_cluster_rows="
                f"{max_cluster_rows}; increase n_clusters (the sampled "
                "k-means is cheap) or raise the cap")
        ids = table.column(id_col)
        keep = (np.ones(n, dtype=bool) if n <= 1 else _cluster_keep_mask(
            embedding_matrix(table.column(vec_col).combine_chunks()),
            ids.to_numpy(), tau))
        return pa.table([ids, table.column(cluster_col), pa.array(keep)],
                        names=[id_col, "cluster", "keep"])

    return (df.select(id_col, vec_col, cluster_col)
            .groupBy(cluster_col)
            .applyInArrow(kernel, schema=out_schema))
