"""Approximate nearest neighbors over an ``array<float>`` embedding column.

Two paths, per the training-pipeline playbook:

* **Brute-force cosine top-k** — the exactness baseline. Queries (a small
  set) are closure-shipped as a dense numpy matrix; one ``mapInArrow`` pass
  over the base table reads each batch's embeddings from the Arrow values
  buffer, computes a batch x query matmul (BLAS) and keeps each batch's
  local top-k per query, ties at the cut included; a final window takes the
  global top-k (:func:`scan_topk`, which the IVF and PQ scans share).
  Scale: one full scan, zero shuffle of vectors — shuffle carries only
  ``batches x queries x k`` candidate rows.

* **SRP-LSH** (Charikar 2002 signed random projections) — ``n_bits``
  hyperplane signs from a fixed-seed Gaussian matrix; Hamming distance on
  signatures estimates angle. Banding the signature buckets the table so
  near-dup detection joins only within buckets (same shape as
  MinHash/SimHash). Deterministic: projection matrix derives from a seed.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .._arrow import embedding_matrix

_DEF_SEED = 0xE5D


def _proj_matrix(dim: int, n_bits: int, seed: int = _DEF_SEED) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((dim, n_bits))


def scan_topk(frame: DataFrame, qids: list[int], k: int, id_col: str,
              score_name: str, scores_of, largest: bool = True) -> DataFrame:
    """Top-``k`` rows per query, ranked ``rnk`` 1..k by (score, id asc),
    from one ``mapInArrow`` scan of ``frame``.

    ``scores_of(batch)`` gives a batch's (rows, queries) score matrix and
    its rows' Arrow ids, or None to skip it; a score of -inf (+inf when
    ``largest`` is False) takes the pair out of play. Each batch keeps
    every row tied with its k-th score: a bare ``argpartition`` breaks
    boundary ties by arrival order, which the global window cannot repair
    once a tied smaller id was dropped (integer-grid embeddings tie
    often)."""
    schema = T.StructType([
        T.StructField("query_id", T.LongType()),
        T.StructField(id_col, frame.schema[id_col].dataType),
        T.StructField(score_name, T.DoubleType()),
    ])
    qid_arr = np.asarray(qids, dtype=np.int64)

    def scan(batches):
        for batch in batches:
            got = scores_of(batch) if batch.num_rows else None
            if got is None:
                continue
            scores, ids = got
            worse = -scores if largest else scores  # ascending: better first
            top = min(k, len(worse))
            thr = np.partition(worse, top - 1, axis=0)[top - 1]
            rows, cols = np.nonzero((worse < np.inf) & (worse <= thr))
            if len(rows):
                yield pa.RecordBatch.from_arrays(
                    [pa.array(qid_arr[cols]), ids.take(pa.array(rows)),
                     pa.array(scores[rows, cols])],
                    names=["query_id", id_col, score_name])

    by = F.desc(score_name) if largest else F.asc(score_name)
    w = Window.partitionBy("query_id").orderBy(by, F.asc(id_col))
    return (frame.mapInArrow(scan, schema)
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= k))


def cosine_topk(base: DataFrame, queries: list[tuple], k: int = 10,
                vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Exact cosine top-k of each query against the base table.

    ``queries`` is a list of (query_id, vector) — small enough to ship in the
    task closure (the usual case: a probe set, not a second table).
    Returns (query_id, vec_id, cosine, rnk) with rnk 1..k ordered by
    (cosine desc, vec_id asc) — a deterministic total order.
    """
    qids = [int(q) for q, _ in queries]
    qmat = np.asarray([v for _, v in queries], dtype=np.float64)
    qnorm = qmat / np.linalg.norm(qmat, axis=1, keepdims=True)

    def scores_of(batch):
        mat = embedding_matrix(batch.column(vec_col))
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        return (mat / norms) @ qnorm.T, batch.column(id_col)

    return scan_topk(base.select(id_col, vec_col), qids, k, id_col, "cosine",
                     scores_of)


def srp_signature_col(vec_col: str | Column, dim: int, n_bits: int = 16,
                      seed: int = _DEF_SEED) -> Column:
    """Signed-random-projection signature (n_bits <= 64) as a long."""
    proj = _proj_matrix(dim, n_bits, seed)
    bits = (np.uint64(1) << np.arange(n_bits, dtype=np.uint64))

    @F.arrow_udf(T.LongType())
    def _sig(vecs: pa.Array) -> pa.Array:
        mat = embedding_matrix(vecs)
        if mat.size == 0:
            return pa.array(np.zeros(len(vecs), dtype=np.int64))
        signs = (mat @ proj) > 0
        return pa.array((signs @ bits).astype(np.int64))

    return _sig(F.col(vec_col) if isinstance(vec_col, str) else vec_col)


def cosine_near_dup_pairs(df: DataFrame, vec_col: str = "embedding",
                          id_col: str = "vec_id", threshold: float = 0.95,
                          dim: int | None = None, n_bits: int = 16,
                          n_tables: int = 8, max_bucket: int = 10_000) -> DataFrame:
    """(id_a, id_b, cosine) pairs with cosine >= threshold, via ``n_tables``
    independent SRP signatures (candidates = same full signature in any
    table) and exact cosine verification. Recall per table: (1 - theta/pi)^
    n_bits with theta = arccos(threshold); tables multiply coverage.
    """
    if dim is None:
        row = (df.select(F.size(vec_col).alias("__d"))
               .where(F.col(vec_col).isNotNull()).first())
        if row is None:
            raise ValueError(
                f"cannot infer the embedding dim: no non-null {vec_col!r} "
                "rows (empty input?) — pass dim= explicitly")
        dim = int(row["__d"])
    sigs = [srp_signature_col(vec_col, dim, n_bits, seed=_DEF_SEED + t).alias(f"__sig{t}")
            for t in range(n_tables)]
    with_sig = df.select(id_col, vec_col, *sigs)
    banded = with_sig.select(
        id_col, vec_col,
        F.posexplode(F.array(*[F.col(f"__sig{t}") for t in range(n_tables)]))
        .alias("table_id", "bucket"))
    w = Window.partitionBy("table_id", "bucket")
    banded = (banded.withColumn("__n", F.count("*").over(w))
              .filter(F.col("__n") <= max_bucket).drop("__n"))
    a = banded.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("v_a"),
                      "table_id", "bucket")
    b = banded.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("v_b"),
                      "table_id", "bucket")
    pairs = (a.join(b, ["table_id", "bucket"])
             .filter(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b", "v_a", "v_b").distinct())

    @F.arrow_udf(T.DoubleType())
    def _cos(va: pa.Array, vb: pa.Array) -> pa.Array:
        ma, mb = embedding_matrix(va), embedding_matrix(vb)
        if ma.size == 0:
            return pa.array(np.zeros(len(va)))
        num = (ma * mb).sum(axis=1)
        den = np.linalg.norm(ma, axis=1) * np.linalg.norm(mb, axis=1)
        den[den == 0] = 1.0
        return pa.array(num / den)

    return (pairs.withColumn("cosine", _cos("v_a", "v_b"))
            .filter(F.col("cosine") >= threshold)
            .select("id_a", "id_b", "cosine"))
