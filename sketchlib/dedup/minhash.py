"""MinHash + LSH near-duplicate detection (word-shingle Jaccard).

Pipeline (Broder 1997 resemblance; Indyk–Motwani LSH banding):

1. **shingles** — distinct word k-grams per doc, built JVM-side
   (``sequence``/``transform``/``array_distinct`` — no Python).
2. **signatures** — ``mapInArrow``: every shingle hashes once via Murmur3
   straight from the Arrow list child buffers (zero per-shingle Python, no
   pandas string materialization), then n permutations are applied as a
   chunked (shingles x n_hashes) numpy min-reduce
   (``np.minimum.reduceat`` over row boundaries) so peak matrix memory is
   capped (~16 MB) no matter how many shingles a document has.
   The permutation family is ``pi_i(h) = a_i * h + b_i  (mod 2^64)`` with
   odd ``a_i`` — an affine *bijection* of Z_2^64 per hash index
   (multiply-shift family, Dietzfelbinger et al.). It is approximately
   min-wise, not perfectly min-wise independent; since every candidate pair
   is verified with the exact Jaccard, the approximation affects recall
   only, never precision.
3. **banding** — signature split into b bands of r rows; docs sharing any
   band hash become candidates. P(candidate | J=s) = 1-(1-s^r)^b, so with
   r=4, b=32 a pair at s=0.7 is missed with p ~ 1.5e-4.
4. **verify** — candidates join back to shingle arrays; exact Jaccard via
   ``array_intersect``/``array_union`` sizes (JVM-side). Only candidate pairs
   pay the verification cost.

Scale shape: the shuffle keys are (band_id, band_hash) — 16 bytes — and the
self-join explodes only within buckets; a band whose bucket exceeds
``max_bucket`` is dropped as a degenerate cluster guard (standard practice:
an over-full bucket means near-identical boilerplate; pairs inside it are
still found by their other bands with high probability). Deterministic: all
hash seeds are fixed constants.  NULL texts yield NULL signatures and are
excluded from banding.  ``near_dup_pairs`` recomputes the (JVM-only)
shingle arrays for the verify join instead of persisting them — caching
per-doc shingle arrays at 100 TB costs more than re-deriving them from the
pruned text column.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .._arrow import list_values
from ..hashing import murmur3_64_flat


def _perm_params(n_hashes: int, seed: int = 0x5EED) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(seed)  # fixed seed: signatures are normative
    a = rng.integers(0, 1 << 63, size=n_hashes, dtype=np.int64).astype(np.uint64)
    a = (a << np.uint64(1)) | np.uint64(1)  # odd -> bijection of Z_2^64
    b = rng.integers(0, 1 << 63, size=n_hashes, dtype=np.int64).astype(np.uint64)
    return a, b


def _let(value: Column, body) -> Column:
    """Poor man's let-binding: evaluate ``value`` once and reference it as a
    lambda variable. Catalyst re-evaluates an expression on every reference
    *inside* a higher-order-function lambda, so e.g. building k-grams with
    ``slice(split(text), i, k)`` re-runs the split once per gram —
    O(grams x text_len). Binding through a one-element transform makes it
    O(text_len + grams)."""
    return F.transform(F.array(value), body)[0]


def shingles_col(text_col: Column, k: int = 3) -> Column:
    """Distinct word k-grams (lowercased), JVM-side. Docs with < k tokens get
    their whole token string as the single shingle."""
    def build(t: Column) -> Column:
        n = F.size(t)
        grams = F.transform(
            F.sequence(F.lit(0), n - k),
            lambda i: F.concat_ws(" ", F.slice(t, i + 1, k)))
        whole = F.array(F.concat_ws(" ", t))
        return F.array_distinct(F.when(n >= k, grams).otherwise(whole))

    toks = F.split(F.lower(F.trim(text_col)), r"\s+")
    # NULL text -> NULL shingles (concat_ws would otherwise turn the NULL
    # token array into a single "" shingle)
    return F.when(text_col.isNotNull(), _let(toks, build))


#: cap on the (chunk_shingles x n_hashes) uint64 workspace
_SIG_CHUNK_BYTES = 16 << 20


def _min_sigs(hashes: np.ndarray, starts: np.ndarray, ends: np.ndarray,
              a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Per-row signature mins over contiguous hash segments, chunked so the
    permutation matrix never exceeds ``_SIG_CHUNK_BYTES``.  ``starts``/
    ``ends`` are the [start, end) hash offsets of each (non-empty) row."""
    n_hashes = a.shape[0]
    n_rows = starts.shape[0]
    out = np.empty((n_rows, n_hashes), dtype=np.uint64)
    max_shingles = max(1, _SIG_CHUNK_BYTES // (8 * n_hashes))
    i = 0
    with np.errstate(over="ignore"):
        while i < n_rows:
            # bound the chunk by row ENDS, not starts: a huge row whose
            # START falls inside the window would otherwise be sliced in
            # full (hashes[starts[i]:ends[j-1]]), building an unbounded
            # (len, n_hashes) matrix whenever it shares a chunk with a
            # smaller row — only the lone-row sub-chunk path below may
            # handle over-long rows
            j = int(np.searchsorted(ends, starts[i] + max_shingles, "right"))
            j = min(max(j, i + 1), n_rows)
            if j == i + 1 and ends[i] - starts[i] > max_shingles:
                # one huge document: sub-chunk with a running min
                acc = np.full(n_hashes, np.iinfo(np.uint64).max, dtype=np.uint64)
                for lo in range(int(starts[i]), int(ends[i]), max_shingles):
                    h = hashes[lo:min(lo + max_shingles, int(ends[i]))]
                    vals = a[None, :] * h[:, None] + b[None, :]
                    np.minimum(acc, vals.min(axis=0), out=acc)
                out[i] = acc
            else:
                h = hashes[starts[i]:ends[j - 1]]
                vals = a[None, :] * h[:, None] + b[None, :]
                out[i:j] = np.minimum.reduceat(vals, starts[i:j] - starts[i],
                                               axis=0)
            i = j
    return out


_OPH_EMPTY = np.uint64(0xFFFFFFFFFFFFFFFF)
_OPH_ROT_C = np.uint64(0x9E3779B97F4A7C15)  # odd golden-ratio mix constant


def _oph_sigs(hashes: np.ndarray, starts: np.ndarray, ends: np.ndarray,
              n_hashes: int, chunk_rows: int = 8192) -> np.ndarray:
    """One-permutation-hashing signatures (Li, Owen & Zhang 2012) with
    rotation densification (Shrivastava & Li 2014 "Improved Densification"):
    every shingle hash lands in the bin given by its top ``log2(n_hashes)``
    bits, the per-bin minimum is the signature slot, and empty bins borrow
    from the nearest non-empty bin to the right (circular) offset by
    ``distance * C`` so two docs only agree on an empty bin when the
    borrowed source AND the borrow distance agree.

    Cost: O(total_shingles log chunk + rows * n_hashes) — the classic
    k-permutation kernel is O(total_shingles * n_hashes).  Collision
    probability per co-occupied bin is an unbiased Jaccard estimator, so
    banding recall matches the permutation family closely; every candidate
    is exact-verified downstream, so precision is unaffected.

    Implementation notes (both scale-critical, found the hard way on 200k-row
    Arrow batches):

    * per-bin minima via sort + ``np.minimum.reduceat`` segments, NOT
      ``np.minimum.at`` — ufunc ``.at`` is unbuffered and ~50x slower
      (2.8 s vs 60 ms on a 10k-row batch);
    * rows are processed in ``chunk_rows`` slices so the densification
      temporaries (several (rows, 2*n_hashes) int64 arrays) stay ~16 MB
      regardless of Arrow batch size — unchunked at
      ``maxRecordsPerBatch=200k`` they hit ~2 GB per worker and 32
      local-mode workers OOM-killed the executors.

    ``starts``/``ends`` must describe contiguous segments of ``hashes``
    (zero-length gaps allowed), which is what the caller's cumsum bounds
    produce; rows here have >= 1 shingle (caller filters empties)."""
    nbits = (n_hashes - 1).bit_length()
    if (1 << nbits) != n_hashes:
        raise ValueError("oph requires power-of-two n_hashes")
    n_rows = starts.shape[0]
    out = np.full((n_rows, n_hashes), _OPH_EMPTY, dtype=np.uint64)
    bin_pos = np.arange(n_hashes, dtype=np.int64)[None, :]
    pos2 = np.arange(2 * n_hashes, dtype=np.int64)[None, :]
    for c0 in range(0, n_rows, chunk_rows):
        c1 = min(c0 + chunk_rows, n_rows)
        lens = (ends[c0:c1] - starts[c0:c1]).astype(np.int64)
        total = int(lens.sum())
        sub = out[c0:c1]
        if total:
            h = hashes[int(starts[c0]):int(ends[c1 - 1])]
            # row_idx below assumes the chunk's segments are contiguous
            # (starts[i+1] == ends[i]); a gap would silently misalign
            # every row after it
            if h.shape[0] != total:
                raise ValueError("oph segments must be contiguous")
            # chunk-local keys fit int32 (chunk_rows * n_hashes << 2^31):
            # half the sort bandwidth of an int64 key
            row_idx = np.repeat(np.arange(c1 - c0, dtype=np.int32), lens)
            bins = (h >> np.uint64(64 - nbits)).astype(np.int32)
            key = row_idx * np.int32(n_hashes) + bins
            order = np.argsort(key, kind="stable")
            sk = key[order]
            seg = np.flatnonzero(np.diff(sk)) + 1
            seg = np.concatenate([np.zeros(1, dtype=seg.dtype), seg])
            sub.reshape(-1)[sk[seg]] = np.minimum.reduceat(h[order], seg)
        # densification: nearest non-empty bin to the right, circular
        nonempty = sub != _OPH_EMPTY
        pos = np.where(np.concatenate([nonempty, nonempty], axis=1),
                       pos2, np.int64(1 << 30))
        nxt = np.minimum.accumulate(pos[:, ::-1], axis=1)[:, ::-1][:, :n_hashes]
        src = (nxt % n_hashes).astype(np.int64)
        dist = (nxt - bin_pos).astype(np.uint64)
        with np.errstate(over="ignore"):
            dense = np.take_along_axis(sub, src, axis=1) + dist * _OPH_ROT_C
        out[c0:c1] = np.where(nonempty, sub, dense)
    return out


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", n_hashes: int = 128,
                       shingle_k: int = 3, method: str = "perm") -> DataFrame:
    """(id_col, shingles, sig: array<bigint>[n_hashes]) per document.

    Arrow-native: shingle bytes hash straight from the list child buffers;
    the only per-row Python is the numpy segment bookkeeping.  NULL text
    (-> NULL shingles) yields a NULL signature.

    ``method``: ``"perm"`` — the classic k-permutation family (cost
    O(shingles x n_hashes)); ``"oph"`` — one-permutation hashing with
    rotation densification (cost O(shingles + n_hashes), ~100x less
    arithmetic on web-page-sized docs; see :func:`_oph_sigs`).  Both are
    deterministic; the two families produce different (incomparable)
    signatures — band everything with ONE method."""
    if method not in ("perm", "oph"):
        raise ValueError(f"unknown method {method!r}")
    if method == "oph" and (n_hashes & (n_hashes - 1)):
        raise ValueError("method='oph' requires power-of-two n_hashes")
    a, b = _perm_params(n_hashes) if method == "perm" else (None, None)
    sh = df.select(F.col(id_col),
                   shingles_col(F.col(text_col), shingle_k).alias("shingles"))
    out_schema = T.StructType(list(sh.schema.fields)
                              + [T.StructField("sig", T.ArrayType(T.LongType()), True)])

    def sign(batches):
        import pyarrow as pa

        from ..encoding import arrow_flat_bytes

        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            flat, bounds = list_values(batch.column("shingles"),
                                       as_numpy=False)
            lens = np.diff(bounds)
            hashes = murmur3_64_flat(*arrow_flat_bytes(flat))
            nz = np.nonzero(lens > 0)[0]
            if method == "perm":
                sig_rows = _min_sigs(hashes, bounds[nz], bounds[nz + 1], a, b)
            else:
                sig_rows = _oph_sigs(hashes, bounds[nz], bounds[nz + 1],
                                     n_hashes)
            counts = np.where(lens > 0, n_hashes, 0).astype(np.int32)
            off32 = np.zeros(n + 1, dtype=np.int32)
            np.cumsum(counts, out=off32[1:])
            values = pa.array(sig_rows.reshape(-1).view(np.int64))
            sig = pa.ListArray.from_arrays(
                pa.array(off32, mask=np.append(lens == 0, False)),
                values)
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), batch.column(1), sig],
                schema=pa.schema(list(batch.schema)
                                 + [pa.field("sig", pa.list_(pa.int64()))]))

    return sh.mapInArrow(sign, out_schema)


def _banded(sig_df: DataFrame, id_col: str, bands: int) -> DataFrame:
    """(id, band, bucket) — one row per (doc, band); bucket = xxhash64 of
    the band's signature slice.  Shared by the within-corpus and
    cross-corpus candidate generators (identical banding on both sides is
    what makes their buckets comparable)."""
    n_hashes_col = F.size("sig")
    # bands > signature length would make rows_per_band 0: every band
    # hashes an EMPTY slice, all docs share one bucket per band, and the
    # max_bucket filter then silently reports zero candidates — fail the
    # row loudly instead (raise_error evaluates JVM-side)
    rows_per_band = (F.when(
        n_hashes_col >= F.lit(bands), (n_hashes_col / bands).cast("int"))
        .otherwise(F.raise_error(F.concat(
            F.lit(f"bands={bands} exceeds the signature length "),
            n_hashes_col.cast("string"))).cast("int")))
    return sig_df.filter(F.col("sig").isNotNull()).select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bnd: F.xxhash64(F.slice("sig", bnd * rows_per_band + 1,
                                               rows_per_band)))
        ).alias("band", "bucket"))


def lsh_candidate_pairs(sig_df: DataFrame, id_col: str = "doc_id",
                        bands: int = 32, max_bucket: int = 1000) -> DataFrame:
    """Candidate (id_a < id_b) pairs sharing at least one LSH band bucket.

    Shape: ONE pass computes band buckets, ONE shuffle groups ids per
    (band, bucket), and pairs are generated JVM-side inside each bucket
    array.  (A self-join of the banded table would re-execute the whole
    upstream subtree — including the Python signature pass — once per join
    side; collect-then-expand reads it once.)  Buckets larger than
    ``max_bucket`` are dropped whole (degenerate boilerplate clusters; the
    size filter doubles as the pair-explosion bound: <= max_bucket^2/2
    pairs per bucket)."""
    if bands < 1:
        raise ValueError("bands must be >= 1")
    banded = _banded(sig_df, id_col, bands)
    buckets = (banded.groupBy("band", "bucket")
               .agg(F.collect_list(id_col).alias("__ids"))
               .filter((F.size("__ids") >= 2)
                       & (F.size("__ids") <= max_bucket))
               # materialize the sorted array as an attribute: referencing
               # array_sort(...) as an expression inside the pair lambdas
               # would re-sort per evaluation
               .select(F.array_sort("__ids").alias("__ids")))
    # per-element expansion: one output row per (bucket, i) with the <= m
    # ids after position i — bounded row size even for max-size buckets
    lhs = buckets.select("__ids", F.posexplode("__ids").alias("__i", "id_a"))
    rest = F.slice(
        "__ids", F.col("__i") + 2,
        F.greatest(F.size("__ids") - F.col("__i") - 1, F.lit(0)))
    return (lhs.select("id_a", F.explode(rest).alias("id_b")).distinct())


def near_dup_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                   threshold: float = 0.7, n_hashes: int = 128, bands: int = 32,
                   shingle_k: int = 3, method: str = "perm") -> DataFrame:
    """(id_a, id_b, jaccard) for pairs with exact word-shingle Jaccard >=
    threshold, found via MinHash banding and verified exactly.

    The Python-side signature pass runs once (banding input); the verify
    join re-derives the JVM-only shingle arrays instead of persisting them
    (no cache to leak, and caching per-doc shingle arrays at 100 TB costs
    more than recomputing them from the pruned text column).

    Scale shape of the verify join: the shingle recomputation is restricted
    to candidate ids via a broadcast semi-join *before* deriving the
    shingle arrays — candidates are typically <<1% of docs, so without the
    prefilter the verify side would re-shingle the whole corpus twice.

    ``pairs`` (the candidate set — tiny relative to the corpus) is
    PERSISTED before fan-out.  It is referenced ~4x downstream (main pair
    chain, the two id-set union arms inside the broadcast, and the verify
    joins); within one compiled query ReuseExchange serves those from one
    shuffle, but the broadcast id-set is materialized by SEPARATE
    subquery jobs under AQE, each compiling its own exchange instance —
    measured on a 2.4M-doc run: the full Python signature + banding
    subtree (19k executor-seconds) re-executed once per subquery job,
    5x total.  Cached blocks, unlike shuffle files, are shared across
    jobs through the block manager (concurrent jobs dedupe per-partition
    via the block compute lock), so persisting collapses the five
    executions to one.  The cache holds only (id_a, id_b) pairs; callers
    batching many corpora can ``spark.catalog.clearCache()`` between
    runs (the corpus-job CLI does).

    ``method`` selects the signature kernel (see
    :func:`minhash_signatures`); the final output is exact either way —
    only candidate recall differs, and both families estimate the same
    Jaccard so banding behaves alike."""
    from pyspark import StorageLevel

    base = df.filter(F.col(text_col).isNotNull())
    sig = minhash_signatures(base, text_col, id_col, n_hashes, shingle_k,
                             method=method)
    pairs = (lsh_candidate_pairs(sig.select(id_col, "sig"), id_col, bands)
             .persist(StorageLevel.MEMORY_AND_DISK))
    cand_ids = (pairs.select(F.col("id_a").alias(id_col))
                .union(pairs.select(F.col("id_b").alias(id_col)))
                .distinct())
    cand = base.join(F.broadcast(cand_ids), id_col, "semi")
    sh = cand.select(F.col(id_col),
                     shingles_col(F.col(text_col), shingle_k).alias("shingles"))
    j = (pairs
         .join(sh.withColumnRenamed(id_col, "id_a")
                 .withColumnRenamed("shingles", "sh_a"), "id_a")
         .join(sh.withColumnRenamed(id_col, "id_b")
                 .withColumnRenamed("shingles", "sh_b"), "id_b"))
    jac = (F.size(F.array_intersect("sh_a", "sh_b"))
           / F.size(F.array_union("sh_a", "sh_b")))
    from ..spark.cacheutil import tag_intermediates
    out = (j.withColumn("jaccard", jac)
           .filter(F.col("jaccard") >= threshold)
           .select("id_a", "id_b", "jaccard"))
    return tag_intermediates(out, pairs)


def near_dup_between(left: DataFrame, right: DataFrame,
                     text_col: str = "text", id_col: str = "doc_id",
                     threshold: float = 0.7, n_hashes: int = 128,
                     bands: int = 32, shingle_k: int = 3,
                     method: str = "perm", broadcast_right: bool = True,
                     max_bucket_right: int = 1000) -> DataFrame:
    """Cross-corpus near-duplicates: ``(id_left, id_right, jaccard)`` for
    pairs with exact word-shingle Jaccard >= threshold, one doc from each
    frame — the FUZZY decontamination shape (exact n-gram overlap is
    :mod:`sketchlib.text.decontaminate`; this catches the
    whitespace-perturbed / lightly-edited benchmark copies exact grams
    miss, the check Llama/GPT-style train-set audits run).

    Scale shape: both sides go through the SAME banding
    (:func:`_banded`), and candidates come from an equi-join on
    (band, bucket).  With ``broadcast_right=True`` (the decontamination
    default — eval suites are ~10^5 docs) the right side's banded table
    broadcasts and the corpus is NEVER shuffled: candidate generation is
    map-only against the corpus scan, and only candidate ids (typically
    <<1% of the corpus) reach the exact-Jaccard verify.  Right-side
    buckets larger than ``max_bucket_right`` are dropped whole
    (degenerate boilerplate buckets — they'd pair with a huge fraction
    of the corpus; the within-corpus dedup handles those).  Both ids
    keep their frames' values; the output columns are ``id_left`` /
    ``id_right`` regardless of ``id_col``.

    Recall follows the banding curve exactly like
    :func:`near_dup_pairs` (miss prob (1-s^r)^b — < 1e-14 at s >= 0.9
    with 128/32); candidates are exact-verified, so precision is 1."""
    from pyspark import StorageLevel

    from ..spark.cacheutil import tag_intermediates

    base_l = left.filter(F.col(text_col).isNotNull())
    base_r = right.filter(F.col(text_col).isNotNull())
    sig_l = minhash_signatures(base_l, text_col, id_col, n_hashes,
                               shingle_k, method=method)
    sig_r = minhash_signatures(base_r, text_col, id_col, n_hashes,
                               shingle_k, method=method)
    banded_l = _banded(sig_l.select(id_col, "sig"), id_col, bands) \
        .withColumnRenamed(id_col, "id_left")
    banded_r = _banded(sig_r.select(id_col, "sig"), id_col, bands) \
        .withColumnRenamed(id_col, "id_right")
    if max_bucket_right is not None:
        keep = (banded_r.groupBy("band", "bucket")
                .agg(F.count(F.lit(1)).alias("__n"))
                .filter(F.col("__n") <= max_bucket_right)
                .drop("__n"))
        banded_r = banded_r.join(F.broadcast(keep), ["band", "bucket"],
                                 "semi")
    rhs = F.broadcast(banded_r) if broadcast_right else banded_r
    pairs = (banded_l.join(rhs, ["band", "bucket"])
             .select("id_left", "id_right").distinct()
             .persist(StorageLevel.MEMORY_AND_DISK))

    def shingle_side(base, out_id):
        ids = pairs.select(F.col(out_id).alias(id_col)).distinct()
        cand = base.join(F.broadcast(ids), id_col, "semi")
        return cand.select(
            F.col(id_col).alias(out_id),
            shingles_col(F.col(text_col), shingle_k).alias(f"sh_{out_id}"))

    j = (pairs.join(shingle_side(base_l, "id_left"), "id_left")
         .join(shingle_side(base_r, "id_right"), "id_right"))
    jac = (F.size(F.array_intersect("sh_id_left", "sh_id_right"))
           / F.size(F.array_union("sh_id_left", "sh_id_right")))
    out = (j.withColumn("jaccard", jac)
           .filter(F.col("jaccard") >= threshold)
           .select("id_left", "id_right", "jaccard"))
    return tag_intermediates(out, pairs)
