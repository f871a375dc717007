"""SimHash near-duplicate detection (Charikar 2002; Manku et al. WWW'07).

A document's 64-bit SimHash is the sign vector of the sum of its token
hashes' bit patterns (+1 for a set bit, -1 for clear). Hamming-close
simhashes <=> cosine-similar token multisets.

Candidate generation uses the Manku pigeonhole: split 64 bits into
``max_hamming + 1`` chunks — two docs within ``max_hamming`` bit flips MUST
agree on at least one whole chunk, so recall is exact *except* that a
(chunk_id, chunk_value) bucket holding more than ``max_bucket`` docs is
dropped as a degenerate-cluster guard (same trade-off as minhash banding:
an over-full bucket means near-identical boilerplate, and a pair losing its
only agreeing chunk to the guard is lost). Join on (chunk_id, chunk_value),
verify with a popcount of the XOR.

Tokenization is JVM-side (``split(lower(trim(text)), '\\s+')`` minus empty
tokens — normative); Python never touches token strings on the near-dup
path: ``simhash_signatures`` is ``mapInArrow`` and hashes token bytes
straight from the Arrow list child buffers, accumulating the bit matrix
with chunked ``np.add.reduceat``. ``simhash_col`` is the same core as a
Column expression (an Arrow UDF) for SQL pipelines.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .._arrow import list_values
from ..hashing import murmur3_64_flat

_BITS = np.uint64(1) << np.arange(64, dtype=np.uint64)

#: cap on the (chunk_tokens x 64) int32 bit-matrix workspace
_BIT_CHUNK_BYTES = 16 << 20


def _tokens_col(text_col: Column) -> Column:
    """Whitespace tokens, lowercased, empty tokens removed (parity with
    Python ``str.split()``); NULL text -> NULL."""
    toks = F.split(F.lower(F.trim(text_col)), r"\s+")
    return F.filter(toks, lambda t: t != "")


def _simhash_rows(hashes: np.ndarray, starts: np.ndarray,
                  ends: np.ndarray) -> np.ndarray:
    """SimHash per row over contiguous token-hash segments, chunked so the
    (tokens x 64) sign matrix stays under ``_BIT_CHUNK_BYTES``."""
    n_rows = starts.shape[0]
    out = np.zeros(n_rows, dtype=np.uint64)
    max_tokens = max(1, _BIT_CHUNK_BYTES // (64 * 4))
    i = 0
    while i < n_rows:
        # bound by row ENDS (see minhash._min_sigs): a huge row sharing a
        # chunk with a small one must fall through to the sub-chunk path,
        # not be sliced in full
        j = int(np.searchsorted(ends, starts[i] + max_tokens, "right"))
        j = min(max(j, i + 1), n_rows)
        if j == i + 1 and ends[i] - starts[i] > max_tokens:
            # one huge document: accumulate bit sums across sub-chunks
            acc = np.zeros(64, dtype=np.int64)
            for lo in range(int(starts[i]), int(ends[i]), max_tokens):
                h = hashes[lo:min(lo + max_tokens, int(ends[i]))]
                bits = ((h[:, None] & _BITS[None, :]) != 0).astype(np.int32) * 2 - 1
                acc += bits.sum(axis=0)
            out[i] = (acc > 0) @ _BITS
        else:
            h = hashes[starts[i]:ends[j - 1]]
            bits = ((h[:, None] & _BITS[None, :]) != 0).astype(np.int32) * 2 - 1
            sums = np.add.reduceat(bits, starts[i:j] - starts[i], axis=0)
            out[i:j] = (sums > 0) @ _BITS
        i = j
    return out


def _simhash_lists(col) -> np.ndarray:
    """int64 SimHash per row of an Arrow ``list<string>`` token column,
    token bytes hashed straight from the list's child buffers; a NULL or
    empty list hashes to 0 (all-clear sign vector)."""
    from ..encoding import arrow_flat_bytes

    flat, bounds = list_values(col, as_numpy=False)
    lens = np.diff(bounds)
    hashes = murmur3_64_flat(*arrow_flat_bytes(flat))
    out = np.zeros(len(col), dtype=np.uint64)
    nz = np.nonzero(lens > 0)[0]
    if nz.shape[0]:
        out[nz] = _simhash_rows(hashes, bounds[nz], bounds[nz + 1])
    return out.view(np.int64)


def simhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """(id_col, simhash: long) per document — the bulk path.

    ``mapInArrow``: JVM tokenization, token bytes hashed straight from the
    Arrow list buffers. NULL/empty texts get simhash 0 (all-clear sign
    vector), matching :func:`simhash_col`."""
    src = df.select(F.col(id_col), _tokens_col(F.col(text_col)).alias("toks"))
    out_schema = T.StructType([src.schema[id_col],
                               T.StructField("simhash", T.LongType(), False)])

    def sign(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), pa.array(_simhash_lists(batch.column(1)))],
                schema=pa.schema([batch.schema.field(0),
                                  pa.field("simhash", pa.int64(), False)]))

    return src.mapInArrow(sign, out_schema)


def simhash_col(text_col: str | Column) -> Column:
    """64-bit SimHash of whitespace tokens (lowercased), as a signed long.
    Column-expression form of :func:`simhash_signatures` (the same Arrow
    core, as an Arrow UDF)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col

    @F.arrow_udf(T.LongType())
    def _simhash(token_lists: pa.Array) -> pa.Array:
        return pa.array(_simhash_lists(token_lists))

    return _simhash(_tokens_col(c))


def _popcount64(col: Column) -> Column:
    """Hamming weight via the built-in ``bit_count`` (JVM
    ``Long.bitCount``, whole-stage codegen) — ~30x faster than the old
    bin()+regexp string route on wide joins."""
    return F.bit_count(col).cast("int")


def simhash_near_dup_pairs(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id", max_hamming: int = 3,
                           max_bucket: int = 10_000,
                           signatures: DataFrame | None = None) -> DataFrame:
    """(id_a, id_b, hamming) for all pairs within ``max_hamming`` bits.

    Recall is exact by the pigeonhole argument, except pairs whose *every*
    agreeing chunk lands in a bucket larger than ``max_bucket`` (degenerate
    boilerplate clusters) — raise ``max_bucket`` if exactness under such
    clusters is required.

    ``signatures``: a precomputed :func:`simhash_signatures` frame
    (``id_col``, ``simhash``) — pass it (ideally persisted) when the caller
    also needs the signatures for its own checks, so the Python signature
    pass over the corpus runs once instead of once per consumer."""
    if not 0 <= max_hamming <= 63:
        raise ValueError(f"max_hamming must be in [0, 63], got {max_hamming}")
    n_chunks = max_hamming + 1
    chunk_bits = 64 // n_chunks
    sim = (signatures if signatures is not None
           else simhash_signatures(df, text_col, id_col))
    # signed-long-safe chunk mask: for max_hamming=0 the chunk is the
    # whole word and (1 << 64) - 1 does not fit a Java long — -1 is the
    # same all-ones bit pattern
    mask = F.lit(-1 if chunk_bits == 64 else (1 << chunk_bits) - 1)
    chunks = sim.select(
        id_col, "simhash",
        F.posexplode(F.array(*[
            F.shiftrightunsigned(F.col("simhash"), i * chunk_bits)
            .bitwiseAND(mask)
            for i in range(n_chunks)
        ])).alias("chunk_id", "chunk_val"))
    # collect-then-expand (not a self-join, which would re-execute the
    # Python signature pass once per join side): one shuffle groups
    # (id, simhash) per chunk bucket, pairs expand JVM-side per bucket;
    # the size filter is both the degenerate-cluster guard and the
    # pair-explosion bound
    buckets = (chunks
               .groupBy("chunk_id", "chunk_val")
               .agg(F.collect_list(F.struct(F.col(id_col).alias("i"),
                                            F.col("simhash").alias("s")))
                    .alias("__rows"))
               .filter((F.size("__rows") >= 2)
                       & (F.size("__rows") <= max_bucket))
               # materialize sorted (struct sort: id first -> id_a < id_b);
               # an array_sort expression referenced inside the pair lambda
               # would re-sort per evaluation
               .select(F.array_sort("__rows").alias("__rows")))
    # per-element expansion: one row per (bucket, i) with the <= m partners
    # after position i — bounded row size even for max-size buckets
    lhs = buckets.select("__rows", F.posexplode("__rows").alias("__i", "__ra"))
    rest = F.slice(
        "__rows", F.col("__i") + 2,
        F.greatest(F.size("__rows") - F.col("__i") - 1, F.lit(0)))
    pairs = (lhs.select(F.col("__ra")["i"].alias("id_a"),
                        F.col("__ra")["s"].alias("sh_a"),
                        F.explode(rest).alias("__rb"))
             .select("id_a", F.col("__rb")["i"].alias("id_b"),
                     "sh_a", F.col("__rb")["s"].alias("sh_b"))
             .distinct())
    ham = _popcount64(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming")
    return (pairs.select("id_a", "id_b", ham)
            .filter(F.col("hamming") <= max_hamming))
