"""CCNet-style unigram language-model quality scoring.

CCNet (Wenzek et al. 2020) ranks Common-Crawl documents by language-model
perplexity and keeps the head of the distribution; the cheap, fully
reproducible variant used for ablations is a **unigram** LM over the corpus
itself.  This module implements that variant with an exact integer
arithmetic contract so results are bit-reproducible across engines:

* **Train** (:func:`train_unigram_lm`): one ``groupBy(token)`` count over
  the corpus — the only shuffle, O(distinct tokens) — then the top-V vocab
  (count desc, token asc tie-break) collects to the driver.  Log
  probabilities are quantized to integer **milli-nats**
  ``round(1000 * ln(c / total))`` so every downstream sum is integer and
  order-independent (float summation order would otherwise make the score
  depend on partitioning).  OOV tokens get the Laplace-ish
  ``round(1000 * ln(0.5 / total))``.
* **Score** (:func:`score_docs`): zero-shuffle ``mapInArrow`` — tokens
  are derived AND ``xxhash64``-fingerprinted JVM-side
  (:func:`sketchlib.text.decontaminate.tokens_col` + a ``transform``
  lambda), so only an int64 array per doc crosses the Arrow boundary and
  the kernel is the list column's values buffer → ``searchsorted``
  membership against the sorted vocab-hash array → cumsum-diff segmented
  sum (the :mod:`sketchlib._arrow` kernels); every other column passes
  through as its own Arrow array.  No Python string work at all: a fixed
  8 B/token crosses the boundary regardless of token length, and the
  kernel never materializes object arrays.  (On the
  synthetic bench table — short tokens, 660-word vocabulary — this
  measures neutral vs a dict-map-on-strings kernel, 60 vs 63 s warm at
  24M docs; the transfer and allocation advantage grows with real
  web-text token lengths.)  Empty docs are handled by the cumsum
  formulation.  A vocab lookup differs from exact string lookup only on
  an xxhash64 collision between a vocab token and another token
  (~V x distinct/2^64 — immaterial, and the SQL oracle that joins on
  strings stays green).

At 10^12 documents the train pass is a bounded one-time job (sample the
corpus first if even the token-count shuffle is too much — the vocab head
is insensitive to uniform sampling) and scoring is embarrassingly parallel
with only the O(vocab) dict crossing to each worker once.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .._arrow import list_values, map_appending, segment_sums, sorted_lookup
from .decontaminate import tokens_col

MAX_VOCAB = 5_000_000  # broadcast-dict sanity bound (~hundreds of MB)


@dataclass(frozen=True)
class UnigramLM:
    """Trained unigram model: token -> integer milli-nat log-prob.

    ``token_hashes`` carries the JVM ``xxhash64`` fingerprint of each
    vocab token (computed by Spark during training so it matches the
    scoring side bit-for-bit); :func:`score_docs` looks tokens up by
    fingerprint, never by string."""
    logp_milli: dict  # str -> int
    oov_logp_milli: int
    total_tokens: int
    token_hashes: dict = None  # str -> int64 (JVM xxhash64, seed 42)

    def _hash_table(self):
        """(sorted int64 hash array, parallel logp array) for scoring."""
        if not self.logp_milli:
            return (np.array([], dtype=np.int64),
                    np.array([], dtype=np.int64))
        if self.token_hashes is None:
            raise ValueError(
                "UnigramLM built without token_hashes — retrain with "
                "train_unigram_lm or supply the JVM xxhash64 of each "
                "vocab token")
        h = np.array([self.token_hashes[t] for t in self.logp_milli],
                     dtype=np.int64)
        lp = np.array(list(self.logp_milli.values()), dtype=np.int64)
        order = np.argsort(h)
        return h[order], lp[order]


def train_unigram_lm(df: DataFrame, text_col: str = "text",
                     vocab_size: int = 50_000) -> UnigramLM:
    """Count tokens corpus-wide, keep the top-``vocab_size``, quantize.

    ``ln`` runs in numpy on the driver (glibc ``log``) over the collected
    counts — never in the JVM — so an oracle recomputing the same quantity
    with another glibc-backed engine matches bit-for-bit."""
    if vocab_size < 1 or vocab_size > MAX_VOCAB:
        raise ValueError(f"vocab_size must be in [1, {MAX_VOCAB}]")
    counts = (df.select(F.explode(tokens_col(F.col(text_col))).alias("tok"))
              .groupBy("tok").agg(F.count("*").alias("c")))
    counts = counts.persist()
    try:
        total = counts.agg(F.sum("c").alias("t")).first()["t"] or 0
        top = (counts.orderBy(F.desc("c"), F.asc("tok"))
               .limit(vocab_size)
               .select("tok", "c", F.xxhash64("tok").alias("h"))
               .collect())
    finally:
        counts.unpersist()
    if total == 0:
        return UnigramLM({}, 0, 0, {})
    toks = [r["tok"] for r in top]
    c = np.array([r["c"] for r in top], dtype=np.float64)
    lp = np.round(1000.0 * np.log(c / float(total))).astype(np.int64)
    oov = int(np.round(1000.0 * np.log(0.5 / float(total))))
    return UnigramLM(dict(zip(toks, lp.tolist())), oov, int(total),
                     {r["tok"]: r["h"] for r in top})


def score_docs(df: DataFrame, lm: UnigramLM,
               text_col: str = "text", keep_text: bool = True) -> DataFrame:
    """Append ``n_tokens``, ``n_oov``, ``sum_logp_milli`` per document.

    Map-only (no shuffle); the whole input row passes through Arrow, so
    ``select`` the columns you need before calling.  ``text_col`` itself
    can't be pre-dropped (tokens derive from it JVM-side) — pass
    ``keep_text=False`` to exclude it from the output instead: the text
    is then consumed by the JVM tokenizer and never crosses the Arrow
    boundary at all (at web scale the text IS the row; only the 8 B/token
    hash arrays and the narrow metadata columns transfer)."""
    tcol = "__tokens"
    while tcol in df.columns:
        tcol += "_"

    spark = df.sparkSession
    table_bc = spark.sparkContext.broadcast(lm._hash_table())
    oov_lp = lm.oov_logp_milli

    def score(batch):
        vh, vlp = table_bc.value
        flat, offsets = list_values(batch.column(tcol))
        lpv, hit = sorted_lookup(vh, flat, vlp, oov_lp)
        return (np.diff(offsets), segment_sums(~hit, offsets),
                segment_sums(lpv, offsets))

    # tokens are hashed INSIDE the JVM: only int64 arrays cross to Python.
    # NULL text coalesces to an empty array here: a NULL doc scores
    # 0 tokens / 0 logp, matching the other scrub operators' null handling
    toks_hashed = F.coalesce(
        F.transform(tokens_col(F.col(text_col)), lambda t: F.xxhash64(t)),
        F.array().cast("array<long>"))
    proj = df.withColumn(tcol, toks_hashed)
    if not keep_text:
        # drop the text BEFORE mapInArrow so it never crosses to Python
        proj = proj.drop(text_col)
    return map_appending(proj, [tcol], dict.fromkeys(
        ("n_tokens", "n_oov", "sum_logp_milli"), T.LongType()), score)


def lm_quality_filter(df: DataFrame, lm: UnigramLM, text_col: str = "text",
                      min_mean_logp_milli: int = -9000) -> DataFrame:
    """Keep documents whose mean token log-prob (milli-nats) clears the
    threshold — the CCNet head/tail cut.  The mean is compared as
    ``sum >= threshold * n_tokens`` so the decision stays in exact integer
    arithmetic."""
    scored = score_docs(df, lm, text_col)
    keep = (F.col("n_tokens") > 0) & (
        F.col("sum_logp_milli")
        >= F.lit(int(min_mean_logp_milli)) * F.col("n_tokens"))
    return scored.filter(keep).drop("n_tokens", "n_oov", "sum_logp_milli")
