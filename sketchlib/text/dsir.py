"""DSIR: data selection via importance resampling over hashed n-grams.

Xie et al. 2023 ("Data Selection for Language Models via Importance
Resampling", arXiv:2302.03169) select pre-training documents whose hashed
n-gram distribution looks like a target (high-quality / in-domain) corpus:
fit bag-of-ngrams unigram models over a HASHED feature space for the
target and the raw pool, score every raw document with the log importance
weight ``sum_g [ log p_target(g) - log p_raw(g) ]`` over its n-gram
occurrences, and keep the top-k (the paper adds Gumbel noise for proper
resampling; the deterministic top-k is its ablation baseline).

Spark-first shape:

* **Features** are pure JVM column expressions — the tokenizer and
  n-gram machinery of :mod:`sketchlib.text.decontaminate` (tokens
  xxhash64'd once, grams hashed from token-hash tuples inside
  whole-stage codegen), optionally folded into ``buckets`` residue
  classes with ``pmod``.  No Python in the feature path.
* **Fit** is one ``explode -> groupBy(feature)`` count per side — the
  only shuffles, O(distinct features) rows each with map-side partial
  aggregation — then the counts collect to the driver (bounded: ``B``
  rows in bucket mode, guarded by ``MAX_FEATURES`` in exact mode) and
  the per-feature log-ratio is quantized to integer **milli-nats**
  (``round(1000 * (ln p_t - ln p_r))``, Laplace-``alpha`` smoothed) so
  every per-doc sum is integer and order-independent — the same
  bit-reproducibility contract as :mod:`sketchlib.text.lmscore`.
* **Score** is zero-shuffle ``mapInArrow``: only int64 feature arrays
  cross the Arrow boundary, read from their values buffer; the kernel is
  ``np.take`` (bucket mode) or ``searchsorted`` (exact mode) + a
  cumsum-diff segmented sum (the :mod:`sketchlib._arrow` kernels shared
  with :mod:`sketchlib.text.lmscore`), and every other column passes
  through as its own Arrow array.
* **Select** is ``orderBy(score desc, id).limit(k)`` — Spark plans
  ``TakeOrderedAndProject`` (per-partition top-k, merged on the driver),
  NOT a global sort shuffle.

Mode choice: ``buckets=B`` (the paper uses 10^4) is the 100 TB path —
model size is fixed at B regardless of corpus size, collisions are part
of the estimator.  ``buckets=None`` keeps exact grams (feature = gram
hash): the model is O(distinct grams) and the scores have no collision
folding — the mode the SQL oracle re-derives gram-by-gram.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .._arrow import list_values, map_appending, segment_sums, sorted_lookup
from .decontaminate import ngram_hashes_from_tokens, tokens_col

MAX_FEATURES = 5_000_000  # exact-mode driver-table sanity bound


def hashed_ngram_features(text_col: Column | str, n: int = 2,
                          buckets: int | None = None) -> Column:
    """``array<long>`` of per-doc n-gram feature ids (JVM-only).

    With ``buckets`` the gram hash is folded to ``pmod(h, buckets)``;
    without, the raw 64-bit gram hash is the feature.  Docs shorter than
    ``n`` tokens contribute their whole-text gram (the
    :func:`~sketchlib.text.decontaminate.ngram_hashes_from_tokens`
    fallback), so every non-null doc has >= 1 feature."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    if buckets is not None and buckets < 1:
        raise ValueError("buckets must be positive")
    # let-bind the token array through a one-element transform so the
    # split is evaluated once (ngram_hashes_from_tokens requires a bound
    # token column), and derive the grams through the SAME helper the
    # fit/score internals use — one derivation, no drift
    grams = F.transform(
        F.array(tokens_col(col)),
        lambda t: _grams_of_bound_tokens(t, n, buckets))[0]
    # null text -> empty feature array (xxhash64 would otherwise hash the
    # null token array to its seed and fabricate one phantom gram)
    return F.when(col.isNotNull(), grams).otherwise(
        F.array().cast("array<long>"))


@dataclass(frozen=True)
class DsirModel:
    """Fitted importance-weight table: feature id -> integer milli-nat
    log-ratio ``round(1000 * (ln p_target - ln p_raw))``."""
    n: int
    buckets: int | None
    lam: np.ndarray                   # int64; bucket mode: indexed by id
    feat_hashes: np.ndarray | None    # exact mode: sorted int64, || lam
    default_lam: int                  # exact mode: unseen-feature weight
    alpha: float


def _grams_of_bound_tokens(toks: Column, n: int,
                           buckets: int | None) -> Column:
    grams = ngram_hashes_from_tokens(toks, n)
    if buckets is not None:
        grams = F.transform(grams, lambda h: F.pmod(h, F.lit(buckets)))
    return grams


def _count_features(df: DataFrame, text_col: str, n: int,
                    buckets: int | None) -> dict[int, int]:
    feats = (df.filter(F.col(text_col).isNotNull())
             .select(tokens_col(F.col(text_col)).alias("__t"))
             .select(F.explode(
                 _grams_of_bound_tokens(F.col("__t"), n, buckets))
                 .alias("f")))
    # collect THROUGH a limit so the bound is enforced executor-side: on an
    # unbucketed web corpus the distinct-gram domain is billions of rows,
    # and a bare .collect() would OOM the driver before any guard could
    # fire.  LocalLimit caps each partition at MAX_FEATURES+1 rows, so the
    # driver never materializes more than MAX_FEATURES+1 total.
    rows = (feats.groupBy("f").agg(F.count(F.lit(1)).alias("c"))
            .limit(MAX_FEATURES + 1).collect())
    if len(rows) > MAX_FEATURES:
        raise ValueError(
            f"more than MAX_FEATURES={MAX_FEATURES} distinct features; "
            "use bucket mode (buckets=...)")
    return {r["f"]: r["c"] for r in rows}


def fit_dsir(target_df: DataFrame, raw_df: DataFrame, text_col: str = "text",
             n: int = 2, buckets: int | None = None,
             alpha: float = 0.5) -> DsirModel:
    """Fit the two hashed-ngram unigram models and quantize the log-ratio.

    ``ln`` runs in numpy on the driver over exact integer counts — the
    same glibc ``log`` an oracle engine uses, so the quantized table is
    engine-reproducible."""
    if buckets is not None and (buckets < 1 or buckets > MAX_FEATURES):
        raise ValueError(f"buckets must be in [1, {MAX_FEATURES}]")
    tc = _count_features(target_df, text_col, n, buckets)
    rc = _count_features(raw_df, text_col, n, buckets)
    t_tot = float(sum(tc.values()))
    r_tot = float(sum(rc.values()))

    if buckets is not None:
        v = float(buckets)
        ct = np.zeros(buckets, dtype=np.float64)
        cr = np.zeros(buckets, dtype=np.float64)
        for k, c in tc.items():
            ct[k] = c
        for k, c in rc.items():
            cr[k] = c
        lam = np.round(1000.0 * (
            np.log((ct + alpha) / (t_tot + alpha * v))
            - np.log((cr + alpha) / (r_tot + alpha * v)))).astype(np.int64)
        return DsirModel(n, buckets, lam, None, 0, alpha)

    universe = np.array(sorted(set(tc) | set(rc)), dtype=np.int64)
    v = float(len(universe))
    if v == 0.0:
        # t_tot + alpha*v would be 0.0 and the smoothed logs below would
        # die in a bare ZeroDivisionError
        raise ValueError(
            "cannot fit DSIR: no features in either corpus "
            "(empty or all-null text)")
    ct = np.array([tc.get(int(h), 0) for h in universe], dtype=np.float64)
    cr = np.array([rc.get(int(h), 0) for h in universe], dtype=np.float64)
    lam = np.round(1000.0 * (
        np.log((ct + alpha) / (t_tot + alpha * v))
        - np.log((cr + alpha) / (r_tot + alpha * v)))).astype(np.int64)
    default = int(np.round(1000.0 * (
        np.log(alpha / (t_tot + alpha * v))
        - np.log(alpha / (r_tot + alpha * v)))))
    return DsirModel(n, None, lam, universe, default, alpha)


def dsir_scores(df: DataFrame, model: DsirModel, text_col: str = "text",
                keep_text: bool = True) -> DataFrame:
    """Append ``n_grams`` and ``score_milli`` (integer milli-nat log
    importance weight) per document.  Map-only; the feature arrays are
    derived JVM-side, and with ``keep_text=False`` the text itself never
    crosses the Arrow boundary (same contract as
    :func:`sketchlib.text.lmscore.score_docs`)."""
    fcol = "__feats"
    while fcol in df.columns:
        fcol += "_"

    spark = df.sparkSession
    table_bc = spark.sparkContext.broadcast(
        (model.lam, model.feat_hashes, model.default_lam, model.buckets))

    def score(batch):
        lam, fh, default, buckets = table_bc.value
        flat, offsets = list_values(batch.column(fcol))
        lpv = (lam[flat] if buckets is not None
               else sorted_lookup(fh, flat, lam, default)[0])
        return np.diff(offsets), segment_sums(lpv, offsets)

    tcol = fcol + "_t"
    while tcol in df.columns:  # the fcol probe does not cover "_t" names
        tcol += "_"
    proj = (df.withColumn(tcol, tokens_col(F.col(text_col)))  # let-bind
            .withColumn(fcol, F.when(
                F.col(text_col).isNotNull(),
                _grams_of_bound_tokens(
                    F.col(tcol), model.n, model.buckets)))
            .drop(tcol))
    # the fallback gram means empty/short docs still get one feature;
    # null text gets an empty array so it scores 0
    proj = proj.withColumn(
        fcol, F.coalesce(F.col(fcol), F.array().cast("array<long>")))
    if not keep_text:
        proj = proj.drop(text_col)
    return map_appending(proj, [fcol], dict.fromkeys(
        ("n_grams", "score_milli"), T.LongType()), score)


def dsir_select(scored: DataFrame, k: int, score_col: str = "score_milli",
                id_col: str = "doc_id") -> DataFrame:
    """Deterministic top-``k`` by (score desc, id asc).  Plans as
    ``TakeOrderedAndProject`` — per-partition top-k merged on the driver,
    no global sort shuffle — so it is safe at any corpus size for
    bounded ``k``."""
    return scored.orderBy(F.desc(score_col), F.asc(id_col)).limit(k)
