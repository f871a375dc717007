"""Hashed-ngram quality classifier: fastText-style linear model over
word n-gram buckets (Joulin et al. 2016, arXiv:1607.01759), fit as a
Naive Bayes log-odds table — the shape GPT-3 / The Pile / CCNet use for
"does this page look like the high-quality corpus" filtering (Brown et
al. 2020 §A; reference analogue: the quality gates the
CardinalityEstimation test corpus assumes upstream of sketching).

The model is a **fixed-size int64 table** (``buckets`` weights + a
prior), so at 100 TB the training shuffle is bounded at B rows per
class regardless of corpus size, and scoring is a broadcast-table
lookup — the identical scale contract as :mod:`sketchlib.text.dsir`
(bucket mode) and :mod:`sketchlib.text.lmscore`.

Spark-first shape
-----------------
* **Features** — word unigrams + bigrams (fastText ``wordNgrams=2``),
  derived entirely in JVM whole-stage codegen from the shared
  :func:`sketchlib.text.decontaminate.tokens_col` tokenizer, folded to
  ``pmod(hash, buckets)``.  Two hash kernels:

  - ``bucket_hash="xxh64"`` (default): token-hash-composed ``xxhash64``
    (same domain discipline as ``ngram_hashes_from_tokens``) — the fast
    production path.
  - ``bucket_hash="md5"``: ``conv(substring(md5(gram_text), 1, 8), 16,
    10)`` — ~2x the hash cost but **engine-reproducible**: any ANSI-SQL
    engine with ``md5`` can replay the exact bucket ids, which is how
    the driver gate's DuckDB oracle re-trains and re-scores the whole
    model from scratch.  (A replaying engine must split tokens on the
    explicit ASCII class ``[ \\t\\n\\x0B\\f\\r]+`` — Java's ``\\s``
    includes U+000B, RE2's does not; same pitfall note as
    :mod:`sketchlib.text.c4`.)

* **Fit** — ONE job, ONE ``explode -> groupBy(bucket)`` shuffle: a
  sentinel bucket ``-1`` prepended per document carries the doc-class
  counts (the prior) through the same aggregation as the gram counts,
  so the model's weights and prior always come from the same pass over
  the input — consistent even when the input DataFrame is
  non-deterministic (a ``.sample()``, a changing view).  Output is at
  most B+1 rows (two int64 class-counts each, map-side combined); the
  collected counts quantize to integer **milli-nats** on the driver
  with half-away-from-zero rounding — the same tie rule as SQL
  ``round`` — so a replaying engine reproduces the table exactly up to
  sub-ulp ``log`` differences (the identical caveat
  ``lmscore``/``dsir`` carry).
* **Score** — zero-shuffle, two engines chosen by table size: up to
  ``JVM_SCORE_MAX_BUCKETS`` the weight table is an ``array<bigint>``
  plan literal and the score is a pure codegen
  ``aggregate``/``element_at`` gather — nothing crosses into Python
  (measured 4.3x over the Python kernel at 24M docs; the Python path's
  cost is the ~10^10 feature ints through Arrow, not the kernel).
  Larger tables broadcast once per executor and score in a
  ``mapInArrow`` ``np.take`` + segmented-sum kernel over the feature
  column's values buffer, with ``keep_text=False`` dropping the text
  before the Arrow exchange (``dsir_scores`` contract).  (Why the
  fallback is not a scalar Arrow UDF that would keep even the
  passthrough columns JVM-side: see the implementation note on
  :func:`quality_scores` — PySpark 4.1.2 has an extraction bug for that
  shape.)
* **Filter** — ``quality_filter`` filters on the scored column; the
  whole path is map-only (no shuffle at any corpus size), pure
  whole-stage codegen in the JVM-engine regime, and the result schema
  equals the input schema, so it composes with the other corpus
  filters.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .._arrow import list_values, map_appending, segment_sums
from .decontaminate import tokens_col

MAX_BUCKETS = 5_000_000  # driver weight-table sanity bound (40 MB int64)

_HASHES = ("xxh64", "md5")


def _round_half_away(x) -> np.ndarray:
    """Round half away from zero — the SQL ``round`` tie rule, unlike
    ``np.round``'s half-to-even — so the quantized milli-nat tables an
    oracle engine re-derives agree on exact .5 boundaries too."""
    x = np.asarray(x, dtype=np.float64)
    return np.trunc(x + np.copysign(0.5, x)).astype(np.int64)


def _check(buckets: int, bucket_hash: str) -> None:
    if not 1 <= buckets <= MAX_BUCKETS:
        raise ValueError(f"buckets must be in [1, {MAX_BUCKETS}]")
    if bucket_hash not in _HASHES:
        raise ValueError(f"bucket_hash must be one of {_HASHES}")


def _md5_bucket(s: Column, buckets: int) -> Column:
    # first 8 hex chars of md5 -> unsigned 32-bit int -> residue class.
    # encode() pins UTF-8 explicitly (no implicit string->binary cast to
    # argue about under ANSI mode); the value is < 2^32 so Spark's pmod
    # and an oracle's % agree.
    return F.pmod(
        F.conv(F.substring(F.md5(F.encode(s, "UTF-8")), 1, 8), 16, 10)
        .cast("long"),
        F.lit(buckets))


def _bucket_features_of_tokens(t: Column, buckets: int,
                               bucket_hash: str) -> Column:
    """Unigram + bigram bucket ids of a *bound* token-array column.

    Unigrams guarantee >= 1 feature for every non-null doc (no
    whole-text fallback needed); bigrams are skipped below 2 tokens.
    ``t`` MUST be let-bound by the caller — Catalyst does not eliminate
    common subexpressions inside lambda bodies, so an inline ``split``
    would re-evaluate per element access.
    """
    if bucket_hash == "xxh64":
        # hash every token string exactly once; bigram = xxhash64 of the
        # two token *hashes* (same collision argument as
        # decontaminate.ngram_hashes_from_tokens: a cross-gram merge
        # needs a 2^-64 token-hash collision)
        def build(th: Column) -> Column:
            uni = F.transform(th, lambda h: F.pmod(F.xxhash64(h),
                                                   F.lit(buckets)))
            bi = F.when(
                F.size(th) >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.size(th) - 1),
                    lambda i: F.pmod(
                        F.xxhash64(F.element_at(th, i),
                                   F.element_at(th, i + 1)),
                        F.lit(buckets)))
            ).otherwise(F.array().cast("array<long>"))
            return F.concat(uni, bi)

        token_hashes = F.transform(t, lambda x: F.xxhash64(x))
        return F.transform(F.array(token_hashes), build)[0]

    # md5 mode: gram identity is the space-joined token text (tokens are
    # whitespace-split so the join is injective), bucket = md5 prefix
    uni = F.transform(t, lambda x: _md5_bucket(x, buckets))
    bi = F.when(
        F.size(t) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(t) - 1),
            lambda i: _md5_bucket(
                F.concat_ws(" ", F.element_at(t, i),
                            F.element_at(t, i + 1)),
                buckets))
    ).otherwise(F.array().cast("array<long>"))
    return F.concat(uni, bi)


def quality_features(text_col: Column | str, buckets: int = 4096,
                     bucket_hash: str = "xxh64") -> Column:
    """``array<long>`` of per-doc feature bucket ids (JVM-only).

    Null text -> empty array (so a null doc scores exactly the model
    prior and contributes nothing to training counts)."""
    _check(buckets, bucket_hash)
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    feats = F.transform(
        F.array(tokens_col(col)),
        lambda t: _bucket_features_of_tokens(t, buckets, bucket_hash))[0]
    return F.when(col.isNotNull(), feats).otherwise(
        F.array().cast("array<long>"))


@dataclass(frozen=True)
class QualityModel:
    """Fitted log-odds table: ``score_milli(doc) = prior_milli +
    sum_g w[bucket(g)]`` in integer milli-nats; positive means the doc
    looks more like the positive (high-quality) class."""
    buckets: int
    bucket_hash: str
    w: np.ndarray        # int64[buckets]
    prior_milli: int
    alpha: float


def fit_quality_classifier(df: DataFrame, label_col: str,
                           text_col: str = "text", buckets: int = 4096,
                           alpha: float = 0.5,
                           bucket_hash: str = "xxh64") -> QualityModel:
    """Fit the Naive Bayes log-odds table from a boolean-labeled corpus.

    ``w[b] = round(1000 * (ln((c_pos[b]+a) / (N_pos+a*B))
                           - ln((c_neg[b]+a) / (N_neg+a*B))))``
    over gram-occurrence counts, and ``prior_milli = round(1000 *
    ln((d_pos+a) / (d_neg+a)))`` over doc counts (the class-total
    denominators cancel).  Rows with a null label are ignored; rows
    with null text count toward the prior but contribute no grams.

    Cost: ONE job — a sentinel bucket ``-1`` per document rides the
    same explode/groupBy as the grams, so the doc-class counts (prior)
    and the gram counts come from the same pass over the input (a
    second action over a non-deterministic input would sample a
    different population) — one B+1-row-bounded shuffle, then a
    <= B+1-row collect: corpus-size-independent driver memory.
    """
    _check(buckets, bucket_hash)
    if not 0 < alpha:
        raise ValueError("alpha must be positive")
    lbl = F.col(label_col).cast("boolean")
    labeled = df.filter(lbl.isNotNull()).select(
        lbl.alias("__pos"),
        F.concat(
            F.array(F.lit(-1).cast("long")),
            quality_features(F.col(text_col), buckets, bucket_hash))
        .alias("__f"))

    counts = (labeled
              .select("__pos", F.explode("__f").alias("b"))
              .groupBy("b")
              .agg(F.sum(F.when(F.col("__pos"), 1).otherwise(0))
                   .alias("cp"),
                   F.sum(F.when(F.col("__pos"), 0).otherwise(1))
                   .alias("cn"))
              .collect())
    dp = dn = 0
    cp = np.zeros(buckets, dtype=np.float64)
    cn = np.zeros(buckets, dtype=np.float64)
    for r in counts:
        if r["b"] == -1:
            dp, dn = int(r["cp"]), int(r["cn"])
        else:
            cp[r["b"]] = r["cp"]
            cn[r["b"]] = r["cn"]
    if dp == 0 or dn == 0:
        raise ValueError(
            f"need both classes to fit: got {dp} positive / {dn} "
            "negative labeled docs")

    tp, tn, v = cp.sum(), cn.sum(), float(buckets)
    w = _round_half_away(1000.0 * (
        np.log((cp + alpha) / (tp + alpha * v))
        - np.log((cn + alpha) / (tn + alpha * v))))
    prior = int(_round_half_away(1000.0 * (np.log(dp + alpha)
                                           - np.log(dn + alpha))))
    return QualityModel(buckets, bucket_hash, w, prior, alpha)


# above this the weight table is inlined as a plan literal and scoring
# never leaves whole-stage codegen; beyond it the literal would bloat the
# plan, so scoring falls back to the broadcast-table mapInArrow kernel
JVM_SCORE_MAX_BUCKETS = 1 << 16


def quality_scores(df: DataFrame, model: QualityModel,
                   text_col: str = "text",
                   keep_text: bool = True,
                   engine: str = "auto") -> DataFrame:
    """Append ``n_feats`` and ``score_milli`` per document.  Map-only
    (no shuffle at any corpus size), two engines:

    * ``engine="jvm"`` (the ``auto`` choice up to
      ``JVM_SCORE_MAX_BUCKETS``): the weight table becomes an
      ``array<bigint>`` plan literal and the score is
      ``prior + aggregate(features, 0L, (acc, b) -> acc +
      element_at(w, b+1))`` — the whole path (tokenize, hash, gather,
      sum) stays inside whole-stage codegen and NOTHING crosses into
      Python.  Measured 4.3x over the Python kernel at 24M docs
      (55.7 s vs ~237 s incl. fit): the Python path's cost is shipping
      ~10^10 feature int64s through Arrow, not the Python kernel.
    * ``engine="arrow"`` (the ``auto`` choice for larger tables): the
      table broadcasts once per executor and a ``mapInArrow`` kernel
      does a vectorized gather + segmented sum over the feature
      column's values buffer, passing every other column through as its
      own Arrow array; with ``keep_text=False`` the text column is
      dropped BEFORE the Arrow exchange (the
      :func:`sketchlib.text.dsir.dsir_scores` contract).

    Implementation note on the arrow engine: a scalar struct-returning
    Arrow UDF over the feature expression would be even narrower,
    but PySpark 4.1.2 fails to extract that UDF into an
    ``ArrowEvalPython`` node for any DataFrame other than the session's
    first local relation when the input is this module's feature
    expression (``[INTERNAL_ERROR] Cannot evaluate expression:
    score_of(...)`` at task time — reproduced across UDF objects,
    closures, and both hash kernels), so the fallback uses the
    repo-proven ``mapInArrow`` shape;
    ``tests/test_classifier.py::test_scores_across_fresh_dataframes``
    pins the multi-DataFrame session shape that exposed it."""
    if engine not in ("auto", "jvm", "arrow"):
        raise ValueError("engine must be 'auto', 'jvm' or 'arrow'")
    added = ("n_feats", "score_milli")
    clash = [c for c in added if c in df.columns]
    if clash:
        raise ValueError(f"input already has column(s) {clash}")
    fcol = "__feats"
    while fcol in df.columns:
        fcol += "_"

    if engine == "jvm" or (engine == "auto"
                           and model.buckets <= JVM_SCORE_MAX_BUCKETS):
        if model.buckets > JVM_SCORE_MAX_BUCKETS:
            raise ValueError(
                f"engine='jvm' supports at most {JVM_SCORE_MAX_BUCKETS} "
                "buckets (the table is a plan literal); use "
                "engine='arrow'")
        w_lit = F.lit([int(x) for x in model.w])
        out_cols = [c for c in df.columns if keep_text or c != text_col]
        proj = df.withColumn(
            fcol, quality_features(F.col(text_col), model.buckets,
                                   model.bucket_hash))
        score = F.lit(int(model.prior_milli)) + F.aggregate(
            F.col(fcol), F.lit(0).cast("long"),
            lambda acc, b: acc + F.element_at(w_lit, b.cast("int") + 1))
        return proj.select(
            *out_cols,
            F.size(fcol).cast("long").alias("n_feats"),
            score.alias("score_milli"))

    table_bc = df.sparkSession.sparkContext.broadcast(
        (model.w, model.prior_milli))

    def score(batch):
        w, prior = table_bc.value
        flat, offsets = list_values(batch.column(fcol))
        return np.diff(offsets), prior + segment_sums(w[flat], offsets)

    proj = df.withColumn(
        fcol, quality_features(F.col(text_col), model.buckets,
                               model.bucket_hash))
    if not keep_text:
        proj = proj.drop(text_col)
    return map_appending(proj, [fcol],
                         dict.fromkeys(added, T.LongType()), score)


def quality_filter(df: DataFrame, model: QualityModel,
                   text_col: str = "text",
                   threshold_milli: int = 0) -> DataFrame:
    """Keep documents scoring above ``threshold_milli``.  The score
    columns are dropped on the way out, so the result schema equals
    the input schema (composable with the other corpus filters).
    Map-only at any corpus size.  Up to ``JVM_SCORE_MAX_BUCKETS`` the
    whole filter is pure whole-stage codegen — no row ever enters
    Python; beyond that the rows round-trip the Arrow boundary once
    (the :func:`quality_scores` arrow engine), which is still the
    right 100 TB shape: scoring a narrow (id, text) projection and
    semi-joining back would trade the Arrow round-trip for a
    full-corpus shuffle."""
    scored = quality_scores(df, model, text_col=text_col)
    return (scored.filter(F.col("score_milli") > threshold_milli)
            .drop("n_feats", "score_milli"))
