"""DSIR importance-resampling selection (sketchlib/text/dsir.py)."""

import math

import pytest
from pyspark.sql import functions as F

from sketchlib.text.dsir import (
    dsir_scores,
    dsir_select,
    fit_dsir,
    hashed_ngram_features,
)

DOCS = [
    (0, "the cat sat on the mat"),
    (1, "dogs chase the cat"),
    (2, "stock market prices rose sharply today"),
    (3, "the cat sat"),
    (4, "x"),                       # 1 token -> whole-text fallback gram
    (5, "market prices fell"),
]
TARGET_IDS = {0, 1, 3}              # cat-themed target distribution


@pytest.fixture()
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def _py_reference_scores(n=2, alpha=0.5):
    """Exact-gram reference in pure Python (gram = joined token strings —
    equivalent to the hash domain absent 2^-64 collisions)."""
    def grams(text):
        t = text.strip().lower().split()
        if len(t) >= n:
            return [" ".join(t[i:i + n]) for i in range(len(t) - n + 1)]
        return [" ".join(t)]

    raw = {i: grams(s) for i, s in DOCS}
    tc: dict = {}
    rc: dict = {}
    for i, gs in raw.items():
        for g in gs:
            rc[g] = rc.get(g, 0) + 1
            if i in TARGET_IDS:
                tc[g] = tc.get(g, 0) + 1
    v = float(len(set(tc) | set(rc)))
    tt, rt = float(sum(tc.values())), float(sum(rc.values()))
    lam = {g: round(1000.0 * (math.log((tc.get(g, 0) + alpha) / (tt + alpha * v))
                              - math.log((c + alpha) / (rt + alpha * v))))
           for g, c in rc.items()}
    return {i: (len(gs), sum(lam[g] for g in gs)) for i, gs in raw.items()}


def test_exact_mode_matches_python_reference(spark, docs_df):
    target = docs_df.filter(F.col("doc_id").isin(list(TARGET_IDS)))
    model = fit_dsir(target, docs_df, n=2, buckets=None)
    got = {r.doc_id: (r.n_grams, r.score_milli)
           for r in dsir_scores(docs_df, model).collect()}
    assert got == _py_reference_scores()


def test_target_docs_score_higher(spark, docs_df):
    target = docs_df.filter(F.col("doc_id").isin(list(TARGET_IDS)))
    model = fit_dsir(target, docs_df, n=2, buckets=None)
    per_gram = {r.doc_id: r.score_milli / r.n_grams
                for r in dsir_scores(docs_df, model).collect()}
    # every cat-doc outranks every market-doc on mean gram weight
    assert min(per_gram[i] for i in (0, 1, 3)) > max(per_gram[2],
                                                     per_gram[5])


def test_bucket_mode_kernel_roundtrip(spark, docs_df):
    """Bucket-mode scores == summing the model table over the JVM-computed
    bucket arrays (pins the mapInArrow kernel against the JVM features)."""
    target = docs_df.filter(F.col("doc_id").isin(list(TARGET_IDS)))
    model = fit_dsir(target, docs_df, n=2, buckets=64)
    got = {r.doc_id: (r.n_grams, r.score_milli)
           for r in dsir_scores(docs_df, model).collect()}
    feats = {r.doc_id: r.f for r in docs_df.select(
        "doc_id", hashed_ngram_features("text", 2, 64).alias("f")).collect()}
    for i, fs in feats.items():
        assert got[i] == (len(fs), int(sum(model.lam[b] for b in fs))), i


def test_partition_independent_and_keep_text(spark, docs_df):
    target = docs_df.filter(F.col("doc_id").isin(list(TARGET_IDS)))
    model = fit_dsir(target, docs_df, n=2, buckets=32)
    a = sorted(map(tuple, dsir_scores(docs_df.repartition(1), model)
                   .select("doc_id", "score_milli").collect()))
    b = sorted(map(tuple, dsir_scores(docs_df.repartition(7), model,
                                      keep_text=False)
                   .select("doc_id", "score_milli").collect()))
    assert a == b
    out = dsir_scores(docs_df, model, keep_text=False)
    assert "text" not in out.columns


def test_select_is_take_ordered(spark, docs_df):
    target = docs_df.filter(F.col("doc_id").isin(list(TARGET_IDS)))
    model = fit_dsir(target, docs_df, n=2, buckets=None)
    scored = dsir_scores(docs_df, model, keep_text=False)
    top = dsir_select(scored, 3)
    plan = top._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    ids = [r.doc_id for r in top.collect()]
    ref = _py_reference_scores()
    want = sorted(ref, key=lambda i: (-ref[i][1], i))[:3]
    assert ids == want


def test_validation(spark, docs_df):
    with pytest.raises(ValueError, match="buckets"):
        fit_dsir(docs_df, docs_df, buckets=0)
    target = docs_df.limit(2)
    model = fit_dsir(target, docs_df, n=2, buckets=16)
    clash = docs_df.withColumn("score_milli", F.lit(1))
    with pytest.raises(ValueError, match="score_milli"):
        dsir_scores(clash, model)


def test_exact_mode_feature_bound_enforced_before_collect(
        spark, docs_df, monkeypatch):
    """With MAX_FEATURES shrunk below the corpus's distinct-gram count,
    exact mode must raise the use-bucket-mode error — and the plan must
    bound what reaches the driver (collect runs THROUGH a limit, so a
    100 TB corpus can't OOM the driver before the guard fires)."""
    import sketchlib.text.dsir as dsir_mod
    monkeypatch.setattr(dsir_mod, "MAX_FEATURES", 3)
    with pytest.raises(ValueError, match="bucket mode"):
        fit_dsir(docs_df, docs_df, n=2, buckets=None)


def test_null_text_scores_zero(spark):
    df = spark.createDataFrame([(0, "a b c"), (1, None)],
                               "doc_id long, text string")
    model = fit_dsir(df.filter("doc_id = 0"), df, n=2, buckets=16)
    got = {r.doc_id: (r.n_grams, r.score_milli)
           for r in dsir_scores(df, model).collect()}
    assert got[1] == (0, 0)
