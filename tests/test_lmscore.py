"""Unigram LM quality scoring (sketchlib/text/lmscore.py)."""

import math

import pytest
from pyspark.sql import functions as F

from sketchlib.text.lmscore import (
    UnigramLM,
    lm_quality_filter,
    score_docs,
    train_unigram_lm,
)

DOCS = [
    (0, "the cat sat on the mat"),
    (1, "the the the"),
    (2, "zyx unseen tokens only"),
    (3, ""),                      # empty text -> one '' token
    (4, "THE Cat"),               # case folding
]


@pytest.fixture()
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def _expected_lp(c, total):
    return round(1000.0 * math.log(c / total))


def test_train_counts_and_quantization(spark, docs_df):
    lm = train_unigram_lm(docs_df, vocab_size=3)
    # tokens: the x6, cat x2, then tie block of singletons -> '' wins asc
    assert lm.total_tokens == 16
    assert set(lm.logp_milli) == {"the", "cat", ""}
    assert lm.logp_milli["the"] == _expected_lp(6, 16)
    assert lm.logp_milli["cat"] == _expected_lp(2, 16)
    assert lm.oov_logp_milli == _expected_lp(0.5, 16)


def test_score_matches_python_reference(spark, docs_df):
    lm = train_unigram_lm(docs_df, vocab_size=3)
    got = {r.doc_id: r for r in score_docs(docs_df, lm).collect()}
    for doc_id, text in DOCS:
        toks = text.strip().lower().split() if text.strip() else [""]
        want_sum = sum(lm.logp_milli.get(t, lm.oov_logp_milli) for t in toks)
        r = got[doc_id]
        assert (r.n_tokens, r.sum_logp_milli) == (len(toks), want_sum), text
        assert r.n_oov == sum(t not in lm.logp_milli for t in toks)
    # original columns pass through
    assert got[0].text == DOCS[0][1]


def test_score_keep_text_false_drops_text_jvm_side(spark, docs_df):
    lm = train_unigram_lm(docs_df, vocab_size=3)
    out = score_docs(docs_df, lm, keep_text=False)
    assert "text" not in out.columns
    # scores identical to the keep_text=True path
    want = {r.doc_id: r.sum_logp_milli
            for r in score_docs(docs_df, lm).collect()}
    got = {r.doc_id: r.sum_logp_milli for r in out.collect()}
    assert got == want
    # the text column is projected away BEFORE the Python stage: the
    # mapInArrow input carries only id + token hashes
    plan = out._jdf.queryExecution().executedPlan().toString()
    [mip_line] = [ln for ln in plan.split("\n") if "MapInArrow" in ln]
    assert "text#" not in mip_line


def test_score_partition_independent(spark, docs_df):
    lm = train_unigram_lm(docs_df, vocab_size=2)
    a = sorted(map(tuple, score_docs(docs_df.repartition(1), lm)
                   .select("doc_id", "sum_logp_milli").collect()))
    b = sorted(map(tuple, score_docs(docs_df.repartition(7), lm)
                   .select("doc_id", "sum_logp_milli").collect()))
    assert a == b


def test_empty_corpus(spark):
    e = spark.createDataFrame([], "doc_id long, text string")
    lm = train_unigram_lm(e)
    assert lm.total_tokens == 0 and lm.logp_milli == {}
    assert score_docs(e, UnigramLM({"a": -1}, -5, 10, {"a": 7})).count() == 0


def test_filter_integer_threshold(spark, docs_df):
    lm = train_unigram_lm(docs_df, vocab_size=3)
    # doc 1 is all-'the' (best possible mean); doc 2 is all-OOV (worst)
    mean_the = lm.logp_milli["the"]
    kept = lm_quality_filter(docs_df, lm,
                             min_mean_logp_milli=mean_the)
    assert [r.doc_id for r in kept.collect()] == [1]
    assert kept.columns == ["doc_id", "text"]
    all_kept = lm_quality_filter(docs_df, lm,
                                 min_mean_logp_milli=lm.oov_logp_milli)
    assert kept.columns == ["doc_id", "text"]
    assert sorted(r.doc_id for r in all_kept.collect()) == [0, 1, 2, 3, 4]


def test_vocab_size_validation(spark, docs_df):
    with pytest.raises(ValueError, match="vocab_size"):
        train_unigram_lm(docs_df, vocab_size=0)


def test_column_clash_raises(spark):
    df = spark.createDataFrame([("x", 1)], "text string, n_oov long")
    with pytest.raises(ValueError, match="n_oov"):
        score_docs(df, UnigramLM({}, -5, 1))


def test_missing_token_hashes_raises(spark):
    df = spark.createDataFrame([("x",)], "text string")
    with pytest.raises(ValueError, match="token_hashes"):
        score_docs(df, UnigramLM({"x": -1}, -5, 1)).count()


def test_score_plan_is_map_only(spark, docs_df):
    lm = UnigramLM({"the": -1000}, -5000, 100, {"the": 12345})
    plan = (score_docs(docs_df, lm)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_score_null_text_yields_zero_tokens(spark, docs_df):
    """NULL text must score as an empty doc (0 tokens / 0 logp), not
    TypeError the whole kernel — clean_corpus feeds score_docs an
    unfiltered frame."""
    lm = train_unigram_lm(docs_df, vocab_size=50)
    withnull = docs_df.union(
        spark.createDataFrame([(999, None)], docs_df.schema))
    rows = {r["doc_id"]: r for r in score_docs(withnull, lm).collect()}
    assert rows[999]["n_tokens"] == 0
    assert rows[999]["sum_logp_milli"] == 0
