"""Hashed-ngram quality classifier (sketchlib/text/classifier.py):
Python-reference parity, md5-mode DuckDB SQL replay (the gate's oracle
mechanism), and the scale/API contracts."""

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from sketchlib.text.classifier import (
    QualityModel,
    _round_half_away,
    fit_quality_classifier,
    quality_features,
    quality_filter,
    quality_scores,
)

DOCS = [
    (0, "the cat sat on the mat", True),
    (1, "dogs chase the cat", True),
    (2, "stock market prices rose sharply today", False),
    (3, "the cat sat", True),
    (4, "x", False),                       # 1 token -> unigram only
    (5, "market prices fell", False),
    (6, None, True),                       # null text -> prior only
    (7, "the cat likes the mat", None),    # null label -> not trained
    (8, "quick\x0bbrown fox", False),      # \x0B: Java \s splits, RE2 \s
                                           # does not -> explicit class
    (9, "", True),                         # empty text -> one '' unigram
    (10, "\tindented text", False),        # trim strips SPACES only ->
                                           # leading '' token survives
]
B = 64


@pytest.fixture()
def docs_df(spark):
    return spark.createDataFrame(
        DOCS, "doc_id long, text string, label boolean")


def _py_buckets(text, buckets):
    """md5-mode reference: same tokenizer (Spark trim strips SPACES
    only; Java \\s == the explicit ASCII class; split keeps empty
    tokens), same md5-prefix bucket."""
    import hashlib

    if text is None:
        return []
    t = re.split(r"[ \t\n\x0b\f\r]+", text.strip(" ").lower())
    grams = list(t)
    grams += [" ".join(t[i:i + 2]) for i in range(len(t) - 1)]
    return [int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % buckets
            for g in grams]


def _py_model(buckets, alpha=0.5):
    cp = np.zeros(buckets)
    cn = np.zeros(buckets)
    dp = dn = 0
    for _, text, lab in DOCS:
        if lab is None:
            continue
        if lab:
            dp += 1
        else:
            dn += 1
        for b in _py_buckets(text, buckets):
            if lab:
                cp[b] += 1
            else:
                cn[b] += 1
    tp, tn, v = cp.sum(), cn.sum(), float(buckets)
    w = _round_half_away(1000.0 * (np.log((cp + alpha) / (tp + alpha * v))
                                   - np.log((cn + alpha) / (tn + alpha * v))))
    prior = int(_round_half_away(1000.0 * (np.log(dp + alpha)
                                           - np.log(dn + alpha))))
    return w, prior


def test_md5_mode_matches_python_reference(spark, docs_df):
    model = fit_quality_classifier(docs_df, "label", buckets=B,
                                   bucket_hash="md5")
    w, prior = _py_model(B)
    assert model.prior_milli == prior
    assert np.array_equal(model.w, w)

    got = {r.doc_id: (r.n_feats, r.score_milli)
           for r in quality_scores(docs_df, model).collect()}
    for doc_id, text, _ in DOCS:
        bs = _py_buckets(text, B)
        assert got[doc_id] == (len(bs), prior + int(w[bs].sum())), doc_id


def test_duckdb_sql_replay_md5_mode(spark, docs_df):
    """Full re-train + re-score in DuckDB over the same rows — the
    mechanism the driver gate's oracle uses."""
    duckdb = pytest.importorskip("duckdb")

    model = fit_quality_classifier(docs_df, "label", buckets=B,
                                   bucket_hash="md5")
    got = {r.doc_id: (r.n_feats, r.score_milli)
           for r in quality_scores(docs_df, model).collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR, "
                "label BOOLEAN)")
    con.executemany("INSERT INTO documents VALUES (?, ?, ?)", DOCS)
    rows = con.execute(f"""
        WITH d AS (SELECT doc_id, text, label AS pos FROM documents
                   WHERE label IS NOT NULL),
        toks AS (SELECT doc_id, pos,
                        regexp_split_to_array(lower(trim(text)), '[ \\t\\n\\x0B\\f\\r]+')
                        AS t FROM d WHERE text IS NOT NULL),
        grams AS (
          SELECT doc_id, pos, unnest(t) AS g FROM toks
          UNION ALL
          SELECT doc_id, pos,
                 unnest([t[i] || ' ' || t[i+1]
                         for i in range(1, len(t))]) AS g
          FROM toks WHERE len(t) >= 2),
        feats AS (SELECT doc_id, pos,
                         CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT)
                         % {B} AS b FROM grams),
        cnt AS (SELECT b,
                       SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS cp,
                       SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS cn
                FROM feats GROUP BY b),
        tot AS (SELECT CAST(COALESCE(SUM(cp), 0) AS DOUBLE) AS tp,
                       CAST(COALESCE(SUM(cn), 0) AS DOUBLE) AS tn
                FROM cnt),
        w AS (SELECT r.range AS b, CAST(round(1000 * (
                 ln((COALESCE(c.cp, 0) + 0.5)
                    / ((SELECT tp FROM tot) + 0.5 * {B}))
                 - ln((COALESCE(c.cn, 0) + 0.5)
                      / ((SELECT tn FROM tot) + 0.5 * {B}))))
                 AS BIGINT) AS w
              FROM range({B}) r LEFT JOIN cnt c ON r.range = c.b),
        pr AS (SELECT CAST(round(1000 * (
                 ln(SUM(CASE WHEN pos THEN 1 ELSE 0 END) + 0.5)
                 - ln(SUM(CASE WHEN pos THEN 0 ELSE 1 END) + 0.5)))
                 AS BIGINT) AS p FROM d),
        docfeats AS (SELECT doc_id,
                            CAST(('0x' || substr(md5(g), 1, 8)) AS BIGINT)
                            % {B} AS b
                     FROM (SELECT doc_id, t FROM (
                           SELECT doc_id,
                                  regexp_split_to_array(
                                      lower(trim(text)),
                                      '[ \\t\\n\\x0B\\f\\r]+') AS t
                           FROM documents WHERE text IS NOT NULL)),
                          LATERAL (
                            SELECT unnest(t) AS g
                            UNION ALL
                            SELECT unnest([t[i] || ' ' || t[i+1]
                                           for i in range(1, len(t))])
                            WHERE len(t) >= 2)),
        sc AS (SELECT doc_id, COUNT(*) AS n_feats, SUM(w.w) AS s
               FROM docfeats JOIN w USING (b) GROUP BY doc_id)
        SELECT a.doc_id,
               CAST(COALESCE(sc.n_feats, 0) AS BIGINT) AS n_feats,
               CAST((SELECT p FROM pr) + COALESCE(sc.s, 0) AS BIGINT)
               AS score_milli
        FROM documents a LEFT JOIN sc USING (doc_id)
        ORDER BY a.doc_id
    """).fetchall()
    assert {r[0]: (r[1], r[2]) for r in rows} == got


def test_xxh64_mode_scores_and_counts(spark, docs_df):
    """xxh64 mode: same feature COUNTS as the text-domain reference and
    a self-consistent score (gather over the fitted table)."""
    model = fit_quality_classifier(docs_df, "label", buckets=B,
                                   bucket_hash="xxh64")
    feats = {r.doc_id: list(r.f) for r in docs_df.select(
        "doc_id", quality_features("text", B, "xxh64").alias("f"))
        .collect()}
    got = {r.doc_id: (r.n_feats, r.score_milli)
           for r in quality_scores(docs_df, model).collect()}
    for doc_id, text, _ in DOCS:
        assert len(feats[doc_id]) == len(_py_buckets(text, B))
        assert all(0 <= b < B for b in feats[doc_id])
        expect = model.prior_milli + int(model.w[feats[doc_id]].sum())
        assert got[doc_id] == (len(feats[doc_id]), expect)


def test_classifier_separates_the_classes(spark, docs_df):
    model = fit_quality_classifier(docs_df, "label", buckets=1024)
    scores = {r.doc_id: r.score_milli
              for r in quality_scores(docs_df, model).collect()}
    # trained docs should score on their own side
    for doc_id, _, lab in DOCS:
        if lab is True and DOCS[doc_id][1] is not None:
            assert scores[doc_id] > 0, doc_id
        elif lab is False:
            assert scores[doc_id] < 0, doc_id
    # null text -> exactly the prior
    assert scores[6] == model.prior_milli


def test_quality_filter_schema_and_pushdown(spark, docs_df):
    model = fit_quality_classifier(docs_df, "label", buckets=256)
    kept = quality_filter(docs_df, model)
    assert kept.columns == docs_df.columns
    ids = {r.doc_id for r in kept.collect()}
    assert 0 in ids and 2 not in ids


def test_keep_text_false_drops_text(spark, docs_df):
    model = fit_quality_classifier(docs_df, "label", buckets=B)
    out = quality_scores(docs_df, model, keep_text=False)
    assert "text" not in out.columns
    assert out.count() == len(DOCS)


def test_scores_across_fresh_dataframes(spark):
    """Regression pin: scoring MULTIPLE independently-created
    DataFrames in one session, BOTH engines.  A scalar struct
    pandas_udf formulation of quality_scores hits a PySpark 4.1.2
    ExtractPythonUDFs bug here (every DataFrame after the session's
    first local relation fails with [INTERNAL_ERROR] Cannot evaluate
    expression) — the shipped engines must keep working for all of
    them."""
    rows = [(0, "the cat sat", True), (1, None, True), (2, "b", False)]
    schema = "doc_id long, text string, label boolean"
    df1 = spark.createDataFrame(rows, schema)
    model = fit_quality_classifier(df1, "label", buckets=B,
                                   bucket_hash="md5")
    first = {r.doc_id: r.score_milli
             for r in quality_scores(df1, model).collect()}
    for engine in ("jvm", "arrow"):
        for _ in range(2):
            dfn = spark.createDataFrame(rows, schema)
            refit = fit_quality_classifier(dfn, "label", buckets=B,
                                           bucket_hash="md5")
            assert np.array_equal(refit.w, model.w)
            got = {r.doc_id: r.score_milli
                   for r in quality_scores(dfn, refit,
                                           engine=engine).collect()}
            assert got == first


def test_engine_parity_and_schema(spark, docs_df):
    """The codegen engine and the Arrow kernel must agree value-for-
    value and column-for-column on every doc (nulls, empties, \\x0B)."""
    model = fit_quality_classifier(docs_df, "label", buckets=B,
                                   bucket_hash="md5")
    for keep_text in (True, False):
        jvm = quality_scores(docs_df, model, keep_text=keep_text,
                             engine="jvm")
        pdk = quality_scores(docs_df, model, keep_text=keep_text,
                             engine="arrow")
        assert jvm.columns == pdk.columns
        assert sorted(map(tuple, jvm.collect())) == \
            sorted(map(tuple, pdk.collect()))
    with pytest.raises(ValueError, match="engine"):
        quality_scores(docs_df, model, engine="rust")
    big = QualityModel(1 << 17, "xxh64",
                       np.zeros(1 << 17, dtype=np.int64), 0, 0.5)
    with pytest.raises(ValueError, match="buckets"):
        quality_scores(docs_df, big, engine="jvm")
    # auto beyond the literal bound must route to arrow, not raise
    assert quality_scores(docs_df, big).count() == len(DOCS)


def test_validation_errors(spark, docs_df):
    with pytest.raises(ValueError, match="buckets"):
        fit_quality_classifier(docs_df, "label", buckets=0)
    with pytest.raises(ValueError, match="bucket_hash"):
        fit_quality_classifier(docs_df, "label", bucket_hash="sha1")
    with pytest.raises(ValueError, match="alpha"):
        fit_quality_classifier(docs_df, "label", alpha=0.0)
    one_class = docs_df.filter(F.col("label") == True)  # noqa: E712
    with pytest.raises(ValueError, match="both classes"):
        fit_quality_classifier(one_class, "label", buckets=B)
    scored = quality_scores(
        docs_df, fit_quality_classifier(docs_df, "label", buckets=B))
    with pytest.raises(ValueError, match="already has"):
        quality_scores(scored, fit_quality_classifier(
            docs_df, "label", buckets=B))
