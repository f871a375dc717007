"""Training-data pipeline operators: text analysis, dedup (exact / minhash /
simhash), embedding similarity, multimodal plumbing."""

import numpy as np
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs_df(spark):
    rows = [
        (0, "The quick brown fox jumps over the lazy dog near the river bank today", "en"),
        (1, "the quick brown fox jumps over the lazy dog near the river bank today", "en"),  # case dup of 0
        (2, "The quick brown fox jumps over the lazy dog near the river bank yesterday", "en"),  # near-dup of 0
        (3, "Der Hund ist nicht mit der Katze und das ist ein Problem von heute", "de"),
        (4, "el perro es una mascota para la casa con los gatos del barrio", "es"),
        (5, "le chat est dans la maison avec les chiens pour la nuit sur place", "fr"),
        (6, "这 是 一个 中文 文档 关于 猫 和 狗 的 故事 还有 更多", "zh"),
        (7, "これ は 日本語 の ドキュメント です ねこ と いぬ", "ja"),
        (8, "Это русский документ про кошек и собак в доме", "ru"),
        (9, "zxq vbn qwerty", "unknown"),
        (10, "", "empty"),
        (11, "Completely different text about databases and distributed systems here", "en"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


class TestTextAnalysis:
    def test_token_counts(self, spark, docs_df):
        from sketchlib.text.analysis import bpe_token_count, ws_token_count

        got = docs_df.select("doc_id", ws_token_count(F.col("text")).alias("ws"),
                             bpe_token_count(F.col("text")).alias("bpe")).collect()
        by_id = {r["doc_id"]: r for r in got}
        assert by_id[0]["ws"] == 14
        assert by_id[10]["ws"] == 0 and by_id[10]["bpe"] == 0
        assert by_id[0]["bpe"] == 14  # all plain words

    def test_bpe_splits_symbols_digits(self, spark):
        from sketchlib.text.analysis import bpe_token_count

        df = spark.createDataFrame([("a1b, c2!d3",)], "t string")
        # tokens: a,1,b,',',c,2,!,d,3 -> 9
        assert df.select(bpe_token_count(F.col("t"))).first()[0] == 9

    def test_lang_id(self, spark, docs_df):
        from sketchlib.text.analysis import lang_id

        got = {r["doc_id"]: r["pred"] for r in
               docs_df.select("doc_id", lang_id(F.col("text")).alias("pred")).collect()}
        want = {0: "en", 3: "de", 4: "es", 5: "fr", 6: "zh", 7: "ja", 8: "ru",
                9: "unknown", 10: "unknown"}
        for k, v in want.items():
            assert got[k] == v, (k, got[k], v)

    def test_quality_stats_and_bucket(self, spark, docs_df):
        from sketchlib.text.analysis import quality_stats
        from sketchlib.text.analysis import quality_bucket

        row = (docs_df.filter("doc_id = 0")
               .select(*quality_stats(F.col("text"))).first())
        assert row["n_chars"] == len(
            "The quick brown fox jumps over the lazy dog near the river bank today")
        assert row["n_ws_tokens"] == 14
        assert row["n_stopwords_en"] == 3  # 'the' x3 (case-insensitive)
        buckets = {r["doc_id"]: r["b"] for r in docs_df.select(
            "doc_id", quality_bucket(F.col("text")).alias("b")).collect()}
        assert all(0 <= b <= 10 for b in buckets.values())
        assert buckets[0] > buckets[10]  # real text beats empty

    def test_oracle_sql_parity(self, spark, docs_df):
        """The SQL fragments shipped for DuckDB must agree with the Spark
        expressions on every row."""
        import duckdb

        from sketchlib.text import analysis as A

        pdf = docs_df.toPandas()
        con = duckdb.connect()
        con.register("docs", pdf)
        spark_rows = docs_df.select(
            "doc_id", *A.quality_stats(F.col("text"))).toPandas().set_index("doc_id")
        duck = con.sql(f"""
            SELECT doc_id,
                   length(text) AS n_chars,
                   {A.SQL_WS_TOKENS.format(c='text')} AS n_ws_tokens,
                   {A.SQL_BPE_TOKENS.format(c='text')} AS n_bpe_tokens,
                   {A.SQL_PUNCT.format(c='text')} AS n_punct,
                   {A.SQL_ALPHA.format(c='text')} AS n_alpha,
                   {A.sql_stopword_count('text', 'en')} AS n_stopwords_en
            FROM docs""").df().set_index("doc_id")
        for col in spark_rows.columns:
            assert (spark_rows[col] == duck[col]).all(), (
                col, spark_rows[col].to_dict(), duck[col].to_dict())


class TestDedup:
    def test_exact_dedup(self, spark, docs_df):
        from sketchlib.dedup import dedup_exact, duplicate_groups

        kept = dedup_exact(docs_df)
        ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
        assert 0 in ids and 1 not in ids  # doc 1 is a case-dup of doc 0
        assert len(ids) == docs_df.count() - 1
        hist = {r["group_size"]: r["n_groups"] for r in duplicate_groups(docs_df).collect()}
        assert hist[2] == 1 and hist[1] == docs_df.count() - 2

    def test_dedup_summary_single_scan_matches_dedup_exact(self, spark,
                                                           docs_df):
        from sketchlib.dedup import dedup_exact, dedup_summary

        kept = dedup_exact(docs_df).select("doc_id").collect()
        [row] = dedup_summary(docs_df).collect()
        assert row["n_docs"] == docs_df.count()
        assert row["n_kept"] == len(kept)
        from functools import reduce
        assert row["id_checksum"] == reduce(
            lambda a, b: a ^ b, (r["doc_id"] for r in kept), 0)
        # single scan: exactly one parquet/LocalTableScan source in the plan
        plan = dedup_summary(docs_df)._jdf.queryExecution().executedPlan() \
            .toString()
        assert plan.count("Scan") <= 2  # one source + AQE re-print slack

    def test_empty_corpus_audits_read_zero(self, spark):
        """SQL sums over zero rows are NULL; the audit summaries must read
        0 scanned / 0 found on an empty corpus instead."""
        from sketchlib.dedup import dedup_summary
        from sketchlib.dedup.paragraphs import paragraph_dedup_summary
        from sketchlib.text.pii import pii_summary

        empty = spark.createDataFrame([], "doc_id long, text string")
        [d] = dedup_summary(empty).collect()
        assert (d["n_docs"], d["n_kept"], d["id_checksum"]) == (0, 0, 0)
        [p] = paragraph_dedup_summary(empty).collect()
        assert (p["n_paragraphs"], p["n_distinct_paragraphs"],
                p["n_docs_out"]) == (0, 0, 0)
        [s] = pii_summary(empty).collect()
        assert s["n_docs"] == 0 and s["n_docs_with_pii"] == 0
        assert s["total_email"] == 0 and s["total_ip"] == 0

    def test_cosine_near_dup_dim_inference_empty_raises(self, spark):
        """dim inference on an empty / all-null embedding column must raise
        a clear ValueError, not a bare NoneType TypeError."""
        import pytest

        from sketchlib.similarity import cosine_near_dup_pairs

        empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
        with pytest.raises(ValueError, match="dim"):
            cosine_near_dup_pairs(empty)
        nulls = spark.createDataFrame([(1, None)],
                                      "vec_id long, embedding array<float>")
        with pytest.raises(ValueError, match="dim"):
            cosine_near_dup_pairs(nulls)

    def test_minhash_near_dup(self, spark, docs_df):
        from sketchlib.dedup import near_dup_pairs

        pairs = near_dup_pairs(docs_df, threshold=0.5, n_hashes=64, bands=16)
        got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
        assert (0, 1) in got and got[(0, 1)] == 1.0  # identical after lowercase
        assert (0, 2) in got  # one-word change
        assert not any(11 in p for p in got)

    def test_minhash_verify_prefilters_candidates(self, spark, docs_df):
        """The verify join must re-shingle only candidate docs, and the
        Python signature pass must run once: both verify-side scans sit
        behind a left-semi join on the candidate-id set, and every
        downstream reference of the candidate pairs (main chain + the two
        id-set union arms) is served from the persisted InMemoryRelation
        instead of recompiling the signature+banding subtree per AQE
        subquery job.  (The plan string nests the cached subtree's own
        AdaptiveSparkPlan, so assertions run on the full string, not a
        final-plan split.)"""
        from sketchlib.dedup import near_dup_pairs

        p = near_dup_pairs(docs_df, threshold=0.5, n_hashes=64, bands=16)
        p.collect()  # drive AQE to the final plan on p's own QueryExecution
        plan = p._jdf.queryExecution().executedPlan().toString()
        # one semi prefilter per verify side (final + mirrored initial plan)
        assert plan.count("LeftSemi") >= 2
        # candidate pairs served from cache wherever referenced (cached
        # blocks, unlike shuffle files, are shared across AQE subquery jobs)
        assert "InMemoryTableScan [id_a" in plan
        assert "InMemoryRelation" in plan
        # and the cache actually holds the pair blocks after the collect
        sc = spark.sparkContext
        assert any(info.name() and "memory" in info.storageLevel().description().lower()
                   for info in sc._jsc.sc().getRDDStorageInfo())

    def test_minhash_candidates_superset_of_true_pairs(self, spark, docs_df):
        """Banding recall: every pair above threshold must surface as a
        candidate (checked exhaustively on this corpus)."""
        from sketchlib.dedup.minhash import (lsh_candidate_pairs,
                                             minhash_signatures, shingles_col)

        sig = minhash_signatures(docs_df, n_hashes=64)
        cands = {(r["id_a"], r["id_b"])
                 for r in lsh_candidate_pairs(sig, bands=16).collect()}
        sh = docs_df.select("doc_id", shingles_col(F.col("text")).alias("sh"))
        a = sh.selectExpr("doc_id as id_a", "sh as sh_a")
        b = sh.selectExpr("doc_id as id_b", "sh as sh_b")
        allp = (a.crossJoin(b).filter("id_a < id_b")
                .withColumn("j", F.size(F.array_intersect("sh_a", "sh_b"))
                            / F.size(F.array_union("sh_a", "sh_b"))))
        true_pairs = {(r["id_a"], r["id_b"])
                      for r in allp.filter("j >= 0.5").collect()}
        assert true_pairs <= cands

    def test_oph_near_dup_matches_perm_output(self, spark, docs_df):
        """OPH signatures feed the same exact verify, so the final pair set
        must equal the k-permutation path on this corpus (recall is the
        only thing that could differ; both find these well-above-threshold
        pairs)."""
        from sketchlib.dedup import near_dup_pairs

        perm = {(r["id_a"], r["id_b"]): r["jaccard"]
                for r in near_dup_pairs(docs_df, threshold=0.5, n_hashes=64,
                                        bands=16).collect()}
        oph = {(r["id_a"], r["id_b"]): r["jaccard"]
               for r in near_dup_pairs(docs_df, threshold=0.5, n_hashes=64,
                                       bands=16, method="oph").collect()}
        assert oph == perm

    def test_oph_signature_determinism_and_estimator(self, spark, docs_df):
        """OPH signatures are partition-independent, and the per-slot
        collision rate between two docs estimates their Jaccard (identical
        docs agree on every slot; disjoint docs on ~none)."""
        from sketchlib.dedup.minhash import minhash_signatures

        a = {r["doc_id"]: r["sig"] for r in minhash_signatures(
            docs_df, n_hashes=64, method="oph").collect()}
        b = {r["doc_id"]: r["sig"] for r in minhash_signatures(
            docs_df.repartition(5), n_hashes=64, method="oph").collect()}
        assert a == b
        # docs 0 and 1 are case-duplicates -> identical shingle sets
        assert a[0] == a[1]
        sig0, sig11 = np.asarray(a[0]), np.asarray(a[11])
        assert (sig0 == sig11).mean() < 0.2  # unrelated docs

    def test_oph_rejects_non_power_of_two(self, spark, docs_df):
        import pytest

        from sketchlib.dedup.minhash import minhash_signatures

        with pytest.raises(ValueError):
            minhash_signatures(docs_df, n_hashes=48, method="oph")
        with pytest.raises(ValueError):
            minhash_signatures(docs_df, n_hashes=64, method="bogus")

    def test_oph_kernel_sparse_docs_densify(self, spark):
        """Docs with fewer shingles than bins exercise the rotation
        densification: every slot is filled, empty-bin slots only collide
        when source bin AND borrow distance agree."""
        from sketchlib.dedup.minhash import _OPH_EMPTY, _oph_sigs

        rng = np.random.default_rng(7)
        hashes = rng.integers(0, 2**64, size=10, dtype=np.uint64)
        starts = np.array([0, 3], dtype=np.int64)
        ends = np.array([3, 10], dtype=np.int64)
        out = _oph_sigs(hashes, starts, ends, 64)
        assert out.shape == (2, 64)
        assert not (out == _OPH_EMPTY).any()
        # same input twice -> identical rows
        again = _oph_sigs(hashes, starts, ends, 64)
        assert (out == again).all()

    def test_oph_kernel_brute_force_and_chunk_invariance(self, spark):
        """The vectorized kernel must be bit-identical to a per-row
        brute-force transcription of OPH + rotation densification, and the
        row-chunking (a memory knob) must never change the output — pinned
        across chunk sizes that split rows mid-batch."""
        from sketchlib.dedup.minhash import (_OPH_EMPTY, _OPH_ROT_C,
                                             _oph_sigs)

        def brute(hashes, starts, ends, k):
            nbits = (k - 1).bit_length()
            out = np.full((len(starts), k), _OPH_EMPTY, dtype=np.uint64)
            for r in range(len(starts)):
                pre = np.full(k, _OPH_EMPTY, dtype=np.uint64)
                for h in hashes[starts[r]:ends[r]]:
                    b = int(h) >> (64 - nbits)
                    if h < pre[b]:
                        pre[b] = h
                for b in range(k):
                    if pre[b] != _OPH_EMPTY:
                        out[r, b] = pre[b]
                        continue
                    d = 1
                    while pre[(b + d) % k] == _OPH_EMPTY:
                        d += 1
                    out[r, b] = np.uint64(
                        (int(pre[(b + d) % k]) + d * int(_OPH_ROT_C))
                        % (1 << 64))
            return out

        rng = np.random.default_rng(42)
        for k in (16, 64):
            # shingle counts straddle sparse (< k) and dense (> k) rows
            lens = rng.integers(1, 3 * k, size=37)
            ends = np.cumsum(lens).astype(np.int64)
            starts = np.concatenate([[0], ends[:-1]]).astype(np.int64)
            hashes = rng.integers(0, 2**64, size=int(ends[-1]),
                                  dtype=np.uint64)
            want = brute(hashes, starts, ends, k)
            for chunk in (1, 5, 37, 8192):
                got = _oph_sigs(hashes, starts, ends, k, chunk_rows=chunk)
                assert (got == want).all(), (k, chunk)

    def test_ngram_jaccard_exact_vs_brute_force(self, spark, docs_df):
        """ngram_jaccard_pairs is EXACT: its output must equal the full
        all-pairs Jaccard join at the same threshold (checked at a low
        threshold so the prefix filter is exercised non-trivially)."""
        from sketchlib.dedup import ngram_jaccard_pairs
        from sketchlib.dedup.minhash import shingles_col

        for t in (0.9, 0.5, 0.2):
            got = {(r["id_a"], r["id_b"]): r["jaccard"]
                   for r in ngram_jaccard_pairs(docs_df, threshold=t).collect()}
            sh = (docs_df.select("doc_id", shingles_col(F.col("text")).alias("sh"))
                  .filter(F.size("sh") > 0))
            a = sh.selectExpr("doc_id as id_a", "sh as sh_a")
            b = sh.selectExpr("doc_id as id_b", "sh as sh_b")
            want = {(r["id_a"], r["id_b"]): r["j"] for r in
                    (a.crossJoin(b).filter("id_a < id_b")
                     .withColumn("j", F.size(F.array_intersect("sh_a", "sh_b"))
                                 / F.size(F.array_union("sh_a", "sh_b")))
                     .filter(F.col("j") >= t)).collect()}
            assert got == want, (t, got, want)

    def test_ngram_jaccard_executed_plan_shape(self, spark, docs_df):
        """AQE-final plan: the exploded gram subtree's exchange is reused
        (aggregate + join probe served from one shuffle), the per-doc
        prefix cut is an aggregate not a window sort, and the verify side
        prefilters via a semi join."""
        p = __import__("sketchlib.dedup", fromlist=["ngram_jaccard_pairs"]) \
            .ngram_jaccard_pairs(docs_df, threshold=0.5)
        p.collect()
        plan = p._jdf.queryExecution().executedPlan().toString()
        # the candidate set is persisted, so its subtree nests its own
        # AdaptiveSparkPlan inside InMemoryRelation — assert on the full
        # string (absence checks are safe there; presence checks can only
        # be satisfied by operators the query genuinely compiled)
        assert "isFinalPlan=true" in plan
        assert "InMemoryTableScan" in plan  # candidate pairs cache-served
        assert "Window" not in plan
        assert "LeftSemi" in plan
        assert "CartesianProduct" not in plan

    def test_ngram_jaccard_rejects_bad_threshold(self, spark, docs_df):
        from sketchlib.dedup import ngram_jaccard_pairs

        with pytest.raises(ValueError):
            ngram_jaccard_pairs(docs_df, threshold=0.0)

    def test_ngram_jaccard_prefix_index_is_pruned(self, spark, docs_df):
        """At t=0.8 a doc with |S| grams indexes only |S|-ceil(0.8|S|)+1 of
        them — the prefix index must be strictly smaller than the full
        gram explode, and per-doc sizes must match the formula."""
        import math

        from sketchlib.dedup.jaccard import _prefix_index
        from sketchlib.dedup.minhash import shingles_col

        sh = (docs_df.select("doc_id", shingles_col(F.col("text")).alias("shingles"))
              .filter(F.size("shingles") > 0))
        sizes = {r["doc_id"]: r["sz"]
                 for r in sh.select("doc_id", F.size("shingles").alias("sz")).collect()}
        pref = _prefix_index(sh, "doc_id", 0.8)
        per_doc = {r["doc_id"]: r["n"] for r in
                   pref.groupBy("doc_id").agg(F.count("*").alias("n")).collect()}
        for did, sz in sizes.items():
            want = sz - math.ceil(0.8 * sz) + 1
            assert per_doc[did] == want, (did, sz, per_doc[did], want)
        assert sum(per_doc.values()) < sum(sizes.values())

    def test_simhash_near_dup(self, spark, docs_df):
        from sketchlib.dedup import simhash_near_dup_pairs

        pairs = {(r["id_a"], r["id_b"]): r["hamming"]
                 for r in simhash_near_dup_pairs(docs_df, max_hamming=10).collect()}
        assert pairs.get((0, 1)) == 0  # lowercase-identical token multisets
        assert (0, 2) in pairs  # one token swapped -> few bits
        assert not any(11 in p and 0 in p for p in pairs)

    def test_simhash_deterministic(self, spark, docs_df):
        from sketchlib.dedup import simhash_col

        a = docs_df.select(simhash_col("text").alias("s")).collect()
        b = docs_df.select(simhash_col("text").alias("s")).collect()
        assert [r["s"] for r in a] == [r["s"] for r in b]


class TestSimilarity:
    def test_cosine_topk_matches_numpy(self, spark, sf_dir):
        from sketchlib.similarity import cosine_topk

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        pdf = emb.toPandas()
        mat = np.asarray([np.asarray(v) for v in pdf["embedding"]], dtype=np.float64)
        ids = pdf["vec_id"].to_numpy()
        queries = [(int(ids[i]), mat[i]) for i in (0, 7)]
        got = cosine_topk(emb, queries, k=5).collect()
        mn = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        for qid, qv in queries:
            sims = mn @ (qv / np.linalg.norm(qv))
            order = np.lexsort((ids, -sims))[:5]
            want = [int(ids[i]) for i in order]
            mine = [r["vec_id"] for r in sorted(
                (r for r in got if r["query_id"] == qid), key=lambda r: r["rnk"])]
            assert mine == want
            assert mine[0] == qid  # self is its own nearest neighbor

    def test_cosine_near_dup_pairs(self, spark):
        from sketchlib.similarity import cosine_near_dup_pairs

        rng = np.random.default_rng(5)
        base = rng.standard_normal((50, 16))
        # make 2 near-dup pairs: (0,50) tiny noise, (1,51) moderate noise
        near = np.vstack([base[0] + 0.01 * rng.standard_normal(16),
                          base[1] + 0.05 * rng.standard_normal(16)])
        mat = np.vstack([base, near])
        rows = [(i, mat[i].tolist()) for i in range(mat.shape[0])]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        pairs = {(r["id_a"], r["id_b"]) for r in
                 cosine_near_dup_pairs(df, threshold=0.95, dim=16).collect()}
        assert (0, 50) in pairs and (1, 51) in pairs
        # verify no pair below threshold sneaks in
        mn = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        sims = mn @ mn.T
        for a, b in pairs:
            assert sims[a, b] >= 0.95


class TestMultimodal:
    def test_meta_and_features(self, spark):
        from sketchlib.multimodal import extract_media_features, media_meta_col
        from sketchlib.multimodal.media import pack_fake_image

        rows = [(i, pack_fake_image(32 + i, 16 + i, seed=i)) for i in range(5)]
        rows.append((99, b"NOTANIMAGE"))
        df = spark.createDataFrame(rows, "media_id long, payload binary")
        meta = {r["media_id"]: r["m"] for r in
                df.select("media_id", media_meta_col("payload").alias("m")).collect()}
        assert meta[0]["width"] == 32 and meta[0]["height"] == 16
        assert meta[3]["width"] == 35 and meta[3]["codec"] == "fake-v1"
        assert meta[99]["codec"] == "unknown" and meta[99]["width"] is None
        feats = {r["media_id"]: r for r in extract_media_features(df).collect()}
        assert feats[0]["width"] == 32 and len(feats[0]["mean_rgb"]) == 3
        assert feats[99]["width"] is None  # decode failure -> null row, no crash
        # deterministic stub: same payload -> same features
        feats2 = {r["media_id"]: r for r in extract_media_features(df).collect()}
        assert feats[2]["phash"] == feats2[2]["phash"]

    def test_real_codecs_roundtrip(self):
        """PPM/BMP/WAV decode for REAL (pure numpy): encode a known pixel /
        sample array, decode, compare exactly — incl. BMP stride padding
        (w=3 -> 9-byte rows padded to 12), bottom-up order, BGR swap, and
        WAV chunk walking."""
        from sketchlib.multimodal import (decode_bmp, decode_image,
                                          decode_ppm, decode_wav, encode_bmp,
                                          encode_ppm, encode_wav)

        rng = np.random.default_rng(11)
        img = rng.integers(0, 256, size=(2, 3, 3), dtype=np.uint8)
        assert np.array_equal(decode_ppm(encode_ppm(img)), img)
        assert np.array_equal(decode_bmp(encode_bmp(img)), img)
        # dispatch picks the right decoder per magic
        assert np.array_equal(decode_image(encode_ppm(img)), img)
        assert np.array_equal(decode_image(encode_bmp(img)), img)
        # PPM comments and multi-digit dims
        ppm = b"P6\n# a comment\n3 2\n255\n" + img.tobytes()
        assert np.array_equal(decode_ppm(ppm), img)
        # WAV: stereo int16 with exact sample recovery
        samples = rng.integers(-3000, 3000, size=(50, 2)).astype(np.int16)
        got, rate = decode_wav(encode_wav(samples, 8000))
        assert rate == 8000 and np.array_equal(got, samples)
        with pytest.raises(ValueError):
            decode_image(b"GIF89a....")
        with pytest.raises(ValueError):
            decode_wav(b"RIFFxxxxAVI ")

    def test_compressed_codec_routes_through_optional_pil(self, monkeypatch):
        """JPEG/PNG/WebP dispatch: without Pillow the declared
        environment-blocked error fires; with a (faked) Pillow importable
        at runtime the payload is decoded through it — the module is
        complete on a real cluster image."""
        import sketchlib.multimodal.media as media

        jpeg = b"\xff\xd8\xff\xe0" + b"\x00" * 16
        monkeypatch.setattr(media, "_PIL_IMAGE", None)
        with pytest.raises(ValueError, match="Pillow"):
            media.decode_image(jpeg)
        # WAV is RIFF too — must stay "unknown image codec", not "Pillow"
        with pytest.raises(ValueError, match="unknown image codec"):
            media.decode_image(b"RIFFxxxxWAVE")

        want = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)

        class _FakeImg:
            size = (3, 2)  # (width, height), checked BEFORE convert

            def convert(self, mode):
                assert mode == "RGB"
                return want

        class _FakePIL:
            @staticmethod
            def open(buf):
                assert buf.read(3) == b"\xff\xd8\xff"
                return _FakeImg()

        monkeypatch.setattr(media, "_PIL_IMAGE", _FakePIL)
        assert np.array_equal(media.decode_image(jpeg), want)
        # probe caching: _UNPROBED -> import attempt happens exactly once
        monkeypatch.setattr(media, "_PIL_IMAGE", media._UNPROBED)
        assert media._optional_pil() is None  # no Pillow in this container
        assert media._PIL_IMAGE is None

    def test_real_codecs_through_spark_pipeline(self, spark):
        """Mixed-codec payload column: fake, PPM, and BMP rows all flow
        through the same extract_media_features pass; BMP metadata parses
        JVM-side (width/height without decode)."""
        from sketchlib.multimodal import (encode_bmp, encode_ppm,
                                          extract_audio_features, encode_wav,
                                          extract_media_features,
                                          media_meta_col)
        from sketchlib.multimodal.media import pack_fake_image

        rng = np.random.default_rng(7)
        img = rng.integers(0, 256, size=(4, 5, 3), dtype=np.uint8)
        rows = [(0, pack_fake_image(8, 8, seed=1)),
                (1, bytearray(encode_ppm(img))),
                (2, bytearray(encode_bmp(img)))]
        df = spark.createDataFrame(rows, "media_id long, payload binary")
        feats = {r["media_id"]: r for r in extract_media_features(
            df, resize_to=None).collect()}
        assert feats[1]["width"] == 5 and feats[1]["height"] == 4
        assert feats[2]["width"] == 5 and feats[2]["height"] == 4
        # PPM and BMP carry the same pixels -> identical features
        assert feats[1]["mean_rgb"] == feats[2]["mean_rgb"]
        assert feats[1]["phash"] == feats[2]["phash"]
        meta = {r["media_id"]: r["m"] for r in df.select(
            "media_id", media_meta_col("payload").alias("m")).collect()}
        assert meta[2]["codec"] == "bmp"
        assert meta[2]["width"] == 5 and meta[2]["height"] == 4
        # audio: WAV features through the same mapInArrow shape
        tone = (np.sin(np.arange(400) / 5.0) * 10000).astype(np.int16)
        adf = spark.createDataFrame(
            [(0, bytearray(encode_wav(tone[:, None], 16000))),
             (1, b"not audio")], "media_id long, payload binary")
        af = {r["media_id"]: r for r in extract_audio_features(adf).collect()}
        assert af[0]["sample_rate"] == 16000 and af[0]["n_samples"] == 400
        assert af[0]["rms"] > 0 and 0 < af[0]["zero_crossing_rate"] < 1
        assert af[1]["sample_rate"] is None

    @pytest.mark.parametrize("kernel", ["image", "audio", "frames"])
    def test_null_payload_is_undecodable(self, spark, kernel):
        """A NULL payload is undecodable, not fatal: NULL features next to
        a good row's, and sample_frames skips the video."""
        from sketchlib.multimodal.media import (
            encode_ppm, encode_wav, extract_audio_features,
            extract_media_features, pack_fake_video, sample_frames)

        good, run = {
            "image": (encode_ppm(np.full((4, 4, 3), 9, dtype=np.uint8)),
                      extract_media_features),
            "audio": (encode_wav(np.arange(16, dtype=np.int16), 8000),
                      extract_audio_features),
            "frames": (pack_fake_video(4, 4, 1000, seed=1), sample_frames),
        }[kernel]
        df = spark.createDataFrame([(0, bytearray(good)), (1, None)],
                                   "media_id long, payload binary").coalesce(1)
        rows = run(df).collect()
        if kernel == "frames":
            assert sorted((r["media_id"], r["ts_ms"]) for r in rows) == [
                (0, 0), (0, 1000)]
            return
        got = {r["media_id"]: r for r in rows}
        assert set(got) == {0, 1}
        assert all(v is not None for v in got[0].asDict().values())
        assert all(v is None for k, v in got[1].asDict().items()
                   if k != "media_id")

    def test_frame_sample_plan(self, spark):
        from sketchlib.multimodal import frame_sample_plan

        df = spark.createDataFrame([(3500,)], "duration_ms long")
        [row] = df.select(frame_sample_plan(F.col("duration_ms"), 1000).alias("p")).collect()
        assert row["p"] == [0, 1000, 2000, 3000]

    def test_sample_frames_end_to_end(self, spark):
        """One row per planned frame; payload enters Python once per video;
        bad-magic payloads are skipped, not fatal."""
        from sketchlib.multimodal.media import (pack_fake_video,
                                                sample_frames, video_meta_col)

        rows = [(0, pack_fake_video(8, 4, 2500, 7)),
                (1, pack_fake_video(4, 4, 900, 8)),
                (2, b"JUNKJUNKJUNK")]
        df = spark.createDataFrame(rows, "media_id long, payload binary")

        meta = {r["media_id"]: r["m"] for r in
                df.select("media_id", video_meta_col("payload").alias("m")).collect()}
        assert meta[0]["width"] == 8 and meta[0]["duration_ms"] == 2500
        assert meta[2]["codec"] == "unknown" and meta[2]["duration_ms"] is None

        frames = sample_frames(df, every_ms=1000).collect()
        got = {}
        for r in frames:
            got.setdefault(r["media_id"], []).append(r["ts_ms"])
        assert sorted(got[0]) == [0, 1000, 2000]
        assert sorted(got[1]) == [0]
        assert 2 not in got
        # deterministic stub: same (payload, ts) -> same frame stats
        luma = {(r["media_id"], r["ts_ms"]): r["mean_luma"] for r in frames}
        luma2 = {(r["media_id"], r["ts_ms"]): r["mean_luma"]
                 for r in sample_frames(df, every_ms=1000).collect()}
        assert luma == luma2
        assert all(0 <= v <= 255 for v in luma.values())


class TestUrlUtils:
    def test_normalize_url(self, spark):
        from sketchlib.text.urls import normalize_url, url_domain, url_host

        cases = [
            ("HTTPS://WWW.Example.COM:443/Path/?utm_source=x&q=1#frag",
             "https://example.com/Path/?q=1"),  # slash-before-query kept (conservative)
            ("http://example.com:80/", "http://example.com"),
            ("https://example.com/a/?utm_campaign=c", "https://example.com/a"),
            ("https://sub.example.co/p?a=1&fbclid=zzz", "https://sub.example.co/p?a=1"),
            ("https://example.com/p?gclid=1&b=2", "https://example.com/p?b=2"),
            ("https://example.com", "https://example.com"),
        ]
        df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
        got = [r["n"] for r in df.select(normalize_url(F.col("url")).alias("n")).collect()]
        for (u, want), g in zip(cases, got):
            assert g == want, (u, g, want)

        hd = spark.createDataFrame([("https://www.A.Sub.Example.COM/x",)], "url string")
        [r] = hd.select(url_host(F.col("url")).alias("h"),
                        url_domain(F.col("url")).alias("d")).collect()
        assert r["h"] == "a.sub.example.com" and r["d"] == "example.com"

    def test_normalize_is_dedup_stable(self, spark):
        """Variants of the same resource collapse to one normalized key."""
        from sketchlib.text.urls import normalize_url

        variants = ["https://www.example.com/p/1",
                    "https://example.com/p/1/",
                    "HTTPS://EXAMPLE.com:443/p/1",
                    "https://example.com/p/1?utm_source=tw"]
        df = spark.createDataFrame([(u,) for u in variants], "url string")
        n = df.select(normalize_url(F.col("url")).alias("k")).distinct().count()
        assert n == 1


class TestMinHashEdgeCases:
    def test_null_text_yields_null_sig_and_no_crash(self, spark):
        """NULL texts used to crash the signature UDF; now they produce a
        NULL signature and never reach banding/verification."""
        from sketchlib.dedup import near_dup_pairs
        from sketchlib.dedup.minhash import minhash_signatures

        rows = [(0, "the quick brown fox jumps over the dog"),
                (1, None),
                (2, "the quick brown fox jumps over the dog"),
                (3, None)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        sig = minhash_signatures(df).collect()
        by_id = {r["doc_id"]: r["sig"] for r in sig}
        assert by_id[1] is None and by_id[3] is None
        assert by_id[0] == by_id[2] and len(by_id[0]) == 128
        pairs = {(r["id_a"], r["id_b"])
                 for r in near_dup_pairs(df, threshold=0.9).collect()}
        assert pairs == {(0, 2)}

    def test_huge_doc_subchunked_signature_matches(self, spark):
        """A document whose shingle count exceeds the chunk cap goes through
        the running-min sub-chunk path and must produce the same signature
        as the one-shot matrix path."""
        import numpy as np
        from sketchlib.dedup import minhash as M

        rng = np.random.default_rng(3)
        hashes = rng.integers(0, 1 << 63, size=5000, dtype=np.int64).astype(np.uint64)
        a, b = M._perm_params(16)
        starts = np.array([0], dtype=np.int64)
        ends = np.array([5000], dtype=np.int64)
        full = M._min_sigs(hashes, starts, ends, a, b)
        old = M._SIG_CHUNK_BYTES
        try:
            M._SIG_CHUNK_BYTES = 16 * 8 * 64  # force max_shingles=64
            small = M._min_sigs(hashes, starts, ends, a, b)
        finally:
            M._SIG_CHUNK_BYTES = old
        assert (full == small).all()


class TestHardenedHeaders:
    """Regression tests for the ANSI-mode header-parse crashes: one corrupt
    or sign-extended header field must degrade (skip/null), never abort the
    whole scan."""

    def test_topdown_bmp_negative_height_meta(self, spark):
        # top-down BMPs store height as a NEGATIVE int32; cast("int") of the
        # unsigned reconstruction was a CAST_OVERFLOW job-killer under
        # Spark 4 ANSI mode
        import struct

        from sketchlib.multimodal import media_meta_col
        from sketchlib.multimodal.media import decode_bmp, encode_bmp

        import numpy as np
        img = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
        bmp = bytearray(encode_bmp(img))
        h = struct.unpack_from("<i", bmp, 22)[0]
        struct.pack_into("<i", bmp, 22, -h)   # flip to top-down
        # flip row order so the decoded pixels stay identical
        df = spark.createDataFrame([(0, bytes(bmp))],
                                   "media_id long, payload binary")
        [row] = df.select(media_meta_col("payload").alias("m")).collect()
        assert row["m"]["height"] == h and row["m"]["width"] == 3

    def test_video_negative_duration_skipped_not_fatal(self, spark):
        # b[7]*2^56 overflowed long under ANSI for any high byte >= 0x80;
        # sequence() then raised on the negative duration — either way one
        # bad row aborted the job
        from sketchlib.multimodal.media import (pack_fake_video,
                                                sample_frames,
                                                video_meta_col)

        rows = [(0, pack_fake_video(4, 4, 1500, 7)),
                (1, pack_fake_video(4, 4, -1, 7)),          # negative
                (2, pack_fake_video(4, 4, 2**62, 7))]       # absurd
        df = spark.createDataFrame(rows, "media_id long, payload binary")
        meta = {r["media_id"]: r["m"]["duration_ms"] for r in
                df.select("media_id", video_meta_col("payload").alias("m"))
                .collect()}
        assert meta[0] == 1500 and meta[1] == -1 and meta[2] == 2**62
        got = {r["media_id"] for r in sample_frames(df, every_ms=500).collect()}
        assert got == {0}  # bad durations -> empty plan, job survives

    def test_wav_truncated_chunk_raises(self):
        import numpy as np

        from sketchlib.multimodal import decode_wav
        from sketchlib.multimodal.media import encode_wav

        wav = encode_wav(np.arange(64, dtype=np.int16).reshape(-1, 2), 8000)
        with pytest.raises(ValueError, match="truncated WAV chunk"):
            decode_wav(wav[:-5])

    def test_repetition_whitespace_wrapped_text(self, spark):
        # "\nhello world\n" used to tokenize to ['', hello, world, ''],
        # fabricating 3 2-grams and crowning ("", "hello") the top 2-gram
        from sketchlib.text.repetition import repetition_stats

        df = spark.createDataFrame(
            [(0, "\nhello world\n"), (1, "  \t \n "), (2, "one")],
            "doc_id long, text string")
        rows = {r["doc_id"]: r for r in repetition_stats(df).collect()}
        assert rows[0]["n_2grams"] == 1
        assert rows[0]["top_2gram_len"] == len("hello world")
        assert rows[1]["n_2grams"] == 0 and rows[1]["n_5grams"] == 0
        assert rows[2]["n_2grams"] == 0

    def test_dsir_empty_corpora_raise_clearly(self, spark):
        from sketchlib.text.dsir import fit_dsir

        empty = spark.createDataFrame([], "doc_id long, text string")
        with pytest.raises(ValueError, match="no features"):
            fit_dsir(empty, empty, buckets=None)

    def test_dsir_scores_token_temp_column_clash(self, spark):
        from sketchlib.text.dsir import dsir_scores, fit_dsir

        docs = spark.createDataFrame(
            [(i, f"some target text number {i}") for i in range(20)],
            "doc_id long, text string")
        model = fit_dsir(docs, docs, buckets=None)
        clash = docs.withColumn("__feats_t", F.lit("user data"))
        out = dsir_scores(clash, model)
        [row] = out.filter(F.col("doc_id") == 3).collect()
        assert row["__feats_t"] == "user data"  # user column survives

    def test_has_pii_null_text_false(self, spark):
        from sketchlib.text.pii import has_pii

        df = spark.createDataFrame([(0, None), (1, "mail me a@b.com")],
                                   "doc_id long, text string")
        got = {r["doc_id"]: r["f"] for r in
               df.select("doc_id", has_pii(F.col("text")).alias("f"))
               .collect()}
        assert got[0] is False and got[1] is True

    def test_pil_bomb_rejected_before_decode(self, monkeypatch):
        # dimension bound must fire from the HEADER (PIL .size), before
        # .convert() allocates the decompressed buffer
        import sketchlib.multimodal.media as media

        class _BombImg:
            size = (50_000, 3_000)

            def convert(self, mode):  # pragma: no cover - must not run
                raise AssertionError("decoded past the dimension bound")

        class _FakePIL:
            @staticmethod
            def open(buf):
                return _BombImg()

        monkeypatch.setattr(media, "_PIL_IMAGE", _FakePIL)
        with pytest.raises(ValueError, match="implausible image dimensions"):
            media.decode_image(b"\xff\xd8\xff\xe0" + b"\x00" * 16)


class TestDedupTextHardening:
    """Regression tests for the dedup/text review batch."""

    def test_min_sigs_chunk_boundary_mixed_sizes(self, monkeypatch):
        # a huge row sharing a chunk with a small one must produce the
        # SAME signatures as processing rows separately (the old
        # start-bounded chunking sliced the huge row in full, and with a
        # real-size cap that was an unbounded allocation)
        import numpy as np

        import sketchlib.dedup.minhash as mh

        rng = np.random.default_rng(5)
        lens = [3, 900, 2, 41, 700]
        hashes = rng.integers(0, 2**63, size=sum(lens), dtype=np.int64) \
            .astype(np.uint64)
        ends = np.cumsum(lens).astype(np.int64)
        starts = ends - np.array(lens, dtype=np.int64)
        a = (rng.integers(0, 2**62, 16, dtype=np.int64).astype(np.uint64)
             | np.uint64(1))
        b = rng.integers(0, 2**62, 16, dtype=np.int64).astype(np.uint64)
        want = mh._min_sigs(hashes, starts, ends, a, b)
        monkeypatch.setattr(mh, "_SIG_CHUNK_BYTES", 16 * 8 * 64)  # 64 shingles
        got = mh._min_sigs(hashes, starts, ends, a, b)
        assert np.array_equal(got, want)

    def test_simhash_rows_chunk_boundary_mixed_sizes(self, monkeypatch):
        import numpy as np

        import sketchlib.dedup.simhash as sh

        rng = np.random.default_rng(6)
        lens = [2, 500, 1, 30]
        hashes = rng.integers(0, 2**63, size=sum(lens), dtype=np.int64) \
            .astype(np.uint64)
        ends = np.cumsum(lens).astype(np.int64)
        starts = ends - np.array(lens, dtype=np.int64)
        want = sh._simhash_rows(hashes, starts, ends)
        monkeypatch.setattr(sh, "_BIT_CHUNK_BYTES", 64 * 4 * 32)  # 32 tokens
        got = sh._simhash_rows(hashes, starts, ends)
        assert np.array_equal(got, want)

    def test_strip_tracking_params_noop_on_clean_urls(self, spark):
        from sketchlib.text.urls import normalize_url, strip_tracking_params

        rows = [(0, "https://e.com/a&b"),        # legal & in path, no query
                (1, "https://e.com/x?"),          # dangling ? in input
                (2, "https://e.com/p?utm_source=x&q=1"),
                (3, "https://e.com/a&b?utm_source=x"),   # path-& + full strip
                (4, "https://e.com/p?utm_source=a&utm_medium=b&q=1"),
                (5, "https://e.com/p?utm_source=a#frag"),
                (6, "https://e.com/p?q=1&utm_source=a&r=2"),
                # odd-but-legal separators with NO tracking params must
                # pass through byte-identical (no separator "repair")
                (7, "https://e.com/p?a=1&&b=2"),
                (8, "https://e.com/p?a=1&"),
                (9, "https://e.com/p?&a=1")]
        df = spark.createDataFrame(rows, "i long, url string")
        got = {r["i"]: r["s"] for r in df.select(
            "i", strip_tracking_params(F.col("url")).alias("s")).collect()}
        assert got[0] == "https://e.com/a&b"      # path & never promoted
        assert got[1] == "https://e.com/x"        # empty query always dropped
        assert got[2] == "https://e.com/p?q=1"    # stripped + repaired
        assert got[3] == "https://e.com/a&b"      # path & survives full strip
        assert got[4] == "https://e.com/p?q=1"    # consecutive tracking params
        assert got[5] == "https://e.com/p#frag"   # fragment preserved
        assert got[6] == "https://e.com/p?q=1&r=2"  # mid-query strip
        assert got[7] == "https://e.com/p?a=1&&b=2"  # clean: && preserved
        assert got[8] == "https://e.com/p?a=1&"      # clean: trailing &
        assert got[9] == "https://e.com/p?&a=1"      # clean: leading &

    def test_normalize_url_schemeless_passthrough(self, spark):
        from sketchlib.text.urls import normalize_url

        rows = [(0, "example.com/page"), (1, "not a url"),
                (2, "HTTPS://WWW.E.com/x/")]
        df = spark.createDataFrame(rows, "i long, url string")
        got = {r["i"]: r["n"] for r in df.select(
            "i", normalize_url(F.col("url")).alias("n")).collect()}
        # malformed rows keep distinct keys instead of collapsing to ':/'
        assert got[0] == "example.com/page" and got[1] == "not a url"
        assert got[2] == "https://e.com/x"

    def test_vocab_growth_hash_id_range(self, spark):
        # 64-bit hash doc ids: span > Long.MAX must neither crash F.lit
        # nor wrap buckets negative
        from sketchlib.text.vocab import vocab_growth

        rows = [(-(2**62) - 5, "alpha beta"), (0, "beta gamma"),
                (2**62 + 7, "gamma delta")]  # span ~2^63 + 13 > Long.MAX
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = vocab_growth(df, n_buckets=4).collect()
        assert [r["bucket"] for r in got] == [0, 1, 2, 3]
        assert sum(r["n_docs"] for r in got) == 3
        assert got[-1]["cum_docs"] == 3
        assert got[-1]["est_cum_distinct_tokens"] >= 4  # alpha..delta

    def test_lsh_bands_exceeding_signature_raises(self, spark, docs_df):
        import pytest

        from sketchlib.dedup import near_dup_pairs

        with pytest.raises(Exception, match="bands=64 exceeds"):
            near_dup_pairs(docs_df, threshold=0.5, n_hashes=16,
                           bands=64).collect()

    def test_simhash_max_hamming_zero(self, spark, docs_df):
        from sketchlib.dedup.simhash import simhash_near_dup_pairs

        pairs = {(r["id_a"], r["id_b"])
                 for r in simhash_near_dup_pairs(
                     docs_df, max_hamming=0).collect()}
        assert (0, 1) in pairs  # case-dup -> identical simhash

    def test_boilerplate_tab_only_lines_survive(self, spark):
        from sketchlib.text.boilerplate import remove_boilerplate

        docs = spark.createDataFrame(
            [(i, f"unique head {i}\n\t\nshared promo line") for i in range(60)],
            "doc_id long, text string")
        out = {r["doc_id"]: r["clean_text"] for r in
               remove_boilerplate(docs, min_count=50).collect()}
        assert out[0] == "unique head 0\n\t"  # tab line kept, promo gone

    def test_tfidf_blank_docs_no_empty_keyword(self, spark):
        from sketchlib.text.tfidf import fit_idf, top_keywords

        rows = [(i, "real words appear here") for i in range(5)] \
            + [(100 + i, "   ") for i in range(20)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        model = fit_idf(df, vocab_size=10)
        assert "" not in set(map(str, model.tokens))
        kws = top_keywords(df, model, k=3)
        assert kws.filter(F.col("token") == "").count() == 0


class TestNearDupBetween:
    def _frames(self, spark):
        from pyspark.sql import Row
        corpus = [Row(doc_id=i, text=f"unique corpus doc {i} " * 8 +
                      f"tail {i}") for i in range(40)]
        # docs 100/101 are light perturbations of eval docs 0/1
        eval_rows = [
            Row(doc_id=0, text="the quick brown fox jumps over the lazy "
                               "dog again and again in the meadow"),
            Row(doc_id=1, text="pack my box with five dozen liquor jugs "
                               "before the long winter arrives early"),
            Row(doc_id=2, text="completely unrelated benchmark question "
                               "about astrophysics and neutron stars"),
        ]
        corpus.append(Row(doc_id=100, text="the quick  brown fox jumps "
                          "over the lazy dog again and again in the "
                          "meadow"))
        corpus.append(Row(doc_id=101, text="pack my box with five dozen "
                          "liquor jugs before the long winter arrives "
                          "early today"))
        return (spark.createDataFrame(corpus),
                spark.createDataFrame(eval_rows))

    def test_finds_cross_pairs_only(self, spark):
        from sketchlib.dedup.minhash import near_dup_between

        left, right = self._frames(spark)
        for bc in (True, False):
            got = {(r["id_left"], r["id_right"])
                   for r in near_dup_between(
                       left, right, threshold=0.6,
                       broadcast_right=bc).collect()}
            assert got == {(100, 0), (101, 1)}, bc

    def test_matches_exact_jaccard(self, spark):
        """Every reported pair's jaccard equals the exact value, and no
        above-threshold cross pair is missed on this well-separated set."""
        from sketchlib.dedup.minhash import near_dup_between, shingles_col

        left, right = self._frames(spark)
        got = {(r["id_left"], r["id_right"]): r["jaccard"]
               for r in near_dup_between(left, right,
                                         threshold=0.5).collect()}
        sh_l = left.select("doc_id", shingles_col(F.col("text")).alias("s"))
        sh_r = right.select(F.col("doc_id").alias("rid"),
                            shingles_col(F.col("text")).alias("t"))
        exact = {(r["doc_id"], r["rid"]): r["j"]
                 for r in sh_l.crossJoin(sh_r).select(
                     "doc_id", "rid",
                     (F.size(F.array_intersect("s", "t"))
                      / F.size(F.array_union("s", "t"))).alias("j"))
                 .filter(F.col("j") >= 0.5).collect()}
        assert got == exact

    def test_null_text_and_bucket_cap(self, spark):
        from pyspark.sql import Row

        from sketchlib.dedup.minhash import near_dup_between

        left, right = self._frames(spark)
        left = left.unionByName(spark.createDataFrame(
            [Row(doc_id=999, text=None)], "doc_id bigint, text string"))
        # max_bucket_right=0 drops every right bucket -> no candidates
        assert near_dup_between(left, right,
                                max_bucket_right=0).count() == 0
        assert near_dup_between(left, right,
                                threshold=0.6).count() == 2


class TestSimhashSharedSignatures:
    def test_precomputed_signatures_identical_pairs(self, spark):
        """simhash_near_dup_pairs(signatures=...) must return exactly the
        pairs of the compute-internally path — the parameter only removes
        the duplicated Python signature pass, never changes the result."""
        from sketchlib.dedup.simhash import (simhash_near_dup_pairs,
                                             simhash_signatures)

        rows = [(i, f"alpha beta gamma delta {i % 5} epsilon zeta")
                for i in range(60)]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        base = {(r["id_a"], r["id_b"], r["hamming"])
                for r in simhash_near_dup_pairs(docs, max_hamming=6).collect()}
        sig = simhash_signatures(docs, "text", "doc_id")
        shared = {(r["id_a"], r["id_b"], r["hamming"])
                  for r in simhash_near_dup_pairs(
                      docs, max_hamming=6, signatures=sig).collect()}
        assert shared == base and len(base) > 0
