"""Plan audit: print `.explain(formatted)` for the key operators and assert
the scan-level properties the design claims (column pruning, partition
pruning, one exchange of sketch blobs, no cartesian products in sketch
paths).

Writes BENCH/PLANS.md. Run after any change to the aggregation layout:

    python scripts/explain_audit.py
"""

from __future__ import annotations

import io
import re
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def n_shuffles(p: str) -> int:
    """Count shuffle exchanges (NOT broadcasts) in a formatted plan.

    Formatted explain prints every node once in the tree and once as a
    "(n) Exchange" detail header; counting the numbered detail headers
    counts each physical node exactly once, and the ``Exchange\\b`` word
    boundary excludes ``BroadcastExchange`` (its header reads
    "(n) BroadcastExchange")."""
    return len(re.findall(r"\(\d+\) Exchange\b", p))


def main() -> None:
    from pyspark.sql import functions as F

    from sketchlib.spark.session import build_session

    spark = build_session("sketchlib-plan-audit", local_cpus=4,
                          extra_conf={"spark.ui.enabled": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    from sketchlib.data.pages import write_pages_parquet
    from sketchlib.dedup.minhash import near_dup_pairs
    from sketchlib.spark.aggregate import distinct_count
    from sketchlib.spark.heavy_hitters import heavy_hitters

    pages_dir = write_pages_parquet(os.path.join(REPO, ".benchdata", "pages"),
                                    n_rows=200_000, seed=42, n_days=4)
    pages = spark.read.parquet(pages_dir)
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")

    sections: list[tuple[str, str, list[str]]] = []

    # 1. flagship distinct per (lang, day) with a partition filter
    df = distinct_count(pages.filter(F.col("lang") == "en"), "url",
                        ["lang", "day"])
    p = plan_of(df)
    checks = []
    checks.append(("column pruning: scan reads only url/lang/day (html never "
                   "deserialized)", "ReadSchema" in p and "html" not in p))
    checks.append(("partition pruning: lang=en reaches PartitionFilters",
                   "PartitionFilters: [isnotnull(lang" in p or "lang#" in p.split("PartitionFilters", 1)[-1][:200]))
    checks.append(("exactly one shuffle exchange (the sketch-blob shuffle)",
                   n_shuffles(p) == 1))
    sections.append(("distinct_count(pages[lang=en], url, [lang, day])", p, checks))

    # 1b. prehash fast path: hash computed JVM-side before Python stage
    df = distinct_count(pages, "url", ["lang", "day"], prehash64=True)
    p = plan_of(df)
    checks = [("xxhash64 evaluated JVM-side (whole-stage codegen project)",
               "xxhash64" in p),
              ("raw url column never crosses to Python (only the 8-byte "
               "fingerprint column feeds mapInArrow)",
               "__fp64" in p),
              ("exactly one shuffle exchange (blobs)", n_shuffles(p) == 1)]
    sections.append(("distinct_count(pages, url, [lang, day], prehash64=True)",
                     p, checks))

    # 2. many-groups aggregation over lineitem
    df = distinct_count(li, "l_suppkey", ["l_orderkey"])
    p = plan_of(df)
    checks = [("scan reads only l_suppkey/l_orderkey",
               "l_comment" not in p and "l_extendedprice" not in p),
              ("exactly one shuffle exchange", n_shuffles(p) == 1)]
    sections.append(("distinct_count(lineitem, l_suppkey, [l_orderkey])", p, checks))

    # 3. heavy hitters single-pass final stage
    df = heavy_hitters(li, "l_suppkey", k=10)
    p = plan_of(df)
    checks = [("no cartesian product", "CartesianProduct" not in p),
              ("single grouped final pass (<=2 shuffle exchanges: "
               "candidate union + final group)", n_shuffles(p) <= 2)]
    sections.append(("heavy_hitters(lineitem, l_suppkey, k=10)", p, checks))

    # 4. minhash near-dup: bucket join, no cross join
    df = near_dup_pairs(docs, threshold=0.7)
    p = plan_of(df)
    checks = [("no cartesian product (bucketed band join)",
               "CartesianProduct" not in p)]
    sections.append(("near_dup_pairs(documents)", p, checks))

    # 5. IVF probed search: cluster IN-filter present, no cartesian product
    import numpy as np

    from sketchlib.similarity.ivf import ivf_assign, ivf_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    rng = np.random.default_rng(3)
    cents = rng.standard_normal((8, len(emb.select("embedding").first()[0])))
    assigned = ivf_assign(emb, cents)
    q0 = emb.limit(2).collect()
    df = ivf_topk(assigned, [(r["vec_id"], list(r["embedding"])) for r in q0],
                  cents, k=5, nprobe=2)
    p = plan_of(df)
    checks = [("probed-cluster IN filter present (partition-prunable when "
               "written partitionBy(cluster_id))",
               "cluster_id" in p and ("IN (" in p or "isin" in p or " IN " in p)),
              ("no cartesian product", "CartesianProduct" not in p)]
    sections.append(("ivf_topk(embeddings, nprobe=2) — materialized cluster_id",
                     p, checks))

    # in-scan assignment path (no materialized cluster_id column)
    df2 = ivf_topk(emb, [(r["vec_id"], list(r["embedding"])) for r in q0],
                   cents, k=5, nprobe=2)
    p2 = plan_of(df2)
    checks2 = [("single Python stage (assignment fused into the scan pass; "
                "no ArrowEvalPython)", "ArrowEvalPython" not in p2
                and p2.count("MapInArrow (") == 1),  # tree line only;
               # formatted explain repeats each node in the detail section
               ("no cartesian product", "CartesianProduct" not in p2)]
    sections.append(("ivf_topk(embeddings, nprobe=2) — in-scan assignment",
                     p2, checks2))

    # 5b. PQ: encode is map-only; the ADC scan reads ONLY (id, code) — the
    # float embedding column must never be deserialized (that pruning is
    # the whole point of PQ at scale); rerank candidates go through a
    # broadcast semi-join
    from sketchlib.similarity.pq import adc_topk, pq_encode, train_codebooks

    cb = train_codebooks(emb, m=8, ksub=16, method="first_ids",
                         id_col="vec_id")
    enc_df = pq_encode(emb, cb)
    p = plan_of(enc_df)
    checks = [("encode is map-only (no exchange)", "Exchange" not in p),
              ("single vectorized Python stage (ArrowEvalPython arrow_udf)",
               p.count("ArrowEvalPython (") == 1)]
    sections.append(("pq_encode(embeddings, first_ids codebook)", p, checks))

    # materialize the code table WITHOUT the vector column, as a deployed
    # PQ index table would be (codes are written next to cluster_id; the
    # float column stays in the base table for rerank only)
    codes_dir = os.path.join(REPO, ".benchdata", "pq_codes")
    (enc_df.select("vec_id", "pq_code")
     .write.mode("overwrite").parquet(codes_dir))
    codes_only = spark.read.parquet(codes_dir)
    qv = [(r["vec_id"], list(r["embedding"])) for r in q0]
    p = plan_of(adc_topk(codes_only, qv, cb, k=5))
    checks = [("ADC scan never touches the float embedding column "
               "(codes + LUT lookups only)", "embedding" not in p),
              ("no cartesian product", "CartesianProduct" not in p),
              ("one shuffle (the per-query rank window over "
               "fetch*partitions candidate rows)", n_shuffles(p) == 1)]
    sections.append(("adc_topk(codes, k=5) — no rerank", p, checks))

    p = plan_of(adc_topk(enc_df, qv, cb, k=5, rerank=50))
    checks = [("rerank restricts the full-precision column to ADC "
               "candidates via a broadcast semi-join",
               "LeftSemi" in p and "BroadcastExchange" in p),
              ("no cartesian product", "CartesianProduct" not in p)]
    sections.append(("adc_topk(embeddings, k=5, rerank=50)", p, checks))

    # 5c. DDSketch / FD two-stage agg: one blob-only exchange, like HLL
    from sketchlib.spark.aggregate import sketch_agg
    from sketchlib.spark.specs import DdSpec

    p = plan_of(sketch_agg(li, "l_extendedprice", ["l_returnflag"],
                           DdSpec(alpha=0.01)))
    checks = [("scan reads only the value + group columns",
               "l_comment" not in p and "l_orderkey" not in p),
              ("exactly one shuffle exchange (bucket-histogram blobs)",
               n_shuffles(p) == 1)]
    sections.append(("sketch_agg(lineitem, l_extendedprice, [l_returnflag], "
                     "DdSpec)", p, checks))

    # 5d. sessionization: gaps-and-islands in JVM window exprs — the lag
    # marker and the running sum share ONE window (one shuffle), and the
    # session_stats groupBy rides the same partitioning (no second
    # exchange); zero Python
    from sketchlib.spark.sessions import session_stats

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    p = plan_of(session_stats(ev, gap_seconds=1800))
    checks = [("one shuffle total: lag + cumsum share a window and the "
               "per-session groupBy reuses its hash partitioning",
               n_shuffles(p) == 1),
              ("no Python stage (pure JVM window/agg expressions)",
               not re.search(r"EvalPython|MapInPandas|MapInArrow"
                             r"|FlatMapGroupsIn", p)),
              ("scan reads only user/ts",
               "event_type" not in p and "props" not in p)]
    sections.append(("session_stats(events, gap=30min)", p, checks))

    # 6. per-group cap: Catalyst rank-limit pushdown pre-caps map-side
    from sketchlib.sampling import cap_per_group, hash_split

    df = cap_per_group(docs.select("doc_id", "lang", "source"),
                       ["lang", "source"], 3, ["doc_id"])
    p = plan_of(df)
    checks = [("map-side pre-cap: Partial WindowGroupLimit appears (before "
               "the exchange), so hub groups ship cap x partitions rows",
               "WindowGroupLimit" in p and "Partial" in p),
              # formatted explain prints each node twice (tree + detail
              # section), so ONE shuffle == exactly two "(n) Exchange"-style
              # mentions; count detail headers only and exclude broadcasts
              ("exactly one shuffle exchange",
               n_shuffles(p) == 1 and "BroadcastExchange" not in p),
              ("no Python stage", "Python" not in p and "MapIn" not in p)]
    sections.append(("cap_per_group(documents, [lang, source], 3)", p, checks))

    # 7. decontamination: eval grams broadcast; corpus never shuffled
    from sketchlib.text import contamination_report

    eval_df = docs.filter(F.col("doc_id") % 97 == 0).select("text")
    df = contamination_report(docs, eval_df, n=5)
    p = plan_of(df)
    checks = [("eval gram set ships as a broadcast (no shuffle of corpus "
               "gram rows into the join)",
               "BroadcastExchange" in p or "BroadcastHashJoin" in p),
              ("no sort-merge join on the gram column", "SortMergeJoin" not in p),
              ("no cartesian product", "CartesianProduct" not in p),
              ("no Python stage (JVM n-gram hashing)",
               "Python" not in p and "MapIn" not in p)]
    sections.append(("contamination_report(documents, eval, n=5)", p, checks))

    # 8. gopher filter + hash split: pure per-row projections — zero
    # exchanges, zero Python
    from sketchlib.text.gopher import gopher_filter

    p = plan_of(gopher_filter(docs, min_words=20))
    checks = [("no shuffle (per-row projection/filter composes with the scan)",
               "Exchange" not in p),
              ("no Python stage", "Python" not in p and "MapIn" not in p)]
    sections.append(("gopher_filter(documents)", p, checks))

    p = plan_of(hash_split(docs.select("doc_id"), "doc_id",
                           {"train": 0.8, "val": 0.1, "test": 0.1}))
    checks = [("no shuffle", "Exchange" not in p),
              ("no Python stage", "Python" not in p and "MapIn" not in p),
              ("split derives from xxhash64 in-plan", "xxhash64" in p)]
    sections.append(("hash_split(documents, 80/10/10)", p, checks))

    # 9. exact n-gram Jaccard: prefix-filtered candidate join, no cross
    # product; verify side re-shingles candidates only (left-semi prefilter)
    from sketchlib.dedup import ngram_jaccard_pairs

    p = plan_of(ngram_jaccard_pairs(docs, threshold=0.6))
    checks = [("no cartesian product (prefix-gram candidate join)",
               "CartesianProduct" not in p),
              ("verify sides re-shingle candidate ids only (two left-semi "
               "joins on the broadcast candidate-id set)",
               p.count("LeftSemi") >= 2),
              ("no Python stage (JVM shingles + xxhash64 gram keys)",
               "Python" not in p and "MapIn" not in p)]
    sections.append(("ngram_jaccard_pairs(documents, t=0.6)", p, checks))

    # 10. source mixing: the returned corpus plan is scan + codegen filter —
    # zero shuffles of the data (the O(#sources) mass agg is collected
    # before plan construction and enters as a literal map)
    from sketchlib.sampling import mix_by_source

    srcs = [r["source"] for r in docs.select("source").distinct().collect()]
    tw = {s: 1.0 / len(srcs) for s in srcs}
    p = plan_of(mix_by_source(docs, "source", tw, "doc_id", "n_chars"))
    checks = [("no shuffle of the corpus (keep thresholds are plan literals)",
               "Exchange" not in p),
              ("no Python stage", "Python" not in p and "MapIn" not in p),
              ("selection derives from xxhash64 in-plan", "xxhash64" in p)]
    sections.append(("mix_by_source(documents, uniform targets)", p, checks))

    # 11. PII scrub: single map-only Project, no shuffle, no Python
    from sketchlib.text.pii import with_pii_stats

    p = plan_of(with_pii_stats(docs, "text"))
    checks = [("map-only (no exchange)", "Exchange" not in p),
              ("no Python stage (JVM regexp exprs)",
               "Python" not in p and "MapIn" not in p)]
    sections.append(("with_pii_stats(documents)", p, checks))

    # 12. blocklist filter: broadcast left-anti, corpus never exchanged
    from sketchlib.text.urls import filter_blocked_domains

    urls = docs.select(
        "doc_id",
        F.concat(F.lit("https://h"), (F.col("doc_id") % 50).cast("string"),
                 F.lit(".example.org/p")).alias("url"))
    bl = spark.createDataFrame([("example.org",)], "d string")
    p = plan_of(filter_blocked_domains(urls, bl, "url"))
    non_bcast = [l for l in p.splitlines()
                 if re.search(r"\bExchange \(\d+\)", l)
                 and "Broadcast" not in l]
    checks = [("broadcast left-anti hash join",
               "BroadcastHashJoin" in p and "LeftAnti" in p),
              ("corpus side never exchanged (the single shuffle is the "
               "tiny blocklist distinct, keyed on __blockkey)",
               len(non_bcast) == 1
               and "hashpartitioning(__blockkey" in p)]
    sections.append(("filter_blocked_domains(urls, blocklist)", p, checks))

    # 13. LM scoring: zero-shuffle mapInArrow, JVM tokenization
    from sketchlib.text.lmscore import UnigramLM, score_docs

    lm = UnigramLM({"the": -1000}, -5000, 100, token_hashes={"the": 12345})
    p = plan_of(score_docs(docs.select("doc_id", "text"), lm))
    checks = [("zero-shuffle scoring (broadcast vocab dict)",
               "Exchange" not in p),
              ("tokenization stays JVM-side (split feeds the Python stage)",
               "split(" in p)]
    sections.append(("score_docs(documents, unigram_lm)", p, checks))

    # 14. boilerplate strip: zero-shuffle, JVM line split + hash
    from sketchlib.text.boilerplate import strip_boilerplate

    import numpy as np
    p = plan_of(strip_boilerplate(docs.select("doc_id", "text"),
                                  np.array([1, 2], dtype=np.int64)))
    checks = [("strip pass is map-only (frequent set rides a broadcast "
               "variable)", "Exchange" not in p),
              ("line hashing stays JVM-side (xxhash64 feeds the Python "
               "stage)", "xxhash64" in p)]
    sections.append(("strip_boilerplate(documents, frequent_hashes)", p,
                     checks))

    # 15. exact-substring span dedup: fully JVM (array exprs), no
    # cartesian product, map-side partial aggregation on the gram count
    from sketchlib.text.spandedup import remove_duplicate_spans

    p = plan_of(remove_duplicate_spans(docs.select("doc_id", "text"), n=5))
    checks = [("no Python stage anywhere (gram hashing, span merge, and "
               "token strip are all JVM expressions)",
               "Python" not in p and "MapIn" not in p),
              ("no cartesian product", "CartesianProduct" not in p),
              ("gram count has map-side partial aggregation (hot grams "
               "collapse before the shuffle)",
               "partial_count" in p)]
    sections.append(("remove_duplicate_spans(documents, n=5)", p, checks))

    # 16. SemDeDup: exactly one shuffle — the groupBy(cluster) feeding
    # the applyInArrow kernel
    from sketchlib.similarity.semdedup import semantic_dedup

    lab = emb.withColumn("label", (F.col("vec_id") % 8).cast("int"))
    p = plan_of(semantic_dedup(lab, cluster_col="label"))
    checks = [("exactly one shuffle exchange (groupBy cluster; clusters "
               "are the unit of parallelism)",
               len(re.findall(r"\(\d+\) Exchange\b", p)) == 1
               and "BroadcastExchange" not in p),
              ("single grouped-map Python stage",
               p.count("FlatMapGroupsInArrow (") == 1)]
    sections.append(("semantic_dedup(embeddings, cluster_col=label)", p,
                     checks))

    # 17. DSIR scoring: zero-shuffle mapInArrow over JVM-derived features
    from sketchlib.text.dsir import DsirModel, dsir_scores

    model = DsirModel(2, 64, np.zeros(64, dtype=np.int64), None, 0, 0.5)
    p = plan_of(dsir_scores(docs.select("doc_id", "text"), model,
                            keep_text=False))
    checks = [("zero-shuffle scoring (model table rides a broadcast "
               "variable)", "Exchange" not in p),
              ("feature hashing stays JVM-side (xxhash64 feeds the "
               "Python stage)", "xxhash64" in p)]
    sections.append(("dsir_scores(documents, bucket-mode model)", p, checks))

    # 18. TF-IDF keywords: one doc-term shuffle (map-side combined),
    # broadcast vocab join, rank-limit pushdown on the per-doc top-k
    from sketchlib.text.tfidf import IdfModel, top_keywords

    model = IdfModel(np.array(["the", "and"], dtype=object),
                     np.array([100, 200], dtype=np.int64), 2)
    p = plan_of(top_keywords(docs.select("doc_id", "text"), model, k=3))
    checks = [("vocab table ships as a broadcast (corpus never shuffles "
               "into the idf join)", "BroadcastHashJoin" in p),
              ("exactly one non-broadcast shuffle pair — doc-term count + "
               "the per-doc window (both hash by doc-side keys)",
               len(re.findall(r"\(\d+\) Exchange\b", p)) <= 2),
              ("doc-term count has map-side partial aggregation",
               "partial_count" in p),
              ("per-doc top-k pre-capped map-side (WindowGroupLimit)",
               "WindowGroupLimit" in p),
              # the vocab LocalTableScan prints "applySchemaToPythonRDD"
              # (driver-side createDataFrame), which is not an execution
              # stage — check for actual Python eval nodes
              ("no Python execution stage (JVM tokenizer + integer score)",
               not re.search(r"EvalPython|MapInPandas|MapInArrow"
                             r"|FlatMapGroupsIn", p))]
    sections.append(("top_keywords(documents, idf_model, k=3)", p, checks))

    # 19. table profiler: melted sketch scan — fingerprints computed in
    # whole-stage codegen BEFORE the explode, one blob shuffle for all
    # columns, no Python until the per-group blob merge
    from sketchlib.spark.aggregate import HllSpec, sketch_agg as _sk_agg
    from pyspark.sql import functions as _F

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    kv = _F.explode(_F.array(*[
        _F.struct(_F.lit(c).alias("column"),
                  _F.when(_F.col(c).isNotNull(), _F.xxhash64(c)).alias("h"))
        for c in ["o_custkey", "o_orderkey", "o_orderstatus"]])).alias("kv")
    melted = orders.select(kv).select("kv.column", "kv.h")
    p = plan_of(_sk_agg(melted, "h", ["column"], HllSpec(prehashed=True)))
    checks = [("scan reads only the profiled columns",
               "ReadSchema" in p and "o_totalprice" not in p
               and "o_comment" not in p),
              ("exactly one shuffle exchange for ALL profiled columns "
               "(blob-only; N columns != N shuffles)", n_shuffles(p) == 1),
              ("fingerprints are JVM expressions (xxhash64 inside the "
               "Generate/Project, before any Python stage)", "xxhash64" in p)]
    sections.append(("profile_columns(orders, 3 cols) — melted sketch scan",
                     p, checks))

    # 26. C4 cleaning rules: map-only, zero shuffle, zero Python
    from sketchlib.text.c4 import with_c4_stats

    df = with_c4_stats(docs)
    p = plan_of(df)
    checks = [("zero shuffle exchanges (pure per-row projection)",
               n_shuffles(p) == 0),
              ("zero Python stages (whole-stage-codegen expressions only)",
               "EvalPython" not in p and "mapInArrow" not in p
               and "FlatMapsInPandas" not in p and "InPandas" not in p)]
    sections.append(("with_c4_stats(documents) — C4 line/page rules", p, checks))

    # 27. paragraph dedup: winner agg is partial-aggregable (map-side
    # combine on the hot boilerplate fingerprint), no cartesian product,
    # fingerprints computed JVM-side
    from sketchlib.dedup.paragraphs import dedup_paragraphs

    df = dedup_paragraphs(docs)
    p = plan_of(df)
    checks = [("no cartesian product (fingerprint equi-join)",
               "CartesianProduct" not in p),
              ("winner computed with a partial aggregate (map-side combine "
               "collapses repeated paragraphs BEFORE the shuffle)",
               "partial_min" in p or "partial_finalmerge_min" in p),
              ("paragraph fingerprint is a JVM expression (xxhash64 before "
               "any exchange)", "xxhash64" in p),
              ("zero Python stages", "EvalPython" not in p
               and "InPandas" not in p)]
    sections.append(("dedup_paragraphs(documents)", p, checks))

    # 28. CountSketch build: same blob-only single-shuffle shape as every
    # sketch family through sketch_agg
    from sketchlib.spark.aggregate import sketch_agg
    from sketchlib.spark.specs import AmsSpec

    df = sketch_agg(li, "l_suppkey", (), AmsSpec(width=1 << 10, depth=5))
    p = plan_of(df)
    checks = [("scan reads only l_suppkey",
               "l_comment" not in p and "l_extendedprice" not in p),
              ("exactly one shuffle exchange (the sketch-blob shuffle)",
               n_shuffles(p) == 1)]
    sections.append(("sketch_agg(lineitem, l_suppkey, AmsSpec) — "
                     "CountSketch build", p, checks))

    # 29. ComboSpec: TWO sketch families, still one scan + one shuffle
    from sketchlib.spark.specs import ComboSpec, ThetaSpec

    df = sketch_agg(li, "l_suppkey", (),
                    ComboSpec([ThetaSpec(k=1024),
                               AmsSpec(width=1 << 10, depth=5)]))
    p = plan_of(df)
    checks = [("one scan (a second family costs no corpus re-read)",
               p.count(") Scan parquet") == 1),
              ("exactly one shuffle exchange for BOTH families",
               n_shuffles(p) == 1)]
    sections.append(("sketch_agg(lineitem, l_suppkey, ComboSpec[theta, ams])",
                     p, checks))

    # 30. balanced_sort: hash-partitioned on the relabeled bucket —
    # NO rangepartitioning exchange (that node is what triggers Spark's
    # separate boundary-sampling job), bucket ids via codegen CASE WHEN
    from sketchlib.spark.ranges import balanced_sort

    df = balanced_sort(li.select(F.col("l_extendedprice").cast("double")
                                 .alias("price")), "price", 16)
    p = plan_of(df)
    checks = [("no rangepartitioning exchange (so no RangePartitioner "
               "sampling job)", "rangepartitioning" not in p),
              ("exactly one shuffle exchange (the bucket repartition)",
               n_shuffles(p) == 1),
              ("bucket WHEN-tree is a codegen CASE WHEN, no Python stage",
               "CASE WHEN" in p and "ArrowEvalPython" not in p
               and "BatchEvalPython" not in p)]
    sections.append(("balanced_sort(lineitem.price, 16) — sketch-driven "
                     "range partitioning", p, checks))

    # 31. cuckoo membership: width-capped merge tree on the build side,
    # map-only broadcast-blob probe on the filter side
    from sketchlib.spark.membership import (cuckoo_build,
                                            cuckoo_build_bytes,
                                            filter_might_contain)
    from sketchlib.spark.specs import CuckooSpec

    cspec = CuckooSpec(n_buckets=1 << 14)
    df = cuckoo_build(li.select("l_suppkey"), "l_suppkey", spec=cspec)
    p = plan_of(df)
    checks = [("scan reads only the element column",
               "l_extendedprice" not in p and "l_comment" not in p),
              ("blob-only shuffles (raw keys never shuffled): every "
               "exchange moves sketch blobs through the capped merge tree",
               "CartesianProduct" not in p and n_shuffles(p) <= 3)]
    sections.append(("cuckoo_build(lineitem, l_suppkey)", p, checks))

    blob = cuckoo_build_bytes(li.select("l_suppkey").distinct(),
                              "l_suppkey", spec=cspec)
    df = filter_might_contain(li, "l_suppkey", blob, spec=cspec)
    p = plan_of(df)
    checks = [("probe is map-only (zero shuffle exchanges; the blob ships "
               "by broadcast, the corpus never moves)", n_shuffles(p) == 0),
              ("no cartesian product", "CartesianProduct" not in p)]
    sections.append(("filter_might_contain(lineitem, cuckoo blob)", p,
                     checks))

    # 32. Bloom-pruned join: the probe is a map-side Python filter under
    # the join (placement-below-join is plan-asserted in
    # tests/test_joinprune.py on the optimized plan); with broadcast_dim
    # the whole plan is exchange-free
    from sketchlib.spark.joinprune import key_bloom, pruned_join
    from sketchlib.spark.specs import BloomSpec

    part = spark.read.parquet(f"{SF_DIR}/part.parquet")
    dim = (part.filter(F.col("p_size") < 10)
           .select(F.col("p_partkey").alias("l_partkey"), "p_brand"))
    bspec = BloomSpec(m_bits=1 << 16)
    jblob = key_bloom(dim, "l_partkey", bspec)
    # pin the SMJ shape: the point of this section is the shuffle-join
    # baseline a too-big-to-broadcast dim forces (the gate-scale dim
    # would otherwise auto-broadcast)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p = plan_of(pruned_join(li.select("l_partkey", "l_quantity"), dim,
                                "l_partkey", "inner", blob=jblob,
                                spec=bspec))
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    checks = [("Bloom probe runs as a vectorized Python filter on the "
               "fact side", "ArrowEvalPython" in p),
              ("probe NOT duplicated onto the dim side (opaque probe: "
               "Catalyst filter inference would copy it across the "
               "equi-join — one Python stage total)",
               p.count("ArrowEvalPython (") == 1),
              ("exactly the two join-side exchanges (no extra shuffle "
               "introduced by the probe)", n_shuffles(p) == 2),
              ("no cartesian product", "CartesianProduct" not in p)]
    sections.append(("pruned_join(lineitem, part[p_size<10], inner) — "
                     "SMJ on survivors", p, checks))

    p = plan_of(pruned_join(li.select("l_partkey", "l_quantity"), dim,
                            "l_partkey", "inner", blob=jblob, spec=bspec,
                            broadcast_dim=True))
    checks = [("probe + broadcast join: ZERO shuffle exchanges end to end",
               n_shuffles(p) == 0),
              ("broadcast hash join on the survivors",
               "BroadcastHashJoin" in p)]
    sections.append(("pruned_join(..., broadcast_dim=True) — exchange-free",
                     p, checks))

    p = plan_of(pruned_join(li.select("l_partkey", "l_quantity"),
                            dim.select("l_partkey"), "l_partkey",
                            "left_anti", blob=jblob, spec=bspec))
    checks = [("split-union plan: probe-false rows bypass the join "
               "entirely (Union of map-only branch + exact anti-join)",
               "Union" in p and "LeftAnti" in p),
              ("no cartesian product", "CartesianProduct" not in p)]
    sections.append(("pruned_join(lineitem, dim, left_anti) — split-union",
                     p, checks))

    # 33. cross-corpus fuzzy near-dup: candidate generation is a
    # broadcast join against the benchmark side's banded table — the
    # corpus side reaches the candidate join without any exchange
    from sketchlib.dedup.minhash import near_dup_between

    bench = docs.filter(F.col("doc_id") % 41 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text")
    p = plan_of(near_dup_between(docs.select("doc_id", "text"), bench,
                                 threshold=0.8))
    n_bhj = p.count("BroadcastHashJoin")
    checks = [("candidate generation joins the broadcast benchmark "
               "buckets (no corpus shuffle into the LSH join)",
               n_bhj >= 1 and "CartesianProduct" not in p),
              ("verify side prefilters by broadcast candidate-id "
               "semi-joins", "LeftSemi" in p)]
    sections.append(("near_dup_between(documents, bench) — cross-corpus "
                     "fuzzy near-dup", p, checks))

    # 34. host link graph: extraction must be pure codegen (regex + explode
    # + parse inside WholeStageCodegen), with the single shuffle being the
    # (src_host, dst_host) aggregate — page payloads never shuffle
    from sketchlib.graph.links import host_edges

    pages_links = pages.select(
        "url",
        F.concat(F.lit('<a href="https://out'),
                 (F.xxhash64("url") % 50).cast("string"),
                 F.lit('.example.com/x">l</a>')).alias("html"))
    p = plan_of(host_edges(pages_links))
    checks = [("one shuffle: the (src_host, dst_host) count aggregate",
               n_shuffles(p) == 1),
              ("extraction stays JVM-side (no Python evals in the plan)",
               "Python" not in p and "BatchEvalPython" not in p),
              ("map-side partial aggregation before the exchange",
               p.count("HashAggregate") >= 2)]
    sections.append(("host_edges(pages) — link extraction + host graph",
                     p, checks))

    # 35. one HyperBall relaxation round: edges ⋈ counters feeding the
    # grouped blob merge — shuffles carry edge rows and sketch blobs only
    from sketchlib.spark.aggregate import HllSpec, merge_partials, sketch_agg

    hb_edges = li.select((F.col("l_suppkey") * 2).alias("u"),
                         (F.col("l_partkey") * 2 + 1).alias("v")).distinct()
    hb_edges = hb_edges.localCheckpoint(eager=True)
    spec = HllSpec()
    nodes0 = (hb_edges.select(F.col("u").alias("node"))
              .unionByName(hb_edges.select(F.col("v").alias("node")))
              .distinct())
    counters = sketch_agg(nodes0, "node", ["node"], spec).localCheckpoint(eager=True)
    contrib = (hb_edges.join(counters, hb_edges["v"] == counters["node"])
               .select(hb_edges["u"].alias("node"), "sketch"))
    from sketchlib.spark.aggregate import premerge_partials

    pre = premerge_partials(counters.unionByName(contrib), ["node"], spec)
    p = plan_of(merge_partials(pre, ["node"], spec))
    checks = [("no cartesian product in the relaxation join",
               "CartesianProduct" not in p),
              ("map-side blob combine runs as a narrow MapInArrow pass "
               "below the merge exchange", "MapInArrow" in p),
              ("grouped blob merge collects map-side before its exchange "
               "(ObjectHashAggregate partial_collect_list)",
               "partial_collect_list" in p or p.count("ObjectHashAggregate") >= 2),
              ("at most the join + merge exchanges (premerge adds none)",
               n_shuffles(p) <= 2)]
    sections.append(("hyperball round — edges ⋈ counters + premerge + "
                     "merge_partials", p, checks))

    # 36. rolling merge over a stored per-(lang, day) sketch table: one
    # shuffle of blobs into one Python fold pass — no explode of contributions
    # and no broadcast join against the anchors
    from sketchlib.spark.aggregate import rolling_merge

    daily = sketch_agg(pages.withColumn("d", F.dayofyear("day")), "url",
                       ["lang", "d"], spec).localCheckpoint(eager=True)
    p = plan_of(rolling_merge(daily, "d", 3, spec, ["lang"]))
    checks = [("exactly one Exchange (repartition by the group columns)",
               n_shuffles(p) == 1),
              ("no Generate (contributions are not exploded)",
               "Generate" not in p),
              ("no BroadcastHashJoin (no anchor semi-join)",
               "BroadcastHashJoin" not in p),
              ("exactly one MapInArrow (the window fold)",
               len(re.findall(r"\(\d+\) MapInArrow\b", p)) == 1)]
    sections.append(("rolling_merge(daily[lang, d], d, window=3, [lang])",
                     p, checks))

    # 37. salted merge tree: its depth follows the partial count — one
    # salted round below the final merge at 16 partials and fanout 4, and
    # the flat merge's plan at no more partials than the fanout
    from sketchlib.spark.aggregate import build_partials
    from sketchlib.spark.skew import tree_merge_partials

    def no_ids(plan: str) -> str:
        return re.sub(r"#\d+|\bpythonUDF\d+|\[plan_id=\d+\]", "#", plan)

    partials16 = build_partials(pages.repartition(16), "url", ["lang"],
                                spec).localCheckpoint(eager=True)
    p = plan_of(tree_merge_partials(partials16, ["lang"], spec, fanout=4))
    salted = re.findall(r"hashpartitioning\([^)]*__salt", p)
    checks = [("two shuffles: one salted blob round, then the final merge",
               n_shuffles(p) == 2),
              ("exactly one exchange hashes on the salt", len(salted) == 1),
              ("one merge UDF per round",
               len(re.findall(r"\(\d+\) ArrowEvalPython\b", p)) == 2)]
    partials4 = partials16.coalesce(4)
    flat4 = plan_of(tree_merge_partials(partials4, ["lang"], spec, fanout=4))
    checks.append(("4 partials at fanout 4: the flat merge_partials plan",
                   no_ids(flat4) == no_ids(plan_of(
                       merge_partials(partials4, ["lang"], spec)))))
    sections.append(("tree_merge_partials(partials[16 partitions], [lang], "
                     "fanout=4)", p, checks))

    out = ["# BENCH/PLANS — physical-plan audit",
           "",
           "Generated by `python scripts/explain_audit.py`. Each section is "
           "the `.explain(formatted)` of a key operator plus the asserted "
           "scan/shuffle properties.",
           ""]
    failed = 0
    for title, p, checks in sections:
        out.append(f"## {title}")
        out.append("")
        for desc, ok in checks:
            mark = "PASS" if ok else "FAIL"
            failed += 0 if ok else 1
            out.append(f"- **{mark}** {desc}")
            print(f"{mark}: {title}: {desc}")
        out.append("")
        out.append("```")
        out.append(p.strip())
        out.append("```")
        out.append("")
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote BENCH/PLANS.md ({failed} failed checks)")
    spark.stop()
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
