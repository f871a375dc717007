"""North-star query suite over the generated pages table (largest local
scale): the four BASELINE.json queries end-to-end at local[32], reported as
docs/sec each and appended to BENCH/BASELINE.md.

    python scripts/bench_pages.py [--data .benchdata/pages24m] [--cpus 32]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--data", default=os.path.join(REPO, ".benchdata", "pages24m"))
    ap.add_argument("--cpus", default="32")
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--only", nargs="*", default=None,
                    help="run just the named queries (skips the report append)")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from sketchlib.spark.aggregate import HllSpec, distinct_count, estimate_col, sketch_agg
    from sketchlib.spark.heavy_hitters import heavy_hitters
    from sketchlib.spark.quantiles import approx_quantiles
    from sketchlib.spark.session import build_session
    from sketchlib.spark.specs import CmsSpec, TDigestSpec

    spark = build_session("sketchlib-bench-pages", local_cpus=args.cpus,
                          extra_conf={"spark.ui.enabled": "false",
                                      "spark.ui.showConsoleProgress": "false",
                                      "spark.driver.memory": "24g"})
    spark.sparkContext.setLogLevel("ERROR")
    df = spark.read.parquet(args.data)
    n_rows = df.count()

    host = F.try_parse_url(F.col("url"), F.lit("HOST"))

    def q_distinct_urls():
        return distinct_count(df, "url", ["lang", "day"]).count()

    def q_distinct_lang_hosts():
        with_host = df.withColumn("url_host", host)
        return distinct_count(with_host, ["lang", "url_host"], ["lang", "day"]).count()

    def q_heavy_hosts():
        with_host = df.withColumn("url_host", host)
        return heavy_hitters(with_host, "url_host", k=20, spec=CmsSpec()).count()

    def q_text_quantiles():
        with_len = df.withColumn("text_len", F.length("text").cast("double"))
        return approx_quantiles(with_len, "text_len", [0.5, 0.9, 0.99],
                                ["lang"], TDigestSpec()).count()

    def q_distinct_urls_prehash():
        return distinct_count(df, "url", ["lang", "day"], prehash64=True).count()

    def q_distinct_lang_hosts_prehash():
        with_host = df.withColumn("url_host", host)
        return distinct_count(with_host, ["lang", "url_host"], ["lang", "day"],
                              prehash64=True).count()

    # corpus-pipeline operators (round 2): quality filter, decontamination,
    # split assignment, per-host caps — full-table scans over the text/url
    # columns, reported as docs/sec like the sketch queries
    from sketchlib.sampling import cap_per_group, hash_split
    from sketchlib.text import contamination_report
    from sketchlib.text.gopher import gopher_filter

    def q_gopher_filter():
        return gopher_filter(df.select("url", "text"), min_words=10).count()

    def q_decontamination():
        eval_df = (df.filter(F.xxhash64("url") % 997 == 0)
                   .select("text"))  # ~0.1% of docs stand in for a benchmark
        return contamination_report(df.select("url", "text"), eval_df,
                                    id_col="url", n=13).count()

    def q_hash_split():
        return (hash_split(df.select("url"), "url",
                           {"train": 0.9, "val": 0.05, "test": 0.05})
                .groupBy("split").count().count())

    def q_host_cap():
        with_host = df.select("url", "lang", host.alias("url_host"))
        return cap_per_group(with_host, ["url_host"], 100, ["url"]).count()

    def q_repetition():
        from sketchlib.text.repetition import repetition_keep, repetition_stats
        return (repetition_stats(df.select("url", "text"), id_col="url")
                .select(repetition_keep()).filter("keep").count())

    # round-3 scrub operators
    def q_pii_scrub():
        from sketchlib.text.pii import with_pii_stats
        return (with_pii_stats(df.select("url", "text"), "text",
                               redact=False)
                .filter("n_pii > 0").count())

    def q_blocklist():
        from sketchlib.text.urls import filter_blocked_domains
        bl = spark.createDataFrame(
            [(f"blocked{i}.example.com",) for i in range(1000)], "d string")
        return filter_blocked_domains(df.select("url"), bl, "url").count()

    def q_lm_score():
        from sketchlib.text.lmscore import score_docs, train_unigram_lm
        lm = train_unigram_lm(df.select("text"), vocab_size=50_000)
        return (score_docs(df.select("url", "text"), lm)
                .filter("sum_logp_milli < 0").count())

    def q_boilerplate():
        from sketchlib.text.boilerplate import remove_boilerplate
        return (remove_boilerplate(df.select("url", "text"), min_count=1000)
                .filter("n_removed >= 0").count())

    def q_corpus_clean_e2e():
        # the full manifest job with every scrub stage on: annotate ->
        # blocklist -> PII -> exact dedup -> MinHash near-dup -> quality
        # -> LM tail.  One count() action = the whole DAG, LM train
        # included; url doubles as the doc id (pages-table shape).
        # persist_level is the stage-materialization boundary: without it
        # the lazy DAG re-executes annotate+exact-dedup per branch (the
        # unpersisted run exceeded 40 min at 24M rows and was abandoned).
        from sketchlib.jobs.corpus_job import clean_corpus
        bl = spark.createDataFrame(
            [(f"blocked{i}.example.com",) for i in range(1000)], "d string")
        man = clean_corpus(df.select("url", "text"), text_col="text",
                           id_col="url", min_quality=3, jaccard=0.8,
                           blocklist=bl, url_col="url", max_pii=2,
                           min_mean_logp_milli=-9000,
                           persist_level="DISK_ONLY")
        n = man.filter("keep").count()
        spark.catalog.clearCache()
        return n

    def q_quality_classifier():
        # fastText-style hashed-ngram quality filter at scale: fit the
        # 4096-bucket Naive Bayes table over the whole corpus (ONE
        # B-bounded shuffle; lang=='en' as the deterministic label),
        # then score + threshold-filter every document (pure whole-
        # stage-codegen gather at this B — nothing enters Python).
        # The synthetic pages text is generated independent of lang, so
        # the fitted model correctly predicts the majority class for
        # nearly every doc (out_rows ~ a handful of noise outliers);
        # the row measures train+score THROUGHPUT, not separability
        from sketchlib.text.classifier import (fit_quality_classifier,
                                               quality_scores)
        labeled = df.select("text", (F.col("lang") == "en").alias("label"))
        model = fit_quality_classifier(labeled, "label", buckets=4096)
        return (quality_scores(df.select("url", "text"), model,
                               keep_text=False)
                .filter("score_milli > 0").count())

    def q_bpe_tokenize():
        # tokenizer throughput at scale: train 256 merges (one map-side-
        # combined word-count shuffle + driver merge loop), then encode
        # the full corpus and count tokens (per-worker memoized Arrow UDF)
        from sketchlib.text.bpe import token_count_col, train_bpe
        model = train_bpe(df.select("text"), "text", n_merges=256,
                          min_count=2)
        return (df.select(token_count_col(F.col("text"), model).alias("n"))
                .agg(F.sum("n")).collect()[0][0])

    queries = {
        "distinct_urls_per_lang_day": q_distinct_urls,
        "distinct_urls_per_lang_day_prehash64": q_distinct_urls_prehash,
        "distinct_lang_host_per_lang_day": q_distinct_lang_hosts,
        "distinct_lang_host_per_lang_day_prehash64": q_distinct_lang_hosts_prehash,
        "heavy_hitter_hosts_top20": q_heavy_hosts,
        "text_len_quantiles_per_lang": q_text_quantiles,
        "gopher_filter": q_gopher_filter,
        "decontamination_vs_0.1pct_eval": q_decontamination,
        "hash_split_90_5_5": q_hash_split,
        "host_cap_100": q_host_cap,
        "repetition_stats_keep": q_repetition,
        "pii_scrub": q_pii_scrub,
        "blocklist_filter_1k": q_blocklist,
        "lm_train50k_and_score": q_lm_score,
        "boilerplate_removal_1k": q_boilerplate,
        "bpe_train256_encode_all": q_bpe_tokenize,
        "quality_classifier_fit_and_filter": q_quality_classifier,
        "corpus_clean_e2e_scrub": q_corpus_clean_e2e,
    }
    if args.only:
        queries = {k: v for k, v in queries.items() if k in set(args.only)}
    results = {}
    for name, fn in queries.items():
        walls = []
        out = None
        for _ in range(args.reps):
            t0 = time.time()
            out = fn()
            walls.append(time.time() - t0)
        wall = min(walls)
        results[name] = {"wall_sec": round(wall, 2),
                         "docs_per_sec": round(n_rows / wall, 1),
                         "out_rows": out}
        print(json.dumps({name: results[name]}), flush=True)
    spark.stop()

    if args.only:
        print(json.dumps({"suite": results, "rows": n_rows}))
        return 0

    path = os.path.join(REPO, "BENCH", "BASELINE.md")
    lines = [
        "",
        "## North-star query suite (pages table, local[{}], {:,} rows)".format(
            args.cpus, n_rows),
        "",
        "| query | wall (s) | docs/sec | output rows |",
        "|---|---|---|---|",
    ]
    for name, r in results.items():
        lines.append(f"| {name} | {r['wall_sec']} | {r['docs_per_sec']:,.0f} | "
                     f"{r['out_rows']} |")
    lines.append("")
    lines.append("_Regenerate: `python scripts/bench_pages.py`_")
    with open(path, "a") as f:
        f.write("\n".join(lines) + "\n")
    print(json.dumps({"suite": results, "rows": n_rows}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
