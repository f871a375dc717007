"""North-star queries over the pages table, checkpointed & resumable.

Usage (spark-submit --py-files sketchlib.zip sketchlib/jobs/pages_job.py ...):

    python -m sketchlib.jobs.pages_job \
        --input /data/pages --checkpoint /ckpt/distinct_urls \
        --query distinct-urls --output /out/distinct_urls

Queries (BASELINE.json north_star):
    distinct-urls      HLL distinct url per (lang, day)
    distinct-hosts     HLL distinct (lang, url_host) per (lang, day)
    heavy-hosts        count-min top-k hosts (global)
    text-quantiles     t-digest text-length quantiles per lang

The unit of checkpointing is ``day`` (a partition directory): each day's
stage-1 partials land in the checkpoint with a lineage record; a re-run skips
committed days and the final merge is bit-identical to an uninterrupted run.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sketchlib.spark.session import build_session


def _host(col):
    """Canonical host identity — sketchlib.text.urls.url_host (lowercase,
    www-stripped), NOT a bare parse_url: case/www variants of one host
    must count as ONE distinct host and pool their heavy-hitter mass, and
    corpus_job already keys domains through the same module."""
    from sketchlib.text.urls import url_host

    return url_host(col)


def list_days(spark: SparkSession, input_dir: str) -> list[str]:
    from sketchlib.data.tables import PagesTable

    return PagesTable(input_dir).days(spark)


def day_source(spark: SparkSession, input_dir: str, query: str):
    """Partition-pruned, column-pruned per-day reader (scan never touches
    ``html``; Catalyst prunes both the day partition and the columns).
    ``input_dir`` may be a Parquet directory or ``iceberg:<catalog.db.table>``
    (sketchlib.data.tables.PagesTable)."""
    from sketchlib.data.tables import PagesTable

    table = PagesTable(input_dir)
    cols = {
        "distinct-urls": ["url", "lang", "day"],
        "distinct-hosts": ["url", "lang", "day"],
        "heavy-hosts": ["url", "day"],
        "text-quantiles": ["text", "lang", "day"],
    }[query]

    def source(day: str) -> DataFrame:
        df = table.read_partition(spark, day=day).select(*cols)
        if query in ("distinct-hosts", "heavy-hosts"):
            df = df.withColumn("url_host", _host(F.col("url")))
        if query == "text-quantiles":
            df = df.withColumn("text_len", F.length("text").cast("double"))
        return df

    return source


def make_checkpoint(query: str, checkpoint_dir: str):
    from sketchlib.spark.aggregate import HllSpec
    from sketchlib.spark.checkpoint import HeavyHittersCheckpoint, SketchCheckpoint
    from sketchlib.spark.specs import CmsSpec, TDigestSpec

    if query == "distinct-urls":
        return SketchCheckpoint(checkpoint_dir, HllSpec(), ["url"], ["lang", "day"])
    if query == "distinct-hosts":
        return SketchCheckpoint(checkpoint_dir, HllSpec(), ["lang", "url_host"],
                                ["lang", "day"])
    if query == "heavy-hosts":
        return HeavyHittersCheckpoint(checkpoint_dir, CmsSpec(), "url_host",
                                      [], k=20)
    if query == "text-quantiles":
        return SketchCheckpoint(checkpoint_dir, TDigestSpec(), ["text_len"], ["lang"])
    raise ValueError(f"unknown query {query}")


def finalize(spark: SparkSession, query: str, ckpt) -> DataFrame:
    from sketchlib.spark.aggregate import estimate_col
    from sketchlib.spark.quantiles import quantiles_col

    merged = ckpt.result(spark)
    if query in ("distinct-urls", "distinct-hosts"):
        name = "distinct_urls" if query == "distinct-urls" else "distinct_hosts"
        return merged.select(*ckpt.group_cols, estimate_col(ckpt.spec).alias(name))
    if query == "heavy-hosts":
        return merged  # (url_host, est_count, lower_bound) top-k table
    return merged.select(*ckpt.group_cols,
                         quantiles_col(ckpt.spec, [0.5, 0.9, 0.99]).alias("text_len_q"))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--query", required=True,
                    choices=["distinct-urls", "distinct-hosts", "heavy-hosts",
                             "text-quantiles"])
    ap.add_argument("--local-cpus", default=None,
                    help="run on local[N] (omit on a real cluster)")
    args = ap.parse_args(argv)

    preexisting = SparkSession.getActiveSession() is not None
    spark = build_session(f"pages-{args.query}", local_cpus=args.local_cpus)
    days = list_days(spark, args.input)
    ckpt = make_checkpoint(args.query, args.checkpoint)
    summary = ckpt.run(spark, day_source(spark, args.input, args.query), days)
    result = finalize(spark, args.query, ckpt)
    result.write.mode("overwrite").parquet(args.output)
    print(json.dumps({"query": args.query, "days": len(days),
                      "skipped_committed": summary["skipped"],
                      "ran": summary["ran"],
                      "lineage_records": len(ckpt.lineage()),
                      "output": args.output}))
    if not preexisting:  # don't tear down a session we merely joined
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
