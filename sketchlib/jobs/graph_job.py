"""Host-graph analytics job: pages -> link graph -> PageRank + HyperBall.

Usage (spark-submit --py-files sketchlib.zip sketchlib/jobs/graph_job.py ...):

    python -m sketchlib.jobs.graph_job \
        --input /data/pages --output /out/host_graph \
        [--edges-only] [--pagerank-iters 10] [--max-r 8] [--hll-p 12] \
        [--seeds /data/good_hosts.parquet]

Outputs under ``--output``:

    edges/       (src_host, dst_host, n_links)   — the host link graph
    pagerank/    (node, rank)                    — integer micro-unit ranks
                 (personalized when --seeds points at a parquet of hosts)
    centrality/  (node, reachable, total_dist, lin_index, harmonic)
    summary.json — |V|, |E|, effective diameter, neighborhood function

Scale shape: the edge build is one scan + one shuffle (payloads never
move); both iterative stages loop over the persisted edge table only.
The edge table is written first and re-read, so a failed iterative stage
restarts from the materialized graph instead of re-scanning the corpus —
the same stage-boundary pattern as jobs/corpus_job.py.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import functions as F

from sketchlib.spark.session import build_session


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="pages parquet directory")
    ap.add_argument("--output", required=True)
    ap.add_argument("--cpus", default=None,
                    help="local[N] for tests; omit under spark-submit")
    ap.add_argument("--edges-only", action="store_true")
    ap.add_argument("--pagerank-iters", type=int, default=10)
    ap.add_argument("--max-r", type=int, default=8)
    ap.add_argument("--hll-p", type=int, default=12,
                    help="HyperBall counter precision (12 -> 4 KB dense, "
                         "1.6%% std error; see docs/RUNBOOK.md)")
    ap.add_argument("--seeds", default=None,
                    help="parquet with a host column -> personalized PageRank")
    ap.add_argument("--seed-col", default="host")
    args = ap.parse_args(argv)

    from sketchlib.graph.hyperball import (
        closeness_centrality,
        effective_diameter,
        harmonic_centrality,
        hyperball,
    )
    from sketchlib.graph.links import host_edges
    from sketchlib.graph.pagerank import pagerank
    from sketchlib.spark.aggregate import HllSpec

    spark = build_session("sketchlib-graph-job", local_cpus=args.cpus)
    pages = spark.read.parquet(args.input)

    edges_path = f"{args.output}/edges"
    host_edges(pages).write.mode("overwrite").parquet(edges_path)
    edges = spark.read.parquet(edges_path)
    e = edges.select(F.col("src_host").alias("u"),
                     F.col("dst_host").alias("v"))
    n_edges = e.count()
    n_nodes = (e.select(F.col("u").alias("n"))
               .unionByName(e.select(F.col("v").alias("n")))
               .distinct().count())
    summary = {"n_hosts": n_nodes, "n_edges": n_edges}

    if not args.edges_only:
        seeds = None
        if args.seeds:
            seeds = (spark.read.parquet(args.seeds)
                     .select(F.col(args.seed_col).alias("node")))
        pr = pagerank(e, n_iter=args.pagerank_iters, seeds=seeds)
        pr.write.mode("overwrite").parquet(f"{args.output}/pagerank")

        spec = HllSpec(p=args.hll_p)
        balls = hyperball(e, args.max_r, spec=spec, directed=True)
        balls = balls.persist()
        cent = (closeness_centrality(balls)
                .join(harmonic_centrality(balls), "node"))
        cent.write.mode("overwrite").parquet(f"{args.output}/centrality")
        nf = (balls.groupBy("r")
              .agg(F.sum(F.col("ball_est").cast("double"))
                   .alias("n_pairs_est"))
              .orderBy("r"))
        nf_rows = [(r["r"], r["n_pairs_est"]) for r in nf.collect()]
        summary["neighborhood_function"] = nf_rows
        summary["r_eff"] = max((r for r, _ in nf_rows), default=0)
        summary["effective_diameter_090"] = effective_diameter(nf_rows)
        balls.unpersist()

    # local path only in tests; on a cluster write the summary next to the
    # job's other outputs with your object-store client of choice
    with open(f"{args.output}/summary.json", "w") as fh:
        json.dump(summary, fh)
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
