"""Web-graph surface at local scale: link extraction + host graph over the
24M-row pages table, and HyperBall over the resulting host graph.

    python scripts/bench_graph.py [--data .benchdata/pages24m] [--cpus 32]

Measures
  link_extract   — regexp_extract_all + explode + url_host + host-edge
                   aggregate over 24M pages (links synthesized into the html
                   column JVM-side so the measured work includes real regex
                   extraction on real-sized payloads), reported as docs/sec;
  hyperball_r    — per-relaxation-round wall on the extracted host graph
                   (nodes = distinct hosts, edges = host pairs), the number
                   that scales linearly in |E| on a cluster.

Appends a section to BENCH/BASELINE.md with --report.
"""

from __future__ import annotations

import argparse
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
    ap.add_argument("--max-r", type=int, default=4)
    ap.add_argument("--synth-nodes", type=int, default=2_000_000)
    ap.add_argument("--synth-degree", type=int, default=5)
    ap.add_argument("--synth-only", action="store_true",
                    help="skip the 24M extraction stages (scaling sweeps)")
    ap.add_argument("--report", action="store_true",
                    help="append the results to BENCH/BASELINE.md")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from sketchlib.graph.hyperball import hyperball
    from sketchlib.graph.links import host_edges
    from sketchlib.spark.session import build_session

    spark = build_session("sketchlib-bench-graph", local_cpus=args.cpus,
                          extra_conf={"spark.ui.enabled": "false",
                                      "spark.ui.showConsoleProgress": "false",
                                      "spark.driver.memory": "24g"})
    spark.sparkContext.setLogLevel("ERROR")

    if args.synth_only:
        n_rows = n_edges = n_nodes = 0
        best = hb_wall = float('nan')
        r_eff = rounds = 0
    else:
        pages = spark.read.parquet(args.data)
        n_rows = pages.count()

        # Zipf-ish outlink targets derived from the url hash: 3 links/page into
        # a 100k-host universe with hub skew (hash % 1000 == 0 -> a top-10 hub),
        # exercising the aggregate's skew path the way real link graphs do.
        h = F.abs(F.xxhash64("url"))
        link = lambda salt, mod: F.concat(  # noqa: E731
            F.lit('<p>filler</p><a href="https://out'),
            F.when((h + salt) % 1000 < 10, ((h + salt) % 10).cast("string"))
             .otherwise(((h + salt) % mod).cast("string")),
            F.lit('.example.com/x?p='), ((h + salt) % 97).cast("string"),
            F.lit('">link</a>'))
        linked = pages.select(
            "url",
            F.concat(F.col("html").cast("string"), link(F.lit(1), F.lit(100_000)),
                     link(F.lit(7), F.lit(100_000)),
                     link(F.lit(13), F.lit(1_000))).alias("html"))

        # timed reps run UNPERSISTED (persisting inside the loop would let rep 2
        # hit the block cache through Spark's plan-identity reuse and report a
        # bogus wall); the persisted copy for the hyperball stage is built after
        best = float("inf")
        for _ in range(args.reps):
            t0 = time.time()
            n_edges = host_edges(linked).count()
            best = min(best, time.time() - t0)
        rate = n_rows / best
        print(f"link_extract: {n_rows} pages -> {n_edges} host edges "
              f"in {best:.1f}s = {rate / 1e6:.2f}M docs/s")

        edges_cached = host_edges(linked).persist()
        edges_cached.count()
        e = edges_cached.select(F.col("src_host").alias("u"),
                                F.col("dst_host").alias("v"))
        n_nodes = (e.select(F.col("u").alias("n"))
                   .unionByName(e.select(F.col("v").alias("n")))
                   .distinct().count())
        t0 = time.time()
        balls = hyperball(e, args.max_r, directed=True)
        n_ball_rows = balls.count()
        hb_wall = time.time() - t0
        r_eff = balls.agg(F.max("r")).collect()[0][0]
        rounds = max(r_eff, 1)
        print(f"hyperball: |V|={n_nodes} |E|={n_edges} max_r={args.max_r} "
              f"r_eff={r_eff} -> {n_ball_rows} ball rows in {hb_wall:.1f}s "
              f"({hb_wall / rounds:.1f}s/round)")

    # deep synthetic graph: random ~degree-regular digraph on N nodes
    # (diameter ~ log_degree(N)), so every round up to max_r is a full
    # |E|-blob relaxation — the per-round number that scales in |E|
    n, k = args.synth_nodes, args.synth_degree
    base = spark.range(n)
    cols = [F.pmod(F.xxhash64(F.col("id"), F.lit(s)), F.lit(n)).alias(f"v{s}")
            for s in range(k)]
    synth = (base.select(F.col("id").alias("u"), *cols)
             .selectExpr("u", f"stack({k}, " +
                         ", ".join(f"v{s}" for s in range(k)) + ") AS v"))
    t0 = time.time()
    sballs = hyperball(synth, args.max_r, directed=True)
    sn = sballs.count()
    s_wall = time.time() - t0
    s_reff = sballs.agg(F.max("r")).collect()[0][0]
    s_rounds = max(s_reff, 1)
    s_edges = n * k
    print(f"hyperball_synth: |V|={n} |E|~{s_edges} max_r={args.max_r} "
          f"r_eff={s_reff} -> {sn} ball rows in {s_wall:.1f}s "
          f"({s_wall / s_rounds:.1f}s/round, "
          f"{s_edges * s_rounds / s_wall / 1e6:.2f}M edge-relaxations/s)")

    if args.report and not args.synth_only:
        with open(os.path.join(REPO, "BENCH", "BASELINE.md"), "a") as fh:
            fh.write(
                f"\n### Web-graph surface at 24M pages (local[{args.cpus}])\n\n"
                f"`python scripts/bench_graph.py` — links synthesized into the\n"
                f"html column JVM-side (3/page, 100k-host universe, hub skew).\n\n"
                f"| metric | value |\n|---|---|\n"
                f"| link extraction + host-edge aggregate | {n_rows} pages -> "
                f"{n_edges} edges in {best:.1f}s = {rate / 1e6:.2f}M docs/s |\n"
                f"| hyperball on extracted graph (|V|={n_nodes}, "
                f"r_eff={r_eff}) | "
                f"{hb_wall:.1f}s total, {hb_wall / rounds:.1f}s/round |\n"
                f"| hyperball on synthetic deep graph (|V|={n}, "
                f"|E|~{s_edges}, r_eff={s_reff}) | {s_wall:.1f}s, "
                f"{s_wall / s_rounds:.1f}s/round = "
                f"{s_edges * s_rounds / s_wall / 1e6:.2f}M "
                f"edge-relaxations/s |\n")
        print("appended to BENCH/BASELINE.md")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
