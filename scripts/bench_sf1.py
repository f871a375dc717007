"""sf1 shuffle-volume-cliff bench: runs the most expensive non-streaming
gates at sf0.1 AND at the synthesized 10x sf1 (``scripts/make_sf1.py``),
and writes ``BENCH/SF1.md`` with per-query walls and the sf1/sf0.1 ratio.

A query that scales linearly in rows should show ratio <= ~10 (usually
well under, because per-query fixed overhead — plan compile, Python
worker reuse, tiny-collect — does not scale).  Ratio > 20 (2x the linear
expectation) flags a shuffle-volume cliff the small factors hide
(quadratic candidate growth, driver-side materialization, spill).

Streaming gates are excluded: their wall is availableNow harness
overhead, documented in BENCH/BASELINE.md, and does not probe shuffle
volume.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF01 = "/root/testdata/sf0.1"
SF1 = os.path.join(REPO, ".benchdata", "sf1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
REPS = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2"))

# the 10 most expensive non-streaming gates from BENCH_r03 plus the three
# shuffle-volume candidates the r3 verdict named (span_dedup: (gram,doc,pos)
# explosion; boilerplate: line explode; lm score: vocab shuffle)
GATES = [
    "span_dedup",
    "boilerplate_removal",
    "lm_quality_score",
    "join_discovery",
    "ivf_pq_topk",
    "ngram_jaccard_pairs",
    "session_stats",
    "minhash_oph_near_dup_pairs",
    "minhash_near_dup_pairs",
    "dedup_clusters",
    "cdc_chunk_dedup",
    "semantic_dedup",
    # round-4-late additions: paragraph_dedup is the new shuffle-heavy
    # candidate (winner agg + survivor join + reassembly over exploded
    # paragraphs); c4_filters and skew_diagnosis pin map-only / blob-only
    # linearity
    "paragraph_dedup",
    "c4_filters",
    "skew_diagnosis",
    # round-4-late: the balanced range sort (KLL boundary scan + full-data
    # repartition + per-bucket stats) and the bucketed write+join are the
    # two newest shuffle/IO-heavy gates
    "range_partition_balance",
    "bucketed_colocated_join",
    # round-4: deletable membership — blob-only build + map-only probe,
    # pins the broadcast-blob linearity at 10x rows
    "cuckoo_membership_retract",
    # round-5: HyperBall on the lineitem-derived graph — edge extraction
    # scales with rows, the relaxation rounds with distinct edges; pins
    # that the blob-only loop doesn't pick up a row-linear term
    "hyperball_neighborhood",
]


def main() -> int:
    if not os.path.isdir(SF1):
        print("sf1 missing — run scripts/make_sf1.py first", file=sys.stderr)
        return 1
    from scripts.bench_common import build_session, warm_up

    spark = build_session(CPUS, app="sketchlib-bench-sf1", driver_mem="24g")
    warm_up(spark, CPUS)

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    rows = []
    for name in GATES:
        fn = qs[name]
        walls = {}
        counts = {}
        for label, d in (("sf0.1", SF01), ("sf1", SF1)):
            best = float("inf")
            for _ in range(REPS):
                t0 = time.time()
                df = fn(spark, d)
                n = df.count()
                best = min(best, time.time() - t0)
            walls[label] = best
            counts[label] = n
            spark.catalog.clearCache()
        ratio = walls["sf1"] / max(walls["sf0.1"], 1e-9)
        rows.append({"query": name, "sf01_sec": round(walls["sf0.1"], 3),
                     "sf1_sec": round(walls["sf1"], 3),
                     "ratio": round(ratio, 2),
                     "sf01_rows": counts["sf0.1"], "sf1_rows": counts["sf1"],
                     "flag": ratio > 20.0})
        print(json.dumps(rows[-1]))
    spark.stop()

    lines = [
        "# SF1 scaling bench (shuffle-volume cliff check)",
        "",
        f"10x sf0.1 synthesized deterministically by `scripts/make_sf1.py` "
        f"(lineitem 6.0M, events 1.0M, documents 50k, embeddings 20k rows; "
        f"per-replica key offsets / word replacement / signed-permutation "
        f"isometry keep join selectivity, near-dup pair structure, and ANN "
        f"cluster structure linear in rows). local[{CPUS}], min-of-{REPS} "
        f"per point. A linear operator should show ratio <= ~10x (fixed "
        f"per-query overhead pushes it below); ratio > 20x (2x linear) is "
        f"flagged as a cliff.",
        "",
        "| query | sf0.1 wall (s) | sf1 wall (s) | ratio | sf1/sf0.1 rows | verdict |",
        "|---|---|---|---|---|---|",
    ]
    for r in rows:
        rr = (f"{r['sf1_rows']}/{r['sf01_rows']}"
              if r["sf01_rows"] else f"{r['sf1_rows']}/0")
        verdict = "**CLIFF**" if r["flag"] else "linear-or-better"
        lines.append(
            f"| {r['query']} | {r['sf01_sec']} | {r['sf1_sec']} | "
            f"{r['ratio']}x | {rr} | {verdict} |")
    lines.append("")
    with open(os.path.join(REPO, "BENCH", "SF1.md"), "w") as f:
        f.write("\n".join(lines))
    print("wrote BENCH/SF1.md")
    return 0


if __name__ == "__main__":
    sys.exit(main())
