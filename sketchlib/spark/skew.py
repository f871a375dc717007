"""Explicit skew & shuffle handling (north rule: "partitioning / shuffle /
skew handled explicitly").

Web text is Zipf-skewed: one ``lang`` (en) dominates, a few hosts dominate
urls. The two-stage sketch aggregation is already skew-*resistant* — a hot
group contributes at most one partial sketch per input partition, so stage 2
never shuffles raw rows of the hot key. Two residual skew points remain, each
with an explicit tool here:

1. **Input-side skew**: a ``lang``-partitioned table puts 60% of bytes in
   one directory; Spark's scan splits big files by ``maxPartitionBytes``, but
   downstream per-partition state (one sketch per group per partition) is
   cheapest when rows of a group are *co-located*, and salting spreads a hot
   group across exactly ``s`` tasks instead of all of them.
   ``salted_repartition(df, cols, s)`` shuffles on ``(cols..., salt)`` with a
   deterministic salt — mergeability makes the final estimate *identical*
   (register max is idempotent), which test_salting_exact pins.

2. **Merge fan-in skew**: at 10k input partitions a single group's stage-2
   merge gathers 10k blobs (160 MB of dense HLLs) in one task.
   ``tree_merge_partials`` inserts salted pre-merge rounds, as many as the
   partial count needs —
   ``groupBy(keys, pmod(salt, width))`` per round, then ``groupBy(keys)`` —
   the DataFrame form of ``treeAggregate`` (reference analog:
   ``ParallelMerge``, CardinalityEstimatorExtensions.cs:87-103).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .aggregate import HllSpec, _collect_fold, merge_blobs_udf, merge_partials


def salt_col(df: DataFrame, buckets: int, source_cols: Sequence[str] | None = None):
    """Deterministic salt in [0, buckets): hash of high-cardinality source
    columns (never rand() — reruns must produce identical partials)."""
    cols = [F.col(c) for c in (source_cols or df.columns)]
    return F.pmod(F.xxhash64(*cols), F.lit(buckets))


def salted_repartition(df: DataFrame, cols: Sequence[str], buckets: int,
                       n_partitions: int | None = None,
                       salt_source: Sequence[str] | None = None) -> DataFrame:
    """Repartition on ``(cols..., salt)`` so a hot key spreads over exactly
    ``buckets`` tasks. Safe for any mergeable downstream aggregation."""
    s = salt_col(df, buckets, salt_source)
    parts = [F.col(c) for c in cols] + [s]
    return df.repartition(n_partitions, *parts) if n_partitions else df.repartition(*parts)


def _num_partitions(df: DataFrame) -> int:
    """Partition count of ``df``, read from its physical plan where the plan
    fixes it, so no job runs (``df.rdd`` under AQE runs every shuffle below
    as a job of its own, which the query then runs again).  Under AQE the
    plan fixes the count only when the chain of one-child nodes under the
    root ends in a leaf or in a ``repartition(n, ...)`` shuffle, which AQE
    does not coalesce.  Any other shape (a shuffle AQE may coalesce, a join
    or union, a count the partitioning does not carry) reads the RDD, which
    under AQE still runs the shuffles below it as a job."""
    plan = df._jdf.queryExecution().executedPlan()
    fixed = True
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()  # before any stage runs: the initial plan
        node = plan
        while (node.children().size() == 1
               and node.getClass().getSimpleName() != "ShuffleExchangeExec"):
            node = node.children().head()
        fixed = (node.children().size() == 0
                 or (node.getClass().getSimpleName() == "ShuffleExchangeExec"
                     and node.shuffleOrigin().toString() == "REPARTITION_BY_NUM"))
    n = plan.outputPartitioning().numPartitions() if fixed else 0
    return n if n > 0 else df.rdd.getNumPartitions()


def tree_merge_partials(partials: DataFrame, group_cols: Sequence[str] = (),
                        spec=None, sketch_col: str = "sketch",
                        fanout: int = 64) -> DataFrame:
    """Fold-merge partial sketches so that no task folds more than
    ~``fanout`` blobs of a group, whatever the partial count P
    (:func:`_num_partitions`): salted rounds start at width
    ``ceil(P / fanout)`` and shrink by ``fanout`` each round, then
    :func:`merge_partials` folds what is left.  At P <= ``fanout`` this IS
    the flat merge.  Bounding the blobs per task matters for merges that
    are O(sketch size) per blob, e.g. the cuckoo filter's fingerprint
    re-insertion.

    Correctness relies only on merge associativity+commutativity, which the
    canonical-bytes tests pin; the result is bit-identical to a flat merge.
    """
    if fanout < 2:
        raise ValueError("fanout must be >= 2 (1 can never shrink the "
                         "salt width and would loop forever)")
    group_cols = list(group_cols)
    spec = spec or HllSpec()
    merge = merge_blobs_udf(spec)
    df = partials
    width = (max(_num_partitions(partials), 1) + fanout - 1) // fanout
    level = 0
    while width > 1:
        # salt by (blob, SOURCE PARTITION, level) — all deterministic
        # under stage retries (monotonically_increasing_id is not: its
        # row counter follows shuffle-fetch arrival order, so a retried
        # map task re-salts blobs differently and a partial can be
        # dropped or folded twice — fatal for additive merges).  The
        # partition id is what separates byte-identical partials (a
        # replicated dimension produces one identical blob per partition;
        # blob-only hashing would collapse them into a single bin and
        # re-create the flat fold this tree exists to avoid).
        salt = F.pmod(F.xxhash64(F.col(sketch_col),
                                 F.spark_partition_id().cast("long"),
                                 F.lit(level)), F.lit(width))
        df = _collect_fold(df.withColumn("__salt", salt),
                           group_cols + ["__salt"], sketch_col, merge,
                           sketch_col)
        width = (width + fanout - 1) // fanout
        level += 1
    return merge_partials(df, group_cols, spec, sketch_col)
