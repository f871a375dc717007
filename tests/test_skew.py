"""Salting and tree-merge: skew handling must not change results —
bit-identical canonical sketches, identical estimates."""

import numpy as np
import pytest

from sketchlib import hll
from sketchlib.hll import HllSketch
from sketchlib.spark.aggregate import HllSpec, build_partials, merge_partials, sketch_agg
from sketchlib.spark.skew import salted_repartition, tree_merge_partials


def _zipf_pages(spark, n=20_000):
    """Zipf-skewed lang column (en ~ 60%)."""
    from sketchlib.data.pages import generate_pages

    pdf = generate_pages(n, seed=11)
    return spark.createDataFrame(pdf[["url", "lang"]])


def test_salting_exact(spark):
    """Salted repartition -> identical merged sketch bytes and estimates
    (mergeability makes salting exact, SURVEY.md §4.2)."""
    df = _zipf_pages(spark)
    plain = {r["lang"]: bytes(r["sketch"])
             for r in sketch_agg(df, "url", ["lang"]).collect()}
    salted_df = salted_repartition(df, ["lang"], buckets=8, n_partitions=16,
                                   salt_source=["url"])
    salted = {r["lang"]: bytes(r["sketch"])
              for r in sketch_agg(salted_df, "url", ["lang"]).collect()}
    assert plain == salted


def test_salting_spreads_hot_key(spark):
    """The hot lang must actually land on multiple partitions after salting."""
    from pyspark.sql import functions as F

    df = _zipf_pages(spark)
    salted = salted_repartition(df, ["lang"], buckets=8, n_partitions=16,
                                salt_source=["url"])
    parts = (salted.filter(F.col("lang") == "en")
             .select(F.spark_partition_id().alias("pid")).distinct().count())
    assert parts >= 4


def test_tree_merge_bit_identical_to_flat(spark):
    df = _zipf_pages(spark, n=10_000).repartition(32)
    partials = build_partials(df, "url", ["lang"]).persist()
    flat = {r["lang"]: bytes(r["sketch"])
            for r in merge_partials(partials, ["lang"]).collect()}
    tree = {r["lang"]: bytes(r["sketch"])
            for r in tree_merge_partials(partials, ["lang"], fanout=4).collect()}
    assert flat == tree
    partials.unpersist()


def test_tree_merge_global(spark):
    df = _zipf_pages(spark, n=5_000).repartition(16)
    partials = build_partials(df, "url", ()).persist()
    [flat] = merge_partials(partials, ()).collect()
    [tree] = tree_merge_partials(partials, (), fanout=4).collect()
    assert bytes(flat["sketch"]) == bytes(tree["sketch"])
    est = HllSketch.from_bytes(bytes(tree["sketch"])).count()
    exact = df.select("url").distinct().count()
    assert abs(est - exact) / exact <= 10 * 0.008125
    partials.unpersist()


def test_tree_merge_spreads_identical_partials(spark):
    """64 byte-identical partials of one group (one per partition): the
    salt includes the partition id, so no fold ever sees more than a few
    fanouts' worth of blobs, and the result equals the flat merge."""
    from pyspark.sql import functions as F

    fanout, bound = 4, 16

    class _BoundedFoldHll(HllSpec):
        def fold_segments(self, data, offsets, seg_ptr, blob_idx,
                          estimate=False):
            if (np.diff(seg_ptr) > bound).any():
                raise ValueError(f"a segment folds more than {bound} blobs")
            return hll.fold_segments(data, offsets, seg_ptr, blob_idx, estimate)

    df = spark.range(64 * 3, numPartitions=64).select(
        (F.col("id") % 3).cast("string").alias("x"))
    partials = build_partials(df, "x", ()).persist()
    assert len({bytes(r["sketch"]) for r in partials.collect()}) == 1
    [flat] = merge_partials(partials, ()).collect()
    [tree] = tree_merge_partials(partials, (), _BoundedFoldHll(),
                                 fanout=fanout).collect()
    assert bytes(tree["sketch"]) == bytes(flat["sketch"])
    partials.unpersist()


def _exchanges(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum("Exchange" in line for line in plan.splitlines())


def test_tree_merge_flat_at_few_partials(spark):
    """With no more partials than the fanout there is no salted round: the
    plan shuffles exactly as often as the flat merge."""
    partials = build_partials(_zipf_pages(spark, n=2_000).repartition(4),
                              "url", ["lang"])
    tree = tree_merge_partials(partials, ["lang"], fanout=4)
    assert _exchanges(tree) == _exchanges(merge_partials(partials, ["lang"])) >= 1


def test_tree_merge_rejects_fanout_one(spark):
    partials = build_partials(_zipf_pages(spark, n=100), "url", ())
    with pytest.raises(ValueError, match="fanout must be >= 2"):
        tree_merge_partials(partials, (), fanout=1)


def test_tree_merge_plans_without_running_a_job(spark):
    """The partial count P comes from the plan: building the tree over a
    shuffled input submits no job before the query's own action, and the
    merged blobs equal the flat merge's."""
    from pyspark.sql import functions as F

    df = spark.range(2_000).select((F.col("id") % 7).alias("g"),
                                   F.col("id").cast("string").alias("x"))
    partials = build_partials(df.repartition(16, "g", "x"), "x", ["g"])
    sc = spark.sparkContext
    sc.setJobGroup("tree-plan-only", "tree_merge_partials planning")
    try:
        tree = tree_merge_partials(partials, ["g"], fanout=4)
        assert sc.statusTracker().getJobIdsForGroup("tree-plan-only") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    flat = {r["g"]: bytes(r["sketch"])
            for r in merge_partials(partials, ["g"]).collect()}
    assert {r["g"]: bytes(r["sketch"]) for r in tree.collect()} == flat


def test_tree_merge_adds_no_round_over_a_coalesced_shuffle(spark):
    """Over a shuffle AQE may coalesce, P is the coalesced count, not the
    planned one: 64 planned partitions that AQE coalesces to a few build no
    salted round at fanout 8, so the tree plans as many shuffles as the flat
    merge."""
    from pyspark.sql import functions as F

    def shuffles(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan.count("Exchange hashpartitioning")

    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    try:
        df = spark.range(0, 2_000, 1, 64).select(
            (F.col("id") % 7).alias("g"), F.col("id").cast("string").alias("x"))
        partials = build_partials(df.groupBy("g", "x").count(), "x", ["g"])
        tree = tree_merge_partials(partials, ["g"], fanout=8)
        flat = merge_partials(partials, ["g"])
        assert shuffles(tree) == shuffles(flat) == 2
        assert ({r["g"]: bytes(r["sketch"]) for r in tree.collect()}
                == {r["g"]: bytes(r["sketch"]) for r in flat.collect()})
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
