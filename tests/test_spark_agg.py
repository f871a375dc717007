"""Distributed HLL aggregation: exactness <=100 distinct, accuracy vs exact,
partition invariance (bit-identical sketches at any parallelism), and oracle
cross-checks against Spark built-ins."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from sketchlib.hll import HllSketch
from sketchlib.spark.aggregate import (
    HllSpec,
    build_partials,
    distinct_count,
    estimate_col,
    merge_partials,
    sketch_agg,
)


@pytest.fixture(scope="module")
def urls_df(spark):
    # 3 langs x 2 days; per-group distinct counts spanning direct (<100),
    # sparse, and beyond; ~20% duplicate rows
    rows = []
    for lang, day, n in [("en", "2026-01-01", 50), ("en", "2026-01-02", 4000),
                         ("de", "2026-01-01", 99), ("de", "2026-01-02", 250),
                         ("zh", "2026-01-01", 12), ("zh", "2026-01-02", 1)]:
        for i in range(n):
            url = f"https://h{i % max(n // 2, 1)}.example.{lang}/p{i}"
            rows.append((url, lang, day))
            if i % 5 == 0:
                rows.append((url, lang, day))
    return spark.createDataFrame(rows, "url string, lang string, day string")


def _exact(urls_df, *group_cols):
    rows = urls_df.groupBy(*group_cols).agg(F.countDistinct("url").alias("n")).collect()
    return {tuple(r[g] for g in group_cols): r["n"] for r in rows}


def test_exact_below_100_per_group(urls_df):
    got = {(r["lang"], r["day"]): r["estimate"]
           for r in distinct_count(urls_df, "url", ["lang", "day"]).collect()}
    want = _exact(urls_df, "lang", "day")
    for key, n in want.items():
        if n <= 100:
            assert got[key] == n, key
        else:
            assert abs(got[key] - n) / n <= 10 * 0.008125, (key, got[key], n)


def test_global_aggregate(urls_df):
    [row] = distinct_count(urls_df, "url").collect()
    want = urls_df.select(F.countDistinct("url")).first()[0]
    assert abs(row["estimate"] - want) / want <= 10 * 0.008125


def test_multi_column_element(urls_df):
    df = urls_df.withColumn("host", F.parse_url("url", F.lit("HOST")))
    got = {r["lang"]: r["estimate"]
           for r in distinct_count(df, ["lang", "host"], ["lang"]).collect()}
    want = {r["lang"]: r["n"]
            for r in df.groupBy("lang").agg(F.countDistinct("lang", "host").alias("n")).collect()}
    for lang, n in want.items():
        tol = 0 if n <= 100 else 10 * 0.008125 * n
        assert abs(got[lang] - n) <= tol


def test_partition_invariance_bit_for_bit(urls_df):
    """Same input at different parallelism -> byte-identical canonical sketches
    (north-rule merge determinism)."""
    blobs = {}
    for nparts in (1, 3, 7):
        df = urls_df.repartition(nparts)
        rows = sketch_agg(df, "url", ["lang", "day"]).collect()
        blobs[nparts] = {(r["lang"], r["day"]): bytes(r["sketch"]) for r in rows}
    assert blobs[1] == blobs[3] == blobs[7]


def test_spark_pipeline_matches_local_singlenode(urls_df):
    """Distributed build+merge == one local sketch over the same rows."""
    rows = sketch_agg(urls_df, "url", ["lang"]).collect()
    pdf = urls_df.toPandas()
    for r in rows:
        local = HllSketch()
        from sketchlib.spark.aggregate import hash_columns
        sub = pdf[pdf["lang"] == r["lang"]].reset_index(drop=True)
        local.add_hashes(hash_columns(sub, ["url"]))
        dist = HllSketch.from_bytes(bytes(r["sketch"]))
        assert dist.registers.tobytes() == local.registers.tobytes()
        assert dist.count() == local.count()
        assert dist.count_additions == local.count_additions == len(sub)


def test_empty_input(spark):
    """Global agg over zero rows -> estimate 0 (SQL COUNT DISTINCT semantics);
    grouped agg -> zero groups."""
    empty = spark.createDataFrame([], "url string, lang string")
    assert distinct_count(empty, "url").collect()[0]["estimate"] == 0
    assert distinct_count(empty, "url", ["lang"]).collect() == []
    all_null = spark.createDataFrame([(None, "x")] * 5, "url string, lang string")
    assert distinct_count(all_null, "url").collect()[0]["estimate"] == 0


def test_nulls_ignored(spark):
    df = spark.createDataFrame(
        [("a", "x"), (None, "x"), ("b", "x"), (None, "y")],
        "url string, lang string")
    got = {r["lang"]: r["estimate"] for r in distinct_count(df, "url", ["lang"]).collect()}
    assert got["x"] == 2
    assert "y" not in got  # all-null group vanishes, like COUNT(DISTINCT)


def test_against_spark_builtin_oracle(urls_df):
    """Secondary sanity: our estimate within a few std errors of Spark's own
    HLL (approx_count_distinct) and the exact count."""
    ours = {r["lang"]: r["estimate"] for r in distinct_count(urls_df, "url", ["lang"]).collect()}
    exact = _exact(urls_df, "lang")
    for (lang,), n in exact.items():
        assert abs(ours[lang] - n) / n <= 0.05


def test_merge_partials_reusable_for_rollup(urls_df):
    """Partials built per (lang, day) can be re-merged to lang level — the
    mergeability contract that powers checkpoint/rollup."""
    day_level = sketch_agg(urls_df, "url", ["lang", "day"])
    lang_level = merge_partials(day_level, ["lang"])
    got = {r["lang"]: HllSketch.from_bytes(bytes(r["sketch"])).count()
           for r in lang_level.collect()}
    want = _exact(urls_df, "lang")
    for (lang,), n in want.items():
        tol = 0 if n <= 100 else 10 * 0.008125 * n
        assert abs(got[lang] - n) <= tol


def test_estimate_col_udf(urls_df):
    agg = sketch_agg(urls_df, "url", ["lang"])
    rows = agg.select("lang", estimate_col().alias("est")).collect()
    assert all(isinstance(r["est"], int) and r["est"] > 0 for r in rows)


def test_integer_element_hashing(spark):
    df = spark.range(0, 50_000).withColumn("k", F.col("id") % 7)
    got = {r["k"]: r["estimate"] for r in distinct_count(df, "id", ["k"]).collect()}
    for k, est in got.items():
        n = len(range(int(k), 50_000, 7))
        assert abs(est - n) / n <= 10 * 0.008125


def test_date_element_column(spark):
    """DateType elements hash as 8-byte day counts (pyarrow has no direct
    date32 -> int64 cast, so this used to raise)."""
    import datetime

    rows = [(datetime.date(2026, 1, 1 + i % 7),) for i in range(40)]
    df = spark.createDataFrame(rows, "d date").repartition(3)
    assert distinct_count(df, "d").first()["estimate"] == 7


def test_null_group_keys_own_group(spark):
    """NULL group keys form their own group and never fold into a real one
    (regression: Arrow dictionary_encode emits null indices that used to
    cast to INT64_MIN and wrap into group 0)."""
    rows = [("a", 1), ("a", 2), (None, 3), (None, 4), (None, 3), ("b", 5)]
    df = spark.createDataFrame(rows, "g string, k long")
    got = {r["g"]: r["estimate"]
           for r in distinct_count(df, "k", ["g"]).collect()}
    assert got == {"a": 2, None: 2, "b": 1}


def test_null_group_keys_integer_column(spark):
    """Same, for an int64 group column — the decoded NULL key round-trips
    through the Arrow output schema as a typed null, not NaN."""
    rows = [(1, 1), (1, 2), (None, 3), (None, 4), (None, 3), (2, 5)]
    df = spark.createDataFrame(rows, "g long, k long")
    got = {r["g"]: r["estimate"]
           for r in distinct_count(df, "k", ["g"]).collect()}
    assert got == {1: 2, None: 2, 2: 1}


def test_null_group_keys_stream_spec(spark):
    """Non-dedup (stream) arrow path: NULL group keeps its own sketch."""
    from sketchlib.spark.specs import TDigestSpec
    from sketchlib.tdigest import TDigest

    rows = [("a", 1.0), ("a", 2.0), (None, 3.0), (None, 4.0),
            (None, 3.0), ("b", 5.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    merged = sketch_agg(df, "v", ["g"], TDigestSpec())
    got = {r["g"]: TDigest.from_bytes(bytes(r["sketch"])).quantile(0.5)
           for r in merged.collect()}
    assert got[None] == 3.0 and set(got) == {"a", None, "b"}


def test_prehash64_matches_exact_and_bound(urls_df):
    """JVM-side xxhash64 prehash path: exact in direct range, bound beyond,
    same group structure as the murmur3 path."""
    got = {(r["lang"], r["day"]): r["estimate"]
           for r in distinct_count(urls_df, "url", ["lang", "day"],
                                   prehash64=True).collect()}
    want = _exact(urls_df, "lang", "day")
    assert set(got) == set(want)
    for key, n in want.items():
        if n <= 100:
            assert got[key] == n, key
        else:
            assert abs(got[key] - n) / n <= 10 * 0.008125, (key, got[key], n)


def test_prehash64_nulls_and_multicolumn(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", 1), ("a", None), ("b", 2), (None, 3), ("b", 4)],
        "k string, v long")
    # rows with any NULL element are dropped, matching the murmur3 path
    got = distinct_count(df, ["k", "v"], prehash64=True).collect()[0]["estimate"]
    exact = df.na.drop().distinct().count()
    assert got == exact == 3


def test_prehash64_blob_is_valid_v31(urls_df):
    spec = HllSpec(prehashed=True)
    blob = sketch_agg(urls_df, "url", spec=spec).collect()[0]["sketch"]
    sk = HllSketch.from_bytes(bytes(blob))
    n = urls_df.select("url").distinct().count()
    assert abs(sk.count() - n) / n <= 10 * 0.008125


def test_rollup_bit_identical(spark):
    """rollup_sketches: merging materialized finer-group sketches yields
    byte-identical blobs to building directly from raw rows, at every level
    (per-group and all-time) — the pre-aggregated rollup guarantee."""
    from sketchlib.spark.aggregate import HllSpec, rollup_sketches, sketch_agg

    rows = [(f"g{i % 3}", f"d{i % 5}", i % 400) for i in range(4000)]
    df = spark.createDataFrame(rows, "g1 string, g2 string, v long")
    spec = HllSpec()

    fine = sketch_agg(df, "v", ["g1", "g2"], spec)
    rolled = rollup_sketches(fine, ["g1"], spec)
    direct = sketch_agg(df, "v", ["g1"], spec)
    got = {r["g1"]: bytes(r["sketch"]) for r in rolled.collect()}
    want = {r["g1"]: bytes(r["sketch"]) for r in direct.collect()}
    assert got == want

    top = rollup_sketches(rolled, [], spec)
    direct_top = sketch_agg(df, "v", [], spec)
    assert bytes(top.collect()[0]["sketch"]) == \
        bytes(direct_top.collect()[0]["sketch"])


def test_rollup_spec_agnostic_tdigest(spark):
    """rollup_sketches works for any mergeable spec: t-digest per-(g1,g2)
    digests roll up to per-g1 with quantiles matching a direct build."""
    from sketchlib.spark.aggregate import rollup_sketches, sketch_agg
    from sketchlib.spark.quantiles import quantiles_col
    from sketchlib.spark.specs import TDigestSpec

    rows = [(f"g{i % 2}", f"d{i % 4}", float(i % 1000)) for i in range(8000)]
    df = spark.createDataFrame(rows, "g1 string, g2 string, v double")
    spec = TDigestSpec()
    fine = sketch_agg(df, "v", ["g1", "g2"], spec)
    rolled = rollup_sketches(fine, ["g1"], spec)
    direct = sketch_agg(df, "v", ["g1"], spec)
    got = {r["g1"]: r["q"][0] for r in rolled.select(
        "g1", quantiles_col(spec, [0.5]).alias("q")).collect()}
    want = {r["g1"]: r["q"][0] for r in direct.select(
        "g1", quantiles_col(spec, [0.5]).alias("q")).collect()}
    for g in got:
        assert abs(got[g] - want[g]) <= 25.0, (g, got[g], want[g])


def test_rolling_merge_bit_identical(spark):
    """rolling_merge: each trailing-window sketch is byte-identical to one
    built directly from the raw rows of that window; anchors exist only for
    units present in the input."""
    from pyspark.sql import functions as F

    from sketchlib.spark.aggregate import (HllSpec, rolling_merge, sketch_agg)

    rows = [("a", d, d * 1000 + i) for d in (1, 2, 3, 5) for i in range(30)]
    df = spark.createDataFrame(rows, "g string, d int, v long")
    spec = HllSpec()
    daily = sketch_agg(df, "v", ["g", "d"], spec)
    rolled = {(r["g"], r["d"]): bytes(r["sketch"])
              for r in rolling_merge(daily, "d", 3, spec, ["g"]).collect()}
    assert set(rolled) == {("a", 1), ("a", 2), ("a", 3), ("a", 5)}
    for (_, anchor) in rolled:
        win = df.filter((F.col("d") > anchor - 3) & (F.col("d") <= anchor))
        want = bytes(sketch_agg(win, "v", ["g"], spec).collect()[0]["sketch"])
        assert rolled[("a", anchor)] == want, anchor


def test_premerge_partials_bit_identical(spark):
    """premerge (map-side blob combine) -> merge must equal plain merge
    bit-for-bit, including NULL group keys."""
    import random

    from sketchlib.spark.aggregate import (
        HllSpec,
        build_partials,
        merge_partials,
        premerge_partials,
    )

    rng = random.Random(5)
    rows = [((rng.randrange(6) if rng.random() > 0.1 else None),
             rng.randrange(4000)) for _ in range(8000)]
    df = spark.createDataFrame(rows, "g int, x long").repartition(7)
    spec = HllSpec()
    partials = build_partials(df, "x", ["g"], spec).persist()
    plain = {r["g"]: bytes(r["sketch"])
             for r in merge_partials(partials, ["g"], spec).collect()}
    pre = premerge_partials(partials, ["g"], spec)
    combined = {r["g"]: bytes(r["sketch"])
                for r in merge_partials(pre, ["g"], spec).collect()}
    partials.unpersist()
    # countAdditions differs by merge tree?  No: additions are summed, and
    # both trees see every partial exactly once -> identical totals, and
    # registers are order-free -> full bit identity
    assert plain == combined
    assert None in plain


def test_premerge_partials_reduces_rows(spark):
    from sketchlib.spark import aggregate as agg

    df = spark.createDataFrame([(i % 3, i) for i in range(3000)],
                               "g int, x long").repartition(4)
    partials = agg.build_partials(df, "x", ["g"], agg.HllSpec())
    exploded = partials.unionByName(partials).unionByName(partials)
    pre = agg.premerge_partials(exploded, ["g"], agg.HllSpec())
    # ≤ groups × partitions rows out
    assert pre.count() <= 3 * exploded.rdd.getNumPartitions()


def _rolling_reference(sketch_df, order_col, window, spec, group_cols):
    """The explode + distinct-anchor + left-semi-join formulation of a
    rolling merge (non-NULL group keys only: the equi-join drops NULLs)."""
    contrib = sketch_df.select(
        *group_cols,
        F.explode(F.sequence(F.col(order_col),
                             F.col(order_col) + window - 1)).alias(order_col),
        "sketch")
    anchors = sketch_df.select(*group_cols, order_col).distinct()
    contrib = contrib.join(anchors, on=group_cols + [order_col], how="leftsemi")
    return merge_partials(contrib, group_cols + [order_col], spec)


def test_rolling_merge_matches_explode_semijoin(spark):
    """Several groups, gapped days, duplicate (group, order) rows and a
    mix of direct/sparse blobs: identical rows and bytes to the
    explode/semi-join formulation, at any input partitioning."""
    from sketchlib.spark.aggregate import rolling_merge

    rows = []
    for g, days, n in [("a", (1, 2, 3, 5, 9), 30), ("b", (2, 4, 5, 6), 150),
                       ("c", (7,), 5), ("d", (1, 3, 4, 8, 10), 3)]:
        for d in days:
            rows += [(g, d, f"{g}{d}-{i % (n - d % 3)}") for i in range(n)]
    df = spark.createDataFrame(rows, "g string, d int, v string")
    spec = HllSpec()
    daily = sketch_agg(df, "v", ["g", "d"], spec)
    # a second sketch for (a, 3) and (b, 5): duplicate (group, order) rows
    extra = sketch_agg(df.filter(F.col("d").isin(3, 5))
                       .withColumn("v", F.concat("v", F.lit("x"))),
                       "v", ["g", "d"], spec)
    table = daily.unionByName(extra).repartition(5).persist()
    want = {(r["g"], r["d"]): bytes(r["sketch"])
            for r in _rolling_reference(table, "d", 3, spec, ["g"]).collect()}
    got_rows = rolling_merge(table, "d", 3, spec, ["g"]).collect()
    table.unpersist()
    got = {(r["g"], r["d"]): bytes(r["sketch"]) for r in got_rows}
    assert len(got_rows) == len(got) == len(want)
    assert got == want


def test_rolling_merge_null_group_and_null_order(spark):
    """A NULL group key is its own group (rows (None, 1) and (None, 2)
    survive, as rollup_sketches keeps a NULL group); rows with a NULL order
    value are dropped."""
    from sketchlib.spark.aggregate import rolling_merge, rollup_sketches

    rows = [(None, 1, "u1"), (None, 2, "u2"), ("x", 1, "u1"), ("x", None, "u9")]
    df = spark.createDataFrame(rows, "g string, d int, v string")
    spec = HllSpec()
    daily = sketch_agg(df, "v", ["g", "d"], spec)
    est = {(r["g"], r["d"]): r["e"] for r in rolling_merge(daily, "d", 2, spec, ["g"])
           .select("g", "d", estimate_col(spec).alias("e")).collect()}
    assert est == {(None, 1): 1, (None, 2): 2, ("x", 1): 1}
    assert None in {r["g"] for r in rollup_sketches(daily, ["g"], spec).collect()}
    # no group columns: one global series, NULL orders still dropped
    glob = {r["d"]: r["e"] for r in rolling_merge(daily, "d", 2, spec)
            .select("d", estimate_col(spec).alias("e")).collect()}
    assert glob == {1: 1, 2: 2}


def test_arrow_merge_udfs_passthrough_empty_and_null(spark):
    """HLL merge UDFs: a single-blob list passes through byte-for-byte (even
    a non-canonical blob), an empty list gives the empty sketch / estimate
    0, and estimate_col maps a NULL blob to NULL."""
    from pyspark.sql import types as T

    from sketchlib.hll import direct_blob
    from sketchlib.spark.aggregate import merge_blobs_udf, merge_estimate_udf

    h = np.array([9, 3, 3, 7], dtype=np.uint64)  # unsorted, duplicate
    odd = direct_blob(14, h, 4)
    canon = HllSketch.from_bytes(odd).to_bytes()
    assert canon != odd
    spec = HllSpec()
    df = spark.createDataFrame(
        [(0, [odd]), (1, []), (2, [odd, canon]), (3, None)],
        T.StructType([T.StructField("k", T.IntegerType()),
                      T.StructField("blobs", T.ArrayType(T.BinaryType()))]))
    rows = {r["k"]: r for r in df.filter("k < 3").select(
        "k", merge_blobs_udf(spec)("blobs").alias("s"),
        merge_estimate_udf(spec)("blobs").alias("e")).collect()}
    assert bytes(rows[0]["s"]) == odd and rows[0]["e"] == 3
    assert bytes(rows[1]["s"]) == HllSketch().to_bytes() and rows[1]["e"] == 0
    both = HllSketch.from_bytes(odd)
    both.merge(HllSketch.from_bytes(canon))
    assert bytes(rows[2]["s"]) == both.to_bytes() and rows[2]["e"] == 3
    blobs = spark.createDataFrame([(odd,), (None,)], "s binary")
    assert [r["e"] for r in blobs.select(estimate_col(spec, "s").alias("e"))
            .collect()] == [3, None]
