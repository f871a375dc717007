"""The single Arrow path of the merge/estimate UDFs, the quantile UDFs and
the SQL functions gives the results of the sequential
``from_bytes``/``merge``/``to_bytes`` formula, bit for bit, for every spec
family, with the NULL semantics of each function pinned."""

import math

import numpy as np
import pytest
from pyspark.sql import types as T

from sketchlib.similarity.freqdir import FdSpec
from sketchlib.spark.aggregate import (HllSpec, estimate_col, merge_blobs_udf,
                                       merge_estimate_udf)
from sketchlib.spark.specs import (AmsSpec, BloomSpec, CmsSpec, ComboSpec,
                                   CuckooSpec, DdSpec, KllSpec, MgSpec,
                                   TDigestSpec, ThetaSpec)

SPECS = {
    "bloom": BloomSpec(m_bits=1 << 12, k=4),
    "cuckoo": CuckooSpec(n_buckets=1 << 8),
    "cms": CmsSpec(width=64, depth=3),
    "ams": AmsSpec(width=64, depth=3),
    "mg": MgSpec(k=8),
    "theta": ThetaSpec(k=32),
    "tdigest": TDigestSpec(delta=20),
    "kll": KllSpec(k=16),
    "ddsketch": DdSpec(alpha=0.05),
    "combo": ComboSpec([HllSpec(p=8), CmsSpec(width=32, depth=2)]),
    "freqdir": FdSpec(ell=3, d=5),
    "hll": HllSpec(p=10),
}
VALUE_BASED = {"tdigest", "kll", "ddsketch"}


def _blob(name, spec, seed):
    rng = np.random.default_rng(seed)
    sk = spec.make()
    if name == "freqdir":
        data = rng.normal(size=(40, spec.d))
    elif name in VALUE_BASED:
        data = rng.lognormal(size=300)
    else:
        # skewed hashes so frequency sketches see repeats
        data = rng.integers(0, 2**63, size=60, dtype=np.uint64)[
            rng.zipf(1.5, size=400) % 60]
    spec.ingest(sk, data)
    return spec.to_bytes(sk)


def _sequential(spec, blobs):
    merged = None
    for b in blobs:
        sk = spec.from_bytes(b)
        merged = sk if merged is None else spec.merge(merged, sk)
    return merged


def _sql(v):
    """A NaN result reaches SQL as NULL."""
    return None if isinstance(v, float) and math.isnan(v) else v


@pytest.mark.parametrize("name", sorted(SPECS))
def test_merge_and_estimate_udfs_equal_sequential_formula(spark, name):
    spec = SPECS[name]
    b1, b2, b3 = (_blob(name, spec, s) for s in (1, 2, 3))
    lists = {0: [b1], 1: [], 2: [b1, None, b2], 3: [b2, b3, b1], 4: [None],
             5: None}
    ones = {0: b1, 1: None, 2: b2, 3: b3, 4: None, 5: b1}
    df = spark.createDataFrame(
        [(k, lists[k], ones[k]) for k in lists],
        T.StructType([T.StructField("k", T.IntegerType()),
                      T.StructField("blobs", T.ArrayType(T.BinaryType())),
                      T.StructField("one", T.BinaryType())]))
    rows = {r["k"]: r for r in df.select(
        "k", merge_blobs_udf(spec)("blobs").alias("m"),
        merge_estimate_udf(spec)("blobs").alias("e"),
        estimate_col(spec, "one").alias("o")).collect()}

    empty = spec.make()
    for k, blobs in lists.items():
        live = [b for b in blobs or [] if b is not None]
        if not live:
            want_blob, want_est = spec.to_bytes(empty), spec.estimate(empty)
        elif len(live) == 1:  # a lone blob passes through untouched
            want_blob, want_est = live[0], spec.estimate(spec.from_bytes(live[0]))
        else:
            merged = _sequential(spec, live)
            want_blob, want_est = spec.to_bytes(merged), spec.estimate(merged)
        assert bytes(rows[k]["m"]) == want_blob, k
        assert rows[k]["e"] == _sql(want_est), (k, rows[k]["e"], want_est)
        one = ones[k]
        want_one = None if one is None else spec.estimate(spec.from_bytes(one))
        assert rows[k]["o"] == _sql(want_one), (k, rows[k]["o"], want_one)


@pytest.mark.parametrize("name", sorted(VALUE_BASED))
def test_quantiles_and_rank_cols_unchanged(spark, name):
    from sketchlib.spark.quantiles import quantiles_col, rank_col

    spec = SPECS[name]
    blobs = [_blob(name, spec, s) for s in (4, 5)] + [None]
    probs = [0.01, 0.5, 0.9, 0.999]
    df = spark.createDataFrame([(i, b) for i, b in enumerate(blobs)],
                               "i int, sketch binary")
    has_rank = name != "ddsketch"  # DDSketch answers quantiles only
    cols = [quantiles_col(spec, probs).alias("q")]
    if has_rank:
        cols.append(rank_col(spec, 1.5).alias("r"))
    got = {r["i"]: r.asDict() for r in df.select("i", *cols).collect()}
    for i, b in enumerate(blobs):
        if b is None:
            assert got[i]["q"] is None and got[i].get("r") is None
            continue
        sk = spec.from_bytes(b)
        assert got[i]["q"] == [_sql(q) for q in np.asarray(
            sk.quantile(np.asarray(probs)), dtype=np.float64).tolist()]
        if has_rank:
            assert got[i]["r"] == _sql(float(sk.rank(1.5)))


@pytest.fixture(scope="module")
def sql_blobs(spark):
    from sketchlib.spark.sql import register_sql_functions

    register_sql_functions(spark)
    names = ["hll", "bloom", "cms", "tdigest", "kll", "ddsketch", "theta",
             "mg", "ams"]
    blobs = {n: [_blob(n, SPECS[n], s) for s in (6, 7)] for n in names}
    rows = [tuple(blobs[n][i] for n in names) for i in range(2)]
    rows.append(tuple(None for _ in names))
    schema = ", ".join(f"{n} binary" for n in names)
    spark.createDataFrame([(i,) + r for i, r in enumerate(rows)],
                          "i int, " + schema).createOrReplaceTempView("blobs_t")
    return blobs


def test_sql_per_blob_functions_values_and_nulls(spark, sql_blobs):
    from sketchlib.ams import AmsSketch
    from sketchlib.bloom import BloomFilter
    from sketchlib.cms import CountMinSketch
    from sketchlib.ddsketch import DDSketch
    from sketchlib.hll import HllSketch
    from sketchlib.kll import KllSketch
    from sketchlib.mg import MisraGriesSketch
    from sketchlib.tdigest import TDigest
    from sketchlib.theta import ThetaSketch

    h = -123456789  # a signed element hash, as SQL passes it
    hu = np.array([h], dtype=np.int64).view(np.uint64)
    b = {n: v[0] for n, v in sql_blobs.items()}
    b2 = {n: v[1] for n, v in sql_blobs.items()}
    want = {
        "hll_estimate(hll)": HllSketch.from_bytes(b["hll"]).count(),
        "hll_count_additions(hll)": HllSketch.from_bytes(b["hll"]).count_additions,
        "bloom_estimate(bloom)": BloomFilter.from_bytes(b["bloom"]).estimate_cardinality(),
        "cms_total(cms)": CountMinSketch.from_bytes(b["cms"]).count_additions,
        "tdigest_quantile(tdigest, 0.5)": float(TDigest.from_bytes(b["tdigest"]).quantile(0.5)),
        "kll_quantile(kll, 0.9)": float(KllSketch.from_bytes(b["kll"]).quantile(0.9)),
        "ddsketch_quantile(ddsketch, 0.25)": float(DDSketch.from_bytes(b["ddsketch"]).quantile(0.25)),
        "theta_estimate(theta)": ThetaSketch.from_bytes(b["theta"]).count(),
        "mg_point_estimate(mg, %dL)" % h: int(MisraGriesSketch.from_bytes(b["mg"]).estimate_hashes(hu)[0]),
        "mg_error_bound(mg)": MisraGriesSketch.from_bytes(b["mg"]).error_bound(),
        "ams_f2_estimate(ams)": AmsSketch.from_bytes(b["ams"]).estimate_f2(),
        "countsketch_point_estimate(ams, %dL)" % h: int(AmsSketch.from_bytes(b["ams"]).estimate_hashes(hu)[0]),
    }
    exprs = list(want)
    got = {r["i"]: r for r in spark.sql(
        "SELECT i, " + ", ".join(f"{e} AS c{j}" for j, e in enumerate(exprs))
        + " FROM blobs_t").collect()}
    for j, e in enumerate(exprs):
        assert got[0][f"c{j}"] == want[e], e
        assert got[2][f"c{j}"] is None, e  # NULL blob -> NULL

    ta, tb = ThetaSketch.from_bytes(b["theta"]), ThetaSketch.from_bytes(b2["theta"])
    [r] = spark.sql("""
        SELECT theta_intersect_estimate(a.theta, b.theta) AS i,
               theta_a_not_b_estimate(a.theta, b.theta) AS d,
               theta_intersect_estimate(a.theta, n.theta) AS i_null,
               theta_a_not_b_estimate(n.theta, b.theta) AS d_null
        FROM blobs_t a, blobs_t b, blobs_t n
        WHERE a.i = 0 AND b.i = 1 AND n.i = 2""").collect()
    assert (r["i"], r["d"]) == (ta.intersect_count(tb)[0], ta.a_not_b_count(tb)[0])
    assert r["i_null"] is None and r["d_null"] is None

    # a NULL or NaN q, or a NULL hash, gives NULL (not the sketch max)
    [r] = spark.sql("""
        SELECT tdigest_quantile(tdigest, CAST(NULL AS DOUBLE)) AS a,
               kll_quantile(kll, double('NaN')) AS b,
               ddsketch_quantile(ddsketch, CAST(NULL AS DOUBLE)) AS c,
               mg_point_estimate(mg, CAST(NULL AS BIGINT)) AS d,
               countsketch_point_estimate(ams, CAST(NULL AS BIGINT)) AS e
        FROM blobs_t WHERE i = 0""").collect()
    assert all(v is None for v in r)


@pytest.mark.parametrize("name", ["hll", "ddsketch", "theta", "mg", "ams"])
def test_sql_merge_all_equals_sequential_and_nulls(spark, sql_blobs, name):
    spec = SPECS[name]
    b1, b2 = sql_blobs[name]
    merged = spec.to_bytes(_sequential(spec, [b1, b2]))
    rows = spark.sql(f"""
        SELECT k, {name}_merge_all(blobs) AS m FROM (
          SELECT 0 AS k, collect_list({name}) AS blobs FROM blobs_t
          UNION ALL SELECT 1, array(b.{name}, n.{name}, a.{name})
            FROM blobs_t a, blobs_t b, blobs_t n
            WHERE a.i = 0 AND b.i = 1 AND n.i = 2
          UNION ALL SELECT 2, array(a.{name}) FROM blobs_t a WHERE a.i = 0
          UNION ALL SELECT 3, collect_list({name}) FROM blobs_t WHERE i = 2
          UNION ALL SELECT 4, array(n.{name}) FROM blobs_t n WHERE n.i = 2)
    """).collect()
    got = {r["k"]: (None if r["m"] is None else bytes(r["m"])) for r in rows}
    assert got[0] == merged  # collect_list drops the NULL row
    assert got[1] == spec.to_bytes(_sequential(spec, [b2, b1]))  # NULL skipped
    assert got[2] == b1  # a lone blob passes through
    assert got[3] is None and got[4] is None  # no blob -> NULL
