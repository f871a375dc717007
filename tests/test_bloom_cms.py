"""Bloom filter and count-min sketch: core algebra, error bounds, wire
round-trips, merge associativity/commutativity (bit-for-bit), and the Spark
operators (membership pre-filter, heavy hitters)."""

import numpy as np
import pytest

from sketchlib.bloom import BloomFilter, optimal_params
from sketchlib.cms import CountMinSketch, params_for
from sketchlib.hashing import murmur3_64_flat, to_flat_bytes


def _hashes(values):
    flat, off = to_flat_bytes([str(v).encode() for v in values])
    return murmur3_64_flat(flat, off)


# ---------------------------------------------------------------------------
# Bloom core
# ---------------------------------------------------------------------------

class TestBloom:
    def test_no_false_negatives(self):
        bf = BloomFilter(m_bits=1 << 14, k=5)
        h = _hashes(range(2000))
        bf.add_hashes(h)
        assert bf.contains_hashes(h).all()

    def test_fpr_within_bound(self):
        n = 2000
        m_bits, k = optimal_params(n, 0.01)
        bf = BloomFilter(m_bits=m_bits, k=k)
        bf.add_hashes(_hashes(range(n)))
        probes = _hashes(range(10_000, 60_000))
        fp = int(bf.contains_hashes(probes).sum())
        assert fp / probes.shape[0] <= 3 * 0.01

    def test_cardinality_estimate(self):
        bf = BloomFilter(m_bits=1 << 16, k=5)
        bf.add_hashes(_hashes(range(3000)))
        est = bf.estimate_cardinality()
        assert abs(est - 3000) / 3000 < 0.05
        assert BloomFilter(m_bits=1 << 16, k=5).estimate_cardinality() == 0

    def test_merge_or_bitwise_assoc_comm(self):
        parts = [np.sort(_hashes(range(i * 500, (i + 1) * 500))) for i in range(4)]
        filters = []
        for p in parts:
            bf = BloomFilter(m_bits=1 << 14, k=5)
            bf.add_hashes(p)
            filters.append(bf)
        ab = BloomFilter.from_bytes(filters[0].to_bytes()); ab.merge(filters[1])
        ba = BloomFilter.from_bytes(filters[1].to_bytes()); ba.merge(filters[0])
        assert ab.to_bytes() == ba.to_bytes()
        left = BloomFilter.from_bytes(ab.to_bytes())
        left.merge(filters[2]); left.merge(filters[3])
        cd = BloomFilter.from_bytes(filters[2].to_bytes()); cd.merge(filters[3])
        right = BloomFilter.from_bytes(ab.to_bytes()); right.merge(cd)
        assert left.to_bytes() == right.to_bytes()
        # merged == single-pass build
        single = BloomFilter(m_bits=1 << 14, k=5)
        single.add_hashes(np.concatenate(parts))
        assert left.bits.tobytes() == single.bits.tobytes()

    def test_wire_roundtrip(self):
        bf = BloomFilter(m_bits=1 << 12, k=3)
        bf.add_hashes(_hashes(range(100)))
        rt = BloomFilter.from_bytes(bf.to_bytes())
        assert rt == bf
        assert rt.to_bytes() == bf.to_bytes()

    def test_param_validation(self):
        with pytest.raises(ValueError):
            BloomFilter(m_bits=1000)  # not power of two
        with pytest.raises(ValueError):
            BloomFilter(k=0)
        a, b = BloomFilter(m_bits=1 << 10), BloomFilter(m_bits=1 << 11)
        with pytest.raises(ValueError):
            a.merge(b)
        with pytest.raises(ValueError):
            BloomFilter.from_bytes(b"XX" + b"\x00" * 20)


# ---------------------------------------------------------------------------
# Count-min core
# ---------------------------------------------------------------------------

class TestCms:
    def test_never_undercounts_and_eps_bound(self):
        rng = np.random.default_rng(7)
        # Zipf-ish frequencies over 5000 distinct values
        values = rng.zipf(1.3, size=200_000) % 5000
        uniq, true_counts = np.unique(values, return_counts=True)
        cms = CountMinSketch(width=1 << 12, depth=5)
        cms.add_hashes(_hashes(values.tolist()))
        est = cms.estimate_hashes(_hashes(uniq.tolist())).astype(np.int64)
        assert (est >= true_counts).all()  # one-sided guarantee
        n = values.shape[0]
        over = est - true_counts
        # overcount <= eps*N for the overwhelming majority (prob 1 - e^-d each)
        assert (over <= cms.eps * n).mean() > 0.99

    def test_weighted_add_equivalent(self):
        vals = list(range(300))
        h = _hashes(vals)
        a = CountMinSketch(width=1 << 10, depth=4)
        for _ in range(3):
            a.add_hashes(h)
        b = CountMinSketch(width=1 << 10, depth=4)
        b.add_hashes(h, counts=np.full(len(vals), 3, dtype=np.int64))
        assert a == b

    def test_merge_sum_assoc_comm(self):
        parts = [_hashes(range(i * 300, (i + 1) * 300 + 50)) for i in range(3)]
        sketches = []
        for p in parts:
            c = CountMinSketch(width=1 << 10, depth=4)
            c.add_hashes(p)
            sketches.append(c)
        ab = CountMinSketch.from_bytes(sketches[0].to_bytes()); ab.merge(sketches[1])
        ba = CountMinSketch.from_bytes(sketches[1].to_bytes()); ba.merge(sketches[0])
        assert ab.to_bytes() == ba.to_bytes()
        abc1 = CountMinSketch.from_bytes(ab.to_bytes()); abc1.merge(sketches[2])
        bc = CountMinSketch.from_bytes(sketches[1].to_bytes()); bc.merge(sketches[2])
        abc2 = CountMinSketch.from_bytes(sketches[0].to_bytes()); abc2.merge(bc)
        assert abc1.to_bytes() == abc2.to_bytes()
        single = CountMinSketch(width=1 << 10, depth=4)
        single.add_hashes(np.concatenate(parts))
        assert abc1 == single

    def test_wire_roundtrip(self):
        c = CountMinSketch(width=1 << 8, depth=3)
        c.add_hashes(_hashes(range(500)))
        rt = CountMinSketch.from_bytes(c.to_bytes())
        assert rt == c and rt.to_bytes() == c.to_bytes()

    def test_params_for(self):
        w, d = params_for(eps=0.001, delta=0.01)
        assert w >= np.e / 0.001 and (w & (w - 1)) == 0
        assert d == 5


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------

class TestSparkOps:
    def test_bloom_membership_prefilter(self, spark, sf_dir):
        from sketchlib.spark.membership import bloom_build_bytes, filter_might_contain

        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
        blob = bloom_build_bytes(orders, "o_custkey")
        kept = filter_might_contain(customer, "c_custkey", blob)
        # semi-join correctness: every customer with an order must be kept
        with_orders = customer.join(orders, customer.c_custkey == orders.o_custkey,
                                    "left_semi")
        missed = with_orders.exceptAll(kept.select(*with_orders.columns)).count()
        assert missed == 0

    def test_bloom_distinct_estimate_via_sketch_agg(self, spark, sf_dir):
        from sketchlib.spark.aggregate import distinct_count
        from sketchlib.spark.specs import BloomSpec
        from pyspark.sql import functions as F

        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        est = distinct_count(orders, "o_custkey", spec=BloomSpec())
        [row] = est.collect()
        want = orders.select(F.countDistinct("o_custkey")).first()[0]
        assert abs(row["estimate"] - want) / want < 0.05

    def test_heavy_hitters_global(self, spark, sf_dir):
        from pyspark.sql import functions as F
        from sketchlib.spark.heavy_hitters import heavy_hitters

        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        hh = heavy_hitters(li, "l_suppkey", k=10).collect()
        assert len(hh) == 10
        exact = dict(li.groupBy("l_suppkey").count().collect())
        n = li.count()
        eps = np.e / (1 << 12)
        for r in hh:
            true = exact[r["value"]]
            assert r["lower_bound"] <= true <= r["est_count"]
            assert r["est_count"] <= true + 3 * eps * n
        # top-1 by estimate should be the true top-1 (margin >> eps*N here)
        true_top = max(exact.items(), key=lambda kv: (kv[1], -kv[0]))[0]
        ests = {r["value"]: r["est_count"] for r in hh}
        assert true_top in ests

    def test_heavy_hitters_grouped(self, spark, sf_dir):
        from sketchlib.spark.heavy_hitters import heavy_hitters

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        hh = heavy_hitters(ev, "user_id", k=5, group_cols=["event_type"])
        rows = hh.collect()
        types = {r["event_type"] for r in rows}
        assert types == {r["event_type"] for r in ev.select("event_type").distinct().collect()}
        for r in rows:
            assert r["lower_bound"] <= r["est_count"]


def test_heavy_hitters_weighted(spark, sf_dir):
    """Rank values by SUM(weight) (hosts-by-bytes shape)."""
    from pyspark.sql import functions as F
    from sketchlib.spark.heavy_hitters import heavy_hitters

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    hh = heavy_hitters(li, "l_suppkey", k=5,
                       weight_col="l_quantity",
                       spec=None, candidates_per_partition=64)
    rows = hh.collect()
    assert len(rows) == 5
    exact = {r["l_suppkey"]: r["w"] for r in
             li.groupBy("l_suppkey").agg(F.sum("l_quantity").alias("w")).collect()}
    for r in rows:
        true = int(exact[r["value"]])
        assert r["lower_bound"] <= true <= r["est_count"]


class TestBoundedCandidates:
    def test_mg_update_bounded_and_lower_bound(self):
        """Candidate table never exceeds 2*cap entries no matter how many
        distinct values stream through, and surviving counts stay lower
        bounds on the true counts (regression: stage 1 used to keep an
        exact unbounded value->count dict)."""
        import numpy as np
        import pyarrow as pa
        from sketchlib.spark.heavy_hitters import _mg_update

        rng = np.random.default_rng(7)
        cap = 64
        cur = None
        true = {}
        for b in range(50):
            # 20k fresh singletons per batch (1M distinct total) + 5 heavies
            uniq = np.arange(b * 20_000, (b + 1) * 20_000)
            heavy = rng.integers(0, 5, size=5_000) - 10  # ids -10..-6
            vals, cnts = np.unique(np.concatenate([uniq, heavy]), return_counts=True)
            s = pa.table({"value": vals, "count": cnts.astype(np.int64)})
            for v, c in zip(vals.tolist(), cnts.tolist()):
                true[v] = true.get(v, 0) + int(c)
            cur = _mg_update(cur, s, cap)
            assert cur.num_rows <= 2 * cap
        # heavies survive and their counts are valid lower bounds
        got = dict(zip(cur.column("value").to_pylist(),
                       cur.column("count").to_pylist()))
        for hid in range(-10, -5):
            assert hid in got
            assert 0 < got[hid] <= true[hid]

    def test_heavy_hitters_high_cardinality_partition(self, spark):
        """End-to-end: a single partition with ~300k distinct values still
        surfaces the true heavies with sound bounds."""
        import numpy as np
        from pyspark.sql import functions as F
        from sketchlib.spark.heavy_hitters import heavy_hitters

        uniq = spark.range(300_000).select(F.col("id").alias("v"))
        heavy = (spark.range(40_000)
                 .select((F.col("id") % 4 - 10).alias("v")))  # ids -10..-7, 10k each
        df = uniq.union(heavy).coalesce(1)
        hh = {r["value"]: r for r in heavy_hitters(df, "v", k=4).collect()}
        assert set(hh) == {-10, -9, -8, -7}
        for v, r in hh.items():
            assert r["lower_bound"] <= 10_000 <= r["est_count"]


class TestNullKeyProbes:
    """Nulls in probe frames must not poison their Arrow batch: one null
    degrades an int64 pandas column to float64, mis-hashing every key in
    the batch (verified pre-fix: 500/1000 true members dropped).  The
    frame-level probes coalesce JVM-side so dtypes stay exact."""

    def test_filter_might_contain_with_null_rows(self, spark):
        from sketchlib.spark.membership import (bloom_build_bytes,
                                                filter_might_contain)

        base = spark.range(1000).withColumnRenamed("id", "k")
        blob = bloom_build_bytes(base, "k")
        probe = base.unionByName(spark.sql("select cast(null as long) k"))
        assert filter_might_contain(probe, "k", blob).count() == 1000
        # negate: the null-key row is definitely absent -> kept
        anti = filter_might_contain(probe, "k", blob, negate=True)
        assert [r["k"] for r in anti.collect()] == [None]

    def test_might_contain_udf_null_string_rows(self, spark):
        from sketchlib.spark.membership import (bloom_build_bytes,
                                                might_contain_udf)

        s = spark.createDataFrame([("a",), ("b",), (None,)], "k string")
        blob = bloom_build_bytes(s.na.drop(), "k")
        got = {(r["k"], r["h"]) for r in
               s.withColumn("h", might_contain_udf(blob, "k")).collect()}
        assert got == {("a", True), ("b", True), (None, False)}

    def test_might_contain_udf_null_long_row_keeps_members(self, spark):
        """One NULL in the members' Arrow batch must not change how the
        other int64 keys hash (a pandas probe saw the batch as float64
        and dropped 500 of these 1000 members)."""
        from sketchlib.spark.membership import (bloom_build_bytes,
                                                might_contain_udf)

        base = spark.range(1000).withColumnRenamed("id", "k")
        blob = bloom_build_bytes(base, "k")
        probe = base.unionByName(
            spark.sql("select cast(null as long) k")).coalesce(1)
        got = probe.withColumn("h", might_contain_udf(blob, "k")).collect()
        assert sum(r["h"] for r in got if r["k"] is not None) == 1000
        assert [r["h"] for r in got if r["k"] is None] == [False]

    def test_estimate_counts_null_rows_zero(self, spark):
        from sketchlib.spark.aggregate import sketch_agg
        from sketchlib.spark.heavy_hitters import estimate_counts
        from sketchlib.spark.specs import CmsSpec

        spec = CmsSpec()
        base = spark.range(500).withColumnRenamed("id", "k")
        [row] = sketch_agg(base, "k", (), spec).collect()
        blob = bytes(row["sketch"])
        probe = base.unionByName(spark.sql("select cast(null as long) k"))
        rows = estimate_counts(probe, "k", blob, spec).collect()
        nulls = [r for r in rows if r["k"] is None]
        assert len(nulls) == 1 and nulls[0]["est_count"] == 0
        # CMS never undercounts: every real key >= 1 even sharing a
        # batch with the null row
        assert all(r["est_count"] >= 1 for r in rows if r["k"] is not None)


class TestBlobcacheSharedInfra:
    def test_blob_token_content_derived(self):
        """Repeated probe-UDF constructions over the same (blob, spec)
        must share one worker-cache token (a per-call UUID would re-parse
        a GB blob per call and thrash the capped worker LRU)."""
        from sketchlib.spark.blobcache import blob_digest, blob_token
        from sketchlib.spark.specs import BloomSpec, CmsSpec

        b = b"\x01" * 64
        t1 = blob_token(blob_digest(b), BloomSpec())
        t2 = blob_token(blob_digest(b"\x01" * 64), BloomSpec())
        assert t1 == t2
        assert blob_token(blob_digest(b"\x02" * 64), BloomSpec()) != t1
        assert blob_token(blob_digest(b), CmsSpec()) != t1
        # two instances alive AT ONCE: the original test's temporaries
        # could be served the SAME reused address, so an address-based
        # default repr passed it by luck while defeating sharing for any
        # caller that held specs alive (SketchSpec.__repr__ is the fix)
        s1, s2 = BloomSpec(), BloomSpec()
        assert blob_token(blob_digest(b), s1) == blob_token(blob_digest(b), s2)
        assert "object at 0x" not in repr(s1)
        # parameter changes must change the token
        assert blob_token(blob_digest(b), BloomSpec(m_bits=1 << 10)) != t1

    def test_worker_cache_loads_once_per_token(self):
        from sketchlib.spark import blobcache as BC

        BC._CACHE.clear()
        loads = []
        for _ in range(3):
            BC.get_or_load("tok-x", lambda: loads.append(1) or object())
        assert len(loads) == 1

    def test_broadcast_cache_lru_keeps_hot_entry(self, spark):
        """A hit must refresh recency: one hot blob probed between many
        one-off blobs stays broadcast while the cold ones rotate out."""
        from sketchlib.spark import blobcache as BC

        BC._BC_CACHE.clear()
        sc = spark.sparkContext
        hot = b"hot" * 40
        hot_bc = BC.broadcast_blob(sc, hot)
        for i in range(BC._BC_MAX + 3):
            BC.broadcast_blob(sc, b"cold%d" % i * 20)
            assert BC.broadcast_blob(sc, hot) is hot_bc

    def test_probe_and_estimate_accept_nested_columns(self, spark):
        """filter/probe_might_contain and estimate_counts must resolve
        nested field references the way F.col does (df.schema[c] only
        accepts top-level names)."""
        from pyspark.sql import functions as F

        from sketchlib.spark.aggregate import sketch_agg
        from sketchlib.spark.heavy_hitters import estimate_counts
        from sketchlib.spark.membership import bloom_build_bytes, filter_might_contain
        from sketchlib.spark.specs import CmsSpec

        df = spark.createDataFrame(
            [((i % 5, f"k{i % 5}"),) for i in range(50)],
            "meta struct<id:long, key:string>")
        blob = bloom_build_bytes(df.select(F.col("meta.key").alias("k")),
                                 "k")
        kept = filter_might_contain(df, "meta.key", blob)
        assert kept.count() == 50
        spec = CmsSpec()
        [row] = sketch_agg(df.select(F.col("meta.id").alias("v")), "v",
                           (), spec).collect()
        est = estimate_counts(df, "meta.id", bytes(row["sketch"]), spec)
        assert est.filter("est_count >= 10").count() == 50
