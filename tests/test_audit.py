"""Sampled-group accuracy audit (sketchlib/spark/audit.py) — the
north-star verification loop: exact distinct on a deterministic sample of
groups vs the sketch estimate, with a published-bound verdict."""

import math

import pytest
from pyspark.sql import functions as F

from sketchlib.spark.aggregate import HllSpec
from sketchlib.spark.audit import accuracy_audit, audit_summary, published_rse
from sketchlib.spark.specs import ThetaSpec


def _df(spark, n_groups=20, per_group=80):
    rows = [(g, g * 100_000 + i) for g in range(n_groups)
            for i in range(per_group)]
    # duplicate every third row: count != distinct
    rows += [r for r in rows if r[1] % 3 == 0]
    return spark.createDataFrame(rows, "g long, v long")


def test_published_rse():
    assert math.isclose(published_rse(HllSpec(p=14)),
                        1.04 / math.sqrt(2 ** 14))
    assert math.isclose(published_rse(ThetaSpec(k=1024)),
                        1.0 / math.sqrt(1023))


def test_audit_all_groups_within_bound(spark):
    audit = accuracy_audit(_df(spark), "v", ["g"]).orderBy("g")
    rows = audit.collect()
    assert len(rows) == 20
    for r in rows:
        assert r["exact_distinct"] == 80
        assert r["within_bound"], r
        # 80 distinct <= direct-count threshold (100) -> estimate exact
        assert r["rel_err"] == 0.0


def test_sample_pred_restricts_groups(spark):
    audit = accuracy_audit(_df(spark), "v", ["g"],
                           sample_pred=F.col("g") % 7 == 0)
    got = sorted(r["g"] for r in audit.collect())
    assert got == [0, 7, 14]


def test_audit_summary_alert_row(spark):
    audit = accuracy_audit(_df(spark), "v", ["g"])
    s = audit_summary(audit).collect()[0]
    assert s["n_groups_audited"] == 20
    assert s["n_out_of_bound"] == 0
    assert s["max_rel_err"] == 0.0


def test_out_of_bound_detected_when_bound_is_zero(spark):
    """Verdict plumbing: with a p=4 sketch over ~3000 distinct values and a
    zero-width bound, approximation error must register as out-of-bound."""
    rows = [(0, i) for i in range(3000)]
    df = spark.createDataFrame(rows, "g long, v long")
    audit = accuracy_audit(df, "v", ["g"], spec=HllSpec(p=4),
                           sigmas=0.0, abs_slack=0.0)
    r = audit.collect()[0]
    assert r["exact_distinct"] == 3000
    assert not r["within_bound"]
    assert audit_summary(audit).collect()[0]["n_out_of_bound"] == 1


def test_spec_keys_with_spec_raise(spark):
    from sketchlib.spark.aggregate import distinct_count

    df = _df(spark)
    for kw in ({"p": 10}, {"hash_name": "fnv1a"}, {"prehash64": True}):
        with pytest.raises(ValueError, match="not both"):
            distinct_count(df, "v", ["g"], spec=HllSpec(p=12), **kw)
    for kw in ({"p": 10}, {"prehashed": True}, {"prehash64": True}):
        with pytest.raises(ValueError, match="not both"):
            accuracy_audit(df, "v", ["g"], spec=HllSpec(p=12), **kw)
    with pytest.raises(ValueError, match="not both"):
        accuracy_audit(df, "v", ["g"], prehash64=True, prehashed=True)


def test_audit_prehash64_audits_the_prehashed_path(spark):
    """``prehash64`` reaches the audited estimate: on groups far past the
    direct-count threshold the xxhash64 and murmur3 estimates differ, and
    the audit must report the prehashed one."""
    from sketchlib.spark.aggregate import distinct_count

    df = spark.createDataFrame([(g, g * 100_000 + i) for g in range(3)
                                for i in range(5000)], "g long, v long")

    def estimates(d):
        return {r["g"]: r["estimate"] for r in d.collect()}

    prehashed = estimates(distinct_count(df, "v", ["g"], p=10,
                                         prehash64=True))
    assert prehashed != estimates(distinct_count(df, "v", ["g"], p=10))
    assert estimates(accuracy_audit(df, "v", ["g"], p=10,
                                    prehash64=True)) == prehashed
