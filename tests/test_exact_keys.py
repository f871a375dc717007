"""Stage 1 keeps group keys and heavy-hitter values as the input's own
Arrow values: an int64 column holding values above 2^53 keeps every value
exact through the partial builders. A pandas round trip turns such a
column into float64 (a NULL alone forces it), which rounds 2^60+1 and
2^60+3 to the same 2^60 and merges their groups."""

from decimal import Decimal

import pytest

from sketchlib.cms import CountMinSketch
from sketchlib.spark.aggregate import distinct_count, sketch_agg
from sketchlib.spark.heavy_hitters import heavy_hitters
from sketchlib.spark.quantiles import approx_quantiles
from sketchlib.spark.specs import CmsSpec

G1, G3 = (1 << 60) + 1, (1 << 60) + 3


def _grouped(spark):
    rows = [(G1, "a", 1.0), (G3, "b", 2.0), (None, "c", 3.0), (G1, "d", 5.0)]
    return spark.createDataFrame(rows, "g long, x string, v double").coalesce(1)


def _per_key(op, df):
    """``{g: answer}`` of ``op`` grouped by ``g``."""
    if op == "distinct_count":
        return {r["g"]: r["estimate"]
                for r in distinct_count(df, "x", ["g"]).collect()}
    if op == "sketch_agg_cms":
        return {r["g"]: CountMinSketch.from_bytes(bytes(r["sketch"])).count_additions
                for r in sketch_agg(df, "x", ["g"], spec=CmsSpec()).collect()}
    if op == "approx_quantiles":
        return {r["g"]: r["q"][0]
                for r in approx_quantiles(df, "v", [1.0], ["g"],
                                          result_name="q").collect()}
    out = {}
    for r in heavy_hitters(df, "x", k=5, group_cols=["g"]).collect():
        out.setdefault(r["g"], set()).add(r["value"])
    return out


@pytest.mark.parametrize("op, expected", [
    ("distinct_count", {G1: 2, G3: 1, None: 1}),
    ("sketch_agg_cms", {G1: 2, G3: 1, None: 1}),
    ("approx_quantiles", {G1: 5.0, G3: 2.0, None: 3.0}),
    ("heavy_hitters", {G1: {"a", "d"}, G3: {"b"}, None: {"c"}}),
])
def test_int64_group_keys_stay_exact(spark, op, expected):
    assert _per_key(op, _grouped(spark)) == expected


def test_heavy_hitter_int64_values_stay_exact(spark):
    df = spark.createDataFrame([(G1,), (G1,), (G3,)], "v long").coalesce(1)
    got = {r["value"]: r for r in heavy_hitters(df, "v", k=5).collect()}
    assert set(got) == {G1, G3}
    for v, true in ((G1, 2), (G3, 1)):
        assert got[v]["lower_bound"] <= true <= got[v]["est_count"]


def _weighted(spark, weights):
    return spark.createDataFrame(
        [("a", w) for w in weights], "v string, w decimal(10,2)").coalesce(1)


def test_decimal_weights_are_exact_or_rejected(spark):
    """A decimal weight counts exactly when integral and raises when
    fractional (an int64 cast of a Decimal object truncates 1.50 to 1)."""
    df = _weighted(spark, [Decimal("1.50")])
    with pytest.raises(Exception, match="weight_col must hold integral"):
        heavy_hitters(df, "v", weight_col="w").collect()
    [r] = heavy_hitters(_weighted(spark, [Decimal("2.00"), Decimal("1.00")]),
                        "v", weight_col="w").collect()
    assert (r["value"], r["lower_bound"], r["est_count"]) == ("a", 3, 3)
