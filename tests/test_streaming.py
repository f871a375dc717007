"""Structured Streaming sketch aggregation: incremental updates across
micro-batches, exactness in direct mode, checkpointed restart resume."""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("lang", T.StringType()),
])


def _write_chunk(spark, src_dir, rows, chunk_id):
    df = spark.createDataFrame(rows, SCHEMA)
    df.repartition(1).write.mode("append").parquet(src_dir)


def _run_available_now(spark, src_dir, ckpt_dir, sink_table):
    """Run one availableNow pass; collect updated rows via foreachBatch
    (the only sink that supports checkpoint recovery for arbitrary queries)."""
    from sketchlib.streaming import streaming_distinct_count

    collected = []

    def sink(batch_df, _bid):
        collected.extend(batch_df.collect())

    stream = (spark.readStream.schema(SCHEMA).parquet(src_dir))
    agg = streaming_distinct_count(stream, "url", ["lang"])
    q = (agg.writeStream.foreachBatch(sink)
         .outputMode("update")
         .option("checkpointLocation", ckpt_dir)
         .trigger(availableNow=True).start())
    if not q.awaitTermination(120):
        q.stop()
        raise TimeoutError(
            "availableNow streaming pass did not finish in 120s")
    return collected


def test_streaming_distinct_incremental_and_resume(spark, tmp_path):
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)

    _write_chunk(spark, src,
                 [(f"https://a/{i}", "en") for i in range(40)]
                 + [(f"https://b/{i}", "de") for i in range(10)], 0)
    out1 = _run_available_now(spark, src, ckpt, "stream_out1")
    got1 = {r["lang"]: r["estimate"] for r in out1}
    assert got1 == {"en": 40, "de": 10}

    # second chunk: overlapping urls must not inflate the distinct count;
    # restart with the same checkpoint resumes state (not a recount of chunk 1)
    _write_chunk(spark, src,
                 [(f"https://a/{i}", "en") for i in range(20, 60)]
                 + [(f"https://c/{i}", "zh") for i in range(5)], 1)
    out2 = _run_available_now(spark, src, ckpt, "stream_out2")
    got2 = {r["lang"]: r["estimate"] for r in out2}
    assert got2["en"] == 60  # 0..59 distinct, overlap deduped by state sketch
    assert got2["zh"] == 5
    assert "de" not in got2  # update mode: untouched groups are not re-emitted


def test_streaming_windowed_event_time(spark, tmp_path):
    """Event-time windowing + watermark: the window struct is just another
    group key to the stateful sketch operator."""
    from datetime import datetime

    from pyspark.sql import types as T

    from sketchlib.streaming import streaming_distinct_count

    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ])
    src = str(tmp_path / "wsrc")
    os.makedirs(src, exist_ok=True)
    rows = ([(f"https://a/{i}", datetime(2026, 1, 1, 0, 10)) for i in range(30)]
            + [(f"https://a/{i}", datetime(2026, 1, 1, 1, 10)) for i in range(10, 50)])
    spark.createDataFrame(rows, schema).repartition(1).write.mode("append").parquet(src)

    collected = []
    stream = (spark.readStream.schema(schema).parquet(src)
              .withWatermark("ts", "2 hours")
              .withColumn("window", F.window("ts", "1 hour"))
              .select("url", "window"))  # one event-time column downstream
    agg = streaming_distinct_count(stream, "url", ["window"])
    q = (agg.writeStream.foreachBatch(lambda df, _b: collected.extend(df.collect()))
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "wckpt"))
         .trigger(availableNow=True).start())
    if not q.awaitTermination(120):
        q.stop()
        raise TimeoutError(
            "availableNow streaming pass did not finish in 120s")
    got = {r["window"]["start"].hour: r["estimate"] for r in collected}
    assert got == {0: 30, 1: 40}


def test_streaming_count_additions(spark, tmp_path):
    src = str(tmp_path / "src2")
    ckpt = str(tmp_path / "ckpt2")
    os.makedirs(src, exist_ok=True)
    rows = [(f"https://x/{i % 10}", "en") for i in range(50)]
    _write_chunk(spark, src, rows, 0)
    out = _run_available_now(spark, src, ckpt, "stream_out3")
    [r] = out
    assert r["estimate"] == 10 and r["count_additions"] == 50


def test_streaming_tdigest_median(spark, tmp_path):
    """Any mergeable spec plugs into the streaming operator — t-digest
    median per group, updated across micro-batches."""
    from sketchlib.spark.specs import TDigestSpec
    from sketchlib.streaming import streaming_sketch_agg

    schema = T.StructType([
        T.StructField("grp", T.StringType()),
        T.StructField("v", T.DoubleType()),
    ])
    src = str(tmp_path / "tdsrc")
    os.makedirs(src, exist_ok=True)
    rows = [("a", float(i)) for i in range(101)] + [("b", float(i * 10)) for i in range(11)]
    spark.createDataFrame(rows, schema).repartition(1).write.mode("append").parquet(src)

    collected = []
    stream = spark.readStream.schema(schema).parquet(src)
    agg = streaming_sketch_agg(stream, "v", ["grp"], TDigestSpec())
    q = (agg.writeStream.foreachBatch(lambda df, _b: collected.extend(df.collect()))
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "tdckpt"))
         .trigger(availableNow=True).start())
    if not q.awaitTermination(120):
        q.stop()
        raise TimeoutError(
            "availableNow streaming pass did not finish in 120s")
    got = {r["grp"]: r["estimate"] for r in collected}
    assert abs(got["a"] - 50.0) <= 2.0
    assert abs(got["b"] - 50.0) <= 10.0


def test_streaming_theta_state(spark, tmp_path):
    """ThetaSpec through applyInPandasWithState: incremental distinct across
    micro-batches with O(k) state per group."""
    from sketchlib.spark.specs import ThetaSpec
    from sketchlib.streaming import streaming_sketch_agg

    src = str(tmp_path / "src_theta")
    ckpt = str(tmp_path / "ckpt_theta")
    _write_chunk(spark, src, [(f"u{i}", "en") for i in range(300)], 0)
    _write_chunk(spark, src, [(f"u{i}", "en") for i in range(200, 500)], 1)

    collected = []

    def sink(batch_df, _bid):
        collected.extend(batch_df.collect())

    stream = spark.readStream.schema(SCHEMA).parquet(src)
    agg = streaming_sketch_agg(stream, "url", ["lang"], ThetaSpec(k=1024))
    q = (agg.writeStream.foreachBatch(sink).outputMode("update")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    if not q.awaitTermination(120):
        q.stop()
        raise TimeoutError(
            "availableNow streaming pass did not finish in 120s")
    final = {r["lang"]: r["estimate"] for r in collected}
    assert final["en"] == 500  # below k -> exact


def test_windowed_state_eviction(spark, tmp_path):
    """windowed_sketch_agg bounds state: once the watermark passes a
    window's end, its state row is evicted (EventTimeTimeout), so state is
    O(open windows), not O(stream lifetime)."""
    from datetime import datetime

    from sketchlib.streaming import windowed_distinct_count

    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ])
    src = str(tmp_path / "evsrc")
    os.makedirs(src, exist_ok=True)

    collected = []

    def run_pass():
        stream = spark.readStream.schema(schema).parquet(src)
        agg = windowed_distinct_count(stream, "url", "ts", "1 hour",
                                      "30 minutes")
        q = (agg.writeStream
             .foreachBatch(lambda bdf, _b: collected.extend(bdf.collect()))
             .outputMode("update")
             .option("checkpointLocation", str(tmp_path / "evckpt"))
             .trigger(availableNow=True).start())
        if not q.awaitTermination(120):
            q.stop()
            raise TimeoutError(
                "availableNow streaming pass did not finish in 120s")
        return q

    rows1 = ([(f"https://a/{i}", datetime(2026, 1, 1, 0, 10)) for i in range(30)]
             + [(f"https://b/{i}", datetime(2026, 1, 1, 1, 10)) for i in range(40)])
    spark.createDataFrame(rows1, schema).repartition(1).write.mode("append").parquet(src)
    run_pass()
    got1 = {r["window_start"].hour: r["estimate"] for r in collected}
    assert got1 == {0: 30, 1: 40}

    # second pass: hour-3 data pushes the watermark to 02:40, past the ends
    # of windows 0 and 1 -> their state must be evicted; only window 3 stays
    collected.clear()
    rows2 = [(f"https://c/{i}", datetime(2026, 1, 1, 3, 10)) for i in range(20)]
    spark.createDataFrame(rows2, schema).repartition(1).write.mode("append").parquet(src)
    q = run_pass()
    got2 = {r["window_start"].hour: r["estimate"] for r in collected}
    assert got2 == {3: 20}  # eviction emits nothing; closed windows final

    n_state = [p["stateOperators"][0]["numRowsTotal"]
               for p in (q.recentProgress or []) if p.get("stateOperators")]
    assert n_state and n_state[-1] == 1, n_state


def test_windowed_sliding(spark, tmp_path):
    """slide_duration: each row feeds every overlapping window's sketch."""
    from datetime import datetime

    from sketchlib.spark.aggregate import HllSpec
    from sketchlib.streaming import windowed_sketch_agg

    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ])
    src = str(tmp_path / "slsrc")
    os.makedirs(src, exist_ok=True)
    # 20 urls at 00:40 -> in windows [00:00,01:00) and [00:30,01:30)
    rows = [(f"https://a/{i}", datetime(2026, 1, 1, 0, 40)) for i in range(20)]
    spark.createDataFrame(rows, schema).repartition(1).write.mode("append").parquet(src)

    collected = []
    stream = spark.readStream.schema(schema).parquet(src)
    agg = windowed_sketch_agg(stream, "url", "ts", "1 hour", "30 minutes",
                              HllSpec(), slide_duration="30 minutes")
    q = (agg.writeStream
         .foreachBatch(lambda bdf, _b: collected.extend(bdf.collect()))
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "slckpt"))
         .trigger(availableNow=True).start())
    if not q.awaitTermination(120):
        q.stop()
        raise TimeoutError(
            "availableNow streaming pass did not finish in 120s")
    got = {(r["window_start"].hour, r["window_start"].minute): r["estimate"]
           for r in collected}
    assert got == {(0, 0): 20, (0, 30): 20}


def test_windowed_eviction_non_utc_session_tz(spark, tmp_path):
    """The window-struct key reaches the state function as NAIVE datetimes
    rendered in the SESSION timezone; end_ms must be derived by localizing
    with that zone, not the worker OS zone.  With session tz
    America/New_York (OS tz UTC here) the old naive .timestamp() read
    end_ms 5h EARLY, so every live window tested as boundary-late and its
    rows were silently dropped."""
    from datetime import datetime

    from sketchlib.streaming import windowed_distinct_count

    schema = T.StructType([
        T.StructField("url", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ])
    src = str(tmp_path / "tzsrc")
    os.makedirs(src, exist_ok=True)
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        collected = []

        def run_pass():
            stream = spark.readStream.schema(schema).parquet(src)
            agg = windowed_distinct_count(stream, "url", "ts", "1 hour",
                                          "30 minutes")
            q = (agg.writeStream
                 .foreachBatch(
                     lambda bdf, _b: collected.extend(bdf.collect()))
                 .outputMode("update")
                 .option("checkpointLocation", str(tmp_path / "tzckpt"))
                 .trigger(availableNow=True).start())
            assert q.awaitTermination(120)
            return q

        rows1 = [(f"https://a/{i}", datetime(2026, 1, 1, 0, 10))
                 for i in range(25)]
        spark.createDataFrame(rows1, schema).repartition(1).write.mode(
            "append").parquet(src)
        run_pass()
        got = {r["window_start"].hour: r["estimate"] for r in collected}
        assert got == {0: 25}  # live window emitted, not dropped as late

        # eviction still works: push the watermark far past window 0
        collected.clear()
        rows2 = [(f"https://b/{i}", datetime(2026, 1, 1, 6, 10))
                 for i in range(10)]
        spark.createDataFrame(rows2, schema).repartition(1).write.mode(
            "append").parquet(src)
        q = run_pass()
        got2 = {r["window_start"].hour: r["estimate"] for r in collected}
        assert got2 == {6: 10}
        n_state = [p["stateOperators"][0]["numRowsTotal"]
                   for p in (q.recentProgress or [])
                   if p.get("stateOperators")]
        assert n_state and n_state[-1] == 1, n_state
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


@pytest.mark.parametrize("windowed", [False, True])
def test_null_element_keeps_int64_hashes(spark, tmp_path, windowed):
    """A NULL element in a micro-batch must not change how the other
    int64 elements hash: the NULL rows are dropped JVM-side, before Spark's
    Arrow->pandas conversion would turn the column into float64.  A CMS
    point query for two members (one beyond 2**53) finds each once."""
    from datetime import datetime

    import numpy as np
    import pandas as pd

    from sketchlib.spark.aggregate import hash_columns
    from sketchlib.spark.specs import CmsSpec
    from sketchlib.streaming import streaming_sketch_agg, windowed_sketch_agg

    big = 2 ** 60 + 7
    probes = hash_columns(
        pd.DataFrame({"id": pd.Series([5, big], dtype="int64")}), ["id"])

    class _ProbeSpec(CmsSpec):
        def estimate(self, sk) -> int:
            # the smaller of the two probes' point estimates
            return int(sk.estimate_hashes(np.asarray(probes, "<u8")).min())

    schema = "id long, g string, ts timestamp"
    ts = datetime(2026, 1, 1, 0, 10)
    rows = [(i, "a", ts) for i in range(1, 51)] + [(big, "a", ts),
                                                   (None, "a", ts)]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, schema).repartition(1).write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    if windowed:
        agg = windowed_sketch_agg(stream, "id", "ts", "1 hour", "30 minutes",
                                  _ProbeSpec(), group_cols=["g"])
    else:
        agg = streaming_sketch_agg(stream.select("id", "g"), "id", ["g"],
                                   _ProbeSpec())
    collected = []
    q = (agg.writeStream
         .foreachBatch(lambda bdf, _b: collected.extend(bdf.collect()))
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    if not q.awaitTermination(120):
        q.stop()
        raise TimeoutError(
            "availableNow streaming pass did not finish in 120s")
    [r] = collected
    assert r["estimate"] == 1
    assert r["count_additions"] == 51  # the NULL row carries no mass


# element column of each type: 36 rows over 8 distinct values (k = id % 8);
# the timestamps straddle the America/New_York DST fall-back hour, where
# 05:20 and 06:20 UTC share the local wall clock 01:20
_TYPED_ELEMENTS = {
    "date": ("date", "date_from_unix_date(20000 + k)"),
    "timestamp": ("timestamp",
                  "timestamp_micros(1793509200000000 + k * 1200000000)"),
    "timestamp_ntz": ("timestamp_ntz",
                      "cast(timestamp_micros(1793509200000000"
                      " + k * 1200000000) as timestamp_ntz)"),
    "short": ("short", "cast(k * 1000 - 4000 as short)"),
}


@pytest.mark.parametrize("kind,windowed", [
    ("date", False), ("timestamp", False), ("timestamp", True),
    ("timestamp_ntz", False), ("short", False)])
def test_typed_element_hashes_as_batch(spark, tmp_path, kind, windowed):
    """A streaming state hashes every element as the batch path does, so
    the two merge: a CMS point query for each distinct value, with the
    probe hashed from the batch path's Arrow column, returns its true
    count.  Timestamps run under a non-UTC session zone: the state
    function must hash UTC microseconds, not the local wall clock."""
    from datetime import datetime

    import numpy as np
    import pyarrow as pa

    from sketchlib.spark.aggregate import hash_arrow_columns
    from sketchlib.spark.specs import CmsSpec
    from sketchlib.streaming import streaming_sketch_agg, windowed_sketch_agg

    old_tz = spark.conf.get("spark.sql.session.timeZone")
    if kind == "timestamp":
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        spark_type, expr = _TYPED_ELEMENTS[kind]
        df = (spark.range(36).select((F.col("id") % 8).alias("k"))
              .select(F.expr(expr).alias("e"),
                      F.lit("a").alias("g"),
                      F.lit(datetime(2026, 1, 1, 0, 10)).alias("ts")))
        counts = df.groupBy("e").count().toArrow().combine_chunks()
        probes = hash_arrow_columns(counts.to_batches()[0], ["e"])
        want = counts.column("count").to_numpy()
        assert len(probes) == 8 and len(np.unique(probes)) == 8

        class _ProbeSpec(CmsSpec):
            def estimate(self, sk) -> int:
                # how many probes' point estimates equal their true count
                return int((sk.estimate_hashes(
                    np.asarray(probes, "<u8")) == want).sum())

        schema = f"e {spark_type}, g string, ts timestamp"
        src = str(tmp_path / "src")
        df.repartition(1).write.parquet(src)
        stream = spark.readStream.schema(schema).parquet(src)
        if windowed:
            agg = windowed_sketch_agg(stream, "e", "ts", "1 hour",
                                      "30 minutes", _ProbeSpec(),
                                      group_cols=["g"])
        else:
            agg = streaming_sketch_agg(stream.select("e", "g"), "e", ["g"],
                                       _ProbeSpec())
        collected = []
        q = (agg.writeStream
             .foreachBatch(lambda bdf, _b: collected.extend(bdf.collect()))
             .outputMode("update")
             .option("checkpointLocation", str(tmp_path / "ckpt"))
             .trigger(availableNow=True).start())
        if not q.awaitTermination(120):
            q.stop()
            raise TimeoutError(
                "availableNow streaming pass did not finish in 120s")
        [r] = collected
        assert r["count_additions"] == 36
        assert r["estimate"] == 8
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
