"""Per-layer metrics for the traced run.

Three sources, all recorded from the benchmark's own files:

* module probes: each sketchlib module called on the workload's own keys,
  driver-side on one thread, as throughput;
* Spark-layer decomposition: the aggregate, heavy-hitter, quantile,
  membership and streaming operators split into their stages (stage 1
  materialized alone with a ``noop`` write, stage 2 over cached partials),
  one span each;
* engine counters: the Spark event log, parsed per span, as per-operation
  means over the workload's traced timed loop.

Every workload reports the same metric names, so a change to one module
can be compared across workloads.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

import numpy as np

from . import data
from .trace import COUNTERS, parse_event_log, span_counters

MIN_PROBE_S = 0.2  # repeat a driver-side probe until it has run this long

# metric -> unit; "count" metrics must repeat exactly for one seed
UNITS = {
    "hashing.arrow_columns.mrows_per_s": "Mrows/s",
    "hashing.series.mrows_per_s": "Mrows/s",
    "hashing.murmur3.mhash_per_s": "Mhash/s",
    "hll.from_unique_hashes.mhash_per_s": "Mhash/s",
    "hll.fold_blobs.blobs_per_s": "1/s",
    "hll.from_bytes.blobs_per_s": "1/s",
    "hll.to_bytes.blobs_per_s": "1/s",
    "hll.count.per_s": "1/s",
    "hll.blob_bytes.mean": "count",
    "cms.update.mvals_per_s": "Mvals/s",
    "tdigest.update.mvals_per_s": "Mvals/s",
    "bloom.add.mhash_per_s": "Mhash/s",
    "bloom.contains.mhash_per_s": "Mhash/s",
    "aggregate.build_partials.s": "s",
    "aggregate.partials.rows": "count",
    "aggregate.partials.bytes": "count",
    "aggregate.merge.s": "s",
    "aggregate.estimate.s": "s",
    "heavy_hitters.partials.s": "s",
    "heavy_hitters.final.s": "s",
    "heavy_hitters.candidates.rows": "count",
    "heavy_hitters.topk_recall": "ratio",
    "quantiles.agg.s": "s",
    "membership.build.s": "s",
    "membership.probe.s": "s",
    "membership.blob_bytes": "count",
    "membership.fp_frac": "ratio",
    "streaming.add_batch_ms.p50": "ms",
    "streaming.commit_ms.p50": "ms",
    "streaming.all_updates_ms.p50": "ms",
    "streaming.state_bytes": "B",
    "streaming.batches": "count",
    **{f"spark.{c}.per_op": unit for c, unit in COUNTERS.items()},
    "trace.overhead_ratio": "ratio",
}

STREAM_FILES = 5


def _rate(fn, items: int) -> float:
    """Items per second of ``fn`` (median of repeats, at least MIN_PROBE_S)."""
    times = []
    start = time.perf_counter()
    while time.perf_counter() - start < MIN_PROBE_S or len(times) < 3:
        t = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t)
    return items / statistics.median(times)


def module_probes(pdf, tracer) -> dict[str, float]:
    """Driver-side, single-thread throughput of each module on the
    workload's own keys."""
    import pyarrow as pa

    from sketchlib.bloom import BloomFilter, optimal_params
    from sketchlib.cms import CountMinSketch
    from sketchlib.encoding import arrow_flat_bytes
    from sketchlib.hashing import murmur3_64_flat
    from sketchlib.hll import HllSketch, fold_blobs
    from sketchlib.spark.aggregate import HllSpec, hash_arrow_columns, hash_columns
    from sketchlib.tdigest import TDigest

    n = len(pdf)
    m: dict[str, float] = {}
    batch = pa.RecordBatch.from_pandas(pdf[["url"]], preserve_index=False)
    flat, offsets = arrow_flat_bytes(batch.column("url"))
    with tracer.span("layer.hashing"):
        m["hashing.arrow_columns.mrows_per_s"] = _rate(
            lambda: hash_arrow_columns(batch, ["url"]), n) / 1e6
        m["hashing.series.mrows_per_s"] = _rate(lambda: hash_columns(pdf, ["url"]), n) / 1e6
        m["hashing.murmur3.mhash_per_s"] = _rate(lambda: murmur3_64_flat(flat, offsets), n) / 1e6

    hashes = hash_columns(pdf, ["url"])
    uniq = np.unique(hashes)
    spec = HllSpec()
    # one blob per (host, day), as sketch_agg stores them: direct, sparse and dense
    codes = pdf.groupby(["host", "day"], sort=True).ngroup().to_numpy()
    order = np.lexsort((hashes, codes))
    bounds = np.flatnonzero(np.diff(codes[order])) + 1
    blobs = [spec.blob_from_hashes(np.unique(g), len(g))
             for g in np.split(hashes[order], bounds)]
    with tracer.span("layer.hll"):
        m["hll.from_unique_hashes.mhash_per_s"] = _rate(
            lambda: HllSketch.from_unique_hashes(uniq), len(uniq)) / 1e6
        m["hll.fold_blobs.blobs_per_s"] = _rate(lambda: fold_blobs(blobs), len(blobs))
        m["hll.from_bytes.blobs_per_s"] = _rate(
            lambda: [HllSketch.from_bytes(b) for b in blobs], len(blobs))
        sketches = [HllSketch.from_bytes(b) for b in blobs]
        m["hll.to_bytes.blobs_per_s"] = _rate(lambda: [s.to_bytes() for s in sketches],
                                              len(blobs))
        m["hll.count.per_s"] = _rate(lambda: [s.count() for s in sketches], len(blobs))
    m["hll.blob_bytes.mean"] = sum(map(len, blobs)) / len(blobs)

    host_hashes = hash_columns(pdf, ["host"])
    values = pdf["text_len"].to_numpy(np.float64)
    m_bits, k = optimal_params(len(uniq), 0.01)
    with tracer.span("layer.cms_tdigest_bloom"):
        m["cms.update.mvals_per_s"] = _rate(
            lambda: CountMinSketch().add_hashes(host_hashes), n) / 1e6

        def digest():
            td = TDigest(delta=200)
            td.add_values(values)
            td.quantile(0.5)  # flushes the buffer
        m["tdigest.update.mvals_per_s"] = _rate(digest, n) / 1e6
        bf = BloomFilter(m_bits=m_bits, k=k)
        m["bloom.add.mhash_per_s"] = _rate(lambda: bf.add_hashes(hashes), n) / 1e6
        m["bloom.contains.mhash_per_s"] = _rate(lambda: bf.contains_hashes(hashes), n) / 1e6
    return m


def _timed(tracer, name: str, fn):
    with tracer.span(name):
        t = time.perf_counter()
        out = fn()
        return out, time.perf_counter() - t


def spark_probes(spark, wl, tracer) -> dict[str, float]:
    """Each Spark-side operator split into its stages, on the workload's
    own table."""
    from pyspark.sql import functions as F

    from sketchlib.bloom import optimal_params
    from sketchlib.spark.aggregate import build_partials, estimate_col, merge_partials
    from sketchlib.spark.heavy_hitters import heavy_hitters_from_partials, heavy_hitters_partials
    from sketchlib.spark.membership import bloom_build_bytes, filter_might_contain
    from sketchlib.spark.quantiles import approx_quantiles
    from sketchlib.spark.specs import BloomSpec, CmsSpec, TDigestSpec
    from sketchlib.text.urls import url_host

    from .workloads import QUANTILES, TDIGEST_DELTA, TOP_K

    m: dict[str, float] = {}
    pages = wl.pages()
    noop = lambda df: df.write.format("noop").mode("overwrite").save()  # noqa: E731

    _, m["aggregate.build_partials.s"] = _timed(
        tracer, "layer.aggregate.build_partials",
        lambda: noop(build_partials(pages, "url", ["lang", "day"])))
    partials = build_partials(pages, "url", ["lang", "day"]).persist()
    m["aggregate.partials.rows"] = partials.count()
    m["aggregate.partials.bytes"] = partials.agg(F.sum(F.length("sketch"))).first()[0]
    merged, m["aggregate.merge.s"] = _timed(
        tracer, "layer.aggregate.merge",
        lambda: merge_partials(partials, ["lang", "day"]).localCheckpoint(eager=True))
    _, m["aggregate.estimate.s"] = _timed(
        tracer, "layer.aggregate.estimate",
        lambda: merged.select(estimate_col().alias("e")).collect())
    partials.unpersist()

    with_host = pages.withColumn("host", url_host(F.col("url")))
    hh = heavy_hitters_partials(with_host, "host", spec=CmsSpec(), n_cand=4 * TOP_K)
    _, m["heavy_hitters.partials.s"] = _timed(tracer, "layer.heavy_hitters.partials",
                                              lambda: noop(hh))
    hh = hh.persist()
    m["heavy_hitters.candidates.rows"] = hh.filter(F.col("value").isNotNull()).count()
    top, m["heavy_hitters.final.s"] = _timed(
        tracer, "layer.heavy_hitters.final",
        lambda: heavy_hitters_from_partials(hh, TOP_K, spec=CmsSpec()).collect())
    hh.unpersist()
    counts = wl.pdf["host"].value_counts()
    true_top = set(sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:TOP_K])
    m["heavy_hitters.topk_recall"] = len({h for h, _ in true_top} & {r.value for r in top}) / TOP_K

    _, m["quantiles.agg.s"] = _timed(
        tracer, "layer.quantiles.agg",
        lambda: approx_quantiles(pages, "text_len", list(QUANTILES), ["lang"],
                                 TDigestSpec(delta=TDIGEST_DELTA)).collect())

    day0 = wl.pdf[wl.pdf["day"] == 0]
    m_bits, k = optimal_params(int(day0["url"].nunique()), 0.01)
    spec = BloomSpec(m_bits=m_bits, k=k)
    blob, m["membership.build.s"] = _timed(
        tracer, "layer.membership.build",
        lambda: bloom_build_bytes(pages.filter(F.col("day") == 0), "url", spec))
    hits, m["membership.probe.s"] = _timed(
        tracer, "layer.membership.probe",
        lambda: filter_might_contain(pages, "url", blob, spec).count())
    members = int(wl.pdf["url"].isin(set(day0["url"])).sum())
    m["membership.blob_bytes"] = len(blob)
    m["membership.fp_frac"] = (hits - members) / (len(wl.pdf) - members)
    print(f"  membership.fp_frac base: {hits - members} false positives / "
          f"{len(wl.pdf) - members} absent rows")
    return m


def stream_probe(spark, wl, tracer) -> dict[str, float]:
    """One ``streaming_distinct_count`` run over the workload's table split
    into STREAM_FILES files, one micro-batch each; timings from
    ``recentProgress``."""
    from sketchlib.streaming.stream_agg import streaming_distinct_count

    src_dir = os.path.join(wl.work_dir, "layer_stream")
    shutil.rmtree(src_dir, ignore_errors=True)
    paths = data.write_parquet(wl.pdf, os.path.join(src_dir, "src"), STREAM_FILES,
                               ["url", "lang", "day", "text_len"])
    os.makedirs(os.path.join(src_dir, "warm"))
    shutil.copy(paths[0], os.path.join(src_dir, "warm"))
    schema = wl.pages().schema

    def run(src: str, span):
        q = (streaming_distinct_count(
                spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
                .parquet(os.path.join(src_dir, src)), "url", ["lang"])
             .writeStream.format("memory").queryName(f"layer_{src}").outputMode("update")
             .option("checkpointLocation", os.path.join(src_dir, f"ck_{src}"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
        span["stream_run_id"] = str(q.runId)
        spark.sql(f"DROP VIEW IF EXISTS layer_{src}")
        return q

    run("warm", {})  # first use of the state store: class loading, not the operator
    with tracer.span("layer.streaming") as span:
        q = run("src", span)
    progress = [p for p in q.recentProgress if p.numInputRows > 0]
    shutil.rmtree(src_dir, ignore_errors=True)
    ops = [p.stateOperators[0] for p in progress]
    return {
        "streaming.add_batch_ms.p50": statistics.median(p.durationMs["addBatch"] for p in progress),
        "streaming.commit_ms.p50": statistics.median(o.commitTimeMs for o in ops),
        "streaming.all_updates_ms.p50": statistics.median(o.allUpdatesTimeMs for o in ops),
        "streaming.state_bytes": ops[-1].memoryUsedBytes,
        "streaming.batches": len(progress),
    }


def probe(spark, wl, tracer) -> dict[str, float]:
    return {**module_probes(wl.pdf, tracer), **spark_probes(spark, wl, tracer),
            **stream_probe(spark, wl, tracer)}


def report(wl, tracer, run, plain, event_dir: str, layer: dict, out_dir: str):
    """Per-layer metrics of a traced run, plus the per-span detail printed
    and written to ``trace-<workload>.json`` in ``out_dir``."""
    by_group = parse_event_log(event_dir)
    per_span = span_counters(tracer, by_group)
    timed = [s for s in tracer.spans if s.get("op")]
    per_op: dict[str, dict[str, list[float]]] = {}
    for s in timed:
        for c, v in per_span[s["id"]].items():
            per_op.setdefault(s["op"], {}).setdefault(c, []).append(v)
    metrics = dict(layer)
    n_ops = len(timed)
    for c in COUNTERS:
        metrics[f"spark.{c}.per_op"] = sum(per_span[s["id"]][c] for s in timed) / n_ops
    metrics["trace.overhead_ratio"] = run.rows_per_s / plain.rows_per_s

    print(f"  per-span engine counters, mean per call over {n_ops} traced calls:")
    detail = {}
    for op, counters in per_op.items():
        for c, vals in counters.items():
            name = f"{wl.name}.{op}.spark.{c}"
            detail[name] = sum(vals) / len(vals)
            print(f"    {name:<52} {detail[name]:>14.6g}  (n={len(vals)})")
    self_t = tracer.self_times()
    for s in tracer.spans:
        if s["name"].startswith("layer."):
            print(f"    span {s['name']:<44} {s['end'] - s['start']:8.3f} s  "
                  f"self {self_t[s['id']]:.3f} s")
    print(f"  tracing overhead: traced {run.rows_per_s:.0f} / untraced "
          f"{plain.rows_per_s:.0f} rows/s")
    os.makedirs(out_dir, exist_ok=True)
    spans_path = os.path.join(out_dir, f"trace-{wl.name}.json")
    tracer.write(spans_path)
    with open(os.path.join(out_dir, f"counters-{wl.name}.json"), "w") as f:
        json.dump({"per_span": per_span, "per_op": detail}, f, indent=1)
    print(f"  spans: {spans_path}")
    out = {k: (float(v), UNITS[k]) for k, v in metrics.items()}
    for name, (value, unit) in sorted(out.items()):
        print(f"  {name:<42} {value:>14.6g} {unit}")
    return out
