"""Spans recorded around the benchmark's calls into sketchlib, and the Spark
event log parsed into per-span engine counters.

A span records name, start, end, parent span and run id.  Spans stay in
memory and are written once, at exit.  Jobs Spark runs under a span carry
the span id as their job group (``spark.jobGroup.id``); streaming jobs
carry their query's run id instead, which the span records as
``stream_run_id``.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
import uuid
from collections import defaultdict

# engine counters per span -> unit, in order of priority
COUNTERS = {"python.bytes_sent": "B", "shuffle.write_bytes": "B", "tasks": "count",
            "executor.cpu_s": "s", "shuffle.records": "count", "python.bytes_returned": "B",
            "python.run_s": "s", "jobs": "count", "stages": "count"}

# Spark's accumulable name -> (counter, scale)
_ACCUMULABLES = {
    "data sent to Python workers": ("python.bytes_sent", 1),
    "data returned from Python workers": ("python.bytes_returned", 1),
    "time to run Python workers": ("python.run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("executor.cpu_s", 1e-9),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle.write_bytes", 1),
    "internal.metrics.shuffle.write.recordsWritten": ("shuffle.records", 1),
}


class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` costs nothing
    beyond the context manager."""

    def __init__(self, spark, enabled: bool) -> None:
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield {}
            return
        rec = {"id": f"{self.run_id}-{len(self.spans)}", "name": name,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "run_id": self.run_id, "start": time.time(), **attrs}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1]["id"], self._stack[-1]["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def self_times(self) -> dict[str, float]:
        """Span id -> its duration minus the time its child spans cover
        (children of one span run one after another)."""
        child: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"]:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child[s["id"]] for s in self.spans}

    def write(self, path: str) -> None:
        self_t = self.self_times()
        with open(path, "w") as f:
            json.dump([{**s, "self_s": self_t[s["id"]]} for s in self.spans], f, indent=1,
                      default=str)


def parse_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Job group -> engine counters summed over its jobs' completed stages."""
    [path] = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0.0))
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group is None:
                    continue
                out[group]["jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_group[sid] = group
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                group = stage_group.get(info["Stage ID"])
                if group is None or "Failure Reason" in info:
                    continue
                c = out[group]
                c["stages"] += 1
                c["tasks"] += info["Number of Tasks"]
                for acc in info.get("Accumulables", []):
                    name = acc.get("Name")
                    if name in _ACCUMULABLES:
                        counter, scale = _ACCUMULABLES[name]
                        c[counter] += float(acc["Value"]) * scale
    return dict(out)


def span_counters(tracer: Tracer, by_group: dict) -> dict[str, dict[str, float]]:
    """Span id -> engine counters of the jobs it (and, for streaming, its
    query run) submitted, children included."""
    by_id = {s["id"]: s for s in tracer.spans}
    children: dict[str, list[str]] = defaultdict(list)
    for s in tracer.spans:
        if s["parent"]:
            children[s["parent"]].append(s["id"])

    def total(span: dict) -> dict[str, float]:
        acc = dict.fromkeys(COUNTERS, 0.0)
        for group in (span["id"], span.get("stream_run_id")):
            for k, v in by_group.get(group, {}).items():
                acc[k] += v
        for cid in children[span["id"]]:
            for k, v in total(by_id[cid]).items():
                acc[k] += v
        return acc

    return {s["id"]: total(s) for s in tracer.spans}
