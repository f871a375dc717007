"""Tests of the benchmark itself (not part of the library's test suite).

    python3 -m pytest perfbench/test_perfbench.py -q

The traced-run test starts two full benchmark processes per workload and
takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench import data
from perfbench.spark_env import build_session, session_conf
from perfbench.workloads import N_HOSTS, WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCHMARK = json.load(f)

# per-layer counts that must repeat exactly for one seed
DETERMINISTIC = ("aggregate.partials.rows", "aggregate.partials.bytes", "hll.blob_bytes.mean",
                 "membership.blob_bytes", "spark.shuffle.records.per_op", "streaming.batches")


def _fingerprint(tmp_path, seed: int, name: str) -> str:
    n = WORKLOADS["pages_ingest"].n_rows
    paths = data.write_parquet(data.generate(n, seed, N_HOSTS), str(tmp_path / name), 4)
    return data.fingerprint(paths, n)


def test_seed_fixes_the_input(tmp_path):
    first = _fingerprint(tmp_path, 7, "a")
    assert _fingerprint(tmp_path, 7, "b") == first
    assert _fingerprint(tmp_path, 8, "c") != first


def test_sql_keys_are_defined_by_spark(tmp_path):
    spark = build_session(str(tmp_path / "spark"))
    try:
        defined = {r.key for r in spark.sql("SET -v").collect()}
    finally:
        spark.stop()
    ours = {k for k in session_conf(str(tmp_path), None) if k.startswith("spark.sql.")}
    assert ours and ours <= defined, sorted(ours - defined)


def _traced(workload: str, seed: int) -> dict:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "4", "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True)
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0, out.stdout
    return result["metrics"]


@pytest.mark.parametrize("workload", [w["name"] for w in BENCHMARK["workloads"]])
def test_traced_counts_repeat(workload):
    first, second = _traced(workload, 5), _traced(workload, 5)
    assert set(first) == {m["name"] for m in BENCHMARK["per_layer"]}
    for name in DETERMINISTIC:
        assert first[name]["value"] == second[name]["value"], name
