"""Shared infrastructure for broadcast-blob probe UDFs: driver-side
broadcast reuse and worker-process-level deserialization caching.

Worker cache: a UDF's closure — including any dict created next
to it — is re-pickled into EVERY task, so a closure-level ``cache = {}``
only dedups across the Arrow batches of one task: a probe stage with
thousands of short tasks still re-parses the blob thousands of times per
executor.  At the 100 TB posture a right-sized Bloom/CMS blob is GBs,
and ``spec.from_bytes`` is a full parse + copy — per-task re-parsing
dominates the stage.  This module gives the intended per-WORKER reuse:
the driver derives a token from the blob content (one per distinct
(blob, spec), NOT one per UDF construction — so a session probing the
same filter in a loop reuses the deserialized object across calls), the
token rides the closure (tiny), and the deserialized object lives in a
module-level dict inside each Python worker process, surviving across
tasks for the worker's lifetime (workers are reused by default:
``spark.python.worker.reuse``).

The cache is capped: sketches can be GBs, so at most ``_MAX`` distinct
blobs stay deserialized per worker (LRU eviction — the evicted object is
re-parsed on next use, it is not lost; the bytes live in the broadcast).

Driver cache: one ``sc.broadcast`` per distinct blob, LRU up to
``_BC_MAX`` — a long-lived session probing one filter against many
shards would otherwise accumulate executor-side blob copies for its
whole lifetime.  Evicted entries are ``unpersist()``ed (executors drop
their copies; an old plan that still references the handle re-fetches
from the driver on use, so eviction is safe).
"""

from __future__ import annotations

import hashlib
from collections import OrderedDict
from typing import Callable

_MAX = 4
_CACHE: "OrderedDict[str, object]" = OrderedDict()

_BC_MAX = 8
_BC_CACHE: "OrderedDict[tuple, object]" = OrderedDict()  # LRU


def blob_digest(blob: bytes) -> str:
    """Stable content digest used to key both caches."""
    return hashlib.blake2b(blob, digest_size=16).hexdigest()


def blob_token(digest: str, spec) -> str:
    """Driver-side worker-cache key for the DESERIALIZED object: a pure
    function of (blob content, spec), so repeated UDF constructions over
    the same filter share one per-worker deserialization instead of
    minting a fresh token (and a fresh GB parse, and an LRU slot) per
    call."""
    return hashlib.blake2b(
        (digest + "|" + type(spec).__name__ + "|" + repr(spec)).encode(),
        digest_size=16).hexdigest()


def broadcast_blob(sc, blob: bytes):
    """One torrent-distributed broadcast per distinct blob per
    application, LRU-reused across calls (a hit refreshes recency, so a
    hot filter is never evicted by a burst of one-off blobs)."""
    # applicationId, not id(sc): CPython reuses object ids, so a restarted
    # context could otherwise be served a dead broadcast from its
    # predecessor (bit us in cross-test isolation)
    key = (sc.applicationId, blob_digest(blob))
    bc = _BC_CACHE.get(key)
    if bc is None:
        bc = _BC_CACHE[key] = sc.broadcast(blob)
        while len(_BC_CACHE) > _BC_MAX:
            _, old = _BC_CACHE.popitem(last=False)
            try:
                old.unpersist()
            except Exception:  # sc already stopped — nothing to free
                pass
    else:
        _BC_CACHE.move_to_end(key)
    return bc


def get_or_load(token: str, loader: Callable[[], object]) -> object:
    """Worker-side: deserialize once per worker process, LRU thereafter."""
    obj = _CACHE.get(token)
    if obj is None:
        obj = loader()
        _CACHE[token] = obj
        while len(_CACHE) > _MAX:
            _CACHE.popitem(last=False)
    else:
        _CACHE.move_to_end(token)
    return obj


def col_type(df, col: str):
    """DataType of ``col`` resolved the way ``F.col`` resolves it — via a
    plan-only select — so nested field references (``"meta.key"``) work
    where ``df.schema[col]`` raises KeyError on anything but a top-level
    name."""
    from pyspark.sql import functions as F

    return df.select(F.col(col)).schema[0].dataType
