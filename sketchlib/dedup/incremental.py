"""Incremental cross-corpus dedup: drop new documents already seen.

The ingestion-pipeline shape: a daily shard of new documents must be
deduplicated against everything previously accepted — at web scale, a
corpus orders of magnitude larger than the increment.  Joining the
increment against the full seen corpus is the naive plan; the scalable
one is a **Bloom split**:

1. build (once, offline) a Bloom filter over the seen corpus's 64-bit
   content fingerprints (:func:`sketchlib.text.analysis.fingerprint_key`
   — JVM xxhash64 of normalized text, 8 bytes/doc into the filter
   regardless of document size);
2. probe the increment map-only against the broadcast blob.  Probe-false
   rows are **definitely new** (Bloom has no false negatives) and never
   enter any join — at a realistic duplicate rate that is almost the
   whole increment;
3. probe-true rows (true dups + the filter's ~fpp false positives) are
   the only rows that reach the exact anti-join against the seen
   fingerprint column — the classic semi-join reduction, with join input
   shrunk from |increment| to ~|dups| + fpp * |increment|.

Modes (by which inputs are given):

* ``seen`` + ``bloom_blob`` — Bloom-prefiltered exact anti-join: result
  is EXACT (identical to the plain anti-join), the blob only reduces
  join input.  The increment is scanned twice, both map-only probes.
* ``seen`` only — plain exact anti-join on fingerprints (8-byte shuffle
  key; the right plan when no filter has been maintained).
* ``bloom_blob`` only — pure sketch mode, zero joins and zero shuffles:
  keeps only probe-false rows, over-dropping ~fpp of genuinely-new docs
  (bounded in tests).  The 100 TB steady-state fast path when the seen
  corpus is too large to rescan and an fpp-sized loss is acceptable.

Within-shard duplicates are out of scope — compose with
:func:`sketchlib.dedup.exact.dedup_exact` first (the corpus job does).

**Retractable seen-set** (:func:`seen_cuckoo` / :func:`retract_seen`): the
Bloom blob unions monotonically but can never forget — withdrawing an
accepted shard (licensing takedown, recrawl invalidation) forces a full
rebuild scan of the remaining corpus.  The cuckoo variant
(:mod:`sketchlib.cuckoo`) stores per-fingerprint entries that can be
deleted: ``retract_seen(blob, withdrawn_shard)`` removes the shard's
fingerprints driver-side in one pass over the (small) withdrawn shard.
Because the seen-set is built over DISTINCT content fingerprints, the
semantics line up with content dedup exactly: identical text in two
accepted shards occupies ONE entry, and withdrawing either shard frees
that content to be accepted again — which is the correct outcome, since
the dedup pipeline admitted only one copy in the first place.  Retract
only shards that were actually ingested (Fan et al. §3.2: deleting
never-inserted fingerprints can collide at ~fpr and evict live entries).
``drop_seen`` accepts a cuckoo blob + ``CuckooSpec`` unchanged — the
probe path is spec-generic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..spark.membership import bloom_build_bytes, probe_might_contain
from ..spark.specs import BloomSpec
from ..text.analysis import fingerprint_key


def _temp_name(base: str, taken) -> str:
    name = base
    i = 0
    while name in taken:
        i += 1
        name = f"{base}{i}"
    return name


def seen_bloom(seen: DataFrame, text_col: str = "text",
               spec: BloomSpec | None = None) -> bytes:
    """Bloom blob over the seen corpus's content fingerprints.

    Built with the two-stage partial-OR aggregation (one blob exchange per
    partition, never a row shuffle); size the spec's capacity to the seen
    cardinality — the blob is what an ingestion pipeline persists between
    increments and unions monotonically as shards are accepted."""
    fp = seen.filter(F.col(text_col).isNotNull()).select(
        fingerprint_key(F.col(text_col)).alias("__fp"))
    return bloom_build_bytes(fp, "__fp", spec or BloomSpec())


def seen_cuckoo(seen: DataFrame, text_col: str = "text",
                spec: "CuckooSpec | None" = None) -> bytes:
    """Retractable seen-set blob over DISTINCT content fingerprints.

    The ``distinct()`` before the build is load-bearing twice over: it
    gives exact one-retract-removes-membership semantics (one stored copy
    per content), and it keeps duplicate copies from eating the table's
    DUP_CAP headroom.  Size the spec via ``expected_n`` to the seen
    cardinality."""
    from ..spark.membership import cuckoo_build_bytes
    from ..spark.specs import CuckooSpec

    fp = (seen.filter(F.col(text_col).isNotNull())
          .select(fingerprint_key(F.col(text_col)).alias("__fp"))
          .distinct())
    return cuckoo_build_bytes(fp, "__fp", spec or CuckooSpec())


def retract_seen(blob: bytes, withdrawn: DataFrame, text_col: str = "text",
                 spec: "CuckooSpec | None" = None) -> bytes:
    """Remove a withdrawn shard's content fingerprints from a
    :func:`seen_cuckoo` blob; returns the updated blob.

    One driver-side pass over the withdrawn shard's distinct fingerprints
    (8 bytes each) — the seen corpus is never rescanned.  The shard must
    have been ingested into the blob (module docstring).

    Sequential withdrawals of content-SHARING shards carry a residual
    risk: shards A and B both containing text X occupy one entry (the
    distinct build), so withdrawing A removes it and a later withdrawal
    of B re-deletes an absent fingerprint — which collides with some
    OTHER live entry with probability ~fpr (~1.2e-4) per re-deleted key.
    When shards overlap and multiple withdrawals are expected, use
    :func:`retract_seen_exact` (the set-difference recipe as a function),
    or accept the fpr-bounded over-forget, which is re-corrected the next
    time the affected content is re-ingested."""
    from ..spark.membership import cuckoo_delete_bytes
    from ..spark.specs import CuckooSpec

    fp = (withdrawn.filter(F.col(text_col).isNotNull())
          .select(fingerprint_key(F.col(text_col)).alias("__fp")))
    return cuckoo_delete_bytes(blob, fp, "__fp", spec or CuckooSpec())


def retract_seen_exact(blob: bytes, withdrawn: DataFrame,
                       remaining, text_col: str = "text",
                       spec: "CuckooSpec | None" = None) -> bytes:
    """Exact withdrawal for content-SHARING shards: remove only the
    withdrawn shard's fingerprints that no *remaining* shard still
    carries — the set-difference recipe from :func:`retract_seen`'s
    docstring, as a function.

    ``remaining`` is the still-ingested corpus — one DataFrame or an
    iterable of shard DataFrames (unioned by name).  A fingerprint
    belongs in the seen-set iff SOME remaining shard contains it, so the
    delete set is ``fp(withdrawn) ANTI-JOIN fp(remaining)``: content
    shared with a surviving shard is kept (no premature forget), and —
    used consistently for every withdrawal — no fingerprint is ever
    deleted twice, eliminating the ~fpr collateral-delete risk of plain
    :func:`retract_seen` on overlapping shards.

    Cost: one scan of the withdrawn shard plus one scan of the remaining
    shards' text (fingerprints only — 8 bytes a row into the anti-join;
    the join output is bounded by the withdrawal size and goes through
    :func:`~sketchlib.spark.membership.cuckoo_delete_bytes`'s
    executor-side key guard)."""
    from ..spark.membership import cuckoo_delete_bytes
    from ..spark.specs import CuckooSpec

    if isinstance(remaining, DataFrame):
        remaining_dfs = [remaining]
    else:
        remaining_dfs = list(remaining)

    def _fps(df: DataFrame) -> DataFrame:
        return (df.filter(F.col(text_col).isNotNull())
                .select(fingerprint_key(F.col(text_col)).alias("__fp")))

    fp_w = _fps(withdrawn)
    if remaining_dfs:
        fp_r = _fps(remaining_dfs[0])
        for d in remaining_dfs[1:]:
            fp_r = fp_r.unionByName(_fps(d))
        fp_w = fp_w.join(fp_r, "__fp", "left_anti")
    return cuckoo_delete_bytes(blob, fp_w, "__fp", spec or CuckooSpec())


def drop_seen(new: DataFrame, seen: DataFrame | None = None,
              text_col: str = "text",
              bloom_blob: bytes | None = None,
              spec: BloomSpec | None = None) -> DataFrame:
    """Rows of ``new`` whose normalized text was not seen before.

    See the module docstring for the three modes.  Null-text rows are
    never dropped (they carry no content to match)."""
    if seen is None and bloom_blob is None:
        raise ValueError("need seen and/or bloom_blob")
    spec = spec or BloomSpec()
    fpc = _temp_name("__fp", new.columns)
    probed_name = _temp_name("__seen_maybe", new.columns)

    if seen is not None:
        seen_fp = seen.filter(F.col(text_col).isNotNull()).select(
            fingerprint_key(F.col(text_col)).alias(fpc))

    if bloom_blob is None:
        # plain exact anti-join: increment shuffles only (fp, row) — the
        # fp is derived in-scan, text never re-shuffles as a join key
        keyed = new.withColumn(fpc, fingerprint_key(F.col(text_col)))
        return (keyed.filter(F.col(text_col).isNotNull())
                .join(seen_fp, fpc, "left_anti")
                .unionByName(keyed.filter(F.col(text_col).isNull()))
                .drop(fpc))

    keyed = new.withColumn(fpc, fingerprint_key(F.col(text_col)))
    # frame-level probe: null-exact for full-range int64 fingerprints (a
    # null fp probes False and leaves the other keys of its batch exact)
    probe = probe_might_contain(keyed, fpc, bloom_blob, spec)
    probed = keyed.withColumn(
        probed_name, F.col(text_col).isNotNull() & probe)
    if seen is None:
        # sketch mode: map-only, over-drops ~fpp of genuinely-new rows
        return probed.filter(~F.col(probed_name)).drop(fpc, probed_name)
    # Bloom split: definitely-new rows bypass the join entirely; only
    # probe-true candidates (true dups + ~fpp false positives) reach the
    # exact anti-join.  Both branches are map-only scans of `new`.
    fresh = probed.filter(~F.col(probed_name))
    cand = probed.filter(F.col(probed_name)
                         & F.col(text_col).isNotNull())
    survivors = cand.join(seen_fp, fpc, "left_anti")
    return fresh.unionByName(survivors).drop(fpc, probed_name)
