"""Corpus-wide duplicated-line (boilerplate) removal.

CCNet (Wenzek et al. 2020) and the Common-Crawl processing lineage strip
lines that repeat verbatim across many documents — navigation chrome,
cookie banners, copyright footers — before any quality scoring, because
boilerplate dominates token counts and fools n-gram filters.  Two-pass
Spark-first shape:

1. **Find** (:func:`frequent_line_hashes`): explode lines JVM-side, hash
   each normalized line (``xxhash64(lower(trim(line)))`` — whole-stage
   codegen), count per hash.  The only shuffle, O(distinct lines), with
   map-side partial aggregation.  Lines seen ``>= min_count`` times
   collect to the driver — at most ``total_lines / min_count`` entries,
   further bounded by ``max_lines`` (count-desc, hash-asc tie-break) so
   the broadcast is always sized: 1M hashes = 8 MB.
2. **Strip** (:func:`strip_boilerplate`): zero-shuffle ``mapInArrow``.
   Line splitting and hashing stay JVM-side (the Python kernel never
   touches line *content* for matching); the kernel does one
   ``searchsorted`` membership test over the hash column's values buffer,
   filters the line column's values by it and joins each document's
   kept lines with ``pyarrow.compute.binary_join`` — no per-row Python.
   Blank lines can never be removed (their hash is excluded from the
   frequency pass by the ``norm != ''`` filter), so document structure
   survives.

A cross-document false removal needs an xxhash64 collision between two
distinct normalized lines where one is boilerplate — ~n_boilerplate x
n_lines / 2^64, immaterial at corpus scale.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .._arrow import list_values, map_appending, segment_sums, sorted_lookup

MAX_FREQUENT_LINES = 50_000_000  # 400 MB of hashes; broadcast sanity bound


def line_hash_expr(line: Column) -> Column:
    """Normalized line fingerprint: ``xxhash64(lower(trim(line)))``."""
    return F.xxhash64(F.lower(F.trim(line)))


def frequent_line_hashes(df: DataFrame, text_col: str = "text",
                         min_count: int = 100,
                         max_lines: int = 1_000_000):
    """Sorted ``int64`` numpy array of line hashes occurring at least
    ``min_count`` times corpus-wide (blank lines excluded).  If more than
    ``max_lines`` qualify, the most frequent win (hash-asc tie-break) —
    the cap bounds driver/broadcast memory at any corpus size."""
    if min_count < 2:
        raise ValueError("min_count must be >= 2 (1 would flag every line)")
    if max_lines < 1 or max_lines > MAX_FREQUENT_LINES:
        raise ValueError(f"max_lines must be in [1, {MAX_FREQUENT_LINES}]")
    lines = df.select(
        F.explode(F.split(F.col(text_col), "\n")).alias("__line"))
    freq = (lines
            # rlike(\S), not trim != '': Spark trim strips ASCII spaces
            # only, so a tab- or unicode-whitespace-only separator line
            # would count as frequent and get stripped, breaking the
            # "blank lines can never be removed" guarantee (paragraphs.py
            # documents the same pitfall)
            .filter(F.col("__line").rlike(r"\S"))
            .select(line_hash_expr(F.col("__line")).alias("h"))
            .groupBy("h").agg(F.count("*").alias("c"))
            .filter(F.col("c") >= min_count)
            .orderBy(F.desc("c"), F.asc("h"))
            .limit(max_lines))
    hashes = np.array([r["h"] for r in freq.collect()], dtype=np.int64)
    hashes.sort()
    return hashes


def strip_boilerplate(df: DataFrame, frequent_hashes,
                      text_col: str = "text",
                      out_col: str = "clean_text") -> DataFrame:
    """Remove every line whose normalized hash is in ``frequent_hashes``;
    append ``out_col`` plus ``n_lines`` / ``n_removed`` counters.

    Map-only: the hash set rides a Spark broadcast; membership is one
    vectorized ``searchsorted`` over the batch's flattened line hashes,
    and every input column passes through as its own Arrow array."""
    lcol, hcol = "__lines", "__lhash"
    while lcol in df.columns:
        lcol += "_"
    while hcol in df.columns:
        hcol += "_"

    fh = np.sort(np.asarray(frequent_hashes, dtype=np.int64))
    bc = df.sparkSession.sparkContext.broadcast(fh)

    def strip(batch):
        import pyarrow as pa
        import pyarrow.compute as pc

        h, offsets = list_values(batch.column(hcol))
        rm = sorted_lookup(bc.value, h)[1]
        lines = list_values(batch.column(lcol), as_numpy=False)[0]
        n_lines = np.diff(offsets)
        n_removed = segment_sums(rm, offsets)
        kept_offsets = np.zeros(len(offsets), dtype=np.int32)
        np.cumsum(n_lines - n_removed, out=kept_offsets[1:])
        kept = pa.ListArray.from_arrays(pa.array(kept_offsets),
                                        lines.filter(pa.array(~rm)))
        return pc.binary_join(kept, "\n"), n_lines, n_removed

    # NULL text coalesces to zero lines: such a doc strips to "" with
    # n_lines = n_removed = 0, mirroring frequent_line_hashes which
    # silently skips NULL rows in the counting pass
    lines_c = F.coalesce(F.split(F.col(text_col), "\n"),
                         F.array().cast("array<string>"))
    proj = (df.withColumn(lcol, lines_c)
            .withColumn(hcol, F.transform(F.col(lcol), line_hash_expr)))
    return map_appending(proj, [lcol, hcol], {
        out_col: T.StringType(), "n_lines": T.LongType(),
        "n_removed": T.LongType()}, strip)


def remove_boilerplate(df: DataFrame, text_col: str = "text",
                       min_count: int = 100,
                       max_lines: int = 1_000_000,
                       out_col: str = "clean_text") -> DataFrame:
    """Convenience two-pass: find frequent lines, then strip them."""
    fh = frequent_line_hashes(df, text_col, min_count, max_lines)
    return strip_boilerplate(df, fh, text_col, out_col)
