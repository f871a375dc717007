"""PII detection and redaction for web-scale training corpora — pure JVM
column expressions (whole-stage codegen; zero Python in the hot path).

Training-data pipelines scrub personally identifiable information before a
corpus ships (C4 and the BigScience ROOTS pipeline both run regex-class PII
scrubbers over every document).  At 10^12 documents the scrubber must be a
map-only pass: no shuffle, no Python, pushed into the same codegen stage as
the rest of the row filter.  Everything here compiles to
``regexp_count`` / ``regexp_replace`` over the text column.

Pattern classes (ordered — redaction applies them in sequence so a later,
looser pattern never eats the span of an earlier, stricter one):

====== ============================================= ===========
class  shape                                          placeholder
====== ============================================= ===========
email  ``local@host.tld``                             ``<EMAIL>``
phone  ``+C (AAA) BBB-CCCC`` international w/ area    ``<PHONE>``
id     ``DDD-DD-DDDD`` SSN-shaped ID number           ``<ID>``
ip     dotted-quad IPv4                               ``<IP>``
====== ============================================= ===========

Counts are computed per class on the *original* text, so overlapping spans
(a phone number whose tail happens to look ID-shaped) could in principle be
counted under two classes; the redactor itself is sequential and therefore
never double-replaces.  The four shipped patterns are mutually exclusive by
construction (an email span contains ``@``; a phone span starts ``+``; an
ID span is exactly 3-2-4 digits; an IP span contains dots between digit
runs), so on real text the counts partition cleanly.

Scale shape: map-only (no exchange), one pass over the text bytes per
pattern.  Java's regex engine runs these inside whole-stage codegen; the
plan for :func:`with_pii_stats` is a single ``Project`` over the scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# (name, java regex, placeholder) — applied in this order.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\+\d{1,2} ?\(\d{3}\) ?\d{3}-\d{4}", "<PHONE>"),
    ("id", r"\b\d{3}-\d{2}-\d{4}\b", "<ID>"),
    ("ip", r"\b\d{1,3}(?:\.\d{1,3}){3}\b", "<IP>"),
)

# Single-character necessary condition per class: the pattern cannot match a
# string that lacks this literal (email needs '@', phone starts '+', the
# SSN shape contains '-', dotted-quad contains '.').  A contains() guard on
# it skips the full regex scan.  Measured (BENCH/BASELINE.md, north-star
# suite, round-3 scrub-operator notes; 1M docs, local[32]): 5.4x on counts
# / 3.1x on redaction on realistic guard-char-DENSE text ('.' in every doc,
# '-' in half, '@'/'+' at a few percent — the guard's worst case; the win
# survives because the expensive email/phone char-class scans are the ones
# whose guards are rare), and
# 21x / 13x on the synthetic pages table whose text has no guard chars at
# all (the all-skip ceiling).  A fused single-alternation pass measured
# SLOWER than the guarded per-class passes on both tables and was
# rejected.  Soundness of
# guarding redaction on the partially-redacted text: no placeholder string
# contains any guard character, so an earlier replacement can never
# re-introduce a later class's guard.
_GUARD: dict[str, str] = {"email": "@", "phone": "+", "id": "-", "ip": "."}
assert all(not any(g in ph for g in _GUARD.values())
           for _, _, ph in PII_PATTERNS)


def has_pii(col: Column) -> Column:
    """Boolean: does the text contain any PII span?

    Composed as a short-circuiting OR of per-class ``rlike``s: each class
    keeps its literal-prefix fast scan and stops at its first match, and
    the OR skips remaining classes once one hits.  (A single combined
    alternation regex measures ~10% SLOWER than the per-class passes on
    PII-free text — alternation defeats the regex engine's prefix
    optimization — so this is the fast formulation, not a shortcut.)"""
    out = None
    for name, pat, _ in PII_PATTERNS:
        r = F.contains(col, F.lit(_GUARD[name])) & col.rlike(pat)
        out = r if out is None else out | r
    # NULL text -> false, not NULL: contains/rlike propagate NULL through
    # the OR, and a consumer's filter(~has_pii) would silently drop the
    # row — inconsistent with pii_counts mapping the same row to n_pii=0
    return F.coalesce(out, F.lit(False))


def pii_counts(col: Column) -> list[Column]:
    """Per-class match counts, aliased ``n_email / n_phone / n_id / n_ip``.

    Each is one JVM ``regexp_count`` over the original text, skipped
    entirely (per row) when the class's guard character is absent."""
    return [
        F.when(F.contains(col, F.lit(_GUARD[name])),
               F.regexp_count(col, F.lit(pat)))
        .otherwise(F.lit(0)).alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]


def redact_pii(col: Column) -> Column:
    """Replace every PII span with its class placeholder.

    Patterns apply in ``PII_PATTERNS`` order, so the stricter classes
    (email, phone) are consumed before the looser digit-shape classes
    (id, ip) can see their spans.  Each pass is guarded on its class's
    necessary character (see ``_GUARD``) — a row without it passes through
    untouched, no regex scan."""
    out = col
    for name, pat, placeholder in PII_PATTERNS:
        out = F.when(F.contains(out, F.lit(_GUARD[name])),
                     F.regexp_replace(out, pat, placeholder)).otherwise(out)
    return out


def with_pii_stats(df: DataFrame, text_col: str = "text",
                   redact: bool = True) -> DataFrame:
    """Append per-class PII counts (``n_email``/``n_phone``/``n_id``/
    ``n_ip``), a total ``n_pii``, and — when ``redact`` — a
    ``redacted_text`` column.

    Map-only: a single ``Project`` over the scan, no shuffle, no Python.
    Raises if the input already carries one of the output column names
    (the caller almost certainly did not mean to overwrite it)."""
    added = [f"n_{n}" for n, _, _ in PII_PATTERNS] + ["n_pii"]
    if redact:
        added.append("redacted_text")
    clash = [c for c in added if c in df.columns]
    if clash:
        raise ValueError(f"input already has column(s) {clash}")
    c = F.col(text_col)
    counts = pii_counts(c)
    out = df.select(
        "*", *counts,
    ).withColumn(
        "n_pii", sum(F.col(f"n_{n}") for n, _, _ in PII_PATTERNS),
    )
    if redact:
        out = out.withColumn("redacted_text", redact_pii(c))
    return out


def pii_summary(df: DataFrame, text_col: str = "text",
                group_col: str | None = None) -> DataFrame:
    """Corpus-level PII prevalence: documents scanned, documents with any
    PII, and total spans per class — optionally per ``group_col``.

    One partial-aggregated shuffle of O(groups) count rows; the regex work
    happens map-side in the same stage as the scan."""
    stats = with_pii_stats(df, text_col, redact=False)
    keys = [group_col] if group_col else []
    # coalesce(sum, 0): SQL sums over zero rows are NULL — an audit of an
    # empty corpus should read 0 scanned / 0 found, not NULL
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.coalesce(F.sum((F.col("n_pii") > 0).cast("long")), F.lit(0))
         .alias("n_docs_with_pii"),
    ] + [
        F.coalesce(F.sum(f"n_{n}"), F.lit(0)).alias(f"total_{n}")
        for n, _, _ in PII_PATTERNS
    ]
    return stats.groupBy(*keys).agg(*aggs)
