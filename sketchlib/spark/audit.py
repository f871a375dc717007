"""Sampled-group accuracy audit — the production verification loop for
approximate aggregation: *estimates must fall within the algorithm's
published error bound against exact distinct counts computed on sampled
partitions* (reference accuracy harness: ``CardinalityEstimation/Test/
CardinalityEstimatorTests.cs`` pins estimate error against exact counts;
this re-expresses that check as a distributed, always-on audit).

At 100 TB an exact ``COUNT(DISTINCT)`` over every group is unaffordable,
but it IS affordable over a deterministic *sample of groups*.  The audit:

1. filters the input with a caller-supplied, SQL-expressible sampling
   predicate over the group key (e.g. ``key % 37 == 0``) so an external
   system can reproduce the exact same sample — and so Catalyst pushes the
   predicate into the scan (partition-pruned when the table is partitioned
   by the group key);
2. runs the sketch estimate AND the exact distinct count over just the
   sampled rows (both branches see identical input);
3. emits one row per sampled group with the estimate, the exact count,
   the relative error, and a within-bound verdict at ``sigmas`` standard
   errors of the sketch's published RSE.

Scale shape: both branches aggregate only the sampled fraction; the final
join is on the (small) audited group set; nothing is collected to the
driver.  Run it beside the real job on a few permille of groups and alert
when ``n_out_of_bound > 0``.
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .aggregate import HllSpec, distinct_count


def published_rse(spec) -> float:
    """The sketch's published relative standard error.

    * HLL: 1.04/sqrt(m) (Flajolet et al. 2007; reference README.md:58).
    * Theta/KMV: 1/sqrt(k-1) on the retained sample (Beyer et al. 2007).
    Specs may also carry an explicit ``rse`` attribute.

    Identified by spec ``name``, not attribute sniffing: plenty of specs
    carry a ``k`` that is NOT a KMV sample size (Bloom's hash count,
    KLL's capacity) — deriving 1/sqrt(k-1) from those would hand the
    audit a bogus bound that waves everything through.
    """
    if hasattr(spec, "rse"):
        return float(spec.rse)
    name = spec.name
    if name == "hll" or (hasattr(spec, "p") and not hasattr(spec, "k")):
        return 1.04 / math.sqrt(float(1 << spec.p))
    if name == "theta":
        return 1.0 / math.sqrt(float(spec.k - 1))
    raise ValueError(
        f"cannot derive a published RSE for {type(spec).__name__}; "
        "pass a spec with an explicit `rse` attribute")


def accuracy_audit(df: DataFrame, element_cols, group_cols: Sequence[str],
                   sample_pred: Column | None = None,
                   spec: HllSpec | None = None, sigmas: float = 3.0,
                   abs_slack: float = 2.0,
                   **distinct_kwargs) -> DataFrame:
    """Per-sampled-group (estimate, exact, rel_err, within_bound).

    ``sample_pred`` — deterministic group-sampling predicate over the group
    key columns; keep it pure SQL (modulus / hash of the key) so the sample
    is reproducible outside Spark.  ``None`` audits every group (test scale).

    ``within_bound`` is ``|estimate - exact| <= max(sigmas * rse * exact,
    abs_slack)``: the multiplicative term is the published bound at
    ``sigmas`` standard errors; ``abs_slack`` absorbs integer rounding for
    tiny groups (direct-count mode is exact, so 2 is generous).

    The ``HllSpec`` keys ``p``/``hash_name``/``prehashed`` (and
    ``prehash64``, :func:`distinct_count`'s name for ``prehashed``) build
    the default spec when none is given, so the audit runs the exact
    configuration the production job runs; given together with ``spec``
    they raise.  Other keyword arguments are FORWARDED to
    :func:`distinct_count`; unknown keys fail loudly there instead of being
    silently dropped.
    """
    spec_keys = {"p": "p", "hash_name": "hash_name", "prehashed": "prehashed",
                 "prehash64": "prehashed"}
    given = [k for k in distinct_kwargs if k in spec_keys]
    spec_kwargs = {spec_keys[k]: distinct_kwargs.pop(k) for k in given}
    if len(spec_kwargs) < len(given):
        raise ValueError("accuracy_audit: pass prehash64 or prehashed, "
                         "not both")
    if spec is None:
        spec = HllSpec(**spec_kwargs)
    elif spec_kwargs:
        raise ValueError(f"accuracy_audit: pass {sorted(spec_kwargs)} or "
                         "spec, not both")
    sampled = df.filter(sample_pred) if sample_pred is not None else df
    est = distinct_count(sampled, element_cols, list(group_cols), spec=spec,
                         estimate_name="estimate", **distinct_kwargs)
    elems = ([element_cols] if isinstance(element_cols, str)
             else list(element_cols))
    exact = (sampled.groupBy(*group_cols)
             .agg(F.count_distinct(*[F.col(c) for c in elems])
                  .alias("exact_distinct")))
    rse = published_rse(spec)
    # null-SAFE group join: a NULL-keyed group appears in both branches
    # but plain equality would drop it — the group most likely to hide a
    # data-quality problem must stay audited
    cond = None
    for g in group_cols:
        c = est[g].eqNullSafe(exact[g])
        cond = c if cond is None else cond & c
    j = est.join(exact, on=cond).select(
        *[est[g] for g in group_cols], est["estimate"],
        exact["exact_distinct"])
    rel_err = (F.abs(F.col("estimate") - F.col("exact_distinct"))
               / F.greatest(F.col("exact_distinct"), F.lit(1)))
    within = (F.abs(F.col("estimate") - F.col("exact_distinct"))
              <= F.greatest(F.lit(sigmas * rse) * F.col("exact_distinct"),
                            F.lit(float(abs_slack))))
    return j.select(*group_cols, "estimate", "exact_distinct",
                    rel_err.alias("rel_err"), within.alias("within_bound"))


def audit_summary(audit_df: DataFrame) -> DataFrame:
    """Collapse an audit to one alertable row: groups audited, max relative
    error, and how many groups fell outside the published bound.

    An EMPTY audit (sampling predicate matched no groups) reads
    ``(0, 0.0, 0)`` — aggregates over zero rows are NULL, and a NULL
    ``n_out_of_bound`` would make the documented ``> 0`` alert silently
    never fire."""
    return audit_df.agg(
        F.count(F.lit(1)).alias("n_groups_audited"),
        F.coalesce(F.max("rel_err"), F.lit(0.0)).alias("max_rel_err"),
        F.coalesce(F.sum((~F.col("within_bound")).cast("long")),
                   F.lit(0)).alias("n_out_of_bound"))
