"""Spark integration: two-stage mergeable sketch aggregation, estimate UDFs,
skew handling, checkpoint/resume.  Everything is DataFrame-native; sketch
code crosses the Python boundary only as Arrow batches (``mapInArrow``,
``applyInArrow``, ``arrow_udf``)."""

from .aggregate import (  # noqa: F401
    HllSpec,
    build_partials,
    distinct_count,
    estimate_col,
    merge_partials,
    rolling_merge,
    rollup_sketches,
    sketch_agg,
)
from .audit import accuracy_audit, audit_summary  # noqa: F401
from .bucketing import colocated_join, write_bucketed  # noqa: F401
from .joinprune import key_bloom, pruned_join  # noqa: F401
from .skewdiag import JoinAdvice, SkewDiagnosis, advise_join, diagnose_skew  # noqa: F401
from .specs import (  # noqa: F401
    AmsSpec,
    BloomSpec,
    CmsSpec,
    CuckooSpec,
    ComboSpec,
    DdSpec,
    KllSpec,
    MgSpec,
    TDigestSpec,
    ThetaSpec,
)
