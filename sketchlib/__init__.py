"""sketchlib — a PySpark-native distributed sketch / approximate-aggregation
library: HyperLogLog (reference-compatible), Count-Min, Bloom, t-digest and
KLL as mergeable aggregators over DataFrames.

Layering:

* ``sketchlib.hashing`` / ``sketchlib.encoding`` — vectorized Murmur3/FNV-1a
  and the normative element byte encodings (zero Spark dependency).
* ``sketchlib.hll`` & friends — pure-numpy mergeable sketches, each with
  ``add_* / merge / estimate / to_bytes / from_bytes``.
* ``sketchlib.spark`` — the thin Spark integration: two-stage partial/final
  aggregation (``mapInArrow`` partial build + JVM ``collect_list`` merge),
  merge and estimate Arrow UDFs, explicit skew salting, heavy hitters,
  membership, quantiles, checkpoint/resume, SQL registration.
* ``sketchlib.streaming`` — stateful Structured-Streaming sketch aggregation.
* ``sketchlib.text`` / ``sketchlib.dedup`` / ``sketchlib.similarity`` /
  ``sketchlib.multimodal`` — training-data pipeline operators (quality/langid,
  exact+MinHash+SimHash dedup, ANN, media plumbing).
* ``sketchlib.graph`` — web-graph analytics: link extraction / host graph,
  HyperBall (HLL neighborhood function + centralities), fixed-point integer
  PageRank.
* ``sketchlib.data`` — deterministic Common-Crawl-style ``pages`` table
  generator, frozen byte-identical text extraction, Iceberg/Parquet table
  interface.
* ``sketchlib.jobs`` — spark-submit entry points.

Importing the package inside a Spark Python worker (Python < 3.12) also
stops the worker from re-reading unchanged zip archives before every task
(``sketchlib._zipcache``); in any other process the import changes nothing.
"""

from . import _zipcache
from .ams import AmsSketch  # noqa: F401
from .bloom import BloomFilter  # noqa: F401
from .cuckoo import CuckooFilter  # noqa: F401
from .cms import CountMinSketch  # noqa: F401
from .ddsketch import DDSketch  # noqa: F401
from .hll import HllSketch  # noqa: F401
from .kll import KllSketch  # noqa: F401
from .mg import MisraGriesSketch  # noqa: F401
from .tdigest import TDigest  # noqa: F401
from .theta import ThetaSketch  # noqa: F401

__version__ = "0.1.0"

_zipcache.install_in_worker()
