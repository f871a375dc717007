"""Pre-flight skew diagnosis for a planned groupBy / join key.

The 100 TB failure mode this prevents: a shuffle on a Zipf key (lang, host,
user_id) sends the hot key's rows to ONE reducer, and the job dies hours in.
The north rule demands explicit salting for skewed partitions
(:mod:`sketchlib.spark.skew`); this module answers the question that comes
BEFORE salting — *is this key skewed, how badly, and how many salt buckets
does it need* — from two cheap blob-only passes instead of a failed
full-scale shuffle:

* pass 1 — ONE scan builds Theta (distinct keys) and AMS (F2, the self-join
  size / collision mass) together via :class:`~sketchlib.spark.specs.
  ComboSpec`: only a ≤300 KB combined blob per partition crosses the
  shuffle;
* pass 2 — :func:`~sketchlib.spark.heavy_hitters.heavy_hitters` enumerates
  the top-k hot VALUES with the (lower_bound <= true <= est_count)
  CMS/Misra–Gries sandwich.

From those, closed-form planning numbers: under hash partitioning into P
tasks the hot key's task holds ~``hot + (n - hot)/P`` rows vs the ``n/P``
average — a skew factor of ``share*P + 1`` — so spreading the hot key over
``ceil(share * P)`` salt buckets levels it (`salt_buckets`).  ``est_count``
is an upper bound, so the recommendation never under-salts w.h.p.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame

from .aggregate import sketch_agg
from .concurrency import run_concurrently
from .heavy_hitters import heavy_hitters
from .specs import AmsSpec, CmsSpec, ComboSpec, ThetaSpec


@dataclass(frozen=True)
class SkewDiagnosis:
    """Sketch-derived skew profile of one key column."""

    n_rows: int
    ndv: int                 #: Theta distinct estimate
    ndv_rse: float           #: Theta one-sigma relative std error
    f2: int                  #: AMS self-join-size estimate
    #: top-k (value, est_count, lower_bound) with lower <= true <= est
    hot_keys: tuple[tuple[object, int, int], ...]

    @property
    def collision_prob(self) -> float:
        """P(two random rows share a key) = F2 / n^2 — the shuffle
        planner's collision mass (1/ndv for uniform keys, ~share^2 for a
        hub-dominated key)."""
        return self.f2 / (self.n_rows * self.n_rows) if self.n_rows else 0.0

    @property
    def top_share_upper(self) -> float:
        """Upper bound on the hottest key's row share (CMS is one-sided)."""
        if not self.hot_keys or not self.n_rows:
            return 0.0
        return self.hot_keys[0][1] / self.n_rows

    @property
    def top_share_lower(self) -> float:
        if not self.hot_keys or not self.n_rows:
            return 0.0
        return self.hot_keys[0][2] / self.n_rows

    def skew_factor(self, n_partitions: int) -> float:
        """Hot task rows / average task rows under hash partitioning."""
        return self.top_share_upper * n_partitions + 1.0

    def salt_buckets(self, n_partitions: int) -> int:
        """Salt buckets that level the hot key's task to ~average:
        ceil(top_share * P), clamped to [1, P].  Derived from the CMS
        UPPER bound, so it never under-salts w.h.p."""
        s = math.ceil(self.top_share_upper * n_partitions)
        return max(1, min(int(s), int(n_partitions)))

    def recommendation(self, n_partitions: int,
                       tolerance: float = 2.0) -> str:
        """'none' when the hot task stays within ``tolerance`` x average;
        otherwise 'salt(<buckets>)' for
        :func:`sketchlib.spark.skew.salted_repartition`."""
        if self.skew_factor(n_partitions) <= tolerance:
            return "none"
        return f"salt({self.salt_buckets(n_partitions)})"


@dataclass(frozen=True)
class JoinAdvice:
    """Sketch-derived pre-flight for an equi-join: everything a planner
    wants to know before committing 100 TB to a strategy, from ONE
    blob-only scan per side (Theta NDV + AMS F2 + the CMS grid whose
    inner product estimates the join size — all three families ride one
    :class:`~sketchlib.spark.specs.ComboSpec` pass)."""

    n_left: int
    n_right: int
    ndv_left: int
    ndv_right: int
    f2_left: int
    f2_right: int
    est_join_rows: int       #: CMS inner product — NEVER underestimates
    upper_margin: float      #: eps * |L| * |R| additive slack w.p. 1-delta

    @property
    def collision_prob_left(self) -> float:
        """Lower bound on the hottest left key's row share is
        F2/n^2 (= this value), since max_count >= F2/n."""
        return self.f2_left / (self.n_left * self.n_left) if self.n_left else 0.0

    @property
    def collision_prob_right(self) -> float:
        return (self.f2_right / (self.n_right * self.n_right)
                if self.n_right else 0.0)

    @property
    def fanout(self) -> float:
        """Estimated output rows per probe-side input row."""
        return self.est_join_rows / self.n_left if self.n_left else 0.0

    def strategy(self, broadcast_rows: int = 1_000_000,
                 n_partitions: int = 200,
                 skew_tolerance: float = 2.0,
                 prune_threshold: float = 0.5) -> str:
        """'broadcast_right' / 'broadcast_left' when a side's row count
        fits the broadcast budget (smaller side preferred); otherwise
        'shuffle', suffixed '+salt_left'/'+salt_right' for any side whose
        F2/n^2 LOWER-bound hot share already exceeds tolerance/P (a side
        can be skewed without tripping this bound — run
        :func:`diagnose_skew` on it for the hot values and exact salt
        sizing when it matters), and '+bloom_prune_left'/'..._right' when
        the bigger side's estimated matching fraction
        (est_join_rows / n_big — an OVERestimate, CMS inner product
        never undercounts, so the flag is conservative) is below
        ``prune_threshold``: route that join through
        :func:`sketchlib.spark.joinprune.pruned_join` with the Bloom
        built over the smaller side's keys, so the big side is probed
        map-only below the exchange and only matching-key rows shuffle
        (measured 4.4x at 1% selectivity, BENCH/BASELINE.md)."""
        small = min(("right", self.n_right), ("left", self.n_left),
                    key=lambda t: t[1])
        if small[1] <= broadcast_rows:
            return f"broadcast_{small[0]}"
        out = "shuffle"
        big, n_big = (("left", self.n_left) if small[0] == "right"
                      else ("right", self.n_right))
        if n_big and self.est_join_rows / n_big < prune_threshold:
            out += f"+bloom_prune_{big}"
        # same semantics as SkewDiagnosis.skew_factor: a key with row share
        # s makes the hot task ~(s*P + 1)x the average task, so the flag
        # fires when s*P + 1 > tolerance (share*P > tolerance alone would
        # under-flag the (tolerance-1, tolerance] band)
        if self.collision_prob_left * n_partitions + 1.0 > skew_tolerance:
            out += "+salt_left"
        if self.collision_prob_right * n_partitions + 1.0 > skew_tolerance:
            out += "+salt_right"
        return out


def advise_join(df_left: DataFrame, left_key, df_right: DataFrame,
                right_key, theta_k: int = 4096, ams_width: int = 1 << 12,
                ams_depth: int = 7, cms_width: int = 1 << 12,
                cms_depth: int = 5,
                hash_name: str = "murmur3") -> JoinAdvice:
    """One ComboSpec scan per side -> :class:`JoinAdvice`.  No join runs,
    no raw rows shuffle; the driver folds two ~300 KB blob sets."""
    from ..cms import CountMinSketch

    def side(df, key):
        combo = ComboSpec([
            ThetaSpec(k=theta_k, hash_name=hash_name),
            AmsSpec(width=ams_width, depth=ams_depth, hash_name=hash_name),
            CmsSpec(width=cms_width, depth=cms_depth, hash_name=hash_name)])
        [row] = sketch_agg(df, key, (), combo).collect()
        return combo.from_bytes(bytes(row["sketch"]))

    # the two sides are independent jobs — submit both so the second side's
    # scan back-fills executors as the first side's stages drain (the
    # straggler-overlap pattern; blob results are unaffected by overlap)
    sides = run_concurrently({"left": lambda: side(df_left, left_key),
                              "right": lambda: side(df_right, right_key)})
    lt, la, lc = sides["left"]
    rt, ra, rc = sides["right"]
    assert isinstance(lc, CountMinSketch) and isinstance(rc, CountMinSketch)
    return JoinAdvice(
        n_left=int(la.count_additions), n_right=int(ra.count_additions),
        ndv_left=int(lt.count()), ndv_right=int(rt.count()),
        f2_left=int(la.estimate_f2()), f2_right=int(ra.estimate_f2()),
        est_join_rows=int(lc.inner_product(rc)),
        upper_margin=(math.e / cms_width) * la.count_additions
        * ra.count_additions,
    )


def diagnose_skew(df: DataFrame, key_col: str, k: int = 10,
                  theta_k: int = 4096, ams_width: int = 1 << 12,
                  ams_depth: int = 7, cms_spec: CmsSpec | None = None,
                  hash_name: str = "murmur3") -> SkewDiagnosis:
    """Two blob-only passes over ``df[key_col]`` -> :class:`SkewDiagnosis`.

    Cost is independent of skew by construction: pass 1's combo partials
    are fixed-size per partition; pass 2's candidate tracker is
    capacity-bounded per partition (heavy_hitters docstring) — the hot key
    this function exists to find never becomes a hot key of the diagnosis
    itself."""
    combo = ComboSpec([ThetaSpec(k=theta_k, hash_name=hash_name),
                       AmsSpec(width=ams_width, depth=ams_depth,
                               hash_name=hash_name)])
    # both passes scan the same column and are independent — overlap them so
    # pass 2's map tasks back-fill the cluster while pass 1's blob merge
    # drains (results are deterministic either way)
    passes = run_concurrently({
        "combo": lambda: sketch_agg(df, key_col, (), combo).collect(),
        "heavy_hitters": lambda: heavy_hitters(
            df, key_col, k=k,
            spec=cms_spec or CmsSpec(hash_name=hash_name)).collect()})
    [row] = passes["combo"]
    hh = passes["heavy_hitters"]
    theta_sk, ams_sk = combo.from_bytes(bytes(row["sketch"]))
    hot = tuple(sorted(((r["value"], int(r["est_count"]), int(r["lower_bound"]))
                        for r in hh), key=lambda t: (-t[1], str(t[0]))))
    return SkewDiagnosis(
        n_rows=int(ams_sk.count_additions),
        ndv=int(theta_sk.count()),
        ndv_rse=float(theta_sk.relative_std_error()),
        f2=int(ams_sk.estimate_f2()),
        hot_keys=hot,
    )
