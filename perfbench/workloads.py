"""The four benchmark workloads.

Each workload generates its own pages-shaped input from the seed, computes
the exact answers in set-up (never timed), and defines a *cycle*: the
fixed sequence of timed operations the runner repeats until the run's time
is up.  One operation is one public ``sketchlib`` call collected to the
driver, except on ``stream_ingest`` where it is one micro-batch.

Every answer is checked against the exact oracle; a breach is recorded in
the :class:`Checker` and makes that operation count as failed.
"""

from __future__ import annotations

import math
import os
import shutil
from dataclasses import dataclass
from typing import Callable

import numpy as np

from . import data

N_HOSTS = 100_000
HLL_P = 14
HLL_BOUND = 3 * 1.04 / math.sqrt(2 ** HLL_P)
# Just above the direct-mode limit the estimate is linear counting over 2^14
# registers, and each unresolved register collision moves it by one whole
# element (1% of a 101-element group), so the relative bound alone fails
# about one such group in 200.  Three elements of slack cover that range;
# from a few hundred elements up the relative bound dominates.
HLL_SLACK = 3
DIRECT_MAX = 100  # HLL direct mode: exact up to this many distinct elements
QUANTILES = (0.5, 0.9, 0.99)
TDIGEST_DELTA = 200
TOP_K = 20
BLOOM_FPR = 0.01
ROLLING_WINDOW = 3


class Checker:
    """Oracle comparisons: the worst error per sketch family plus every
    breach, as a printable line."""

    def __init__(self) -> None:
        self.worst: dict[str, float] = {}
        self.breaches: list[str] = []
        self.fp = 0
        self.absent = 0

    def _err(self, metric: str, value: float) -> None:
        self.worst[metric] = max(self.worst.get(metric, 0.0), value)

    def fail(self, msg: str) -> bool:
        self.breaches.append(msg)
        return False

    def hll(self, what: str, est: int, exact: int) -> bool:
        """Within 3 x 1.04/sqrt(2^p) plus HLL_SLACK elements, and exact in
        direct mode."""
        rel = abs(est - exact) / exact
        self._err("err.hll_rel.max", rel)
        if exact <= DIRECT_MAX and est != exact:
            return self.fail(f"hll {what}: direct-mode estimate {est} != exact {exact}")
        if abs(est - exact) > HLL_BOUND * exact + HLL_SLACK:
            return self.fail(f"hll {what}: |{est} - {exact}| > {HLL_BOUND:.4f} * {exact} "
                             f"+ {HLL_SLACK}")
        return True

    def cms(self, what: str, lower: int, est: int, true: int, n: int, eps: float) -> bool:
        """lower_bound <= true <= est_count <= true + eps * N."""
        self._err("err.cms_over.max", (est - true) / n)
        if not lower <= true <= est <= true + eps * n:
            return self.fail(f"cms {what}: lower {lower}, est {est}, true {true}, "
                                f"eps*N {eps * n:.1f}")
        return True

    def quantile(self, what: str, q: float, est: float, sorted_values: np.ndarray) -> bool:
        """Rank error within one k1 scale-function cell of the t-digest,
        2*pi*sqrt(q(1-q))/delta, or 1/n for small groups."""
        n = sorted_values.shape[0]
        lo = np.searchsorted(sorted_values, est, side="left") / n
        hi = np.searchsorted(sorted_values, est, side="right") / n
        err = max(0.0, lo - q, q - hi)
        self._err("err.quantile_rank.max", err)
        bound = max(2 * math.pi * math.sqrt(q * (1 - q)) / TDIGEST_DELTA, 1 / n)
        if err > bound:
            return self.fail(f"tdigest {what} q={q}: rank error {err:.5f} > {bound:.5f}")
        return True

    def bloom(self, what: str, false_neg: int, false_pos: int, absent: int) -> bool:
        self.fp += false_pos
        self.absent += absent
        if absent:
            self.worst["err.bloom_fpr"] = self.fp / self.absent
        if false_neg:
            return self.fail(f"bloom {what}: {false_neg} false negatives")
        return True


@dataclass
class Outcome:
    """What one call returned: input rows it read and whether every answer
    passed its check.  Streaming adds per-micro-batch timings, which replace
    the call's wall as the operation samples, and its query run id, which
    tags the query's Spark jobs."""

    rows: int
    ok: bool
    batch_s: list[float] | None = None
    run_id: str | None = None


Op = tuple[str, Callable[[], Outcome]]


class Workload:
    name = ""
    n_rows = 0
    n_files = 4
    warm_cycles = 2

    def __init__(self, spark, seed: int, work_dir: str, checker: Checker) -> None:
        self.spark = spark
        self.seed = seed
        self.work_dir = work_dir
        self.check = checker

    def prepare(self) -> str:
        """Generate the input, write it, compute the oracle.  Returns the
        input fingerprint.  Safe to call repeatedly (set-up is timed as the
        median of several calls)."""
        shutil.rmtree(self.work_dir, ignore_errors=True)
        os.makedirs(self.work_dir)
        self.pdf = data.generate(self.n_rows, self.seed, N_HOSTS)
        paths = self._write()
        self._oracle()
        return data.fingerprint(paths, self.n_rows)

    def _write(self) -> list[str]:
        self.pages_dir = os.path.join(self.work_dir, "pages")
        return data.write_parquet(self.pdf, self.pages_dir, self.n_files,
                                  ["url", "lang", "day", "text_len"])

    def _oracle(self) -> None:
        raise NotImplementedError

    def cycle(self) -> list[Op]:
        raise NotImplementedError

    def pages(self):
        return self.spark.read.parquet(self.pages_dir)

    def warm_up(self) -> None:
        """Untimed full cycles.  The first pays class loading, code
        generation and Python worker start; after only one, the first timed
        operations of ``pages_ingest`` still ran ~20% slow."""
        ops = self.cycle()
        for _ in range(self.warm_cycles):
            for _, fn in ops:
                fn()


class PagesIngest(Workload):
    """Round-robin over the four north-star queries on the default Murmur3
    path: scan, Arrow transfer, hashing and the stage-1 build dominate."""

    name = "pages_ingest"
    n_rows = 120_000

    def _oracle(self) -> None:
        self.urls = data.distinct_urls_by_lang_day(self.pdf)
        self.hosts = data.distinct_hosts_by_lang_day(self.pdf)
        self.host_counts = data.host_counts(self.pdf)
        self.text_len = data.text_len_by_lang(self.pdf)

    def cycle(self) -> list[Op]:
        from pyspark.sql import functions as F

        from sketchlib.spark.aggregate import distinct_count
        from sketchlib.spark.heavy_hitters import heavy_hitters
        from sketchlib.spark.quantiles import approx_quantiles
        from sketchlib.spark.specs import CmsSpec, TDigestSpec
        from sketchlib.text.urls import url_host

        n = self.n_rows

        def distinct_url() -> Outcome:
            rows = distinct_count(self.pages(), "url", ["lang", "day"]).collect()
            ok = len(rows) == len(self.urls)
            for r in rows:
                ok &= self.check.hll(f"url[{r.lang},{r.day}]", r.estimate,
                                     self.urls[(r.lang, r.day)])
            return Outcome(n, ok)

        def distinct_lang_host() -> Outcome:
            df = self.pages().withColumn("host", url_host(F.col("url")))
            rows = distinct_count(df, ["lang", "host"], ["lang", "day"]).collect()
            ok = len(rows) == len(self.hosts)
            for r in rows:
                ok &= self.check.hll(f"lang_host[{r.lang},{r.day}]", r.estimate,
                                     self.hosts[(r.lang, r.day)])
            return Outcome(n, ok)

        spec = CmsSpec()
        eps = math.e / spec.width

        def heavy_hosts() -> Outcome:
            df = self.pages().withColumn("host", url_host(F.col("url")))
            rows = heavy_hitters(df, "host", k=TOP_K, spec=spec).collect()
            ok = len(rows) == TOP_K
            for r in rows:
                ok &= self.check.cms(r.value, r.lower_bound, r.est_count,
                                     self.host_counts.get(r.value, 0), n, eps)
            return Outcome(n, ok)

        def text_quantiles() -> Outcome:
            rows = approx_quantiles(self.pages(), "text_len", list(QUANTILES), ["lang"],
                                    TDigestSpec(delta=TDIGEST_DELTA)).collect()
            ok = len(rows) == len(self.text_len)
            for r in rows:
                for q, est in zip(QUANTILES, r.quantiles):
                    ok &= self.check.quantile(r.lang, q, est, self.text_len[r.lang])
            return Outcome(n, ok)

        return [("distinct_url", distinct_url), ("distinct_lang_host", distinct_lang_host),
                ("heavy_hosts", heavy_hosts), ("text_quantiles", text_quantiles)]


class SketchRollup(Workload):
    """Merge + count over stored per-(host, day) HLL sketches: no hashing,
    a mix of direct, sparse and dense blobs, a few huge folds (per day,
    global) and many 1-3 blob folds (rolling window per host)."""

    name = "sketch_rollup"
    n_rows = 100_000
    warm_cycles = 1  # the sketch build before it already started the Python workers

    def warm_up(self) -> None:
        """Build and store the per-(host, day) sketches, then warm up."""
        from pyspark.sql import functions as F

        from sketchlib.spark.aggregate import sketch_agg
        from sketchlib.text.urls import url_host

        self.sketch_dir = os.path.join(self.work_dir, "sketches")
        df = self.pages().withColumn("host", url_host(F.col("url")))
        sketch_agg(df, "url", ["host", "day"]).write.parquet(self.sketch_dir)
        self.n_sketches = self.spark.read.parquet(self.sketch_dir).count()
        super().warm_up()

    def _oracle(self) -> None:
        self.by_day = data.distinct_urls_by_day(self.pdf)
        self.total = int(self.pdf["url"].nunique())
        self.rolling = data.rolling_distinct_by_host(self.pdf, ROLLING_WINDOW)

    def cycle(self) -> list[Op]:
        from sketchlib.spark.aggregate import estimate_col, rolling_merge, rollup_sketches

        def sketches():
            return self.spark.read.parquet(self.sketch_dir)

        def per_day() -> Outcome:
            rows = (rollup_sketches(sketches(), ["day"])
                    .select("day", estimate_col().alias("e")).collect())
            ok = len(rows) == len(self.by_day)
            for r in rows:
                ok &= self.check.hll(f"day[{r.day}]", r.e, self.by_day[r.day])
            return Outcome(self.n_sketches, ok)

        def global_() -> Outcome:
            [r] = rollup_sketches(sketches(), []).select(estimate_col().alias("e")).collect()
            return Outcome(self.n_sketches, self.check.hll("global", r.e, self.total))

        def rolling() -> Outcome:
            rows = (rolling_merge(sketches(), "day", ROLLING_WINDOW, group_cols=["host"])
                    .select("host", "day", estimate_col().alias("e")).collect())
            ok = len(rows) == len(self.rolling)
            for r in rows:
                exact = self.rolling[(r.host, r.day)]
                if r.e != exact or exact > DIRECT_MAX:
                    ok &= self.check.hll(f"rolling[{r.host},{r.day}]", r.e, exact)
            return Outcome(self.n_sketches, ok)

        return [("rollup_day", per_day), ("rollup_global", global_),
                ("rolling_host", rolling)]


class MembershipProbe(Workload):
    """One Bloom build over one day's urls, then anti-/semi-join probes of
    the whole table (most keys absent) through the pandas-UDF probe path."""

    name = "membership_probe"
    n_rows = 60_000
    probes_per_build = 2  # each probe = one positive and one negated count

    def _write(self) -> list[str]:
        self.pages_dir = os.path.join(self.work_dir, "pages")
        pdf = self.pdf.assign(day_mask=data.day_membership_mask(self.pdf))
        return data.write_parquet(pdf, self.pages_dir, self.n_files,
                                  ["url", "lang", "day", "text_len", "day_mask"])

    def _oracle(self) -> None:
        by_day = data.distinct_urls_by_day(self.pdf)
        self.distinct = [by_day[d] for d in range(data.N_DAYS)]
        mask = data.day_membership_mask(self.pdf)
        self.members = [int(((mask >> d) & 1).sum()) for d in range(data.N_DAYS)]
        self.day_rows = self.pdf["day"].value_counts().to_dict()
        self.builds = 0

    def cycle(self) -> list[Op]:
        from pyspark.sql import functions as F

        from sketchlib.bloom import optimal_params
        from sketchlib.spark.membership import bloom_build_bytes, filter_might_contain
        from sketchlib.spark.specs import BloomSpec

        state: dict = {}
        n = self.n_rows

        def build() -> Outcome:
            d = self.builds % data.N_DAYS
            self.builds += 1
            m_bits, k = optimal_params(self.distinct[d], BLOOM_FPR)
            spec = BloomSpec(m_bits=m_bits, k=k)
            pages = self.pages()
            blob = bloom_build_bytes(pages.filter(F.col("day") == d), "url", spec)
            state.update(day=d, spec=spec, blob=blob)
            return Outcome(self.day_rows[d], True)

        def counts(negate: bool) -> dict:
            d = state["day"]
            member = (F.shiftright("day_mask", d) % 2).alias("member")
            out = (filter_might_contain(self.pages(), "url", state["blob"], state["spec"],
                                        negate=negate)
                   .groupBy(member).count().collect())
            return {r.member: r["count"] for r in out}

        def probe() -> Outcome:
            c = counts(False)
            d = state["day"]
            absent = n - self.members[d]
            return Outcome(n, self.check.bloom(f"day {d} probe", self.members[d] - c.get(1, 0),
                                               c.get(0, 0), absent))

        def probe_absent() -> Outcome:
            c = counts(True)
            d = state["day"]
            return Outcome(n, self.check.bloom(f"day {d} anti-probe", c.get(1, 0), 0, 0))

        ops: list[Op] = [("bloom_build", build)]
        for _ in range(self.probes_per_build):
            ops += [("probe", probe), ("probe_absent", probe_absent)]
        return ops


class StreamIngest(Workload):
    """``streaming_distinct_count`` over fixed-size Parquet files, one file
    per micro-batch: ``applyInPandasWithState`` plus the state store."""

    name = "stream_ingest"
    n_rows = 60_000
    rows_per_file = 15_000

    def _write(self) -> list[str]:
        self.pages_dir = os.path.join(self.work_dir, "pages")
        self.n_files = self.n_rows // self.rows_per_file
        paths = data.write_parquet(self.pdf, self.pages_dir, self.n_files,
                                   ["url", "lang", "day", "text_len"])
        self.warm_dir = os.path.join(self.work_dir, "warm")
        os.makedirs(self.warm_dir)
        shutil.copy(paths[0], self.warm_dir)
        return paths

    def _oracle(self) -> None:
        self.urls = data.distinct_urls_by_lang(self.pdf)
        self.rows_by_lang = self.pdf["lang"].value_counts().to_dict()
        self.runs = 0

    def _run_query(self, src_dir: str):
        """One ``availableNow`` run from a fresh checkpoint.  Returns the
        progress of every micro-batch that read rows, the last output row
        per lang, and the query's run id."""
        from sketchlib.streaming.stream_agg import streaming_distinct_count

        self.runs += 1
        name = f"stream_{self.runs}"
        ck = os.path.join(self.work_dir, "ck", name)
        src = (self.spark.readStream.schema(self.pages().schema)
               .option("maxFilesPerTrigger", 1).parquet(src_dir))
        q = (streaming_distinct_count(src, "url", ["lang"], p=HLL_P)
             .writeStream.format("memory").queryName(name).outputMode("update")
             .option("checkpointLocation", ck).trigger(availableNow=True).start())
        q.awaitTermination()
        progress = [p for p in q.recentProgress if p.numInputRows > 0]
        last = {}
        # update mode appends one row per lang per batch; rows added only grow
        for r in self.spark.table(name).collect():
            if r.lang not in last or r.count_additions > last[r.lang].count_additions:
                last[r.lang] = r
        self.spark.sql(f"DROP VIEW IF EXISTS {name}")
        shutil.rmtree(ck, ignore_errors=True)
        return progress, last, str(q.runId)

    def warm_up(self) -> None:
        self._run_query(self.warm_dir)

    def cycle(self) -> list[Op]:
        def query() -> Outcome:
            progress, last, run_id = self._run_query(self.pages_dir)
            ok = len(progress) == self.n_files and set(last) == set(self.urls)
            for lang, r in last.items():
                ok &= self.check.hll(f"stream[{lang}]", r.estimate, self.urls[lang])
                if r.count_additions != self.rows_by_lang[lang]:
                    ok = self.check.fail(f"stream[{lang}]: {r.count_additions} rows "
                                         f"added, {self.rows_by_lang[lang]} in input")
            return Outcome(sum(p.numInputRows for p in progress), ok,
                           batch_s=[p.durationMs["triggerExecution"] / 1000 for p in progress],
                           run_id=run_id)

        return [("micro_batch", query)]


WORKLOADS = {w.name: w for w in (PagesIngest, SketchRollup, MembershipProbe, StreamIngest)}
