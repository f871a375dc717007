"""Seeded pages-shaped input for the benchmark, and its exact answers.

The generator mirrors the schema and skew of ``sketchlib/data/pages.py``
(Zipf hosts, ~20% duplicate urls, Zipf languages, seven days, long-tailed
text length) but is deliberately a copy, not an import: a later change to
the library's fixture must not move the benchmark's baseline.

Everything here is numpy/pandas/pyarrow only; nothing is timed.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd

LANGS = ["en", "zh", "es", "de", "fr", "ja", "pt", "ru", "it", "nl"]
TLDS = ["com", "org", "net", "io", "dev"]
N_DAYS = 7
ZIPF_S = 1.2
DUPLICATE_RATE = 0.2


def _zipf_choice(rng: np.random.Generator, n_values: int, size: int) -> np.ndarray:
    p = np.arange(1, n_values + 1, dtype=np.float64) ** -ZIPF_S
    return rng.choice(n_values, size=size, p=p / p.sum())


def generate(n_rows: int, seed: int, n_hosts: int) -> pd.DataFrame:
    """Pages table ``(url, host, lang, day, text_len)``.

    ``host`` is what ``sketchlib.text.urls.url_host`` returns for ``url``;
    the oracle uses it, the timed queries derive their own from ``url``."""
    rng = np.random.default_rng(seed)
    lang_idx = _zipf_choice(rng, len(LANGS), n_rows)
    host_idx = _zipf_choice(rng, n_hosts, n_rows)
    day = rng.integers(0, N_DAYS, size=n_rows, dtype=np.int32)
    # ~DUPLICATE_RATE of the rows reuse the url of another row (same host)
    row = np.arange(n_rows, dtype=np.int64)
    dup = rng.random(n_rows) < DUPLICATE_RATE
    url_row = np.where(dup, rng.integers(0, n_rows, size=n_rows), row)
    host_idx = host_idx[url_row]
    text_len = (np.minimum(rng.lognormal(np.log(240.0), 1.0, size=n_rows), 30_000)
                .astype(np.int64) + 1)

    host_names = np.array([f"h{h}.example.{TLDS[h % len(TLDS)]}"
                           for h in range(n_hosts)], dtype=object)
    hosts = host_names[host_idx]
    urls = np.array([f"https://{h}/p/{r}" for h, r in
                     zip(hosts.tolist(), url_row.tolist())], dtype=object)
    return pd.DataFrame({
        "url": urls,
        "host": hosts,
        "lang": np.asarray(LANGS, dtype=object)[lang_idx],
        "day": day,
        "text_len": text_len,
    })


def write_parquet(pdf: pd.DataFrame, out_dir: str, n_files: int,
                  columns: list[str] | None = None) -> list[str]:
    """Write ``pdf`` as ``n_files`` equal row slices ``part-00000.parquet``...
    (one Spark input partition each).  Returns the file paths in order."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    cols = columns or list(pdf.columns)
    bounds = np.linspace(0, len(pdf), n_files + 1).astype(int)
    paths = []
    for i in range(n_files):
        part = pdf.iloc[bounds[i]:bounds[i + 1]][cols]
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False), path)
        paths.append(path)
    return paths


def fingerprint(paths: list[str], n_rows: int) -> str:
    """Row count plus a digest of the written files' bytes."""
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return f"{n_rows}:{h.hexdigest()[:16]}"


# ---------------------------------------------------------------------------
# exact answers (the oracle)


def distinct_urls_by_lang_day(pdf: pd.DataFrame) -> dict:
    return pdf.groupby(["lang", "day"])["url"].nunique().to_dict()


def distinct_hosts_by_lang_day(pdf: pd.DataFrame) -> dict:
    # element (lang, host) inside a (lang, day) group = distinct hosts
    return pdf.groupby(["lang", "day"])["host"].nunique().to_dict()


def host_counts(pdf: pd.DataFrame) -> dict:
    return pdf["host"].value_counts().to_dict()


def text_len_by_lang(pdf: pd.DataFrame) -> dict:
    return {lang: np.sort(g.to_numpy()) for lang, g in pdf.groupby("lang")["text_len"]}


def distinct_urls_by_day(pdf: pd.DataFrame) -> dict:
    return pdf.groupby("day")["url"].nunique().to_dict()


def distinct_urls_by_lang(pdf: pd.DataFrame) -> dict:
    return pdf.groupby("lang")["url"].nunique().to_dict()


def rolling_distinct_by_host(pdf: pd.DataFrame, window: int) -> dict:
    """{(host, day): distinct urls of host over days (day - window, day]},
    only for (host, day) pairs present in the input — the anchors
    ``rolling_merge`` keeps."""
    pairs = pdf[["host", "day", "url"]].drop_duplicates()
    parts = [pairs.assign(day=pairs["day"] + k) for k in range(window)]
    spread = pd.concat(parts, ignore_index=True).drop_duplicates()
    counts = spread.groupby(["host", "day"])["url"].nunique()
    anchors = pd.MultiIndex.from_frame(pairs[["host", "day"]].drop_duplicates())
    return counts.reindex(anchors).to_dict()


def day_membership_mask(pdf: pd.DataFrame) -> np.ndarray:
    """Per row: bit d is set when the row's url occurs on day d."""
    codes, uniques = pd.factorize(pdf["url"])
    per_url = np.zeros(len(uniques), dtype=np.int32)
    np.bitwise_or.at(per_url, codes, np.int32(1) << pdf["day"].to_numpy(np.int32))
    return per_url[codes]
