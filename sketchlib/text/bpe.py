"""Byte-level BPE tokenizer (train + encode), GPT-2 spec, pure numpy.

Why it exists: the pipeline's packing / LM-scoring / decontamination
operators previously worked on whitespace tokens, but a training job packs
**BPE token ids** — this module makes the same units available end to end.

Spec and provenance (all public):

* Training and encoding follow the original byte-level BPE of GPT-2
  (Radford et al. 2019; openai/gpt-2 ``encoder.py``): pre-tokenize with a
  regex, represent each pre-token as its UTF-8 **bytes** (base vocab ids
  0..255), then repeatedly merge the most frequent adjacent symbol pair;
  merge ``rank r`` mints symbol id ``256 + r``.
* Pre-token pattern: GPT-2's, minus its trailing-whitespace lookahead
  ``\\s+(?!\\S)`` — RE2 (the DuckDB oracle engine) has no lookahead, so the
  library pins the lookahead-free variant in BOTH engines.  The divergence
  only affects runs of multiple spaces (GPT-2 attaches the last space of a
  run to the following word; we keep the run together).
* Tie-breaking is pinned for cross-engine determinism: highest pair count,
  then smallest ``(left, right)`` id pair.  Within one merge, occurrences
  are replaced left-to-right, non-overlapping (byte-pair semantics).

Spark shape (100 TB posture):

* ``train_bpe`` counts pre-token types with ONE map-side-combined shuffle
  (``regexp_extract_all`` + ``explode`` are whole-stage-codegen JVM
  expressions — no Python touches the corpus), then collects only the
  **distinct pre-token → count** table through an executor-side LIMIT
  guard (the DSIR pattern): web-scale corpora have millions of word types,
  not billions, and a Zipf head cap (``min_count``) bounds it further.
  The merge loop itself is inherently sequential (each merge depends on
  the previous) and runs vectorized-numpy on the driver over the counted
  types — the standard industrial shape (HF ``tokenizers`` trains the same
  way from word counts).
* ``encode_tokens`` pre-tokenizes in the JVM and crosses into Python once
  per Arrow batch (documented UDF escalation — BPE's merge loop is
  iterative per word and has no Catalyst equivalent); a per-worker memo
  encodes each distinct pre-token once, so Zipf-distributed text costs
  ~O(distinct types), not O(tokens).
* ``sql_bpe_replay`` generates a DuckDB oracle that replays BOTH training
  and encoding in SQL (unrolled merge steps over a self-delimiting
  ``(id)(id)`` string form, where one ``replace()`` pass is exactly BPE's
  left-to-right non-overlapping merge) — the correctness gate checks the
  whole train+encode pipeline bit-for-bit.

Reference parity note: the C# reference (saguiitay/CardinalityEstimation)
has no tokenizer; this module serves the graft's LLM-pipeline surface
(SURVEY.md §8.3).
"""

from __future__ import annotations

import json
from itertools import chain
from typing import Iterable, Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .._arrow import list_values

# GPT-2 pre-tokenizer minus the RE2-incompatible trailing-space lookahead
# (module docstring).  Works identically under Java regex (Spark) and RE2
# (DuckDB); both support \p{L} / \p{N}.  Whitespace is an EXPLICIT class:
# Java's \s includes vertical tab U+000B but RE2's does not, so \s would
# silently split pre-tokens differently between Spark and the DuckDB
# oracle on VT-bearing web text (confirmed divergence) — the explicit
# class is the 6-char Java-\s set, matched identically by both engines.
_WS = r" \t\n\x0B\f\r"
PRETOKEN_RE = (r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+"
               r"| ?[^" + _WS + r"\p{L}\p{N}]+|[" + _WS + r"]+")

# collect guard for train_bpe: distinct pre-token TYPES (not tokens) —
# ~60 MB of driver strings at the cap, far past any web corpus's type
# count after min_count pruning
MAX_WORD_TYPES = 2_000_000


def train_merges_from_counts(word_counts: Iterable[tuple[str, int]],
                             n_merges: int) -> list[tuple[int, int]]:
    """The sequential BPE merge loop, vectorized with numpy flat arrays.

    ``word_counts`` is (pre-token, occurrence count); returns the learned
    merges in rank order — merge ``r`` = (left_id, right_id) minting id
    ``256 + r``.  Pair counting includes overlapping occurrences (GPT-2 /
    HF convention); application is left-to-right non-overlapping.
    Deterministic: ties break to the smallest (left, right) pair.
    """
    if n_merges < 0:
        raise ValueError(f"n_merges must be >= 0, got {n_merges}")
    seqs: list[np.ndarray] = []
    wts: list[np.ndarray] = []
    for w, c in word_counts:
        b = np.frombuffer(w.encode("utf-8"), dtype=np.uint8).astype(np.int64)
        if b.shape[0] == 0:
            continue
        seqs.append(b)
        # +1 slot per word for the -1 separator that stops cross-word pairs
        wts.append(np.full(b.shape[0] + 1, int(c), dtype=np.int64))
    if not seqs:
        return []
    flat = np.concatenate([np.concatenate([s, [-1]]) for s in seqs])
    wt = np.concatenate(wts)

    K = 256 + n_merges  # id space bound; pair key = a*K + b
    merges: list[tuple[int, int]] = []
    for step in range(n_merges):
        if flat.shape[0] < 2:
            break
        a, b = flat[:-1], flat[1:]
        valid = (a >= 0) & (b >= 0)
        if not valid.any():
            break
        keys = a[valid] * K + b[valid]
        # sparse pair counting: memory/time O(distinct adjacent pairs),
        # never O(K^2) — a dense K*K array is ~20 GB per step at GPT-2's
        # 50k-merge vocab.  np.unique returns sorted keys, so the first
        # maximal slot is the smallest (a, b) — the documented tie-break.
        uniq, inv = np.unique(keys, return_inverse=True)
        # float64 bincount is exact below 2^53; pair weight sums are
        # bounded by total corpus occurrences (~5e14 at 10^12 docs),
        # three orders of magnitude under that.
        sums = np.bincount(inv, weights=wt[:-1][valid].astype(np.float64))
        mx = int(sums.max())
        if mx <= 0:
            break
        key = int(uniq[int(np.argmax(sums))])
        a0, b0 = divmod(key, K)
        nid = 256 + step
        merges.append((a0, b0))
        # apply left-to-right non-overlapping
        pos = np.flatnonzero((flat[:-1] == a0) & (flat[1:] == b0))
        if a0 == b0:  # 'aaaa' → positions 0 and 2 merge; 1 overlaps 0
            keep: list[int] = []
            last = None
            for p in pos.tolist():
                if last is not None and p == last + 1:
                    continue  # overlaps the previously kept merge
                keep.append(p)
                last = p
            pos = np.asarray(keep, dtype=np.int64)
        if pos.shape[0]:
            flat[pos] = nid
            dead = pos + 1
            mask = np.ones(flat.shape[0], dtype=bool)
            mask[dead] = False
            flat = flat[mask]
            wt = wt[mask]
    return merges


class BpeModel:
    """Trained merges + derived tables: ranks for encoding, byte strings
    for decoding.  Tiny (a few KB for hundreds of merges) — ships inside
    UDF closures."""

    def __init__(self, merges: Sequence[tuple[int, int]]) -> None:
        self.merges = [tuple(m) for m in merges]
        self.ranks = {pair: r for r, pair in enumerate(self.merges)}
        vocab: list[bytes] = [bytes([i]) for i in range(256)]
        for a, b in self.merges:
            vocab.append(vocab[a] + vocab[b])
        self._vocab = vocab

    @property
    def vocab_size(self) -> int:
        return 256 + len(self.merges)

    def token_bytes(self, token_id: int) -> bytes:
        return self._vocab[token_id]

    def encode_word(self, word: str) -> list[int]:
        """Min-rank merge loop over one pre-token (GPT-2 encoder.py shape).
        Equivalent to applying merges in rank order: a learned pair never
        contains a symbol minted at a LATER rank, so rank order and
        min-first order commute."""
        seq = list(word.encode("utf-8"))
        ranks = self.ranks
        while len(seq) >= 2:
            best_rank = None
            best_pair = None
            for i in range(len(seq) - 1):
                r = ranks.get((seq[i], seq[i + 1]))
                if r is not None and (best_rank is None or r < best_rank):
                    best_rank, best_pair = r, (seq[i], seq[i + 1])
            if best_pair is None:
                break
            nid = 256 + best_rank
            out, i = [], 0
            while i < len(seq):
                if i < len(seq) - 1 and (seq[i], seq[i + 1]) == best_pair:
                    out.append(nid)
                    i += 2
                else:
                    out.append(seq[i])
                    i += 1
            seq = out
        return seq

    def decode(self, ids: Iterable[int]) -> str:
        return b"".join(self._vocab[i] for i in ids).decode("utf-8")

    # wire (json: portable, human-auditable, version-tagged)
    def to_json(self) -> str:
        return json.dumps({"v": 1, "merges": self.merges})

    @classmethod
    def from_json(cls, s: str) -> "BpeModel":
        d = json.loads(s)
        if d.get("v") != 1:
            raise ValueError(f"unsupported BpeModel version {d.get('v')!r}")
        return cls([tuple(m) for m in d["merges"]])


def pretokens_col(col: Column) -> Column:
    """array<string> of pre-tokens — pure JVM regex, zero Python."""
    return F.regexp_extract_all(col, F.lit(PRETOKEN_RE), F.lit(0))


def word_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(w, cnt) per distinct pre-token: one map-side-combined shuffle."""
    return (df.filter(F.col(text_col).isNotNull())
            .select(F.explode(pretokens_col(F.col(text_col))).alias("w"))
            .groupBy("w").agg(F.count(F.lit(1)).alias("cnt")))


def train_bpe(df: DataFrame, text_col: str = "text", n_merges: int = 256,
              min_count: int = 1,
              max_word_types: int = MAX_WORD_TYPES) -> BpeModel:
    """Count pre-token types in Spark, learn merges on the driver.

    The collect goes THROUGH a LIMIT so the type-count bound is enforced
    executor-side (the DSIR guard pattern) — a corpus whose distinct
    pre-token count exceeds ``max_word_types`` raises instead of OOMing
    the driver; raise ``min_count`` to prune the long tail first."""
    wc = word_counts(df, text_col)
    if min_count > 1:
        wc = wc.filter(F.col("cnt") >= min_count)
    rows = wc.limit(max_word_types + 1).collect()
    if len(rows) > max_word_types:
        raise ValueError(
            f"more than max_word_types={max_word_types} distinct pre-tokens;"
            " raise min_count to prune the tail (Zipf: the head carries the"
            " merges) or raise the cap explicitly")
    # sort for a deterministic iteration order (training math is
    # order-independent, but byte-identical runs are worth one sort)
    counts = sorted((r["w"], int(r["cnt"])) for r in rows)
    return BpeModel(train_merges_from_counts(counts, n_merges))


def token_ids_col(col: Column, model: BpeModel) -> Column:
    """array<int> of BPE token ids for a text column.

    Pre-tokenization stays in the JVM; the Arrow UDF reads each batch's
    pre-tokens from the list column's values buffer and encodes each
    DISTINCT pre-token once per worker (memo), so the Python cost on Zipf
    text is ~O(types), not O(tokens)."""
    # model + memo live in the UDF closure: each Python worker unpickles
    # them ONCE and reuses them across every Arrow batch it serves, so a
    # distinct pre-token is encoded once per worker lifetime — not once
    # per batch (which would make Python cost O(types x batches))
    m = BpeModel(model.merges)  # a few KB pickled into the closure
    memo: dict[str, list[int]] = {}
    enc = m.encode_word

    @F.arrow_udf(T.ArrayType(T.IntegerType()))
    def _encode(words: pa.Array) -> pa.Array:
        flat, offsets = list_values(words)
        encoded = [memo[w] if w in memo else memo.setdefault(w, enc(w))
                   for w in flat]
        # a row's token offset is the token count before its first word;
        # NULL text stays NULL (F.when wrappers still feed every row
        # through the batch)
        ends = np.cumsum([0] + [len(ids) for ids in encoded], dtype=np.int32)
        return pa.ListArray.from_arrays(
            pa.array(ends[offsets]),
            pa.array(list(chain.from_iterable(encoded)), type=pa.int32()),
            mask=words.is_null())

    return _encode(pretokens_col(col))


def encode_tokens(df: DataFrame, text_col: str = "text",
                  model: BpeModel | None = None,
                  out_col: str = "token_ids") -> DataFrame:
    """Append BPE token ids (map-only; NULL text → NULL ids)."""
    if model is None:
        raise ValueError("model is required — train_bpe() first")
    return df.withColumn(
        out_col,
        F.when(F.col(text_col).isNotNull(),
               token_ids_col(F.col(text_col), model)))


def token_count_col(col: Column, model: BpeModel) -> Column:
    """BPE token count (0 for empty, NULL for NULL text)."""
    return F.when(col.isNotNull(),
                  F.coalesce(F.size(token_ids_col(col, model)), F.lit(0))
                  .cast("long"))


# --------------------------------------------------------------------------
# DuckDB oracle generator: replay train + encode in SQL
# --------------------------------------------------------------------------

_HEX_BYTE = ("16*(strpos('0123456789ABCDEF', substr(h, 2*i-1, 1))-1)"
             " + (strpos('0123456789ABCDEF', substr(h, 2*i, 1))-1)")


def sql_bpe_replay(n_merges: int,
                   docs_sql: str = ("SELECT doc_id, text FROM documents "
                                    "WHERE text IS NOT NULL"),
                   final_select: str | None = None) -> str:
    """DuckDB SQL that re-derives the ENTIRE train+encode pipeline.

    Token sequences are strings of self-delimiting ``(id)`` atoms: the
    form is prefix-free across token boundaries, and adjacent disjoint
    pair occurrences share no characters, so ONE ``replace('(a)(b)',
    '(c)')`` pass is exactly BPE's left-to-right non-overlapping merge
    (a fresh id can never recreate its own pair).  Each unrolled step
    re-counts adjacent pairs (overlaps included, like the trainer) and
    picks (max count, min (a,b)).  ``AS MATERIALIZED`` on the chained
    CTEs is load-bearing: each step is referenced twice, and DuckDB would
    otherwise inline them into a 2^n_merges-scan plan.

    The default final select yields ``(doc_id, token_ids, n_tokens)``
    with ids space-joined — pass ``final_select`` to project something
    else over the CTEs (``docs``, ``pre``, ``agg`` are in scope)."""
    pat = PRETOKEN_RE.replace("'", "''")
    parts = [
        f"docs AS MATERIALIZED ({docs_sql}),",
        "pre AS MATERIALIZED (SELECT doc_id, i, ws[i] AS w"
        " FROM (SELECT doc_id,"
        f" regexp_extract_all(text, '{pat}') AS ws FROM docs) d,"
        " UNNEST(range(1, len(ws)+1)) AS t(i)),",
        "vocab AS (SELECT w, COUNT(*) AS cnt FROM pre GROUP BY w),",
        "w0 AS MATERIALIZED (SELECT w, cnt, array_to_string("
        f"[ '(' || CAST({_HEX_BYTE} AS VARCHAR) || ')'"
        " FOR i IN range(1, CAST(octet_length(encode(w)) AS INT)+1) ], '')"
        " AS seq FROM (SELECT w, cnt, hex(encode(w)) AS h FROM vocab)),",
    ]
    for k in range(1, n_merges + 1):
        parts.append(
            f"p{k} AS (SELECT ids[i] AS a, ids[i+1] AS b, SUM(cnt) AS c"
            " FROM (SELECT cnt, [CAST(x AS INT) FOR x IN"
            f" regexp_extract_all(seq, '\\d+')] AS ids FROM w{k - 1}) s,"
            " UNNEST(range(1, len(ids))) AS t(i) GROUP BY 1, 2),"
            f"m{k} AS (SELECT a, b, {256 + k - 1} AS nid FROM p{k}"
            " ORDER BY c DESC, a, b LIMIT 1),"
            f"w{k} AS MATERIALIZED (SELECT w.w, w.cnt,"
            " CASE WHEN m.a IS NULL THEN w.seq ELSE replace(w.seq,"
            " '(' || m.a || ')(' || m.b || ')', '(' || m.nid || ')') END"
            f" AS seq FROM w{k - 1} w LEFT JOIN m{k} m ON TRUE),")
    parts.append(
        f"tok AS (SELECT p.doc_id, p.i, e.seq FROM pre p"
        f" JOIN w{n_merges} e USING (w)),"
        "agg AS (SELECT doc_id, string_agg(seq, '' ORDER BY i) AS s"
        " FROM tok GROUP BY doc_id)")
    if final_select is None:
        final_select = (
            "SELECT d.doc_id,"
            " coalesce(rtrim(replace(replace(a.s, '(', ''), ')', ' ')), '')"
            " AS token_ids,"
            " CAST(coalesce(length(a.s) - length(replace(a.s, ')', '')), 0)"
            " AS BIGINT) AS n_tokens"
            " FROM docs d LEFT JOIN agg a USING (doc_id)")
    return "WITH " + "\n".join(parts) + "\n" + final_select
