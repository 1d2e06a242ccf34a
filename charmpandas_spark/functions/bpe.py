"""Vocab-driven byte-pair-encoding token counting (public algorithm).

The packing / chunking budgets elsewhere in this package are
denominated in regex-approximated tokens (``text.TOKEN_REGEX``). This
module provides REAL BPE segmentation against a merge vocabulary, so
budgets can be denominated in the same units a trainer's tokenizer
will produce. Two halves:

- **Learning** (``learn_bpe_merges``): the classic merge-learning loop
  (Sennrich et al. 2016, "Neural Machine Translation of Rare Words
  with Subword Units" — public algorithm): start from characters,
  repeatedly merge the globally most-frequent adjacent symbol pair.
  Runs driver-side over a WORD-FREQUENCY TABLE, not the corpus: the
  distinct-word table after a distributed ``groupBy(word).count()``
  grows with the vocabulary, not the corpus, so the shape is: Spark
  aggregates frequencies (one shuffle),
  driver learns merges on the capped top-``max_vocab`` table
  (``learn_bpe_from_corpus``). This mirrors how production tokenizers
  are actually trained — on aggregated counts, never row-at-a-time.

- **Applying** (``bpe_token_count`` / ``bpe_segment``): an
  Arrow-batched ``pandas_udf`` with a per-batch word memo — each
  DISTINCT word is segmented once per batch, so on natural-language
  corpora (Zipf-distributed words) the Python loop runs on the
  vocabulary, not the corpus. The merge table rides into executors as
  a closure constant (broadcast by Spark's task serialization, ~kB).

Merge-application convention (pinned, and mirrored exactly by the
DuckDB recursive-CTE oracle in ``__spark_entry__``): repeatedly find
the LOWEST-RANK pair present anywhere in the token list, merge its
LEFTMOST occurrence only, repeat until no pair has a rank. One merge
per step makes the recurrence directly expressible as a recursive
CTE; for non-overlapping occurrences it reaches the same fixpoint as
the batched variant, and where overlaps make order matter this spec
is the documented tie-break.

No counterpart in the charmpandas reference (no string surface at
all); this exists for the LLM-pipeline operator family.
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Iterable, Mapping

from pyspark.sql import Column, DataFrame as SparkDF, functions as F
from pyspark.sql.functions import pandas_udf

__all__ = [
    "learn_bpe_merges",
    "learn_bpe_from_corpus",
    "bpe_apply",
    "bpe_token_count",
    "bpe_segment",
    "bpe_vocab",
    "bpe_encode",
]


def learn_bpe_merges(
    word_freqs: Mapping[str, int] | Iterable[str],
    num_merges: int = 100,
) -> list[tuple[str, str]]:
    """Learn a ranked merge list from a word-frequency mapping (or a
    plain word iterable, counted uniformly). Pure-Python reference of
    the public algorithm: symbols start as characters; each round
    merges the most frequent adjacent pair (ties broken
    lexicographically for determinism) across the weighted vocab."""
    if not isinstance(word_freqs, Mapping):
        word_freqs = Counter(word_freqs)
    vocab: dict[tuple[str, ...], int] = {
        tuple(w): int(f) for w, f in word_freqs.items() if w}
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        pairs: Counter = Counter()
        for syms, f in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += f
        if not pairs:
            break
        best_n = max(pairs.values())
        best = min(p for p, n in pairs.items() if n == best_n)
        merges.append(best)
        merged = best[0] + best[1]
        new_vocab: dict[tuple[str, ...], int] = {}
        for syms, f in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if (i + 1 < len(syms)
                        and (syms[i], syms[i + 1]) == best):
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            new_vocab[key] = new_vocab.get(key, 0) + f
        vocab = new_vocab
    return merges


def learn_bpe_from_corpus(
    df: SparkDF,
    text_col: str,
    num_merges: int = 100,
    max_vocab: int = 100_000,
) -> list[tuple[str, str]]:
    """Distributed word-frequency aggregation (one shuffle, partial
    map-side combine) + driver-side merge learning on the capped
    top-``max_vocab`` word table. The collect is bounded by
    ``max_vocab`` rows regardless of corpus size — the driver never
    holds more than that for an inherently global, iterative
    algorithm."""
    freqs = (
        df.select(F.explode(F.split(F.lower(F.col(text_col)),
                                    r"\s+")).alias("w"))
          .filter(F.col("w") != "")
          .groupBy("w").agg(F.count(F.lit(1)).alias("f"))
          .orderBy(F.desc("f"), "w")
          .limit(max_vocab)
          .collect())
    return learn_bpe_merges({r["w"]: r["f"] for r in freqs},
                            num_merges)


def bpe_apply(word: str, ranks: Mapping[tuple[str, str], int]) -> list[str]:
    """Sequential reference segmentation under the pinned convention:
    merge the (lowest-rank, leftmost) pair, ONE occurrence per step.
    O(len^2 * merges) worst case — fine for natural words; the UDF
    memoizes per distinct word."""
    toks = list(word)
    while len(toks) > 1:
        best_rank, best_pos = None, None
        for i in range(len(toks) - 1):
            r = ranks.get((toks[i], toks[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_pos = r, i
        if best_pos is None:
            break
        toks[best_pos:best_pos + 2] = [toks[best_pos] + toks[best_pos + 1]]
    return toks


def _ranks(merges: Iterable[tuple[str, str]]) -> dict:
    return {tuple(p): i for i, p in enumerate(merges)}


def bpe_token_count(col: Column | str,
                    merges: Iterable[tuple[str, str]]) -> Column:
    """BPE token count of a text column: whitespace pre-tokenization
    (lowercased), then merge-table segmentation per word. Arrow-batched
    pandas_udf with a cross-batch word memo (the closure dict persists
    for the executor's UDF lifetime) — per-row Python work only on
    first sight of a word."""
    ranks = _ranks(merges)
    cache: dict[str, int] = {}

    @pandas_udf("int")
    def _count(s):  # pd.Series -> pd.Series
        def one(text):
            if text is None:
                return None
            n = 0
            for w in text.lower().split():
                c = cache.get(w)
                if c is None:
                    c = len(bpe_apply(w, ranks))
                    cache[w] = c
                n += c
            return n
        return s.map(one)

    c = F.col(col) if isinstance(col, str) else col
    return _count(c)


def bpe_segment(col: Column | str,
                merges: Iterable[tuple[str, str]]) -> Column:
    """Full BPE segmentation as ``array<string>`` (token sequence over
    all words, in order). Same memoized Arrow-batched shape."""
    ranks = _ranks(merges)
    cache: dict[str, list[str]] = {}

    @pandas_udf("array<string>")
    def _seg(s):
        def one(text):
            if text is None:
                return None
            out = []
            for w in text.lower().split():
                t = cache.get(w)
                if t is None:
                    t = bpe_apply(w, ranks)
                    cache[w] = t
                out.extend(t)
            return out
        return s.map(one)

    c = F.col(col) if isinstance(col, str) else col
    return _seg(c)


def bpe_vocab(merges: "Iterable[tuple[str, str]]",
              alphabet: "Iterable[str]") -> dict[str, int]:
    """Deterministic symbol -> id table for a merge list: id 0 is
    reserved for <unk>, then the sorted base alphabet, then each
    merge's output symbol in merge order (the order every BPE
    implementation assigns ids in, so tables are reproducible from
    (merges, alphabet) alone — no corpus pass)."""
    vocab: dict[str, int] = {"<unk>": 0}
    for ch in sorted(set(alphabet)):
        vocab.setdefault(ch, len(vocab))
    for a, b in merges:
        vocab.setdefault(a + b, len(vocab))
    return vocab


def bpe_encode(col: Column | str,
               merges: "Iterable[tuple[str, str]]",
               vocab: dict[str, int],
               unk_id: int = 0) -> Column:
    """Token-ID encoding as ``array<int>`` — the trainable form
    :func:`bpe_segment` stops short of (shard writers store ids, not
    strings). Same memoized Arrow-batched pandas_udf shape: Python
    cost scales with DISTINCT words (Zipf), not corpus rows; symbols
    missing from ``vocab`` encode as ``unk_id``."""
    ranks = _ranks(merges)
    cache: dict[str, list[int]] = {}

    @pandas_udf("array<int>")
    def _enc(s):
        def one(text):
            if text is None:
                return None
            out = []
            for w in text.lower().split():
                ids = cache.get(w)
                if ids is None:
                    ids = [vocab.get(t, unk_id)
                           for t in bpe_apply(w, ranks)]
                    cache[w] = ids
                out.extend(ids)
            return out
        return s.map(one)

    c = F.col(col) if isinstance(col, str) else col
    return _enc(c)
