"""Real BPE tokenization, Spark-first.

The reference has no tokenizer (its text ops are regex heuristics —
``src/localmod/classifiers/spam.py``), but a training-data pipeline
budgets and packs in TOKENIZER tokens, not whitespace counts: the
token-budget selector (``operators/sampling.select_token_budget``),
sequence packing (``operators/packing.pack_greedy``) and the temperature
mixture all consume a per-document token count that should come from the
same BPE vocabulary the downstream LM trains with.

Design (Sennrich et al., "Neural Machine Translation of Rare Words with
Subword Units", ACL 2016 — the standard public BPE):

* **Training is a bounded driver reduce**, the same discipline as the
  IVF k-means and LM trainers: ONE distributed pass builds the
  word-frequency table (explode → groupBy — map-side combine collapses
  each partition to its distinct words before the exchange), the driver
  collects only the ``max_words`` most frequent distinct words (distinct
  vocabulary grows sublinearly in corpus size; the cap + ``min_freq``
  bound the collect at any scale), and the classic merge loop runs
  driver-side over that dictionary.  No per-iteration corpus pass.

* **Encoding is a broadcast-merges batched pandas UDF** (Arrow batches,
  never per-row Python): the merges list rides the closure (a few KB),
  each batch memoizes encoded words (corpus words repeat heavily), and
  the UDF returns one ``array<string>`` column.

* **Merge application order is pinned** so the DuckDB oracle can replay
  it exactly: repeatedly apply the LOWEST-RANK applicable merge at its
  LEFTMOST position, one application per step, until no merge applies.
  (Iterated leftmost-single-application reaches the same fixpoint as
  GPT-2's all-occurrences-per-pass variant, but is directly expressible
  as one recursive-CTE step in SQL.)

Merges never cross pre-token boundaries and there is no end-of-word
marker (the GPT-2-style convention, minus byte fallback — inputs here
are already text).
"""

from __future__ import annotations

import re
from collections import Counter
from typing import Dict, List, Optional, Sequence, Tuple

import pandas as pd  # module-level: pandas_udf resolves pd.Series hints here
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Pre-tokenization: letter runs, digit runs, single non-whitespace
# punctuation.  The whitespace class is spelled out EXPLICITLY — a bare
# `\s` diverges across the three engines that must agree (CPython `re`
# matches Unicode spaces like NBSP; Java regex and RE2 default to ASCII),
# so on scraped text the encode UDF, the Java-side word_frequencies scan
# and the DuckDB oracle would pre-tokenize differently.  The literal
# class means the same bytes everywhere.
BPE_PRETOKEN_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\r\f\v]"
_PRETOKEN_RE = re.compile(BPE_PRETOKEN_PATTERN)

Merge = Tuple[str, str]


# ---------------------------------------------------------------------------
# training
# ---------------------------------------------------------------------------


def word_frequencies(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Distributed word-frequency table: the ONLY corpus-wide pass BPE
    training needs.  Partial-aggregatable groupBy — each partition ships
    one row per distinct word it saw, not one per occurrence."""
    return (
        documents.select(
            F.explode(
                F.regexp_extract_all(F.col(text_col), F.lit(BPE_PRETOKEN_PATTERN), F.lit(0))
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def _merge_word(syms: Tuple[str, ...], pair: Merge) -> Tuple[str, ...]:
    """Replace every non-overlapping occurrence of ``pair`` left to right."""
    a, b = pair
    out: List[str] = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return tuple(out)


def merges_from_word_freqs(freqs: Dict[str, int], num_merges: int) -> List[Merge]:
    """The Sennrich merge loop over a word-frequency dictionary (driver
    side; cost is O(num_merges × distinct words), corpus size never
    appears).  Ties break deterministically: highest count, then
    lexicographically smallest pair — so distributed training is
    reproducible run to run and partitioning-invariant (the counts it
    consumes are additive integers)."""
    vocab: Dict[str, Tuple[str, ...]] = {w: tuple(w) for w in freqs}
    merges: List[Merge] = []
    for _ in range(num_merges):
        pair_counts: Counter = Counter()
        for w, f in freqs.items():
            syms = vocab[w]
            for i in range(len(syms) - 1):
                pair_counts[(syms[i], syms[i + 1])] += f
        if not pair_counts:
            break
        best = min(pair_counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        vocab = {w: _merge_word(s, best) for w, s in vocab.items()}
    return merges


def train_bpe(
    documents: DataFrame,
    num_merges: int,
    text_col: str = "text",
    min_freq: int = 1,
    max_words: int = 1_000_000,
) -> List[Merge]:
    """Distributed BPE training: one word-frequency pass, bounded collect,
    driver merge loop.  ``min_freq``/``max_words`` bound the collect at
    any corpus size (rare-word truncation perturbs pair counts by at most
    ``min_freq × max rank window`` — the standard trade every large-scale
    BPE trainer makes); the ``freq DESC, word`` ordering keeps the
    truncation itself deterministic."""
    wf = word_frequencies(documents, text_col=text_col)
    if min_freq > 1:
        wf = wf.where(F.col("freq") >= min_freq)
    rows = (
        wf.orderBy(F.col("freq").desc(), F.col("word"))
        .limit(max_words)
        .collect()
    )
    return merges_from_word_freqs({r["word"]: r["freq"] for r in rows}, num_merges)


# ---------------------------------------------------------------------------
# encoding
# ---------------------------------------------------------------------------


def encode_word(word: str, ranks: Dict[Merge, int]) -> List[str]:
    """Leftmost-lowest-rank merge loop — the exact procedure the DuckDB
    oracle replays one recursive-CTE step at a time."""
    syms = list(word)
    while len(syms) > 1:
        best_rank = None
        best_pos = -1
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_pos = r, i
        if best_rank is None:
            break
        syms[best_pos : best_pos + 2] = [syms[best_pos] + syms[best_pos + 1]]
    return syms


def encode_text(text: str, ranks: Dict[Merge, int], cache: Optional[dict] = None) -> List[str]:
    out: List[str] = []
    cache = cache if cache is not None else {}
    for w in _PRETOKEN_RE.findall(text):
        toks = cache.get(w)
        if toks is None:
            toks = encode_word(w, ranks)
            cache[w] = toks
        out.extend(toks)
    return out


def bpe_tokens_col(merges: Sequence[Merge], text_col: str = "text") -> Column:
    """``array<string>`` of BPE tokens, as a batched pandas UDF.  The
    merges table is small (vocab-sized) and rides the task closure — the
    broadcast-join analog for model parameters; per-batch word
    memoization amortizes the merge loop over repeated corpus words."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, StringType

    merges = [tuple(m) for m in merges]
    ranks = {m: i for i, m in enumerate(merges)}

    @pandas_udf(ArrayType(StringType()))
    def _enc(texts: pd.Series) -> pd.Series:
        cache: dict = {}
        return texts.fillna("").map(lambda t: encode_text(t, ranks, cache))

    return _enc(F.col(text_col))


def with_bpe_tokens(
    documents: DataFrame,
    merges: Sequence[Merge],
    text_col: str = "text",
    out_col: str = "bpe_tokens",
) -> DataFrame:
    """Documents + a BPE-token array column (+ ``n_{out_col}`` count —
    the real-tokenizer replacement for the whitespace/regex token counts
    the budget/packing operators default to)."""
    out = documents.withColumn(out_col, bpe_tokens_col(merges, text_col=text_col))
    return out.withColumn(f"n_{out_col}", F.size(F.col(out_col)))


# ---------------------------------------------------------------------------
# canonical merges serialization
# ---------------------------------------------------------------------------


def merges_json(merges: Sequence[Merge]) -> str:
    """THE canonical serialization of a merges table: the bytes the export
    plan's invalidation digest (``plans/export.py``) hashes."""
    import json

    return json.dumps([list(m) for m in merges])


# ---------------------------------------------------------------------------
# pinned model parameter for the oracled query
# ---------------------------------------------------------------------------

# Trained with `train_bpe(documents@sf0.001, num_merges=24)` — pinned so the
# `bpe_tokens` query and its DuckDB merge-replay oracle share one merges
# literal across scale factors (a model parameter, like the seeded LSH
# hyperplanes); tests/test_bpe.py asserts the trainer reproduces it.
PINNED_MERGES: List[Merge] = [
    ("e", "r"), ("o", "r"), ("i", "n"), ("o", "w"), ("s", "t"), ("l", "u"),
    ("a", "r"), ("p", "ar"), ("m", "er"), ("a", "t"), ("a", "n"), ("c", "an"),
    ("s", "can"), ("c", "o"), ("co", "lu"), ("colu", "m"), ("colum", "n"),
    ("d", "ow"), ("in", "dow"), ("w", "indow"), ("d", "er"), ("or", "der"),
    ("or", "t"), ("s", "ort"),
]
