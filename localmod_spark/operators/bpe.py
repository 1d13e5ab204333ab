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

* **The merges table is a pinned model parameter** (``PINNED_MERGES``,
  trained once; see its provenance comment), like the seeded LSH
  hyperplanes.

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
from typing import Dict, List, Optional, Sequence, Tuple

import pandas as pd  # module-level: pandas_udf resolves pd.Series hints here
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Pre-tokenization: letter runs, digit runs, single non-whitespace
# punctuation.  The whitespace class is spelled out EXPLICITLY — a bare
# `\s` diverges across the three engines that must agree (CPython `re`
# matches Unicode spaces like NBSP; RE2 defaults to ASCII), so on
# scraped text the encode UDF and the DuckDB oracle would pre-tokenize
# differently.  The literal
# class means the same bytes everywhere.
BPE_PRETOKEN_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\r\f\v]"
_PRETOKEN_RE = re.compile(BPE_PRETOKEN_PATTERN)

Merge = Tuple[str, str]


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
# hyperplanes).  The trainer and the test that reproduced this literal
# were last in commit 98c8750 (`git show 98c8750:localmod_spark/operators/bpe.py`).
PINNED_MERGES: List[Merge] = [
    ("e", "r"), ("o", "r"), ("i", "n"), ("o", "w"), ("s", "t"), ("l", "u"),
    ("a", "r"), ("p", "ar"), ("m", "er"), ("a", "t"), ("a", "n"), ("c", "an"),
    ("s", "can"), ("c", "o"), ("co", "lu"), ("colu", "m"), ("colum", "n"),
    ("d", "ow"), ("in", "dow"), ("w", "indow"), ("d", "er"), ("or", "der"),
    ("or", "t"), ("s", "ort"),
]
