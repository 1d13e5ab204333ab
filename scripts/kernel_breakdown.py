"""Time the parts of ``analyze_frame`` on the benchmark's seeded turns.

    python3 scripts/kernel_breakdown.py [--seed 1] [--n 6000] [--reps 3]

Pins itself to one CPU, generates ``--n`` turns of ``perfbench``'s
``moderate_turns`` input for ``--seed`` and times, best of ``--reps``:

* ``arrow_batch``: the ASCII test and the Arrow array of the ASCII rows;
* ``gates``: every pattern-layer regex, RE2 prefilter plus CPython
  confirm, on the rows ``analyze_frame`` scans it on;
* ``caps``: the spam caps-ratio test;
* ``toxicity``: the lexicon surrogate of every row: the lexicon gate,
  then ``surrogate_prob`` on the rows it passes;
* ``pii``: the digit-or-'@' gate, then PII scan and scrub of the
  non-blank rows it passes, and the verdict;
* ``langid``: language ID of every row, with its word-token pass;
* ``quality``: quality stats of every row, with their whitespace-token
  pass, then score and flag;
* ``assembly``: ``analyze_frame`` as a whole minus the parts above
  (blank guard, severities, summaries, the output frame).

Prints one line per part (seconds and share of the whole), then the whole
call's texts/s on one core.  On a shared box the remainder (``assembly``)
carries the run-to-run noise of every part: compare runs, not one line.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import inputs  # noqa: E402
from localmod_spark.kernel import injection as inj_mod  # noqa: E402
from localmod_spark.kernel import nsfw as nsfw_mod  # noqa: E402
from localmod_spark.kernel import spam as spam_mod  # noqa: E402
from localmod_spark.kernel import toxicity as tox_mod  # noqa: E402
from localmod_spark.kernel.aggregate import GATES, _caps_over_half, analyze_frame  # noqa: E402
from localmod_spark.kernel.langid import detect_language_batch  # noqa: E402
from localmod_spark.kernel.pii import pii_result_from, pii_scrub, scan_rows  # noqa: E402
from localmod_spark.kernel.prefilter import AsciiBatch  # noqa: E402
from localmod_spark.kernel.quality import (  # noqa: E402
    quality_flagged,
    quality_score,
    quality_stats_batch,
)


def _gates(batch: AsciiBatch) -> None:
    for _, pattern, _ in spam_mod._COMPILED:
        batch.search(GATES[pattern])
    for _, alt in inj_mod._CAT_ALT:
        batch.search(GATES[alt])
    explicit = batch.search(GATES[nsfw_mod._KEYWORD_ALT])
    suggestive = batch.search(GATES[nsfw_mod._SUGGESTIVE_ALT], ~explicit)
    batch.search(GATES[nsfw_mod._SAFE_ALT], ~explicit & suggestive)


def _pii(batch: AsciiBatch, nonblank) -> None:
    for t in batch.texts[scan_rows(batch) & nonblank]:
        pii_result_from(t, pii_scrub(t)[1])


def _quality(batch: AsciiBatch) -> None:
    for st in quality_stats_batch(batch):
        quality_score(st)
        quality_flagged(st)


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--n", type=int, default=6000)
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()
    os.sched_setaffinity(0, {min(os.sched_getaffinity(0))})

    series = inputs.turns(args.seed, args.n)["text"].fillna("").astype(str)
    texts = series.to_numpy()
    nonblank = series.str.strip().to_numpy() != ""
    batch = AsciiBatch(texts)
    analyze_frame(series[:100])  # warm imports and regex caches

    parts = {
        "arrow_batch": lambda: AsciiBatch(texts),
        "gates": lambda: _gates(batch),
        "caps": lambda: _caps_over_half(batch),
        "toxicity": lambda: tox_mod.surrogate_prob_batch(batch),
        "pii": lambda: _pii(batch, nonblank),
        "langid": lambda: detect_language_batch(batch),
        "quality": lambda: _quality(batch),
    }
    # each rep runs every part once, in analyze_frame's order, then
    # analyze_frame itself, so that no part runs on caches only it warmed
    secs = dict.fromkeys(parts, float("inf"))
    total = float("inf")
    for _ in range(args.reps):
        for name, fn in parts.items():
            secs[name] = min(secs[name], _timed(fn))
        total = min(total, _timed(lambda: analyze_frame(series)))
    secs["assembly"] = total - sum(secs.values())
    print(f"analyze_frame on {len(texts)} turns (seed {args.seed}), one CPU, best of {args.reps}")
    for name, s in secs.items():
        print(f"  {name:<12} {s:8.3f} s  {s / total:6.1%}")
    print(f"  {'total':<12} {total:8.3f} s  {len(texts) / total:,.0f} texts/s")


if __name__ == "__main__":
    main()
