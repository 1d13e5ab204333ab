"""Pipeline aggregation: fuse all classifiers per text, vectorized per batch.

Reproduces the reference orchestrator's aggregation semantics
(`src/localmod/pipeline.py`):

  * classifier execution order = registry insertion order
    ``toxicity, pii, prompt_injection, spam, nsfw``
    (`src/localmod/classifiers/__init__.py:29-35`, `pipeline.py:58`);
  * ``flagged = any(r.flagged)`` (`pipeline.py:128`) → ``keep = NOT flagged``;
  * ``severity = max`` by enum position (`pipeline.py:129`);
  * summary string format (`pipeline.py:157-171`).

Two entry points with identical semantics (asserted equal in tests):

  * :func:`analyze_text`  — one text → one result dict (the pytest oracle);
  * :func:`analyze_frame` — a pandas Series of texts → a pandas DataFrame,
    one call per Arrow batch inside the ``score_turns`` pandas UDF.  Its
    pattern layers run CPython ``re`` (the reference's engine) only on
    the non-ASCII rows and the ASCII rows each regex's RE2 prefilter
    (:mod:`localmod_spark.kernel.prefilter`) matches, evaluated once per
    batch in Arrow.  The toxicity lexicon and PII are gated the same way
    (a lexicon token; a digit or an '@'), the spam caps test is decided
    in Arrow, and langid and quality decide the ASCII rows from one Arrow
    token pass each over the batch's bytes.  Non-ASCII rows run the
    per-text functions :func:`analyze_text` runs.
"""

from __future__ import annotations

from typing import Callable, List, Mapping, NamedTuple, Optional

import numpy as np
import pandas as pd
import pyarrow.compute as pc

from localmod_spark.kernel import injection as inj_mod
from localmod_spark.kernel import nsfw as nsfw_mod
from localmod_spark.kernel import spam as spam_mod
from localmod_spark.kernel import toxicity as tox_mod
from localmod_spark.kernel.injection import injection_result
from localmod_spark.kernel.langid import detect_language, detect_language_batch
from localmod_spark.kernel.prefilter import AsciiBatch, gate
from localmod_spark.kernel.nsfw import nsfw_result
from localmod_spark.kernel.pii import pii_result_from, pii_scrub, scan_rows
from localmod_spark.kernel.quality import (
    quality_flagged,
    quality_score,
    quality_stats,
    quality_stats_batch,
)
from localmod_spark.kernel.spam import spam_result
from localmod_spark.kernel.toxicity import toxicity_result
from localmod_spark.kernel.types import NONE, SEVERITY_RANK, KernelResult, max_severity


class PipelineConfig(NamedTuple):
    """Thresholds for the verified deterministic configuration (SURVEY §7.4):
    pattern-only spam/injection thresholds follow the reference's own
    deterministic test setup (`tests/test_classifiers/test_spam.py:14`,
    `tests/test_classifiers/test_prompt_injection.py:14`).

    ``classifiers`` selects which classifiers run (reference F3: the
    analyze API's classifier subset, `src/localmod/pipeline.py:102-103`);
    a disabled classifier contributes flagged=False / confidence 0.0 /
    severity none, exactly like an unselected one in the reference.

    ML slots (S5): each ``*_ml_fn`` maps one text → probability; when set,
    the reference's combination arithmetic applies — spam
    ``0.6*ml + 0.4*heuristic`` (`spam.py:102-105`), injection
    ``max(ml, pattern)`` + 0.1 corroboration boost
    (`prompt_injection.py:128-132`), NSFW model prob through the
    safe-override dampening (`nsfw.py:127-129`).
    ``toxicity_model_fns`` maps model name → per-text probability (only
    the loaded models) and engages the weighted ensemble with
    renormalization (`toxicity.py:149-173`).  On Spark, closures here are
    serialized into the scoring UDF; load artifacts lazily at module
    scope inside the fn so each Python worker pays the load once.
    Thresholds are NOT auto-switched: the reference's ML-mode defaults
    (e.g. spam 0.5) are the caller's choice."""

    toxicity_threshold: float = tox_mod.DEFAULT_THRESHOLD
    spam_threshold: float = spam_mod.DEFAULT_THRESHOLD
    injection_threshold: float = inj_mod.DEFAULT_THRESHOLD
    nsfw_threshold: float = nsfw_mod.DEFAULT_THRESHOLD
    classifiers: tuple = ("toxicity", "pii", "prompt_injection", "spam", "nsfw")
    spam_ml_fn: Optional[Callable[[str], float]] = None
    injection_ml_fn: Optional[Callable[[str], float]] = None
    nsfw_prob_fn: Optional[Callable[[str], float]] = None
    toxicity_model_fns: Optional[Mapping[str, Callable[[str], float]]] = None
    # Batched per-model scorers (list[str] → array of probs), the actual
    # transformer-inference shape of the reference's `predict_batch`
    # (`toxicity.py:191-275`): one tokenize→forward→prob call per model
    # per Arrow batch instead of per text.  Takes precedence over
    # ``toxicity_model_fns`` when both are set.
    toxicity_model_batch_fns: Optional[Mapping[str, Callable[[List[str]], "np.ndarray"]]] = None


DEFAULT_CONFIG = PipelineConfig()

# Every regex analyze_frame runs → its gate: the RE2 prefilter of
# kernel/prefilter.py, built once per worker at import from the regex's
# own parse tree.  The NSFW keyword scans read lowered text, so their
# prefilters are built over lowered characters.
_LOWERED_SCANS = (nsfw_mod._KEYWORD_ALT, nsfw_mod._SUGGESTIVE_ALT)
GATES = {
    p: gate(p, lowered=p in _LOWERED_SCANS)
    for p in (
        *(p for _, p, _ in spam_mod._COMPILED),
        *(p for _, p in inj_mod._CAT_ALT),
        *_LOWERED_SCANS,
        nsfw_mod._SAFE_ALT,
    )
}


def config_from_env(environ=None) -> PipelineConfig:
    """Reference Settings parity: ``LOCALMOD_*_THRESHOLD`` environment
    variables override per-classifier thresholds, exactly the lookup the
    reference pipeline does (`src/localmod/pipeline.py:66-71` reading
    `config.py:42-48`, env prefix ``LOCALMOD_`` per `config.py:60-62`).

    Unset variables keep this repo's verified deterministic defaults
    (each classifier's own default — e.g. toxicity 0.17 — rather than
    Settings' flat 0.5, because the F1 gate is anchored on the verified
    kernel configuration; exporting the env vars reproduces the
    reference server's effective thresholds)."""
    import os

    env = os.environ if environ is None else environ

    def _f(name: str, default: float) -> float:
        v = env.get(name)
        return float(v) if v is not None else default

    return PipelineConfig(
        toxicity_threshold=_f("LOCALMOD_TOXICITY_THRESHOLD", tox_mod.DEFAULT_THRESHOLD),
        spam_threshold=_f("LOCALMOD_SPAM_THRESHOLD", spam_mod.DEFAULT_THRESHOLD),
        injection_threshold=_f("LOCALMOD_PROMPT_INJECTION_THRESHOLD", inj_mod.DEFAULT_THRESHOLD),
        nsfw_threshold=_f("LOCALMOD_NSFW_THRESHOLD", nsfw_mod.DEFAULT_THRESHOLD),
    )

# Flat output column order of both analyze paths (and the Spark stage).
OUTPUT_COLUMNS = [
    "keep", "flagged", "severity", "summary",
    "scrubbed_text", "redactions", "redaction_count",
    "tox_flagged", "tox_conf",
    "pii_flagged", "pii_conf",
    "inj_flagged", "inj_conf",
    "spam_flagged", "spam_conf",
    "nsfw_flagged", "nsfw_conf",
    "categories",
    "lang", "lang_conf",
    "perplexity", "quality_score", "quality_flagged", "n_tokens",
    # per-classifier report fields (SafetyReport.results fidelity,
    # `src/localmod/pipeline.py:27-35` / `models/base.py:29-38`)
    "tox_severity", "pii_severity", "inj_severity", "spam_severity", "nsfw_severity",
    "pii_categories", "inj_categories", "spam_categories",
]


def build_summary(results: List[KernelResult]) -> str:
    """`src/localmod/pipeline.py:157-171` verbatim format."""
    flagged = [r for r in results if r.flagged]
    if not flagged:
        return "Content passed all safety checks."
    issues = []
    for r in flagged:
        issue = f"{r.classifier} ({r.severity})"
        if r.categories:
            issue += f": {', '.join(r.categories)}"
        issues.append(issue)
    return f"Content flagged for: {'; '.join(issues)}"


def analyze_text(text: Optional[str], cfg: PipelineConfig = DEFAULT_CONFIG) -> dict:
    """One turn → one output row (dict keyed by OUTPUT_COLUMNS)."""
    t = text if text is not None else ""
    enabled = set(cfg.classifiers)
    blank = KernelResult  # alias for brevity below

    def off(name: str) -> KernelResult:
        return blank(name, False, 0.0, NONE, ())

    # batch fns adapt to the scalar contract via a singleton batch, so the
    # scalar and vectorized paths stay decision-identical by construction
    tox_fns = cfg.toxicity_model_fns
    if cfg.toxicity_model_batch_fns:
        tox_fns = {
            name: (lambda txt, _f=fn: float(np.asarray(_f([txt]))[0]))
            for name, fn in cfg.toxicity_model_batch_fns.items()
        }
    tox = (
        toxicity_result(t, cfg.toxicity_threshold, model_prob_fns=tox_fns)
        if "toxicity" in enabled
        else off("toxicity")
    )
    if "pii" in enabled:
        scrubbed, hits = pii_scrub(t)  # one regex pass serves scrub AND verdict
        pii = pii_result_from(t, hits)
    else:
        scrubbed, hits = t, []
        pii = off("pii")
    inj = (
        injection_result(t, cfg.injection_threshold, ml_prob_fn=cfg.injection_ml_fn)
        if "prompt_injection" in enabled
        else off("prompt_injection")
    )
    spam = (
        spam_result(t, cfg.spam_threshold, ml_prob_fn=cfg.spam_ml_fn)
        if "spam" in enabled
        else off("spam")
    )
    nsfw = (
        nsfw_result(t, cfg.nsfw_threshold, prob_fn=cfg.nsfw_prob_fn)
        if "nsfw" in enabled
        else off("nsfw")
    )
    # aggregation runs over the SELECTED classifiers only, in registry
    # order (`src/localmod/pipeline.py:102-129`)
    results = [r for r in (tox, pii, inj, spam, nsfw) if r.classifier in enabled]
    flagged = any(r.flagged for r in results)
    lang, lang_conf = detect_language(t)
    stats = quality_stats(t)
    categories: List[str] = []
    for r in results:
        for c in r.categories:
            if c not in categories:
                categories.append(c)
    return {
        "keep": not flagged,
        "flagged": flagged,
        "severity": max_severity([r.severity for r in results] or [NONE]),
        "summary": build_summary(results),
        "scrubbed_text": scrubbed if text is not None else None,
        "redactions": [
            {"type": h.type, "start": h.start, "end": h.end, "replacement": h.label}
            for h in hits
        ],
        "redaction_count": len(hits),
        "tox_flagged": tox.flagged, "tox_conf": tox.confidence,
        "pii_flagged": pii.flagged, "pii_conf": pii.confidence,
        "inj_flagged": inj.flagged, "inj_conf": inj.confidence,
        "spam_flagged": spam.flagged, "spam_conf": spam.confidence,
        "nsfw_flagged": nsfw.flagged, "nsfw_conf": nsfw.confidence,
        "categories": categories,
        "lang": lang, "lang_conf": lang_conf,
        "perplexity": stats.perplexity,
        "quality_score": quality_score(stats),
        "quality_flagged": quality_flagged(stats),
        "n_tokens": stats.n_tokens,
        "tox_severity": tox.severity,
        "pii_severity": pii.severity,
        "inj_severity": inj.severity,
        "spam_severity": spam.severity,
        "nsfw_severity": nsfw.severity,
        "pii_categories": list(pii.categories),
        "inj_categories": list(inj.categories),
        "spam_categories": list(spam.categories),
    }


_COLUMN_DTYPES = {
    "keep": bool, "flagged": bool, "severity": object, "summary": object,
    "scrubbed_text": object, "redactions": object, "redaction_count": "int64",
    "tox_flagged": bool, "tox_conf": float,
    "pii_flagged": bool, "pii_conf": float,
    "inj_flagged": bool, "inj_conf": float,
    "spam_flagged": bool, "spam_conf": float,
    "nsfw_flagged": bool, "nsfw_conf": float,
    "categories": object,
    "lang": object, "lang_conf": float,
    "perplexity": float, "quality_score": float,
    "quality_flagged": bool, "n_tokens": "int64",
    "tox_severity": object, "pii_severity": object, "inj_severity": object,
    "spam_severity": object, "nsfw_severity": object,
    "pii_categories": object, "inj_categories": object, "spam_categories": object,
}


def _empty_output_frame(idx) -> pd.DataFrame:
    return pd.DataFrame(
        {c: pd.Series([], index=idx, dtype=d) for c, d in _COLUMN_DTYPES.items()}
    )[OUTPUT_COLUMNS]


def _severity_bands(conf: np.ndarray, flagged: np.ndarray, bands) -> np.ndarray:
    """Vectorized band lookup: bands = [(upper_bound, name), ...] ascending,
    final name for >= last bound.  NONE wherever not flagged."""
    out = np.full(conf.shape, NONE, dtype=object)
    remaining = flagged.copy()
    for bound, name in bands[:-1]:
        m = remaining & (conf < bound)
        out[m] = name
        remaining &= ~m
    out[remaining] = bands[-1][1]
    return out


def _caps_over_half(batch: AsciiBatch) -> np.ndarray:
    """``spam.caps_ratio(t) > 0.5`` per row.  On ASCII text ``str.isupper``
    is ``[A-Z]``, so Arrow decides the ASCII rows as
    ``2·count([A-Z]) > length``; non-ASCII rows keep ``str.isupper``."""
    out = np.empty(len(batch.texts), dtype=bool)
    upper = pc.count_substring_regex(batch.arrow, pattern="[A-Z]")
    over = pc.greater(pc.multiply(upper, 2), pc.utf8_length(batch.arrow))
    out[batch.ascii] = over.to_numpy(zero_copy_only=False)
    out[~batch.ascii] = [spam_mod.caps_ratio(t) > 0.5 for t in batch.texts[~batch.ascii]]
    return out


def analyze_frame(texts: pd.Series, cfg: PipelineConfig = DEFAULT_CONFIG) -> pd.DataFrame:
    """Vectorized batch scoring: one call per Arrow batch on executors.

    Pattern layers (spam/injection/nsfw) run each regex in CPython ``re``
    only on its candidate rows: the non-ASCII rows and the ASCII rows its
    :data:`GATES` prefilter matches, one RE2 pass per regex over the
    batch's ASCII rows as an Arrow array; every other row provably has no
    match.  The toxicity lexicon surrogate runs only on the rows with a
    lexicon token, found the same way (:func:`surrogate_prob_batch`).
    The spam caps test is decided in Arrow for ASCII rows, and langid and
    quality decide the ASCII rows from one Arrow token pass each over the
    batch's bytes (:func:`detect_language_batch`,
    :func:`quality_stats_batch`).  The one per-text loop left is the PII
    scan and scrub, over the rows with a digit or an '@' only.
    """
    raw = texts
    s = texts.fillna("").astype(str)
    n = len(s)
    idx = s.index
    if n == 0:
        # np.array over empty lists yields float64 and breaks the boolean
        # masks below; Arrow can also hand a UDF a zero-row batch
        return _empty_output_frame(idx)
    s_arr = s.to_numpy()
    blank = s.str.strip() == ""  # blank guard, e.g. `pii.py:73`
    blank_np = blank.to_numpy()
    enabled = set(cfg.classifiers)

    def _ml_probs(fn) -> np.ndarray:
        """Per-text ML probabilities, skipping blank rows — the scalar
        path never invokes an ML fn on a blank (is_blank early-returns),
        so the vectorized path must not either (an fn that chokes on ''
        would otherwise diverge, and model forwards on discarded rows
        are wasted work)."""
        out = np.zeros(n)
        nz = ~blank_np
        k = int(nz.sum())
        if k:
            out[nz] = np.fromiter((fn(t) for t in s_arr[nz]), dtype=float, count=k)
        return out

    batch = AsciiBatch(s_arr)

    def _search(pattern, rows: Optional[np.ndarray] = None) -> np.ndarray:
        return batch.search(GATES[pattern], rows)

    # ---- spam (gated patterns + caps ratio) ----
    spam_score = np.zeros(n)
    spam_masks = []
    if "spam" in enabled:
        for name, pattern, weight in spam_mod._COMPILED:
            m = _search(pattern)
            spam_masks.append((name, m))
            spam_score += np.where(m, weight, 0.0)
        caps_mask = _caps_over_half(batch)
        spam_masks.append(("high_caps_ratio", caps_mask))
        spam_score = np.minimum(spam_score + np.where(caps_mask, 0.15, 0.0), 1.0)
        if cfg.spam_ml_fn is not None:  # `spam.py:102-105` blend
            spam_score = 0.6 * _ml_probs(cfg.spam_ml_fn) + 0.4 * spam_score
        spam_score = np.where(blank, 0.0, spam_score)
    spam_flag = (spam_score >= cfg.spam_threshold) & ~blank_np & ("spam" in enabled)

    # ---- prompt injection (gated category masks) ----
    inj_cat_masks = []
    inj_score = np.zeros(n)
    inj_critical = np.zeros(n, dtype=bool)
    if "prompt_injection" in enabled:
        for cat, alt in inj_mod._CAT_ALT:
            inj_cat_masks.append((cat, _search(alt)))
        inj_n = np.sum([m for _, m in inj_cat_masks], axis=0)
        inj_score = np.where(inj_n > 0, np.minimum(inj_n * 0.3, 0.9), 0.0)
        if cfg.injection_ml_fn is not None:  # `prompt_injection.py:128-132`
            ml = _ml_probs(cfg.injection_ml_fn)
            combined = np.maximum(ml, inj_score)
            boost = (inj_n > 0) & (ml > 0.3)
            inj_score = np.where(boost, np.minimum(combined + 0.1, 1.0), combined)
        inj_score = np.where(blank, 0.0, inj_score)
        for cat, m in inj_cat_masks:
            if cat in inj_mod._CRITICAL_CATEGORIES:
                inj_critical |= m
    inj_flag = (inj_score >= cfg.injection_threshold) & ~blank_np & ("prompt_injection" in enabled)

    # ---- nsfw (gated keyword/safe layers + model-or-surrogate prob) ----
    nsfw_prob = np.zeros(n)
    if "nsfw" in enabled:
        explicit = _search(nsfw_mod._KEYWORD_ALT)
        if cfg.nsfw_prob_fn is not None:
            # model path: the prob can exceed 0.5 anywhere, so the safe
            # scan covers the whole batch
            safe = _search(nsfw_mod._SAFE_ALT) & ~explicit  # `nsfw.py:82-87`
            nsfw_prob = _ml_probs(cfg.nsfw_prob_fn)
        else:
            # surrogate path, decision-gated scans: suggestive only ever
            # decides rows WITHOUT an explicit keyword, and the safe
            # override only fires where prob > 0.5 — i.e. only on
            # explicit/suggestive rows (everything else scores 0.03) —
            # so both regexes run on those slices only, truth-identical
            suggestive = _search(nsfw_mod._SUGGESTIVE_ALT, ~explicit)
            nsfw_prob = np.where(explicit, 0.97, np.where(suggestive, 0.55, 0.03))
            # `safe` is masked by ~explicit anyway
            safe = _search(nsfw_mod._SAFE_ALT, ~explicit & suggestive)
        nsfw_prob = np.where(  # `nsfw.py:127-129`
            safe & (nsfw_prob > 0.5), np.minimum(nsfw_prob * 0.1, 0.3), nsfw_prob
        )
        nsfw_prob = np.where(blank, 0.0, nsfw_prob)
    nsfw_flag = (nsfw_prob >= cfg.nsfw_threshold) & ~blank_np & ("nsfw" in enabled)

    def _ml_probs_batched(fn) -> np.ndarray:
        """One batched model call over the non-blank rows — the actual
        tokenize→forward→prob shape of the reference's ``predict_batch``
        (`toxicity.py:199-238`): blank rows are filtered out first and
        results land back at their original indices, exactly its
        valid_indices bookkeeping."""
        out = np.zeros(n)
        nz = ~blank_np
        if int(nz.sum()):
            out[nz] = np.asarray(fn(list(s_arr[nz])), dtype=float)
        return out

    # ---- toxicity: lexicon surrogate or model ensemble ----
    if "toxicity" in enabled:
        if cfg.toxicity_model_batch_fns:
            # the real inference-stage shape: per model, ONE batched
            # tokenize→forward→prob call per Arrow batch, then the
            # weighted blend + renormalization (`toxicity.py:241-253`)
            all_probs = {
                name: _ml_probs_batched(fn)
                for name, fn in cfg.toxicity_model_batch_fns.items()
            }
            tox_prob = np.where(blank_np, 0.0, tox_mod.ensemble_prob_batch(all_probs))
        elif cfg.toxicity_model_fns:
            # batched ensemble: one prob array per model, weighted blend +
            # renormalization (`toxicity.py:241-253` via ensemble_prob_batch)
            all_probs = {
                name: _ml_probs(fn) for name, fn in cfg.toxicity_model_fns.items()
            }
            tox_prob = np.where(blank_np, 0.0, tox_mod.ensemble_prob_batch(all_probs))
        else:
            tox_prob = tox_mod.surrogate_prob_batch(batch)
    else:
        tox_prob = np.zeros(n)
    tox_flag = (tox_prob >= cfg.toxicity_threshold) & ~blank_np & ("toxicity" in enabled)

    # ---- pii scan/scrub: the one per-text loop, over the rows with a digit or '@' ----
    scrubbed: List[Optional[str]] = [None if na else t for t, na in zip(s_arr, raw.isna())]
    redactions: List[list] = [[] for _ in range(n)]
    pii_sev: List[str] = [NONE] * n
    pii_cats: List[list] = [[] for _ in range(n)]
    if "pii" in enabled:
        for i in np.flatnonzero(scan_rows(batch) & ~blank_np):
            t = s_arr[i]
            scrub, hits = pii_scrub(t)
            if not hits:
                continue
            scrubbed[i] = scrub  # a missing text is blank, so never scanned
            redactions[i] = [
                {"type": h.type, "start": h.start, "end": h.end, "replacement": h.label}
                for h in hits
            ]
            r = pii_result_from(t, hits)  # reuse the scrub pass's scan
            pii_sev[i] = r.severity
            pii_cats[i] = list(r.categories)
    pii_flag = np.array([len(r) > 0 for r in redactions], dtype=bool)

    langs, lang_confs = detect_language_batch(batch)
    stats = quality_stats_batch(batch)
    pii_conf = np.where(pii_flag, 1.0, 0.0)

    # ---- severities (vectorized bands, same cut points as kernel modules) ----
    tox_sev = _severity_bands(
        tox_prob, tox_flag, [(0.4, "low"), (0.6, "medium"), (0.8, "high"), (None, "critical")]
    )
    spam_sev = _severity_bands(
        spam_score, spam_flag, [(0.6, "low"), (0.75, "medium"), (None, "high")]
    )
    nsfw_sev = _severity_bands(
        nsfw_prob, nsfw_flag,
        [(0.6, "low"), (0.75, "medium"), (0.9, "high"), (None, "critical")],
    )
    # injection bands <0.5 low / <0.7 medium / <0.85 high / else critical,
    # with the critical-category override (`prompt_injection.py:186-203`)
    inj_sev = _severity_bands(
        inj_score, inj_flag & ~inj_critical,
        [(0.5, "low"), (0.7, "medium"), (0.85, "high"), (None, "critical")],
    )
    inj_sev = np.where(inj_flag & inj_critical, "critical", inj_sev)

    flagged = tox_flag | pii_flag | inj_flag | spam_flag | nsfw_flag

    # ---- per-row assembly of ordered fields (cheap Python, no regex) ----
    severities = np.stack([tox_sev, np.array(pii_sev, dtype=object), inj_sev, spam_sev, nsfw_sev])
    # unique-based rank lookup (same SEVERITY_RANK values) — np.vectorize
    # called the dict per cell; there are only ~5 distinct severity strings
    sev_str = severities.astype(str)
    _u, _inv = np.unique(sev_str, return_inverse=True)
    rank = np.array([SEVERITY_RANK.get(x) for x in _u])[_inv].reshape(sev_str.shape)
    overall_sev = severities[rank.argmax(axis=0), np.arange(n)]

    # clean rows (the vast majority) all share the fixed pass summary and
    # an empty category list — only flagged rows need the per-row build;
    # same strings/lists per row as the old full loop
    summaries: List[str] = [build_summary([])] * n
    categories: List[list] = [[] for _ in range(n)]
    for i in np.nonzero(flagged)[0]:
        results = []
        if tox_flag[i]:
            results.append(KernelResult("toxicity", True, tox_prob[i], str(tox_sev[i]), ("toxic",)))
        if pii_flag[i]:
            results.append(KernelResult("pii", True, 1.0, pii_sev[i], tuple(pii_cats[i])))
        if inj_flag[i]:
            cats = tuple(c for c, m in inj_cat_masks if m[i])
            results.append(KernelResult("prompt_injection", True, inj_score[i], str(inj_sev[i]), cats))
        if spam_flag[i]:
            cats = tuple(c for c, m in spam_masks if m[i])
            results.append(KernelResult("spam", True, spam_score[i], str(spam_sev[i]), cats))
        if nsfw_flag[i]:
            results.append(KernelResult("nsfw", True, nsfw_prob[i], str(nsfw_sev[i]), ("sexual_content",)))
        summaries[i] = build_summary(results)
        row_cats: List[str] = []
        for r in results:
            for c in r.categories:
                if c not in row_cats:
                    row_cats.append(c)
        categories[i] = row_cats

    return pd.DataFrame(
        {
            "keep": ~flagged,
            "flagged": flagged,
            "severity": overall_sev.astype(str),
            "summary": summaries,
            "scrubbed_text": scrubbed,
            "redactions": redactions,
            "redaction_count": [len(r) for r in redactions],
            "tox_flagged": tox_flag, "tox_conf": tox_prob,
            "pii_flagged": pii_flag, "pii_conf": pii_conf,
            "inj_flagged": inj_flag, "inj_conf": inj_score,
            "spam_flagged": spam_flag, "spam_conf": spam_score,
            "nsfw_flagged": nsfw_flag, "nsfw_conf": nsfw_prob,
            "categories": categories,
            "lang": langs, "lang_conf": lang_confs,
            "perplexity": [st.perplexity for st in stats],
            "quality_score": [quality_score(st) for st in stats],
            "quality_flagged": [quality_flagged(st) for st in stats],
            "n_tokens": [st.n_tokens for st in stats],
            "tox_severity": tox_sev.astype(str),
            "pii_severity": pii_sev,
            "inj_severity": inj_sev.astype(str),
            "spam_severity": spam_sev.astype(str),
            "nsfw_severity": nsfw_sev.astype(str),
            # reference contract: categories only when flagged
            # (`spam.py:114`, `prompt_injection.py:143`); flags pre-
            # converted to plain bools — per-cell numpy indexing dominated
            # these comprehensions on mostly-clean batches
            "pii_categories": [
                pii_cats[i] if f else [] for i, f in enumerate(pii_flag.tolist())
            ],
            "inj_categories": [
                [c for c, m in inj_cat_masks if m[i]] if f else []
                for i, f in enumerate(inj_flag.tolist())
            ],
            "spam_categories": [
                [c for c, m in spam_masks if m[i]] if f else []
                for i, f in enumerate(spam_flag.tolist())
            ],
        },
        index=idx,
    )[OUTPUT_COLUMNS]
