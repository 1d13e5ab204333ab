"""Output checks.  Pure functions over pandas frames, so a corrupted
frame can be fed to them directly (see selftest.py)."""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd

from localmod_spark.kernel.aggregate import analyze_text


def moderation(out: pd.DataFrame) -> dict:
    """Compare each row's ``keep`` and ``scrubbed_text`` with the
    single-text reference kernel run on its ``text``.  F1 is over the
    drop class; a frame with no drops on either side scores 1.0."""
    ref = [analyze_text(t) for t in out["text"]]
    want_drop = np.array([not r["keep"] for r in ref])
    got_drop = ~out["keep"].to_numpy(dtype=bool)
    tp = int((want_drop & got_drop).sum())
    wrong = int((want_drop != got_drop).sum())
    f1 = 1.0 if tp + wrong == 0 else 2 * tp / (2 * tp + wrong)
    mismatch = sum(r["scrubbed_text"] != s for r, s in zip(ref, out["scrubbed_text"]))
    return {"rows": len(out), "keep_f1": f1, "scrub_mismatch_rows": int(mismatch),
            "ok": len(out) > 0 and f1 == 1.0 and mismatch == 0}


def context(out: pd.DataFrame, source: pd.DataFrame) -> dict:
    """Every sampled conversation has its full turn count in ``n_turns``
    and ranks 1..n in turn order."""
    want = source.groupby("conv_id").size()
    bad = 0
    for conv, rows in out.groupby("conv_id"):
        rows = rows.sort_values("turn_idx")
        n = int(want.get(conv, -1))
        bad += int(len(rows) != n or (rows["n_turns"] != n).any()
                   or list(rows["turn_rank"]) != list(range(1, n + 1)))
    return {"convs": int(out["conv_id"].nunique()), "bad_convs": bad,
            "ok": len(out) > 0 and bad == 0}


def _norm(v):
    if v is None or v is pd.NA or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (int, float, np.integer, np.floating)):
        return round(float(v), 6)
    return str(v)


def digest(df: pd.DataFrame) -> dict:
    """Order-independent digest of a result: columns by name, numbers as
    float rounded to 6 places (the repo's oracle comparison rule), rows
    sorted before hashing."""
    cols = sorted(df.columns)
    rows = sorted(repr(tuple(_norm(v) for v in row)) for row in df[cols].itertuples(index=False))
    h = hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]
    return {"rows": len(rows), "cols": cols, "sha": h}
