"""Self-test of the benchmark at tiny size.

    python3 perfbench/selftest.py

Checks that the input generators are stable for a seed and differ across
seeds, that a corrupted scrub or keep value fails the output check, and
that every workload, untraced and traced, emits every metric named in
BENCHMARK.json with its unit.  Exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")
    print(f"ok   {what}", flush=True)


def generators() -> None:
    import inputs

    expect(inputs.turns(5, 400).equals(inputs.turns(5, 400)), "turns are stable for a seed")
    expect(not inputs.turns(5, 400).equals(inputs.turns(6, 400)), "turns differ across seeds")
    expect(inputs.documents(5, 300).equals(inputs.documents(5, 300)), "documents are stable for a seed")
    expect(not inputs.documents(5, 300).equals(inputs.documents(6, 300)), "documents differ across seeds")
    stats = inputs.text_stats(inputs.turns(5, 2000)["text"])
    expect(stats["distinct_share"] > 0.8 and stats["len_p90"] > 1000, f"turn texts vary: {stats}")


def corruption() -> None:
    import pandas as pd

    import checks
    import inputs
    from localmod_spark.kernel.aggregate import analyze_text

    texts = inputs.turns(5, 300)["text"]
    ref = [analyze_text(t) for t in texts]
    good = pd.DataFrame({"text": texts, "keep": [r["keep"] for r in ref],
                         "scrubbed_text": [r["scrubbed_text"] for r in ref]})
    expect(checks.moderation(good)["ok"], "reference output passes the keep/scrub check")
    pii_row = next(i for i, r in enumerate(ref) if r["redaction_count"])
    bad_scrub = good.copy()
    bad_scrub.loc[pii_row, "scrubbed_text"] = texts[pii_row]  # the PII left in
    got = checks.moderation(bad_scrub)
    expect(not got["ok"] and got["scrub_mismatch_rows"] == 1, "an unscrubbed row fails the check")
    bad_keep = good.copy()
    bad_keep.loc[pii_row, "keep"] = not bad_keep.loc[pii_row, "keep"]
    got = checks.moderation(bad_keep)
    expect(not got["ok"] and got["keep_f1"] < 1.0, "a flipped keep value fails the check")
    expect(checks.digest(good) != checks.digest(bad_scrub), "a changed row changes the digest")
    expect(checks.digest(good) == checks.digest(good.iloc[::-1]), "the digest ignores row order")


def metrics() -> None:
    import run

    with open(run.BENCHMARK) as f:
        spec = json.load(f)
    for workload in (w["name"] for w in spec["workloads"]):
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            result = run.run(workload, seed=5, seconds=1, trace=bool(trace), scale=0.05)
            want = {m["name"]: m["unit"] for m in spec[kind]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            expect(got == want, f"{workload} trace={trace} emits every {kind} metric with its unit")
            expect(all(isinstance(v["value"], (int, float)) for v in result["metrics"].values()),
                   f"{workload} trace={trace} metric values are numbers")
            expect(result["correct"] and result["attempted"] >= 1,
                   f"{workload} trace={trace} output checks pass")


if __name__ == "__main__":
    generators()
    corruption()
    metrics()
    print("selftest passed")
