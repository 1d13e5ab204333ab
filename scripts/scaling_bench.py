"""Throughput scaling measurement: the identical moderation job at N and
4N parallelism on the same input (the sandbox proxy for N- vs 4N-executor
clusters per BASELINE.json).

Measures the pairs 1→4 (primary: far below the single socket's
memory-bandwidth knee, the faithful proxy for adding independent
executors), 2→8 and 8→32 (reported for transparency; higher core counts
saturate the shared socket, contention a real 4N-machine cluster does
not have), each only when its 4N fits the CPUs this process may run on —
plus a no-Spark multiprocessing run of the same kernel at the largest
pair's N and 4N workers, which establishes the hardware's own scaling
ceiling on this box.

Each Spark run is a fresh JVM via subprocess; a full-pass warmup excludes
Python-worker cold start (paid once per executor on a real cluster);
timing is best-of-2.  Writes BENCH/BASELINE.md.

Usage: python scripts/scaling_bench.py [n_turns]
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import subprocess
import sys
import time
from datetime import datetime, timezone

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

RUN_SNIPPET = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from localmod_spark.session import get_spark
from localmod_spark.sources.transcripts import synth_transcripts
from localmod_spark.operators.score import score_turns
from localmod_spark.operators.context import add_context

cores = {cores}
n_turns = {n_turns}
spark = get_spark(app_name=f"scaling_{{cores}}", master=f"local[{{cores}}]",
                  shuffle_partitions=max(cores, 8), arrow_batch_rows=10000,
                  extra_conf={{"spark.driver.memory": "24g"}})
spark.sparkContext.setLogLevel("ERROR")
turns = synth_transcripts(spark, n_turns, slices=cores * 3).persist()
turns.count()
# Two fake-timing traps, both guarded here:
#  1. count(1) alone lets Catalyst prune the scoring UDF and the window
#     (times an empty persisted scan) — so count EVERY output column;
#  2. re-collecting the SAME DataFrame object reuses the first run's
#     shuffle files (the pre-exchange scoring stage is skipped entirely,
#     values right, cost gone) — so REBUILD the plan inside every call.
def job():
    scored = add_context(score_turns(turns))
    agg = scored.agg(F.count(F.lit(1)).alias("n"),
                     *[F.count(c).alias(f"c{{i}}") for i, c in enumerate(scored.columns)])
    agg.collect()
job()  # full-pass warmup: every task slot spawns+imports its Python worker
# SAME number of timed samples at every core count: best-of-2 on only the
# big side of a pair would bias the N→4N ratio upward on a noisy box.
best = 1e18
for _ in range(2):
    t0 = time.time(); job(); best = min(best, time.time() - t0)
tps = n_turns / best
if cores == 1:
    # Anti-fake-timing guard #3: the ceiling is DERIVED, not hard-coded —
    # time the raw scoring kernel (no Spark) on this same pinned core and
    # allow 5x headroom (the Spark job does strictly MORE work per turn:
    # context window + Arrow ser/de).  A pruned-UDF plan measured 80x the
    # kernel rate in round 1; a legitimate kernel speedup moves the
    # ceiling with it.  SPARK_GRAFT_SCALING_CEILING overrides (turns/s).
    import os as _os
    import pandas as _pd
    from localmod_spark.kernel.aggregate import analyze_frame
    from localmod_spark.sources.transcripts import CORPUS
    _texts = _pd.Series([CORPUS[i % len(CORPUS)] for i in range(4000)])
    analyze_frame(_texts[:500])  # warm regex/JIT caches
    _t0 = time.time(); analyze_frame(_texts)
    kernel_tps = 4000 / (time.time() - _t0)
    ceiling = float(_os.environ.get("SPARK_GRAFT_SCALING_CEILING", "0")) or 5 * kernel_tps
    if tps > ceiling:
        raise RuntimeError(
            f"implausible single-core throughput {{tps:,.0f}} turns/s vs measured "
            f"kernel rate {{kernel_tps:,.0f}}/s (ceiling {{ceiling:,.0f}}) — "
            "the scoring UDF was pruned; timing is fake")
print("RESULT " + json.dumps({{"cores": cores, "wall_sec": round(best, 3),
                               "turns_per_sec": round(tps, 1)}}))
spark.stop()
"""


def run_at(cores: int, n_turns: int) -> dict:
    """One measurement in a fresh JVM, CPU-affinity-bound to exactly
    ``cores`` physical cores (no SMT on this box).  Without the binding,
    local[N] only caps Spark TASK SLOTS — the Python UDF workers and JVM
    Arrow/GC threads spill onto other idle cores, inflating the small-N
    baseline and understating scaling.  Pinning makes local[N] a faithful
    proxy for an executor that owns N cores."""
    code = RUN_SNIPPET.format(repo=REPO, cores=cores, n_turns=n_turns)
    cpus = ",".join(str(c) for c in sorted(os.sched_getaffinity(0))[:cores])
    out = subprocess.run(
        ["taskset", "-c", cpus, sys.executable, "-c", code],
        capture_output=True, text=True, timeout=900,
    )
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(f"no RESULT from local[{cores}]:\n{out.stdout[-2000:]}\n{out.stderr[-2000:]}")


def _mp_work(n: int) -> float:
    import pandas as pd

    from localmod_spark.kernel.aggregate import analyze_frame
    from localmod_spark.sources.transcripts import CORPUS

    texts = pd.Series([CORPUS[i % len(CORPUS)] for i in range(n)])
    t0 = time.time()
    analyze_frame(texts)
    return time.time() - t0


def hardware_ceiling(n_turns: int, n: int) -> dict:
    """Same kernel, no Spark: multiprocessing throughput at ``n`` and
    ``4 * n`` workers."""
    out = {}
    for workers in (n, 4 * n):
        with mp.Pool(workers) as p:
            p.map(_mp_work, [10] * workers)
            t0 = time.time()
            p.map(_mp_work, [n_turns // workers] * workers)
            out[workers] = round(n_turns / (time.time() - t0), 1)
    return out


def main() -> None:
    n_turns = int(sys.argv[1]) if len(sys.argv) > 1 else 800_000
    sys.path.insert(0, REPO)

    nproc = len(os.sched_getaffinity(0))
    if nproc < 4:
        raise SystemExit(f"the 1→4 pair needs 4 CPUs; this process may use {nproc}")
    pairs = {}
    for n in (n for n in (1, 2, 8) if 4 * n <= nproc):
        small = run_at(n, n_turns)
        big = run_at(n * 4, n_turns)
        pairs[n] = (small, big, round(big["turns_per_sec"] / (4 * small["turns_per_sec"]), 3))
    hw_n = max(pairs)
    hw = hardware_ceiling(n_turns, hw_n)
    hw_eff = round(hw[4 * hw_n] / (4 * hw[hw_n]), 3)

    stamp = datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%M UTC")

    def pair_table(n: int) -> str:
        small, big, eff = pairs[n]
        return (
            f"| parallelism | wall (s) | turns/sec |\n|---|---|---|\n"
            f"| local[{n}] (N) | {small['wall_sec']} | {small['turns_per_sec']:,} |\n"
            f"| local[{n * 4}] (4N) | {big['wall_sec']} | {big['turns_per_sec']:,} |\n\n"
            f"**Scaling efficiency = {eff}**"
        )

    def optional_pair(n: int, title: str) -> str:
        if n not in pairs:
            return f"{title}\n\nNot run: 4N = {4 * n} exceeds this box's {nproc} CPUs.\n"
        return f"{title}\n\n{pair_table(n)} (efficiency {pairs[n][2]})\n"

    eff_1 = pairs[1][2]
    md = f"""# BENCH/BASELINE — throughput scaling (N vs 4N parallelism)

North-rule gate: ≥ 0.8 throughput scaling efficiency between N- and
4N-executor clusters.  Sandbox proxy (per driver instructions): the
identical job — fused moderation scoring + conversation context over
{n_turns:,} deterministic synthetic turns — at two parallelism levels on
the same input.  Fresh JVM per run, **CPU-affinity-bound to exactly N
cores** (local[N] alone only caps task slots; Python workers would spill
onto idle cores and inflate the small-N baseline), full-pass
Python-worker warmup excluded from timing (paid once per executor on a
real cluster), best of 2.

## Primary pair: N=1 → 4N=4

{pair_table(1)} (gate ≥ 0.8: {"PASS" if eff_1 >= 0.8 else "FAIL"})

{optional_pair(2, "## Secondary pair: N=2 → 4N=8")}
## Why this pair is the honest proxy

This box is ONE socket with {nproc} CPUs.  A real 4N-executor cluster adds
independent machines — per-core memory bandwidth stays constant.  On this
box per-core throughput decays as more of the socket is saturated; the
no-Spark ceiling below quantifies it.  The 2→8 pair sits below the
bandwidth knee, so it measures the *job's* scaling behavior (shuffle
structure, serial overheads) rather than the socket's.

Transparency — the same measurement at saturating core counts:

{optional_pair(8, "### N=8 → 4N=32 (full socket)")}
### Hardware ceiling (no Spark)

The identical kernel via raw multiprocessing, {hw_n} → {4 * hw_n} pool
workers: {hw[hw_n]:,} → {hw[4 * hw_n]:,} turns/sec = **{hw_eff} scaling
efficiency** in this run.  On a 32-CPU box the measurements
swung ±30-40% run to run (turbo / thermal state): the 8→32 mp ceiling
measured 0.46-0.94 and the Spark 8→32 pair 0.28-0.65.  The full-socket
residual gap is JVM task threads + Python workers co-scheduling on the
same cores plus Arrow ser/de — a single-box artifact; on a real cluster
each executor owns its cores.

Why the job scales: the scoring stage is shuffle-free (narrow
mapInPandas over cores×3 input splits), the context stage is one conv_id
exchange, and the only serial components are task scheduling and a ~1 s
Arrow plumbing floor (measured via a pass-through UDF).

## Measurement integrity

Three fake-timing traps found and closed this round (round-1's reported
0.94/0.82 pair was contaminated by the first two):

1. **Pruned UDF**: timing `count(1)` lets Catalyst prune the scoring UDF
   and the window — a fake ~800k turns/sec single-core "pipeline" (an
   empty persisted-scan count).  The timed aggregation now counts EVERY
   output column, and the harness refuses to report single-core
   throughput above 5x a kernel rate it MEASURES on the same pinned core
   in the same run (a derived ceiling, so a genuine kernel speedup moves
   it; a pruned plan — 80x the kernel rate — still fails loudly).
2. **Shuffle reuse**: re-collecting the SAME DataFrame object reuses the
   first run's shuffle files — the pre-exchange scoring stage is skipped
   entirely (right answer, no cost).  The plan is rebuilt inside every
   timed call.
3. **Task-slot vs CPU**: local[N] caps Spark task slots, not CPUs —
   Python UDF workers spill onto idle cores and inflate the small-N
   baseline (measured: 1→4 looked like 0.70 unpinned, 0.93 pinned).
   Every run is now `taskset`-bound to exactly N physical cores.

Measured {stamp}.  Reproduce: `python scripts/scaling_bench.py {n_turns}`
"""
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    path = os.path.join(REPO, "BENCH", "BASELINE.md")
    # preserve manually-maintained sections (replication tables, scale-
    # stability checks) that live after the marker — a rerun refreshes
    # only the auto-generated measurement above it
    marker = "<!-- MANUAL SECTIONS BELOW — preserved across scaling_bench reruns -->"
    manual = ""
    if os.path.exists(path):
        old = open(path).read()
        if marker in old:
            manual = old.split(marker, 1)[1]
    with open(path, "w") as f:
        f.write(md + "\n" + marker + manual)
    print(json.dumps({**{f"pair_{n}_{4 * n}": pairs[n][2] for n in pairs},
                      f"hw_ceiling_{hw_n}_{4 * hw_n}": hw_eff}))
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
