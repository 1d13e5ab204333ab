"""Run one benchmark workload on local[nproc] and print its result.

    python3 perfbench/run.py --workload moderate_turns --seed 1 --seconds 12 --trace 0

Run from the repository root.  Each invocation starts its own Spark
session and keeps everything it writes (staged input, Spark local dirs,
pipeline output) in its own scratch directory under ``.perfbench_runs/``,
which it removes at the end.  ``--trace 1`` runs the traced layer
profile instead of the timed reps and leaves
``.perfbench_runs/<workload>-seed<seed>.trace.json`` with every span,
its self time and its Spark stage totals.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics untraced, the
per-layer metrics traced; see BENCHMARK.json and perfbench/README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BENCHMARK = os.path.join(ROOT, "BENCHMARK.json")


def _units() -> dict:
    with open(BENCHMARK) as f:
        spec = json.load(f)
    return {
        "end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
        "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]},
    }


def run(workload: str, seed: int, seconds: float, trace: bool, scale: float = 1.0) -> dict:
    """One invocation; returns the result object (and, traced, the trace
    record is written next to the scratch dir)."""
    runs_dir = os.path.join(ROOT, ".perfbench_runs")
    scratch = os.path.join(runs_dir, f"{workload}-seed{seed}-trace{int(trace)}-{os.getpid()}")
    for sub in ("tmp", "input", "out"):
        os.makedirs(os.path.join(scratch, sub), exist_ok=True)
    # everything Spark, the JVM and Python temp files write stays in scratch
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = scratch
    import tempfile

    tempfile.tempdir = None

    import workloads
    from spans import Tracer

    units = _units()["per_layer" if trace else "end_to_end"]
    r = workloads.Run(workload, seed, seconds, Tracer(trace), scratch, scale=scale)
    try:
        with r.tracer.span("run"):
            workloads.setup(r)
            workloads.WORKLOADS[workload](r)
    finally:
        workloads.shutdown(r)
        if trace:
            with open(os.path.join(runs_dir, f"{workload}-seed{seed}.trace.json"), "w") as f:
                json.dump({"workload": workload, "seed": seed, "cores": r.cores,
                           "metrics": r.metrics, **r.record}, f, indent=1, default=str)
        shutil.rmtree(scratch, ignore_errors=True)
    if trace:
        for name in units:  # layers this workload never calls did no work
            r.metrics.setdefault(name, 0)
    print(f"# {workload} seed={seed} cores={r.cores} input={r.record.get('input')} "
          f"reps={r.record.get('rep_walls_s')} setups={r.record.get('setup_samples_s')} "
          f"resume_s={r.record.get('resume_s')}", file=sys.stderr)
    print(f"# checks: {json.dumps(r.record.get('checks'), default=str)}", file=sys.stderr)
    return {
        "correct": r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": {k: {"value": r.metrics[k], "unit": u} for k, u in units.items()},
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    # the program under test sits at the repository root
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        p.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
