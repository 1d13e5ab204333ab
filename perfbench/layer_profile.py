"""Write the layer profile of every workload to one JSON file.

    python3 perfbench/layer_profile.py [--seed 1] [--out perfbench/profile_local4.json]

For each workload in BENCHMARK.json this runs ``run.py`` untraced and
traced with the same seed, one after the other, and records the
end-to-end metrics, the per-layer metrics, every span with its self time
and Spark totals, and the gap between the traced composition and the
untraced median wall time.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPAN_KEYS = ("name", "parent", "wall_s", "self_s", "stages", "tasks", "executor_run_s",
             "executor_cpu_s", "jvm_gc_s", "shuffle_write_bytes", "spill_bytes", "driver_gap_s")


def _run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, check=True, capture_output=True, text=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--out", default=os.path.join(HERE, "profile_local4.json"))
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    profile = {"cores": len(os.sched_getaffinity(0)), "seed": args.seed,
               "run_seconds": spec["run_seconds"], "workloads": {}}
    for w in spec["workloads"]:
        name = w["name"]
        untraced = _run(name, args.seed, spec["run_seconds"], 0)
        traced = _run(name, args.seed, spec["run_seconds"], 1)
        with open(os.path.join(ROOT, ".perfbench_runs", f"{name}-seed{args.seed}.trace.json")) as f:
            record = json.load(f)
        wall = untraced["metrics"]["wall_s"]["value"]
        profile["workloads"][name] = {
            "why": w["why"],
            "correct": untraced["correct"] and traced["correct"],
            "end_to_end": {k: v["value"] for k, v in untraced["metrics"].items()},
            "per_layer": {k: v["value"] for k, v in traced["metrics"].items()},
            "input": record.get("input"),
            "tracing": {"untraced_wall_s": wall,
                        "traced_composition_s": record["traced_composition_s"],
                        "gap_s": record["traced_composition_s"] - wall},
            "spans": [{k: s[k] for k in SPAN_KEYS} for s in record["spans"]],
        }
        print(f"{name}: done", file=sys.stderr)
    with open(args.out, "w") as f:
        json.dump(profile, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
