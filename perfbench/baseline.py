"""Record the per-layer baseline: one untraced and one traced run of every
workload on one seed, written to ``perfbench/baseline_trace.json`` with the
tracing overhead (traced ``pass_s`` minus untraced ``pass_s``).

    python3 perfbench/baseline.py --seed 1
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, check=True, cwd=HERE.parent,
    ).stdout.splitlines()
    return {"run": json.loads(out[-2]), "result": json.loads(out[-1])}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    doc = {
        "seed": args.seed,
        "run_seconds": bench["run_seconds"],
        "host": {"cpus": len(os.sched_getaffinity(0)), "machine": platform.machine(),
                 "python": platform.python_version()},
        "workloads": {},
    }
    for w in bench["workloads"]:
        plain = run(w["name"], args.seed, bench["run_seconds"], 0)
        traced = run(w["name"], args.seed, bench["run_seconds"], 1)
        e2e = {k: v["value"] for k, v in plain["result"]["metrics"].items()}
        layer = {k: v["value"] for k, v in traced["result"]["metrics"].items()}
        doc["workloads"][w["name"]] = {
            "correct": plain["result"]["correct"] and traced["result"]["correct"],
            "end_to_end": e2e,
            "per_layer": layer,
            "tracing_overhead_s": layer["trace.pass_s"] - e2e["pass_s"],
            "op_median_s": plain["run"]["op_median_s"],
        }
    (HERE / "baseline_trace.json").write_text(json.dumps(doc, indent=1) + "\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
