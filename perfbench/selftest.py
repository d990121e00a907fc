"""Smoke self-test of the benchmark.

Runs one short round of every workload at sf0.001, untraced and traced,
and checks that each run is correct and emits exactly the metrics that
BENCHMARK.json declares, with their declared units.

Usage (from the repository root): python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    declared = {
        0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
        1: {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    problems = []
    for workload in (w["name"] for w in spec["workloads"]):
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                   "--seed", "1", "--seconds", "0", "--trace", str(trace), "--fixture", "sf0.001"]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            tag = f"{workload} trace={trace}"
            if proc.returncode != 0:
                problems.append(f"{tag}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
                continue
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if got != declared[trace]:
                problems.append(f"{tag}: metrics differ from BENCHMARK.json: "
                                f"missing {sorted(set(declared[trace]) - set(got))}, "
                                f"extra {sorted(set(got) - set(declared[trace]))}, "
                                f"unit mismatches {sorted(k for k in got if k in declared[trace] and got[k] != declared[trace][k])}")
            if not result["correct"] or result["failed"] != 0 or result["attempted"] < 1:
                problems.append(f"{tag}: attempted {result['attempted']}, failed {result['failed']}")
            print(f"{tag}: attempted {result['attempted']} failed {result['failed']}", flush=True)
    for p in problems:
        print("FAIL", p, file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
