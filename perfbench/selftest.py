"""Self-test: a miniature of every workload, untraced and traced, checked
against BENCHMARK.json — every declared metric is present and the run
reports correct outputs.

    python3 perfbench/run.py --selftest
"""

from __future__ import annotations

import json
import os
import subprocess
import sys


def main(root: str) -> int:
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    script = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
    problems = []
    for wl in bench["workloads"]:
        for trace, declared in ((0, bench["end_to_end"]),
                                (1, bench["per_layer"])):
            cmd = [sys.executable, script, "--workload", wl["name"],
                   "--seed", "7", "--seconds", "1", "--trace", str(trace),
                   "--mini"]
            proc = subprocess.run(cmd, cwd=root, capture_output=True,
                                  text=True, timeout=600)
            tag = f"{wl['name']} trace={trace}"
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                problems.append(f"{tag}: exit {proc.returncode}\n"
                                f"{proc.stderr[-2000:]}\n{proc.stdout[-2000:]}")
                continue
            result = json.loads(lines[-1])
            if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
                problems.append(f"{tag}: result keys {sorted(result)}")
            if not result["correct"] or result["failed"]:
                problems.append(f"{tag}: outputs not correct")
            missing = [m["name"] for m in declared
                       if m["name"] not in result["metrics"]]
            if missing:
                problems.append(f"{tag}: metrics missing {missing}")
            print(f"selftest {tag}: {len(result['metrics'])} metrics",
                  flush=True)
    for p in problems:
        print("FAIL", p)
    print("selftest", "failed" if problems else "passed")
    return 1 if problems else 0
