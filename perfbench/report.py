#!/usr/bin/env python3
"""Every metric of every workload, with the correctness result.

    python3 perfbench/report.py [--seed 1] [--seconds 7] [workload ...]

Runs each workload untraced (end-to-end metrics) and traced (per-layer
metrics, each with the end-to-end metric and workloads it should move)
and prints one line per metric.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("backlog", "wide_state", "live", "investigate")


def invoke(workload: str, seed: int, seconds: float, trace: int, size: str = "full"):
    """Run the benchmark once in a subprocess. Returns (report, result),
    the last two stdout lines, or raises RuntimeError with the stderr
    tail when the run fails."""
    cmd = [
        sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace), "--size", size,
    ]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"exit {p.returncode}: {p.stderr[-800:]}")
    return json.loads(lines[-2]), json.loads(lines[-1])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=7)
    ap.add_argument("workloads", nargs="*", default=list(WORKLOADS))
    args = ap.parse_args()
    ok = True
    for w in args.workloads:
        for trace in (0, 1):
            try:
                report, result = invoke(w, args.seed, args.seconds, trace)
            except RuntimeError as e:
                print(f"{w} trace={trace}: {e}")
                ok = False
                continue
            ok = ok and result["correct"]
            print(
                f"{w} trace={trace}: correct={result['correct']} attempted={result['attempted']} "
                f"failed={result['failed']} failed_frac={report['failed_frac']:.6f} host={json.dumps(report['host'])}"
            )
            tags = report.get("tags", {})
            for name, m in result["metrics"].items():
                tag = tags.get(name)
                moves = f"  -> {tag['moves']} on {', '.join(tag['workloads'])}" if tag else ""
                print(f"  {name:32s} {m['value']:>16.6g} {m['unit']}{moves}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
