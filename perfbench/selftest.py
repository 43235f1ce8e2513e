#!/usr/bin/env python3
"""Self-tests of the benchmark itself.

    python3 perfbench/selftest.py [workload ...]

1. A tiny-size run of each workload, untraced and traced, must print
   every metric BENCHMARK.json names, with its unit, and read
   ``failed == 0``.
2. Faults injected into a copy of a committed table must read
   ``failed_frac > 0``: a deleted committed data file, and a batch
   committed twice.

Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def tiny_run(workload: str, trace: int, spec: dict) -> list[str]:
    """Problems found in one tiny run's output (empty when it passes)."""
    from perfbench.report import invoke
    from perfbench.run import LATENCY

    try:
        _, result = invoke(workload, 1, 2, trace, size="tiny")
    except RuntimeError as e:
        return [str(e)]
    problems = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"result keys {sorted(result)}")
    if result.get("failed") != 0 or not result.get("correct") or result.get("attempted", 0) < 1:
        problems.append(f"failed={result.get('failed')} attempted={result.get('attempted')}")
    want = spec["per_layer" if trace else "end_to_end"]
    got = result.get("metrics", {})
    for m in want:
        entry = got.get(m["name"])
        if entry is None:
            problems.append(f"missing {m['name']}")
        elif entry.get("unit") != m["unit"] or not isinstance(entry.get("value"), (int, float)):
            problems.append(f"bad {m['name']}: {entry}")
    extra = set(got) - {m["name"] for m in want}
    if extra - (set() if trace else set(LATENCY.get(workload, {}))):
        problems.append(f"unexpected metrics {sorted(extra)}")
    return problems


def fault_injection() -> list[str]:
    """Drain a tiny backlog, then corrupt copies of its table."""
    from osprey_spark.streaming.sink import ExactlyOnceParquetSink

    from perfbench import harness as H
    from perfbench.workloads import Run

    run = Run("backlog", 1, 2, False, "tiny")
    problems = []
    try:
        run.sessions.start()
        meta = run.ensure_inputs()
        run.setup_once(meta)
        out = run.drain(meta["in"], meta["files"], run.files_per_trigger())["out"]
        run.ensure_reference(meta)

        def failed_frac(table: str) -> float:
            committed = ExactlyOnceParquetSink(table).read_committed(run.spark)
            expected, failed = H.check_turns(run.spark, committed, meta["ref"])
            return failed / max(expected, 1)

        def corrupt(tag: str, fault) -> str:
            copy = os.path.join(run.run_dir, f"fault_{tag}")
            shutil.copytree(out, copy)
            fault(copy)
            return copy

        def delete_data_file(table: str) -> None:
            batch = os.path.join(table, "data", "_batch_id=0")
            victim = next(
                os.path.join(d, f) for d, _, fs in sorted(os.walk(batch)) for f in sorted(fs) if f.endswith(".parquet")
            )
            os.remove(victim)

        def commit_twice(table: str) -> None:
            data = os.path.join(table, "data")
            dup = max(H.commit_markers(table)) + 1
            shutil.copytree(os.path.join(data, "_batch_id=0"), os.path.join(data, f"_batch_id={dup}"))
            marker = H.commit_markers(table)[0]
            marker["batch_id"] = dup
            with open(os.path.join(table, "_commits", f"{dup}.json"), "w") as f:
                json.dump(marker, f)

        clean = failed_frac(out)
        print(f"clean table: failed_frac={clean}")
        if clean != 0:
            problems.append(f"clean table reads failed_frac={clean}")
        for tag, fault in (("deleted_file", delete_data_file), ("committed_twice", commit_twice)):
            frac = failed_frac(corrupt(tag, fault))
            print(f"{tag}: failed_frac={frac:.4f}")
            if not frac > 0:
                problems.append(f"{tag} fault reads failed_frac={frac}")
    finally:
        run.close()
    return problems


def main(argv: list[str]) -> int:
    # import from the checkout root, not from this script's directory
    sys.path[0] = ROOT
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    from perfbench.report import WORKLOADS

    workloads = argv or list(WORKLOADS)
    problems = []
    for w in workloads:
        for trace in (0, 1):
            found = tiny_run(w, trace, spec)
            print(f"{w} trace={trace}: {'ok' if not found else found}", flush=True)
            problems += [f"{w} trace={trace}: {p}" for p in found]
    problems += fault_injection()
    print("PASS" if not problems else "FAIL:\n" + "\n".join(problems))
    return 0 if not problems else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
