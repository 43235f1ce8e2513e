#!/usr/bin/env python3
"""osprey_spark end-to-end benchmark.

    python3 perfbench/run.py --workload backlog --seed 1 --seconds 7 --trace 0

Run from the root of a source checkout: the benchmark imports
``osprey_spark`` from there and keeps all working data under
``.perfbench_work/``. It drives the library only through its public
entry points (``compile_ruleset``, ``StreamingRuleEngine.transform`` /
``source``, ``ExactlyOnceParquetSink.write_data`` / ``mark_commit`` /
``read_committed``, ``plans.analytics`` and ``compile_query_filter``).

Output: one JSON report line (host, samples with quartiles, the
correctness detail), then, as the last line, the result object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics of
``perfbench/layers.py``. Metric definitions: perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("backlog", "wide_state", "live", "investigate")

END_TO_END = {"setup_s": "s", "turns_per_s": "turns/s", "peak_rss_mb": "MB"}
# latency metrics of the workloads whose timed window measures them:
# verdict latency from arrival (open loop) and the analyst's queries
LATENCY = {
    "live": {"verdict_p50_s": "s", "verdict_p90_s": "s"},
    "investigate": {"query_p50_s": "s", "query_p90_s": "s"},
}


def end_to_end(run, rec: dict) -> tuple[dict, dict]:
    """(metric values, report detail) of an untraced run."""
    from perfbench import harness as H
    from perfbench import workloads as W

    drains = rec["drains"]
    setups = [s["setup_s"] for s in rec["setups"]]
    latency = [p for d in drains for p in d["latency"]]
    walls = [q["wall"] for q in rec["queries"] if "error" not in q]
    values = {
        "setup_s": H.quantile(setups, 0.5),
        "turns_per_s": sum(d["turns"] for d in drains) / sum(d["wall"] for d in drains),
        "verdict_p50_s": H.weighted_quantile(latency, 0.5),
        "verdict_p90_s": H.weighted_quantile(latency, 0.9),
        "peak_rss_mb": run.rss.peak_mb,
    }
    if walls:
        values.update(query_p50_s=H.quantile(walls, 0.5), query_p90_s=H.quantile(walls, 0.9))
    detail = {
        "setup_s": H.summary(setups),
        "setup_parts": rec["setups"],
        "drain_turns_per_s": H.summary([d["turns"] / d["wall"] for d in drains]),
        "settle_turns_per_s": run.settle_turns_per_s,
        "verdict_s": {
            "turns": sum(w for _, w in latency),
            "q1": H.weighted_quantile(latency, 0.25),
            "median": values["verdict_p50_s"],
            "q3": H.weighted_quantile(latency, 0.75),
            "p90": values["verdict_p90_s"],
        },
        "query_s": H.summary(walls),
        "cold_start_s": rec["cold_start_s"],
        "phase_s": rec["phase_s"],
        "peak_memory": run.rss.peak_split,
    }
    if run.workload == "live":
        d = drains[0]
        detail["live"] = {
            "rate_turns_per_s": W.LIVE_RATE_TURNS_PER_S,
            "period_s": W.LIVE_PERIOD_S,
            "gen_late_p90_s": d["gen_late_p90_s"],
            "backlog_growth_files": d["backlog_growth_files"],
            "verdict_p90_limit_s": W.VERDICT_P90_LIMIT_S,
            "verdict_p90_within_limit": values["verdict_p90_s"] <= W.VERDICT_P90_LIMIT_S,
            "counted": not d["void"],
        }
    return values, detail


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full", help="tiny: self-test inputs")
    args = ap.parse_args(argv)

    # import from the checkout root, not from this script's directory
    sys.path[0] = ROOT
    try:
        import osprey_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the system under test from {ROOT}: {e}", file=sys.stderr)
        return 2

    from perfbench import layers as T
    from perfbench import workloads as W

    run = W.Run(args.workload, args.seed, args.seconds, bool(args.trace), args.size)
    try:
        rec = run.execute()
        if args.trace:
            values, extra = T.layer_metrics(run, rec)
            units = {k: v[0] for k, v in T.LAYERS.items()}
            detail = {
                "extra": extra,
                "tags": {k: {"moves": v[2], "workloads": list(v[3])} for k, v in T.LAYERS.items()},
            }
        else:
            values, detail = end_to_end(run, rec)
            units = {**END_TO_END, **LATENCY.get(args.workload, {})}
    finally:
        run.close()

    report = {
        "workload": args.workload,
        "trace": args.trace,
        "host": rec["host"],
        "shape": rec["shape"],
        "failed_frac": run.failed / max(run.attempted, 1),
        "inputs_s": run.inputs_s,
        **detail,
    }
    print(json.dumps(report, default=str))
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
