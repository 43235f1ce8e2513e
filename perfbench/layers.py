"""The traced run: per-layer metrics.

Spans come from the benchmark's own files only (the phase windows that
``workloads.Run`` records around its calls into each layer). Inside
those windows the numbers come from three places:

- streaming progress (``StreamingQuery.recentProgress``): source
  listing, planning, WAL, trigger and state-operator timings;
- the Spark event log (``spark.eventLog.enabled`` through
  ``build_session(extra_conf=…)``): task metrics and the SQL-metric
  accumulables of the scan and Python-boundary plan nodes;
- the cumulative layer ladder over the workload's own input — scan →
  envelope → stateless apply → fused apply → sink — where each stage's
  marginal drain time per turn is its layer's cost.

``LAYERS`` tags every per-layer metric with the end-to-end metric and
the workloads it should move.
"""

from __future__ import annotations

import glob
import json
import os

from perfbench import harness as H

ALL = ("backlog", "wide_state", "live", "investigate")

# name -> (unit, better, end-to-end metric it should move, workloads)
LAYERS = {
    "sources.us_per_turn": ("us/turn", "lower", "turns_per_s", ("backlog", "wide_state")),
    "sources.list_ms_p50": ("ms", "lower", "verdict_p50_s", ("live",)),
    "sources.bytes_read": ("bytes", "lower", "turns_per_s", ("backlog", "wide_state")),
    "turns.us_per_turn": ("us/turn", "lower", "turns_per_s", ("backlog",)),
    "compiler.compile_s": ("s", "lower", "setup_s", ALL),
    "compiler.plan_build_s": ("s", "lower", "setup_s", ALL),
    "compiler.us_per_turn": ("us/turn", "lower", "turns_per_s", ("backlog", "wide_state")),
    "compiler.planning_ms_p50": ("ms", "lower", "verdict_p50_s", ("live",)),
    "state.us_per_turn": ("us/turn", "lower", "turns_per_s", ("wide_state", "backlog")),
    "state.arrow_in_bytes_per_turn": ("bytes/turn", "lower", "turns_per_s", ("backlog",)),
    "state.arrow_out_bytes_per_turn": ("bytes/turn", "lower", "turns_per_s", ("backlog",)),
    "state.rows_total": ("count", "lower", "context", ALL),
    "state.rows_updated_p50": ("count", "lower", "context", ALL),
    "state.bytes": ("bytes", "lower", "peak_rss_mb", ("wide_state",)),
    "state.commit_ms_p50": ("ms", "lower", "verdict_p50_s", ("live", "wide_state")),
    "state.update_ms_p50": ("ms", "lower", "turns_per_s", ("wide_state",)),
    "sink.write_s_p50": ("s", "lower", "turns_per_s", ALL),
    "sink.commit_s_p50": ("s", "lower", "verdict_p50_s", ALL),
    "sink.us_per_turn": ("us/turn", "lower", "turns_per_s", ("backlog",)),
    "sink.files_per_batch": ("count", "lower", "query_p50_s", ("live", "investigate")),
    "sink.bytes_per_turn": ("bytes/turn", "lower", "query_p50_s", ("live", "investigate")),
    "pipeline.batches": ("count", "lower", "context", ALL),
    "pipeline.trigger_ms_p50": ("ms", "lower", "context", ALL),
    "pipeline.overhead_ms_p50": ("ms", "lower", "verdict_p50_s", ("live",)),
    "pipeline.wal_ms_p50": ("ms", "lower", "verdict_p50_s", ("live",)),
    "pipeline.queue_wait_p50_s": ("s", "lower", "verdict_p50_s", ("live",)),
    "pipeline.speedup_1_to_4": ("ratio", "higher", "turns_per_s", ("backlog",)),
    "analytics.plan_s_p50": ("s", "lower", "query_p50_s", ("investigate",)),
    "analytics.exec_s_p50": ("s", "lower", "query_p50_s", ("investigate",)),
    "analytics.files_per_query": ("count", "lower", "query_p50_s", ("investigate",)),
    "analytics.bytes_per_query": ("bytes", "lower", "query_p50_s", ("investigate",)),
    "exec.cpu_s": ("s", "lower", "turns_per_s", ALL),
    "exec.gc_s": ("s", "lower", "peak_rss_mb", ALL),
    "exec.shuffle_bytes": ("bytes", "lower", "turns_per_s", ALL),
    "exec.tasks": ("count", "lower", "turns_per_s", ALL),
    "harness.trace_overhead_frac": ("ratio", "lower", "context", ALL),
}

LADDER = ("scan", "envelope", "stateless", "fused", "sink")


def _p50(values) -> float:
    values = [v for v in values if v is not None]
    return H.quantile(values, 0.5) if values else 0.0


# ----------------------------------------------------------------------
# event log
# ----------------------------------------------------------------------


def _walk_plan(info: dict, acc: dict, feeds_state: bool = False) -> None:
    """Map accumulator ids to (plan node, metric). The exchange that
    feeds a FlatMapGroupsInPandasWithState node is named
    ``StateFeedExchange``: Spark does not count the Arrow bytes this
    runner sends to Python, so the rows shipped to the state op are
    measured as that exchange's shuffle bytes."""
    name = info.get("nodeName", "")
    if feeds_state and name.startswith("Exchange"):
        name, feeds_state = "StateFeed" + name, False
    for m in info.get("metrics", []):
        acc[m["accumulatorId"]] = (name, m["name"])
    feeds_state = feeds_state or name.startswith("FlatMapGroupsInPandasWithState")
    for child in info.get("children", []):
        _walk_plan(child, acc, feeds_state)


def read_event_log(log_dir: str) -> dict:
    """Parse every event-log file under ``log_dir`` into task records
    and SQL-metric updates keyed by plan node."""
    accum: dict[int, tuple[str, str]] = {}
    exec_time: dict[int, float] = {}
    tasks: list[dict] = []
    driver_updates: list[tuple[int, int, int]] = []
    for path in sorted(glob.glob(os.path.join(log_dir, "**"), recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind.endswith("SparkListenerSQLExecutionStart"):
                    exec_time[ev["executionId"]] = ev["time"] / 1000.0
                    _walk_plan(ev.get("sparkPlanInfo", {}), accum)
                elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    _walk_plan(ev.get("sparkPlanInfo", {}), accum)
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    for acc_id, value in ev.get("accumUpdates", []):
                        driver_updates.append((ev["executionId"], int(acc_id), int(value)))
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info", {})
                    tm = ev.get("Task Metrics") or {}
                    tasks.append(
                        {
                            "end": info.get("Finish Time", 0) / 1000.0,
                            "cpu_ns": tm.get("Executor CPU Time", 0),
                            "gc_ms": tm.get("JVM GC Time", 0),
                            "shuffle": (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                            "input": (tm.get("Input Metrics") or {}).get("Bytes Read", 0),
                            "spill": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
                            "accums": [
                                (a["ID"], a.get("Update"))
                                for a in info.get("Accumulables", [])
                                if isinstance(a.get("Update"), (int, float, str))
                            ],
                        }
                    )
    return {"accum": accum, "exec_time": exec_time, "tasks": tasks, "driver": driver_updates}


def _in(spans, t: float) -> bool:
    return any(a <= t <= b + 0.5 for a, b in spans)


def node_metric(log: dict, spans, node: str, metric: str) -> int:
    """Sum of one SQL metric of every plan node named ``node`` over the
    tasks (and driver-side updates) that fall inside ``spans``."""
    ids = {i for i, (n, m) in log["accum"].items() if node in n and m == metric}
    total = 0
    for t in log["tasks"]:
        if _in(spans, t["end"]):
            total += sum(int(float(u)) for i, u in t["accums"] if i in ids)
    for ex, i, v in log["driver"]:
        if i in ids and _in(spans, log["exec_time"].get(ex, 0.0)):
            total += v
    return total


def task_totals(log: dict, spans) -> dict:
    ts = [t for t in log["tasks"] if _in(spans, t["end"])]
    return {
        "cpu_s": sum(t["cpu_ns"] for t in ts) / 1e9,
        "gc_s": sum(t["gc_ms"] for t in ts) / 1e3,
        "shuffle": sum(t["shuffle"] for t in ts),
        "input": sum(t["input"] for t in ts),
        "spill": sum(t["spill"] for t in ts),
        "tasks": len(ts),
    }


# ----------------------------------------------------------------------
# the traced run
# ----------------------------------------------------------------------


def ladder(run, meta: dict) -> dict:
    """Cumulative drains over the same input; returns stage -> wall."""
    from osprey_spark.compiler import compile_ruleset
    from osprey_spark.rulesets import BENCH_SML
    from osprey_spark.turns import TURN_BINDINGS

    stateless = compile_ruleset({"main.sml": BENCH_SML}, bindings=TURN_BINDINGS)
    fpt = run.files_per_trigger()
    walls = {}
    for stage in LADDER:
        d = run.drain(meta["in"], meta["files"], fpt, stage=stage, ruleset=stateless if stage == "stateless" else None)
        walls[stage] = d["wall"]
    return walls


def full_drain_tps(run, meta: dict, cores: int | None, event_log: bool, settle: bool) -> float:
    """Turns/s of a full-pipeline drain of the input on a fresh
    session at ``local[cores]`` (the JVM, and so its JIT, is kept);
    with ``settle``, after one untimed drain of it."""
    from osprey_spark.compiler import compile_ruleset
    from osprey_spark.turns import TURN_BINDINGS

    run.sessions.start(cores=cores, event_log=event_log)
    rs = compile_ruleset({"main.sml": H.fused_sml()}, bindings=TURN_BINDINGS)
    fpt = run.files_per_trigger()
    if settle:
        run.drain(meta["in"], meta["files"], fpt, ruleset=rs)
    d = run.drain(meta["in"], meta["files"], fpt, ruleset=rs)
    return d["turns"] / d["wall"]


def layer_metrics(run, rec: dict) -> tuple[dict, dict]:
    """Run the extra traced stages and return (per-layer metric values,
    raw extras for the report)."""
    meta = rec["meta"]
    walls = ladder(run, meta)
    turns = meta["turns"]
    traced_tps = turns / walls["sink"]
    # untraced and single-core drains, each on a fresh session; stopping
    # the traced session also flushes its event log. The single-core
    # drain runs about twice as long, so its Python worker start is left
    # in rather than paying for a settle drain.
    untraced_tps = full_drain_tps(run, meta, None, False, settle=True)
    one_core_tps = full_drain_tps(run, meta, 1, False, settle=False)
    run.sessions.stop()
    log = read_event_log(run.sessions.event_log_dir)

    ingest = [(a, b) for n, a, b in run.spans if n == "ingest"]
    query = [(a, b) for n, a, b in run.spans if n == "query" and a >= ingest[-1][1]]
    drains = rec["drains"]
    ing_turns = sum(d["turns"] for d in drains)
    progress = [p for d in drains for p in d["progress"]]
    dur = [p.get("durationMs", {}) for p in progress]
    states = [s for p in progress for s in p.get("stateOperators", [])]
    markers = [m for d in drains for m in H.commit_markers(d["out"]).values()]
    sink_times = [s for d in drains for s in d["sink_times"]]
    ok_queries = [q for q in rec["queries"] if "error" not in q]
    tasks = task_totals(log, ingest + query)
    prev = 0.0
    marginal = {}
    for stage in LADDER:
        marginal[stage] = (walls[stage] - prev) / turns * 1e6
        prev = walls[stage]

    def files_bytes(m):
        parts = m.get("partitions", {}).values()
        return sum(p["files"] for p in parts), sum(p["bytes"] for p in parts)

    fb = [files_bytes(m) for m in markers]
    n_q = max(len(ok_queries), 1)
    values = {
        "sources.us_per_turn": marginal["scan"],
        "sources.list_ms_p50": _p50([d.get("latestOffset", 0) + d.get("getBatch", 0) for d in dur]),
        "sources.bytes_read": task_totals(log, ingest)["input"] / max(len(drains), 1),
        "turns.us_per_turn": marginal["envelope"],
        "compiler.compile_s": rec["setups"][0]["compile_s"],
        "compiler.plan_build_s": rec["setups"][0]["plan_build_s"],
        "compiler.us_per_turn": marginal["stateless"],
        "compiler.planning_ms_p50": _p50([d.get("queryPlanning") for d in dur]),
        "state.us_per_turn": marginal["fused"],
        "state.arrow_in_bytes_per_turn": node_metric(log, ingest, "StateFeedExchange", "shuffle bytes written")
        / ing_turns,
        "state.arrow_out_bytes_per_turn": node_metric(
            log, ingest, "FlatMapGroupsInPandasWithState", "data returned from Python workers"
        )
        / ing_turns,
        "state.rows_total": max((s.get("numRowsTotal", 0) for s in states), default=0),
        "state.rows_updated_p50": _p50([s.get("numRowsUpdated") for s in states]),
        "state.bytes": max((s.get("memoryUsedBytes", 0) for s in states), default=0),
        "state.commit_ms_p50": _p50([s.get("commitTimeMs") for s in states]),
        "state.update_ms_p50": _p50([s.get("allUpdatesTimeMs") for s in states]),
        "sink.write_s_p50": _p50([w for _, w, _ in sink_times]),
        "sink.commit_s_p50": _p50([c for _, _, c in sink_times]),
        "sink.us_per_turn": marginal["sink"],
        "sink.files_per_batch": _p50([f for f, _ in fb]),
        "sink.bytes_per_turn": sum(b for _, b in fb) / max(sum(m.get("rows", 0) for m in markers), 1),
        "pipeline.batches": len(progress),
        "pipeline.trigger_ms_p50": _p50([d.get("triggerExecution") for d in dur]),
        "pipeline.overhead_ms_p50": _p50([d.get("triggerExecution", 0) - d.get("addBatch", 0) for d in dur]),
        "pipeline.wal_ms_p50": _p50([d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur]),
        "pipeline.queue_wait_p50_s": H.weighted_quantile([w for d in drains for w in d["queue_wait"]], 0.5),
        "pipeline.speedup_1_to_4": untraced_tps / one_core_tps,
        "analytics.plan_s_p50": _p50([q["plan_s"] for q in ok_queries]),
        "analytics.exec_s_p50": _p50([q["exec_s"] for q in ok_queries]),
        "analytics.files_per_query": node_metric(log, query, "Scan", "number of files read") / n_q,
        "analytics.bytes_per_query": node_metric(log, query, "Scan", "size of files read") / n_q,
        "exec.cpu_s": tasks["cpu_s"],
        "exec.gc_s": tasks["gc_s"],
        "exec.shuffle_bytes": tasks["shuffle"],
        "exec.tasks": tasks["tasks"],
        "harness.trace_overhead_frac": 1.0 - traced_tps / untraced_tps,
    }
    extras = {
        "ladder_wall_s": walls,
        "tps": {"traced": traced_tps, "untraced": untraced_tps, "local_1": one_core_tps},
        "ingest_turns": ing_turns,
        "queries": len(ok_queries),
        "spill_bytes": tasks["spill"],
        "udf_bytes": node_metric(log, ingest, "EvalPython", "data sent to Python workers"),
        "gen_late_p90_s": next((d["gen_late_p90_s"] for d in drains if "gen_late_p90_s" in d), 0.0),
    }
    return values, extras
