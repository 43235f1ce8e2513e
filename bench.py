#!/usr/bin/env python
"""Headline benchmark for osprey_spark (driver contract).

Runs the headline queries from ``__spark_entry__.queries()`` on
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) with
``build_session``'s default ``local[N]`` (N = ``$SPARK_GRAFT_CPUS``, else the
host's cores; recorded as ``cpus``) and measures the BASELINE.json metric —
rule-verdict throughput (turns/sec) of the streaming pipeline over a
deterministic skewed transcripts table — then prints ONE JSON line:

    {"metric": "rule_verdict_throughput", "value": <suite sec>,
     "unit": "sec", "queries": {...}, "sf": ..., "throughput": {...}}

Per-query numbers are full plan executions (noop sink — no collect
overhead, no result truncation). The N-vs-4N scaling-efficiency run
lives in tools/bench_scaling.py (spark-submit subprocesses) and its
latest results are inlined here when present.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

def _headline() -> list[str]:
    """Every registered query, in registry order — derived from the
    entrypoint so the bench cannot drift when queries are added (the
    manual list this replaces had already missed three)."""
    from osprey_spark.entrypoint import QUERIES

    return list(QUERIES)


HEADLINE = _headline()


def _bench_queries(spark, sf_dir: str, k: int = 2) -> dict[str, float]:
    """One untimed warm pass (I/O cache, codegen), then ``k`` timed
    passes over the whole list INTERLEAVED (pass 1 of every query,
    then pass 2 of every query), reporting best-of-k per query. This
    VM's minute-scale throughput swings are ±30-50%; interleaving
    spreads a noisy minute across all queries instead of poisoning
    whichever query it landed on, so round-over-round per-query deltas
    are attributable to plan changes (round-2 VERDICT #9)."""
    from osprey_spark.entrypoint import QUERIES

    def run_once(fn) -> float:
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)  # timed: plan build (py4j tax) + execute
        df.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t0
        if hasattr(df, "unpersist_base"):  # release operator-persisted bases
            df.unpersist_base()
        return dt

    times: dict[str, float] = {}
    for name in HEADLINE:
        fn = QUERIES.get(name)
        if fn is None:
            continue
        try:
            run_once(fn)  # warm, untimed
            times[name] = float("inf")
        except Exception as e:
            # a broken query must HURT the headline, not silently
            # shrink it: it contributes a penalty far above any real
            # query time and is called out in the output
            print(f"bench: {name} failed: {e}", file=sys.stderr)
            times[name] = -1.0
    for _ in range(k):
        for name in HEADLINE:
            if times.get(name, -1.0) < 0:
                continue
            try:
                times[name] = round(min(times[name], run_once(QUERIES[name])), 3)
            except Exception as e:
                print(f"bench: {name} failed: {e}", file=sys.stderr)
                times[name] = -1.0
    return times


FAILED_QUERY_PENALTY_S = 300.0


def _turns_input(spark, work_dir: str, n_convs: int, turns_per_conv: int, n_files: int) -> tuple[str, int]:
    """Materialize the deterministic skewed transcripts table once
    (cache keyed by size), clustered by xxhash64(conv_id) so the sink
    buckets are co-partitioned with the source (no write shuffle)."""
    from pyspark.sql import functions as F

    from osprey_spark.turns import generate_turns

    path = os.path.join(work_dir, f"turns_{n_convs}x{turns_per_conv}r8f{n_files}")
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        turns = generate_turns(spark, n_convs=n_convs, turns_per_conv=turns_per_conv, text_repeat=8)
        turns.repartition(n_files, F.pmod(F.xxhash64("conv_id"), F.lit(n_files))).write.mode(
            "overwrite"
        ).parquet(path)
    n_rows = spark.read.parquet(path).count()
    return path, n_rows


def _bench_streaming(spark, work_dir: str) -> dict:
    """BASELINE.json metric: rule-verdict throughput (turns/sec) +
    micro-batch latency of the compiled flagship ruleset, streaming
    from parquet through the exactly-once sink (availableNow)."""
    from osprey_spark.compiler import compile_ruleset
    from osprey_spark.rulesets import BENCH_SML
    from osprey_spark.streaming.pipeline import StreamingRuleEngine
    from osprey_spark.turns import TURN_BINDINGS

    n_convs = int(os.environ.get("BENCH_TURN_CONVS", "40000"))
    tpc = int(os.environ.get("BENCH_TURNS_PER_CONV", "30"))
    n_files = 256
    input_dir, n_rows = _turns_input(spark, work_dir, n_convs, tpc, n_files)
    layouts: list = []  # each engine's resolved state-bucket layout

    def run(sml: str, tag: str) -> tuple[float, list]:
        out_dir = os.path.join("/dev/shm/osprey_bench", f"stream_out_{tag}")
        shutil.rmtree(out_dir, ignore_errors=True)
        engine = StreamingRuleEngine(
            spark,
            compile_ruleset({"main.sml": sml}, bindings=TURN_BINDINGS),
            input_dir=input_dir,
            output_dir=out_dir,
            max_files_per_trigger=max(n_files // 4, 1),  # ≥4 micro-batches
            repartition_buckets=False,  # input is co-partitioned (see _turns_input)
        )
        layouts.append(engine.state_layout)
        t0 = time.perf_counter()
        engine.run_to_completion()
        wall = time.perf_counter() - t0
        commits = [
            json.load(open(os.path.join(out_dir, "_commits", f)))
            for f in sorted(os.listdir(os.path.join(out_dir, "_commits")))
            if f.endswith(".json")
        ]
        shutil.rmtree(out_dir, ignore_errors=True)
        return wall, commits

    # stateful variant: the same stream with a per-conversation
    # sliding-window counter rule — measures the applyInPandasWithState
    # path (keyed state store) alongside the stateless pipeline
    stateful_sml = BENCH_SML + (
        "\nWcKey: str = JsonData(path='$.conv_id')"
        "\nTurnRate = IncrementWindow(key=WcKey, window_seconds=600.0)"
        "\nBurstConv = TurnRate >= 20\n"
    )
    # fused variant: THREE stateful mechanisms on the same key (two
    # window counters + a tool-sequence CEP pattern) — compiled into a
    # single applyInPandasWithState pass by state-op fusion (the only
    # way Spark can stream a multi-mechanism rule at all); measures
    # the marginal cost of extra mechanisms once the shuffle + state
    # round-trip is shared
    fused_sml = BENCH_SML + (
        "\nWcKey: str = JsonData(path='$.conv_id')"
        "\nTurnRate = IncrementWindow(key=WcKey, window_seconds=600.0)"
        "\nHourRate = IncrementWindow(key=WcKey, window_seconds=3600.0)"
        "\nRoleSym: str = JsonData(path='$.role')"
        "\nToolLoop = SequenceMatches(key=WcKey, symbol=RoleSym, pattern='tooltool', last_k=24)"
        "\nBurstConv = TurnRate >= 20\n"
    )
    # stream-stream join mode (north rule): verdict rows join back to
    # the turn stream on (conv_id, turn_idx) within watermark bounds.
    # The verdict side is materialized once (batch, cached by size) so
    # the timed section is the stateful join itself, sunk to noop.
    from pyspark.sql import functions as F

    verdicts_dir = os.path.join(work_dir, f"verdicts_{n_convs}x{tpc}")
    if not os.path.exists(os.path.join(verdicts_dir, "_SUCCESS")):
        from osprey_spark.turns import with_envelope

        rs = compile_ruleset({"main.sml": BENCH_SML}, bindings=TURN_BINDINGS)
        batch = rs.apply(
            with_envelope(spark.read.parquet(input_dir)),
            passthrough=["conv_id", "turn_idx", "ts"],
        )
        (
            batch.filter(F.size("__verdicts") > 0)
            .select(
                "conv_id",
                "turn_idx",
                F.col("__verdicts").alias("verdicts"),
                F.col("ts").alias("v_ts"),
            )
            .repartition(n_files // 4, F.pmod(F.xxhash64("conv_id"), F.lit(n_files // 4)))
            .write.mode("overwrite")
            .parquet(verdicts_dir)
        )
    n_verdicts = spark.read.parquet(verdicts_dir).count()

    def run_join() -> float:
        from osprey_spark.streaming.pipeline import TURNS_SCHEMA
        from osprey_spark.streaming.windows import join_verdicts_to_turns

        turns_stream = (
            spark.readStream.schema(TURNS_SCHEMA)
            .option("maxFilesPerTrigger", max(n_files // 4, 1))
            .parquet(input_dir)
        )
        verdicts_stream = spark.readStream.schema(
            "conv_id string, turn_idx int, verdicts array<string>, v_ts timestamp"
        ).parquet(verdicts_dir)
        joined = join_verdicts_to_turns(turns_stream, verdicts_stream)
        ckpt = os.path.join("/dev/shm/osprey_bench", "join_ckpt")
        shutil.rmtree(ckpt, ignore_errors=True)
        t0 = time.perf_counter()
        q = (
            joined.writeStream.outputMode("append")
            .format("noop")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        wall = time.perf_counter() - t0
        shutil.rmtree(ckpt, ignore_errors=True)
        return wall

    # best-of-2 interleaved, same discipline as the query suite: run 1
    # of each mode also warms JIT/codegen for run 2 (first JVM pass of
    # a 40-feature ruleset costs ~10 s of compilation, which is not
    # engine throughput)
    walls: dict[str, list] = {"stateless": [], "stateful": [], "fused": [], "join": []}
    commits_best: list = []
    for _ in range(2):
        w, commits = run(BENCH_SML, "stateless")
        if not walls["stateless"] or w < min(walls["stateless"]):
            commits_best = commits
        walls["stateless"].append(w)
        walls["stateful"].append(run(stateful_sml, "stateful")[0])
        walls["fused"].append(run(fused_sml, "fused")[0])
        walls["join"].append(run_join())
    wall = min(walls["stateless"])
    wall2 = min(walls["stateful"])
    wall4 = min(walls["fused"])
    wall3 = min(walls["join"])
    lat = sorted(c["duration_s"] for c in commits_best) or [0.0]

    return {
        "state_buckets": layouts[0].n,
        "bucket_labels": layouts[0].labels,
        "turns": n_rows,
        "streaming_wall_s": round(wall, 3),
        "turns_per_sec": round(n_rows / wall, 1),
        "n_microbatches": len(commits_best),
        "batch_latency_p50_s": lat[len(lat) // 2],
        "batch_latency_max_s": lat[-1],
        "stateful_turns_per_sec": round(n_rows / wall2, 1),
        "stateful_wall_s": round(wall2, 3),
        "fused3_turns_per_sec": round(n_rows / wall4, 1),
        "fused3_wall_s": round(wall4, 3),
        "join_turns_per_sec": round(n_rows / wall3, 1),
        "join_wall_s": round(wall3, 3),
        "join_verdict_rows": n_verdicts,
        "batch_latency_p95_s": lat[min(len(lat) - 1, int(len(lat) * 0.95))],
    }


def _bench_backpressure(spark, work_dir: str) -> dict:
    """Sustained-backpressure SLO surface (round-3 verdict item 9):
    the entire backlog is queued while admission is capped to a small
    files-per-trigger, so input pressure exceeds drain capacity for
    >=20 consecutive micro-batches — the failure mode a 100-TB
    cluster hits first. Runs the FUSED 3-family stateful pipeline
    WITH watermarked ingest dedup and reports the per-batch duration
    distribution (p50/p95/max) plus the watermark-lag trajectory:
    bounded lag (settling near the dedup delay instead of growing
    with the backlog) is the pass signal, asserted in
    tests/test_backpressure.py and reported here for the record."""
    from osprey_spark.compiler import compile_ruleset
    from osprey_spark.rulesets import BENCH_SML
    from osprey_spark.streaming.metrics import JsonMetricsListener, read_metrics
    from osprey_spark.streaming.pipeline import StreamingRuleEngine
    from osprey_spark.turns import TURN_BINDINGS

    n_convs = int(os.environ.get("BENCH_TURN_CONVS", "40000"))
    tpc = int(os.environ.get("BENCH_TURNS_PER_CONV", "30"))
    n_files = 256
    files_per_trigger = int(os.environ.get("BENCH_BP_FILES_PER_TRIGGER", "8"))
    input_dir, n_rows = _turns_input(spark, work_dir, n_convs, tpc, n_files)

    fused_sml = BENCH_SML + (
        "\nWcKey: str = JsonData(path='$.conv_id')"
        "\nTurnRate = IncrementWindow(key=WcKey, window_seconds=600.0)"
        "\nHourRate = IncrementWindow(key=WcKey, window_seconds=3600.0)"
        "\nRoleSym: str = JsonData(path='$.role')"
        "\nToolLoop = SequenceMatches(key=WcKey, symbol=RoleSym, pattern='tooltool', last_k=24)"
        "\nBurstConv = TurnRate >= 20\n"
    )
    out_dir = os.path.join("/dev/shm/osprey_bench", "stream_out_bp")
    shutil.rmtree(out_dir, ignore_errors=True)
    mpath = os.path.join(out_dir, "metrics.jsonl")
    listener = JsonMetricsListener(mpath)
    spark.streams.addListener(listener)
    try:
        engine = StreamingRuleEngine(
            spark,
            compile_ruleset({"main.sml": fused_sml}, bindings=TURN_BINDINGS),
            input_dir=input_dir,
            output_dir=out_dir,
            max_files_per_trigger=files_per_trigger,
            repartition_buckets=False,
            dedup_ids=("conv_id", "turn_idx"),
            dedup_watermark="10 minutes",
        )
        t0 = time.perf_counter()
        engine.run_to_completion()
        wall = time.perf_counter() - t0
        # listener bus is async; wait for the progress records to land
        for _ in range(60):
            recs = [
                r
                for r in read_metrics(mpath)
                if r.get("event") == "progress" and r.get("num_input_rows")
            ]
            if sum(r["num_input_rows"] for r in recs) >= n_rows:
                break
            time.sleep(0.5)
    finally:
        spark.streams.removeListener(listener)
    durs = sorted(
        r["batch_duration_ms"] / 1000.0
        for r in recs
        if r.get("batch_duration_ms")
    )
    # lag is undefined until the first watermark lands (Spark reports
    # epoch-0 before that — an epoch-scale artifact, not lag), and a
    # backlog drained out of event-time order can report negative lag
    # on batches whose own max trails the global frontier; the SLO
    # signal is the max over defined, positive lags.
    lags = [
        r["watermark_lag_ms"]
        for r in recs
        if r.get("watermark_lag_ms") is not None
        and 0 <= r["watermark_lag_ms"] < 10**11
    ]
    state_rows = max((r.get("state_rows") or 0) for r in recs) if recs else 0
    shutil.rmtree(out_dir, ignore_errors=True)
    return {
        "turns": n_rows,
        "wall_s": round(wall, 3),
        "turns_per_sec": round(n_rows / wall, 1),
        "n_microbatches": len(recs),
        "batch_duration_p50_s": round(durs[len(durs) // 2], 3) if durs else None,
        "batch_duration_p95_s": round(
            durs[min(len(durs) - 1, int(len(durs) * 0.95))], 3
        )
        if durs
        else None,
        "batch_duration_max_s": round(durs[-1], 3) if durs else None,
        "watermark_lag_ms_max": max(lags) if lags else None,
        "watermark_lag_ms_final": lags[-1] if lags else None,
        "state_rows_max": state_rows,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    work_dir = os.environ.get("BENCH_WORK_DIR", "/tmp/osprey_bench")
    os.makedirs(work_dir, exist_ok=True)
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0)

    from osprey_spark.session import build_session

    spark = build_session(
        "osprey_spark_bench",
        extra_conf={
            # shuffle/spill on tmpfs (per-executor NVMe stand-in) and
            # bounded parquet writer buffers — see tools/bench_scaling.py
            "spark.local.dir": "/dev/shm/spark-local",
            "spark.hadoop.parquet.block.size": str(32 * 1024 * 1024),
            "spark.hadoop.parquet.enable.dictionary": "false",
        },
    )
    cpus = spark.sparkContext.defaultParallelism
    try:
        qtimes = _bench_queries(spark, sf_dir)
        streaming = _bench_streaming(spark, work_dir)
        backpressure = _bench_backpressure(spark, work_dir)
    finally:
        spark.stop()

    failed = sorted(n for n, t in qtimes.items() if t < 0)
    suite = round(
        sum(t for t in qtimes.values() if t >= 0) + FAILED_QUERY_PENALTY_S * len(failed), 3
    )
    result = {
        "metric": "headline_suite_seconds",
        "value": suite,
        "unit": "sec",
        "queries": qtimes,
        "failed_queries": failed,
        "sf": sf,
        "throughput": streaming,
        "backpressure": backpressure,
        "cpus": cpus,
        # the state-bucket layout every bench engine resolved
        "state_buckets": streaming.pop("state_buckets"),
        "bucket_labels": streaming.pop("bucket_labels"),
    }
    scaling_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_SCALING.json")
    if os.path.exists(scaling_path):
        with open(scaling_path) as f:
            result["scaling"] = json.load(f)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
