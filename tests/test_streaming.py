"""Streaming core tests: micro-batch rule eval parity with batch,
exactly-once sink idempotency, checkpoint resume, watermark late-data
policy, stateful conversation state, label store, stream-stream join.

The reference has no event-time tests (SURVEY.md §5) — these pin down
the north-rule semantics.
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from osprey_spark.compiler import compile_ruleset
from osprey_spark.streaming.pipeline import StreamingRuleEngine, TURNS_SCHEMA
from osprey_spark.streaming.sink import ExactlyOnceParquetSink
from osprey_spark.turns import generate_turns, with_envelope

SML = """
TurnText: str = JsonData(path='$.text')
ConvId: Entity[str] = EntityJson(type='ConvId', path='$.conv_id')
HasHello = 'hello' in StringToLower(s=TurnText)
HelloRule = Rule(when_all=[HasHello], description='hello')
WhenRules(rules_any=[HelloRule], then=[
    DeclareVerdict(verdict='hello'),
    LabelAdd(entity=ConvId, label='greeted'),
])
"""


@pytest.fixture(scope="module")
def turns_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("turns"))
    t = generate_turns(spark, n_convs=40, turns_per_conv=10, hot_convs=2, hot_multiplier=5)
    t.repartition(4).write.mode("overwrite").parquet(d)
    return d


def _ruleset():
    return compile_ruleset({"main.sml": SML})


def test_streaming_matches_batch(spark, turns_dir, tmp_path):
    out_dir = str(tmp_path / "out")
    eng = StreamingRuleEngine(
        spark,
        _ruleset(),
        turns_dir,
        out_dir,
        passthrough=("conv_id", "turn_idx", "text", "ts"),
        max_files_per_trigger=2,  # force multiple micro-batches
    )
    eng.run_to_completion()
    got = eng.results()

    batch = _ruleset().apply(
        with_envelope(spark.read.parquet(turns_dir)),
        passthrough=["conv_id", "turn_idx", "text", "ts"],
    )
    cols = ["conv_id", "turn_idx", "text", "HasHello", "HelloRule"]
    got_rows = sorted(
        (r["conv_id"], r["turn_idx"], r["text"], r["HasHello"], r["HelloRule"], tuple(r["__verdicts"]))
        for r in got.collect()
    )
    batch_rows = sorted(
        (r["conv_id"], r["turn_idx"], r["text"], r["HasHello"], r["HelloRule"], tuple(r["__verdicts"]))
        for r in batch.collect()
    )
    assert len(got_rows) == len(batch_rows) > 0
    assert got_rows == batch_rows

    # per-turn text equality invariant under stable (conv_id, turn_idx)
    src = spark.read.parquet(turns_dir).select("conv_id", "turn_idx", F.col("text").alias("src_text"))
    joined = got.join(src, ["conv_id", "turn_idx"])
    assert joined.filter(F.col("text") != F.col("src_text")).count() == 0
    assert joined.count() == src.count()

    # multiple micro-batches actually happened
    assert len(eng.sink.committed_batches()) >= 2


def test_hour_partitioned_sink(spark, turns_dir, tmp_path):
    """North rule: sink 'partitioned by hash(conv_id) and ts-hour'.
    partition_hour=True adds the event-time-hour partition column
    beside the hash buckets; a time-range read then prunes whole
    directories (the hours(ts) transform beside bucket(N, conv_id) on
    an Iceberg table)."""
    import os

    out_dir = str(tmp_path / "out")
    eng = StreamingRuleEngine(
        spark, _ruleset(), turns_dir, out_dir, partition_hour=True, n_buckets=4
    )
    eng.run_to_completion()
    got = eng.results()
    src_n = spark.read.parquet(turns_dir).count()
    assert got.count() == src_n

    # hive-style ts_hour=... dirs exist under each batch partition
    data = os.path.join(out_dir, "data")
    batch_dirs = [d for d in os.listdir(data) if d.startswith("_batch_id=")]
    assert batch_dirs
    hour_dirs = {
        h
        for b in batch_dirs
        for h in os.listdir(os.path.join(data, b))
        if h.startswith("ts_hour=")
    }
    assert len(hour_dirs) > 1  # the day-spanning input really split by hour

    # partition pruning: an hour-equality read scans only that hour's files
    one_hour = sorted(hour_dirs)[0].split("=", 1)[1]
    pruned = got.filter(F.col("ts_hour") == one_hour)
    expected = (
        spark.read.parquet(turns_dir)
        .filter(F.date_format("ts", "yyyy-MM-dd-HH") == one_hour)
        .count()
    )
    assert pruned.count() == expected > 0
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # ts_hour is a directory-partition column: the equality lands in the
    # scan's PartitionFilters (pruned before IO), not a row-level Filter
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and any("ts_hour" in ln for ln in pf)


def test_sink_replay_idempotent(spark, turns_dir, tmp_path):
    sink = ExactlyOnceParquetSink(str(tmp_path / "sink"))
    df = spark.read.parquet(turns_dir).limit(50)
    sink.write_batch(df, 7)
    n1 = sink.read_committed(spark).count()
    sink.write_batch(df, 7)  # replay of the same batch id
    n2 = sink.read_committed(spark).count()
    assert n1 == n2 == 50
    assert sink.committed_batches() == [7]


def test_checkpoint_resume_exactly_once(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    os.makedirs(in_dir)
    t = generate_turns(spark, n_convs=20, turns_per_conv=6, hot_convs=0)
    t.filter(F.col("conv_id") < "conv_00000010").coalesce(1).write.mode("append").parquet(in_dir)

    def build():
        return StreamingRuleEngine(
            spark, _ruleset(), in_dir, out_dir, passthrough=("conv_id", "turn_idx", "ts")
        )

    build().run_to_completion()
    n_first = ExactlyOnceParquetSink(out_dir).read_committed(spark).count()
    assert n_first == 60  # 10 convs × 6 turns

    # new files arrive; resume from the same checkpoint
    t.filter(F.col("conv_id") >= "conv_00000010").coalesce(1).write.mode("append").parquet(in_dir)
    build().run_to_completion()
    res = ExactlyOnceParquetSink(out_dir).read_committed(spark)
    assert res.count() == 120
    # no duplicates across the resume boundary
    assert res.select("conv_id", "turn_idx").distinct().count() == 120


def test_streaming_tumbling_late_data(spark, tmp_path):
    """Late rows beyond the watermark are dropped (append mode)."""
    from osprey_spark.streaming.windows import streaming_tumbling_counts

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    # note: the watermark used for late-record filtering is the one
    # computed from *prior* batches, so the late row must arrive a
    # batch after the watermark-advancing row to be dropped.
    rows1 = [("A", "2024-01-01 10:00:10"), ("A", "2024-01-01 10:00:20"), ("A", "2024-01-01 10:30:00")]
    rows2 = [("A", "2024-01-01 12:00:00")]  # advances watermark far past 10:xx
    rows3 = [("A", "2024-01-01 10:00:30")]  # LATE: before watermark → dropped
    schema = "k string, ts_str string"

    def write(rows, name):
        (
            spark.createDataFrame(rows, schema)
            .select("k", F.to_timestamp("ts_str").alias("ts"))
            .coalesce(1)
            .write.mode("append")
            .parquet(in_dir)
        )
        time.sleep(1.1)  # distinct mod-times → file order = arrival order

    write(rows1, "f1")
    write(rows2, "f2")
    write(rows3, "f3")

    stream = spark.readStream.schema("k string, ts timestamp").option("maxFilesPerTrigger", 1).parquet(in_dir)
    agg = streaming_tumbling_counts(stream, "ts", ["k"], 600, watermark="10 minutes")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("late_test")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(r["window_start"], r["k"]): r["n"] for r in spark.sql("select * from late_test").collect()}
    # 10:00 window count stays 2 — the late 10:00:30 row was dropped
    w1000 = 1704103200
    assert got.get((w1000, "A")) == 2
    # 10:30 window flushed with 1
    assert got.get((w1000 + 1800, "A")) == 1


def test_conversation_state(spark, tmp_path):
    from osprey_spark.streaming.state import conversation_state

    in_dir = str(tmp_path / "in")
    rows = []
    for conv in ("c1", "c2"):
        for i in range(6):
            flagged = (conv == "c1" and i % 2 == 0) or (conv == "c2" and i == 5)
            rows.append(
                (conv, i, "user", "hello" if flagged else "x", "search" if i % 3 == 0 else None,
                 f"2024-01-01 10:{i:02d}:00")
            )
    (
        spark.createDataFrame(
            rows, "conv_id string, turn_idx int, role string, text string, tool string, ts_str string"
        )
        .select("conv_id", "turn_idx", "role", "text", "tool", F.to_timestamp("ts_str").alias("ts"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(in_dir)
    )
    stream = spark.readStream.schema(TURNS_SCHEMA).parquet(in_dir)
    flagged = stream.withColumn("flagged", F.col("text").contains("hello"))
    out = conversation_state(flagged, "flagged", escalate_after=2)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("conv_state")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    res = {
        (r["conv_id"], r["turn_idx"]): (r["flagged_so_far"], r["escalated"], r["tool_seq"])
        for r in spark.sql("select * from conv_state").collect()
    }
    assert len(res) == 12
    # c1 flags at turns 0,2,4 → escalates from turn 2 on
    assert res[("c1", 0)][0] == 1 and res[("c1", 0)][1] is False
    assert res[("c1", 2)][0] == 2 and res[("c1", 2)][1] is True
    assert res[("c1", 5)][0] == 3 and res[("c1", 5)][1] is True
    # c2 only flags at 5 → never reaches 2
    assert res[("c2", 5)][0] == 1 and res[("c2", 5)][1] is False
    # tool sequence accumulates tools at turns 0 and 3
    assert res[("c1", 5)][2] == "search,search"


def test_label_store(spark, tmp_path):
    from osprey_spark.streaming.state import label_store

    in_dir = str(tmp_path / "in")
    rows = [
        ("ConvId", "c1", "flagged", "added", 3600.0, "2024-01-01 10:00:00"),
        ("ConvId", "c1", "flagged", "removed", None, "2024-01-01 10:05:00"),
        ("ConvId", "c2", "flagged", "added", None, "2024-01-01 10:01:00"),
    ]
    (
        spark.createDataFrame(
            rows,
            "entity_type string, entity_id string, label string, status string, expires_after double, ts_str string",
        )
        .select("entity_type", "entity_id", "label", "status", "expires_after", F.to_timestamp("ts_str").alias("ts"))
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(in_dir)
    )
    stream = spark.readStream.schema(
        "entity_type string, entity_id string, label string, status string, expires_after double, ts timestamp"
    ).parquet(in_dir)
    q = (
        label_store(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("labels_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("select * from labels_out order by entity_id, mutation_ts").collect()
    assert len(rows) == 3
    c1 = [r for r in rows if r["entity_id"] == "c1"]
    assert c1[0]["status"] == "added" and c1[0]["expires_at_unix"] > 0
    assert c1[1]["status"] == "removed"
    c2 = [r for r in rows if r["entity_id"] == "c2"]
    assert c2[0]["status"] == "added" and c2[0]["expires_at_unix"] == 0


def test_stream_stream_join(spark, turns_dir, tmp_path):
    """Verdicts joined back to the turn stream on (conv_id, turn_idx)
    within watermark bounds; per-turn text preserved (north rule)."""
    from osprey_spark.streaming.windows import join_verdicts_to_turns

    verdicts_dir = str(tmp_path / "verdicts")
    batch = _ruleset().apply(
        with_envelope(spark.read.parquet(turns_dir)), passthrough=["conv_id", "turn_idx", "ts"]
    )
    (
        batch.filter(F.size("__verdicts") > 0)
        .select("conv_id", "turn_idx", F.col("__verdicts").alias("verdicts"), F.col("ts").alias("v_ts"))
        .coalesce(2)
        .write.mode("overwrite")
        .parquet(verdicts_dir)
    )
    turns_stream = spark.readStream.schema(TURNS_SCHEMA).parquet(turns_dir)
    verdicts_stream = spark.readStream.schema(
        "conv_id string, turn_idx int, verdicts array<string>, v_ts timestamp"
    ).parquet(verdicts_dir)
    joined = join_verdicts_to_turns(turns_stream, verdicts_stream)
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("join_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("select * from join_out")
    expected = batch.filter(F.size("__verdicts") > 0).count()
    assert got.count() == expected > 0
    # text equality vs source under (conv_id, turn_idx)
    src = spark.read.parquet(turns_dir).select("conv_id", "turn_idx", F.col("text").alias("src_text"))
    assert got.join(src, ["conv_id", "turn_idx"]).filter(F.col("text") != F.col("src_text")).count() == 0


def test_hot_conversation_salting(spark, tmp_path):
    """North rule: a hot conversation spreads across multiple sink
    buckets (salt by floor(turn_idx / salt_span)); short conversations
    keep one bucket; the committed row-set is unchanged."""
    from osprey_spark.streaming.pipeline import StreamingRuleEngine
    from osprey_spark.turns import generate_turns

    inp = str(tmp_path / "salt_in")
    # 1 hot conversation (conv_00000000 gets 5x turns), 19 normal ones
    generate_turns(spark, n_convs=20, turns_per_conv=12, hot_convs=1, hot_multiplier=5).repartition(
        4
    ).write.parquet(inp)
    out = str(tmp_path / "salt_out")
    eng = StreamingRuleEngine(
        spark,
        _ruleset(),
        input_dir=inp,
        output_dir=out,
        passthrough=["conv_id", "turn_idx", "ts"],
        n_buckets=8,
        salt_span=12,
    )
    eng.run_to_completion()
    res = eng.results()
    assert res.count() == spark.read.parquet(inp).count()
    buckets = (
        res.groupBy("conv_id").agg(F.countDistinct("_bucket").alias("nb")).collect()
    )
    by_conv = {r.conv_id: r.nb for r in buckets}
    hot = "conv_00000000"
    # 60 turns / span 12 → 5 salt groups (mod 8 buckets → up to 5 distinct)
    assert by_conv[hot] >= 3, by_conv[hot]
    for conv, nb in by_conv.items():
        if conv != hot:
            assert nb == 1, (conv, nb)


def test_multi_tee_resume_consistent(spark, tmp_path):
    """Kill/resume across the tee: both tables stay row-identical to a
    single continuous run, under ONE shared commit log."""
    from osprey_spark.streaming.pipeline import verdict_label_tee

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    os.makedirs(in_dir)
    t = generate_turns(spark, n_convs=20, turns_per_conv=6, hot_convs=0)
    t.filter(F.col("conv_id") < "conv_00000010").coalesce(1).write.mode("append").parquet(in_dir)

    def build():
        return StreamingRuleEngine(
            spark, _ruleset(), in_dir, out_dir,
            passthrough=("conv_id", "turn_idx", "ts"), tee=verdict_label_tee(n_buckets=4),
        )

    build().run_to_completion()
    eng = build()
    n_res1 = eng.results("results").count()
    n_lab1 = eng.results("labels").count()
    assert n_res1 == 60
    assert n_lab1 == eng.results("results").filter(F.size("__label_effects") > 0).count() > 0

    # new files arrive; resume from the same checkpoint
    t.filter(F.col("conv_id") >= "conv_00000010").coalesce(1).write.mode("append").parquet(in_dir)
    build().run_to_completion()
    eng = build()
    res, lab = eng.results("results"), eng.results("labels")
    assert res.count() == 120
    assert res.select("conv_id", "turn_idx").distinct().count() == 120  # no dups
    # labels table == exploded effects of results table, exactly once
    want = res.filter(F.size("__label_effects") > 0).count()
    assert lab.count() == want
    assert lab.select("entity_id", "ts").distinct().count() == want


def test_multi_tee_partial_failure_commits_nothing(spark, tmp_path):
    """A failing tee target fails the whole batch: no shared commit, so
    even the successfully-written sibling's data stays invisible; the
    retry (same batch id) overwrites idempotently and commits both."""
    from osprey_spark.streaming.sink import MultiSink, PartialSinkFailure

    df = spark.range(10).select(F.col("id").cast("string").alias("conv_id"))
    boom = {"calls": 0}

    def flaky(d):
        boom["calls"] += 1
        if boom["calls"] == 1:
            raise RuntimeError("analytics backend down")
        return d

    sink = MultiSink(str(tmp_path / "tee"), {"good": None, "flaky": flaky})
    with pytest.raises(PartialSinkFailure) as ei:
        sink.write_batch(df, 0)
    assert "flaky" in ei.value.errors and sink.committed_batches() == []
    with pytest.raises(FileNotFoundError):
        sink.read_committed(spark, "good")

    sink.write_batch(df, 0)  # streaming retry of the same batch id
    assert sink.committed_batches() == [0]
    assert sink.read_committed(spark, "good").count() == 10
    assert sink.read_committed(spark, "flaky").count() == 10


def test_streaming_sampling_deterministic_across_resume(spark, tmp_path):
    """Sampling in the streaming path drops the same events on every
    run (md5 roll, not randint), so exactly-once survives replays."""
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    t = generate_turns(spark, n_convs=12, turns_per_conv=5, hot_convs=0)
    t.coalesce(1).write.mode("append").parquet(in_dir)

    def run(out):
        eng = StreamingRuleEngine(
            spark, _ruleset(), in_dir, str(tmp_path / out),
            passthrough=("conv_id", "turn_idx"),
            sample_config={"user": 50, "tool": 0},
        )
        eng.run_to_completion()
        return {(r.conv_id, r.turn_idx) for r in eng.results().select("conv_id", "turn_idx").collect()}

    kept1, kept2 = run("o1"), run("o2")
    assert kept1 == kept2
    total = t.count()
    assert 0 < len(kept1) < total  # some sampled out, not all
    # every surviving tool turn would contradict rate 0
    roles = {(r.conv_id, r.turn_idx): r.role for r in t.collect()}
    assert all(roles[k] != "tool" for k in kept1)


def test_metrics_listener_records_state_and_watermark(spark, tmp_path):
    """North rule: metrics = rows processed, state size, watermark lag.
    Attach the JSON listener to a watermarked stateful query and check
    the per-batch records carry all three."""
    from osprey_spark.streaming.metrics import JsonMetricsListener, read_metrics
    from osprey_spark.streaming.windows import streaming_tumbling_counts

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    rows = [("A", f"2024-01-01 10:{m:02d}:00") for m in range(30)]
    (
        spark.createDataFrame(rows, "conv_id string, ts_str string")
        .select("conv_id", F.to_timestamp("ts_str").alias("ts"))
        .coalesce(2).write.mode("overwrite").parquet(in_dir)
    )
    mpath = str(tmp_path / "metrics.jsonl")
    listener = JsonMetricsListener(mpath)
    spark.streams.addListener(listener)
    try:
        stream = spark.readStream.schema("conv_id string, ts timestamp").parquet(in_dir)
        out = streaming_tumbling_counts(
            stream, "ts", ["conv_id"], size_seconds=600, watermark="5 minutes"
        )
        q = (out.writeStream.outputMode("append").format("memory").queryName("met_t")
             .option("checkpointLocation", str(tmp_path / "ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination()
        # listener events are async — give the bus a moment
        for _ in range(40):
            if any(r.get("event") == "progress" and r.get("num_input_rows")
                   for r in read_metrics(mpath)):
                break
            time.sleep(0.5)
    finally:
        spark.streams.removeListener(listener)
    recs = [r for r in read_metrics(mpath) if r.get("event") == "progress"]
    assert sum(r["num_input_rows"] for r in recs) == 30
    with_state = [r for r in recs if r.get("state_rows")]
    assert with_state, "stateful operator rows should appear in progress"
    with_wm = [r for r in recs if r.get("watermark") and r.get("watermark_lag_ms") is not None]
    assert with_wm and all(r["watermark_lag_ms"] >= 0 for r in with_wm)


def test_rules_hot_swap_across_restart(spark, tmp_path):
    """The documented hot-reload procedure (SURVEY §4: the reference
    watches etcd and recompiles live; here the query restarts from the
    same checkpoint with the new compiled plan): batches before the
    swap keep the old schema, the stream resumes exactly-once, and
    read_committed(merge_schema=True) reconciles both eras."""
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    os.makedirs(in_dir)
    t = generate_turns(spark, n_convs=10, turns_per_conv=4, hot_convs=0)
    t.filter(F.col("conv_id") < "conv_00000005").coalesce(1).write.mode("append").parquet(in_dir)

    sml_v2 = SML + "TextLen = StringLength(s=TurnText)\n"

    def build(sml):
        return StreamingRuleEngine(
            spark, compile_ruleset({"main.sml": sml}), in_dir, out_dir,
            passthrough=("conv_id", "turn_idx"),
        )

    build(SML).run_to_completion()
    # rules change lands; restart from the SAME checkpoint with v2
    t.filter(F.col("conv_id") >= "conv_00000005").coalesce(1).write.mode("append").parquet(in_dir)
    build(sml_v2).run_to_completion()

    res = ExactlyOnceParquetSink(out_dir).read_committed(spark, merge_schema=True)
    assert res.count() == 40  # exactly-once across the swap
    assert res.select("conv_id", "turn_idx").distinct().count() == 40
    # old-era rows surface the new feature as NULL; new-era rows have it
    assert "TextLen" in res.columns
    old_rows = res.filter(F.col("conv_id") < "conv_00000005")
    new_rows = res.filter(F.col("conv_id") >= "conv_00000005")
    assert old_rows.filter(F.col("TextLen").isNotNull()).count() == 0
    assert new_rows.filter(F.col("TextLen").isNull()).count() == 0


def test_increment_window_rule_streams(spark, tmp_path):
    """An SML ruleset with IncrementWindow now RUNS in the streaming
    engine (applyInPandasWithState replaces the illegal non-time
    window function) and matches the batch evaluation exactly, with
    counter state carrying across micro-batches."""
    from osprey_spark.turns import TURN_BINDINGS, with_envelope

    sml = """
K: str = JsonData(path='$.conv_id')
IsUser = JsonData(path='$.role') == 'user'
N = IncrementWindow(key=K, window_seconds=600.0, when_all=[IsUser])
Bursty = N >= 3
"""
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    os.makedirs(in_dir)
    t = generate_turns(spark, n_convs=8, turns_per_conv=10, hot_convs=0)
    # two files -> maxFilesPerTrigger=1 forces 2 micro-batches, so the
    # trailing counter must survive the batch boundary
    t.filter(F.col("turn_idx") < 5).coalesce(1).write.mode("append").parquet(in_dir)
    t.filter(F.col("turn_idx") >= 5).coalesce(1).write.mode("append").parquet(in_dir)

    def rs():
        return compile_ruleset({"main.sml": sml}, bindings=TURN_BINDINGS)

    eng = StreamingRuleEngine(
        spark, rs(), in_dir, out_dir,
        passthrough=("conv_id", "turn_idx"), max_files_per_trigger=1,
    )
    eng.run_to_completion()
    assert len(eng.sink.committed_batches()) >= 2
    got = {
        (r["conv_id"], r["turn_idx"]): (r["N"], r["Bursty"])
        for r in eng.results().collect()
    }
    batch = rs().apply(
        with_envelope(spark.read.parquet(in_dir)), passthrough=["conv_id", "turn_idx"]
    )
    want = {(r["conv_id"], r["turn_idx"]): (r["N"], r["Bursty"]) for r in batch.collect()}
    assert got == want and len(want) == 80
    assert any(v[0] >= 3 for v in want.values())  # counter actually accumulates


def test_sequence_matches_rule_streams(spark, tmp_path):
    """An SML ruleset with SequenceMatches runs in the streaming
    engine (suffix state in the state store) and matches the batch
    evaluation exactly, including patterns whose symbols straddle a
    micro-batch boundary. In-order input (late_fraction=0): the
    rolling-suffix op is order-sensitive by definition, so cross-batch
    late data appends in arrival order — the documented online-CEP
    semantics — while in-order streams are batch-exact."""
    from osprey_spark.turns import TURN_BINDINGS, with_envelope

    sml = """
K: str = JsonData(path='$.conv_id')
Role: str = JsonData(path='$.role')
Ti: int = JsonData(path='$.turn_idx')
ToolRun = SequenceMatches(key=K, symbol=Role, pattern='at', last_k=4, order=Ti)
"""
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    os.makedirs(in_dir)
    t = generate_turns(spark, n_convs=8, turns_per_conv=10, hot_convs=0, late_fraction=0.0)
    t.filter(F.col("turn_idx") < 5).coalesce(1).write.mode("append").parquet(in_dir)
    t.filter(F.col("turn_idx") >= 5).coalesce(1).write.mode("append").parquet(in_dir)

    def rs():
        return compile_ruleset({"main.sml": sml}, bindings=TURN_BINDINGS)

    eng = StreamingRuleEngine(
        spark, rs(), in_dir, out_dir,
        passthrough=("conv_id", "turn_idx"), max_files_per_trigger=1,
    )
    eng.run_to_completion()
    assert len(eng.sink.committed_batches()) >= 2
    got = {
        (r["conv_id"], r["turn_idx"]): r["ToolRun"] for r in eng.results().collect()
    }
    batch = rs().apply(
        with_envelope(spark.read.parquet(in_dir)), passthrough=["conv_id", "turn_idx"]
    )
    want = {(r["conv_id"], r["turn_idx"]): r["ToolRun"] for r in batch.collect()}
    assert got == want and len(want) == 80
    assert any(want.values()) and not all(want.values())


def test_sequence_matches_state_survives_checkpoint_restart(spark, tmp_path):
    """The suffix state persists across an engine restart: a pattern
    completed by the first post-restart turn matches."""
    from osprey_spark.turns import TURN_BINDINGS

    sml = """
K: str = JsonData(path='$.conv_id')
Role: str = JsonData(path='$.role')
Ti: int = JsonData(path='$.turn_idx')
Run = SequenceMatches(key=K, symbol=Role, pattern='at{2}', last_k=4, order=Ti)
"""
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    os.makedirs(in_dir)
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts_str string"

    def write(rows):
        (spark.createDataFrame(rows, schema)
         .select("conv_id", "turn_idx", "role", "text", "tool",
                 F.to_timestamp("ts_str").alias("ts"))
         .coalesce(1).write.mode("append").parquet(in_dir))

    def run():
        eng = StreamingRuleEngine(
            spark, compile_ruleset({"main.sml": sml}, bindings=TURN_BINDINGS),
            in_dir, out_dir, passthrough=("conv_id", "turn_idx"),
        )
        eng.run_to_completion()
        return eng

    write([("c1", 0, "assistant", "x", None, "2024-01-01 10:00:00"),
           ("c1", 1, "tool", "y", None, "2024-01-01 10:01:00")])
    run()
    write([("c1", 2, "tool", "z", None, "2024-01-01 10:02:00")])
    eng = run()  # fresh engine object, same checkpoint + state store
    got = {(r["conv_id"], r["turn_idx"]): r["Run"] for r in eng.results().collect()}
    # turn 2 completes 'att' only if the pre-restart 'at' suffix survived
    assert got == {("c1", 0): False, ("c1", 1): False, ("c1", 2): True}


def test_cache_rules_stream(spark, tmp_path):
    """Cache Set/Get rules run in the streaming engine: the KV state
    (latest write per key) carries across micro-batches and matches
    the batch evaluation row-for-row."""
    from osprey_spark.turns import TURN_BINDINGS, with_envelope

    sml = """
K: str = JsonData(path='$.conv_id')
Text: str = JsonData(path='$.text')
IsUser = JsonData(path='$.role') == 'user'
CacheSetStr(key=K, value=Text, when_all=[IsUser], ttl_seconds=3600.0)
LastUserText = CacheGetStr(key=K, default='none')
"""
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    os.makedirs(in_dir)
    t = generate_turns(spark, n_convs=6, turns_per_conv=8, hot_convs=0)
    t.filter(F.col("turn_idx") < 4).coalesce(1).write.mode("append").parquet(in_dir)
    t.filter(F.col("turn_idx") >= 4).coalesce(1).write.mode("append").parquet(in_dir)

    def rs():
        return compile_ruleset({"main.sml": sml}, bindings=TURN_BINDINGS)

    eng = StreamingRuleEngine(
        spark, rs(), in_dir, out_dir,
        passthrough=("conv_id", "turn_idx"), max_files_per_trigger=1,
    )
    eng.run_to_completion()
    assert len(eng.sink.committed_batches()) >= 2
    got = {
        (r["conv_id"], r["turn_idx"]): r["LastUserText"]
        for r in eng.results().collect()
    }
    batch = rs().apply(
        with_envelope(spark.read.parquet(in_dir)), passthrough=["conv_id", "turn_idx"]
    )
    want = {(r["conv_id"], r["turn_idx"]): r["LastUserText"] for r in batch.collect()}
    assert got == want and len(want) == 48
    assert any(v != "none" for v in want.values())


@pytest.mark.parametrize("flavor", ["window", "cache"])
def test_stateful_rules_chunked_arrow_batches(spark, tmp_path, flavor):
    """Chunk-boundary regression (round-2 ADVICE): applyInPandasWithState
    hands each key's micro-batch rows to the state fn as an ITERATOR of
    Arrow chunks that is not time-ordered. With maxRecordsPerBatch
    forced to 7 and the input written in descending event time, a
    later chunk holds EARLIER timestamps — the old per-chunk
    sort+fold produced chunk-boundary-dependent counts/lookups. The
    fix materializes the whole group before sorting; streaming must
    match batch exactly regardless of chunking."""
    from osprey_spark.turns import TURN_BINDINGS, with_envelope

    sml = {
        "window": """
K: str = JsonData(path='$.conv_id')
IsUser = JsonData(path='$.role') == 'user'
N = IncrementWindow(key=K, window_seconds=600.0, when_all=[IsUser])
""",
        "cache": """
K: str = JsonData(path='$.conv_id')
Text: str = JsonData(path='$.text')
IsUser = JsonData(path='$.role') == 'user'
CacheSetStr(key=K, value=Text, when_all=[IsUser], ttl_seconds=3600.0)
LastUserText = CacheGetStr(key=K, default='none')
""",
    }[flavor]
    out_col = {"window": "N", "cache": "LastUserText"}[flavor]
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    os.makedirs(in_dir)
    # 2 convs x 40 turns: ~40 rows per key per micro-batch → 6 chunks
    # of 7; descending ts ordering puts the earliest rows in the LAST
    # chunk, the worst case for per-chunk state folding
    t = generate_turns(spark, n_convs=2, turns_per_conv=40, hot_convs=0)
    t.orderBy(F.col("ts").desc()).coalesce(1).write.mode("append").parquet(in_dir)

    def rs():
        return compile_ruleset({"main.sml": sml}, bindings=TURN_BINDINGS)

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        eng = StreamingRuleEngine(
            spark, rs(), in_dir, out_dir, passthrough=("conv_id", "turn_idx")
        )
        eng.run_to_completion()
        got = {
            (r["conv_id"], r["turn_idx"]): r[out_col]
            for r in eng.results().collect()
        }
        batch = rs().apply(
            with_envelope(spark.read.parquet(in_dir)),
            passthrough=["conv_id", "turn_idx"],
        )
        want = {(r["conv_id"], r["turn_idx"]): r[out_col] for r in batch.collect()}
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    assert got == want and len(want) == 80


def test_has_label_rules_stream(spark, tmp_path):
    """HasLabel is a stream-static broadcast join against the label
    snapshot — legal on streaming frames as-is."""
    from osprey_spark.turns import TURN_BINDINGS

    sml = """
ConvId: Entity[str] = EntityJson(type='ConvId', path='$.conv_id')
Watched = HasLabel(entity=ConvId, label='watch')
"""
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    os.makedirs(in_dir)
    t = generate_turns(spark, n_convs=4, turns_per_conv=3, hot_convs=0)
    t.coalesce(1).write.mode("append").parquet(in_dir)
    snap = spark.createDataFrame(
        [("ConvId", "conv_00000001", "watch", "added", 0, "2024-01-01 00:00:00")],
        "entity_type string, entity_id string, label string, status string, "
        "expires_at_unix long, mutation_ts string",
    ).withColumn("mutation_ts", F.col("mutation_ts").cast("timestamp"))

    rs = compile_ruleset({"main.sml": sml}, bindings=TURN_BINDINGS)
    eng = StreamingRuleEngine(
        spark, rs, in_dir, out_dir, passthrough=("conv_id", "turn_idx"), labels_df=snap
    )
    eng.run_to_completion()
    got = {(r["conv_id"], r["turn_idx"]): r["Watched"] for r in eng.results().collect()}
    assert len(got) == 12
    assert all(v == (c == "conv_00000001") for (c, _), v in got.items())


def test_multi_tee_curation_table(spark, tmp_path):
    """Rules + curation compose in ONE stream: a tee target derives a
    PII-scrubbed turns table from the rule output (TurnText feature)
    next to the verdict results table, under the shared commit log."""
    from osprey_spark.operators.curation import pii_scrub_col
    from osprey_spark.streaming.sink import MultiSink  # noqa: F401 (tee uses it)

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    os.makedirs(in_dir)
    t = generate_turns(spark, n_convs=6, turns_per_conv=5, hot_convs=0)
    # plant an email in one conversation's text
    t = t.withColumn(
        "text",
        F.when(
            (F.col("conv_id") == "conv_00000000") & (F.col("turn_idx") == 0),
            F.concat(F.col("text"), F.lit(" reach me at spam@evil.test")),
        ).otherwise(F.col("text")),
    )
    t.coalesce(1).write.mode("append").parquet(in_dir)

    def scrubbed_turns(df):
        return df.select(
            "conv_id", "turn_idx", pii_scrub_col(F.col("TurnText")).alias("scrubbed")
        )

    eng = StreamingRuleEngine(
        spark, _ruleset(), in_dir, out_dir,
        passthrough=("conv_id", "turn_idx"),
        tee={
            "results": (None, {"bucket_col": "conv_id", "n_buckets": 4}),
            "scrubbed": (scrubbed_turns, {"bucket_col": "conv_id", "n_buckets": 4}),
        },
    )
    eng.run_to_completion()
    scrubbed = {
        (r.conv_id, r.turn_idx): r.scrubbed
        for r in eng.sink.read_committed(spark, "scrubbed").collect()
    }
    assert len(scrubbed) == 30
    assert scrubbed[("conv_00000000", 0)].endswith("reach me at <EMAIL>")
    assert not any("@" in s for s in scrubbed.values())
    assert eng.sink.read_committed(spark, "results").count() == 30


def test_ingest_dedup_drops_redelivered_events(spark, tmp_path):
    """dedup_ids: an at-least-once upstream (Kafka redelivery /
    firehose replay) delivering the same event twice must evaluate it
    once — dropDuplicatesWithinWatermark keyed state keeps one copy
    per watermark horizon, across micro-batches."""
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    os.makedirs(in_dir)
    t = generate_turns(spark, n_convs=6, turns_per_conv=5, hot_convs=0)
    # file 1: all events; file 2: a full redelivery of the same events
    t.coalesce(1).write.mode("append").parquet(in_dir)
    t.coalesce(1).write.mode("append").parquet(in_dir)

    eng = StreamingRuleEngine(
        spark, _ruleset(), in_dir, out_dir,
        passthrough=("conv_id", "turn_idx"),
        max_files_per_trigger=1,           # redelivery lands in a LATER batch
        dedup_ids=("conv_id", "turn_idx"),
        dedup_watermark="1 hour",
    )
    eng.run_to_completion()
    rows = eng.results().select("conv_id", "turn_idx").collect()
    assert len(rows) == 30                              # not 60
    assert len({(r.conv_id, r.turn_idx) for r in rows}) == 30


class RecordingTableFormat:
    """Fake TableFormat for the Iceberg swap-point contract test: an
    in-memory table keyed by batch_id + an ordered call log. Mimics
    the two Iceberg operations the sink needs — replacePartitions
    (per-batch overwrite) and atomic snapshot commit."""

    def __init__(self):
        self.calls = []
        self.data = {}       # batch_id -> (rows, columns)
        self.commits = {}    # batch_id -> commit dict

    def overwrite_batch_partition(self, df, batch_id, partition_cols):
        rows = df.collect()  # the "file write"
        self.calls.append(("overwrite_partition", batch_id))
        self.data[batch_id] = ([tuple(r) for r in rows], df.columns)
        return {"partitions": {"": {"files": 1, "bytes": len(rows)}}}

    def commit(self, batch_id, commit):
        self.calls.append(("commit", batch_id))
        self.commits[batch_id] = commit

    def is_committed(self, batch_id):
        return batch_id in self.commits

    def committed_batches(self):
        return sorted(self.commits)

    def scan(self, spark, batches, merge_schema=False):
        rows, cols = [], None
        for b in batches:
            r, cols = self.data[b]
            rows.extend(r)
        return spark.createDataFrame(rows, cols)


def test_table_format_contract_maps_to_iceberg(spark):
    """The exactly-once sink drives ANY TableFormat through exactly
    the call sequence an Iceberg table commit needs (round-2 VERDICT
    #6: the swap point as tested code, not prose):
    per-batch partition overwrite, then atomic commit; replayed batch
    ids overwrite only their own partition; data written without a
    commit is invisible to readers."""
    fmt = RecordingTableFormat()
    sink = ExactlyOnceParquetSink("/unused", bucket_col=None, table_format=fmt)
    df1 = spark.createDataFrame([("a", 1), ("b", 2)], "conv_id string, n long")
    df2 = spark.createDataFrame([("c", 3)], "conv_id string, n long")

    sink.write_batch(df1, 0)
    assert fmt.calls == [("overwrite_partition", 0), ("commit", 0)]
    assert fmt.commits[0]["rows"] == 2 and "partitions" in fmt.commits[0]

    # crashed writer: data written, commit never reached -> invisible
    sink.write_data(df2, 1)
    assert fmt.calls[-1] == ("overwrite_partition", 1)
    assert sink.committed_batches() == [0]
    got = {tuple(r) for r in sink.read_committed(spark).collect()}
    assert got == {("a", 1), ("b", 2)}

    # replay of batch 0 (checkpoint retry) REPLACES its partition —
    # no dupes, other batches untouched
    sink.write_batch(df1, 0)
    assert fmt.calls[-2:] == [("overwrite_partition", 0), ("commit", 0)]
    assert sink.committed_batches() == [0]
    assert {tuple(r) for r in sink.read_committed(spark).collect()} == got

    # batch 1 retried to completion: scan = union of committed batches
    sink.write_batch(df2, 1)
    assert sink.committed_batches() == [0, 1]
    assert {tuple(r) for r in sink.read_committed(spark).collect()} == got | {("c", 3)}


def test_multi_tee_accepts_prebuilt_sink(spark, tmp_path):
    """MultiSink tee targets can be pre-constructed sink objects
    (round-2 ADVICE: the KafkaSink docstring promised this but no
    code path accepted one): a write_data-bearing object rides the
    shared commit log next to parquet tables."""
    from osprey_spark.streaming.sink import MultiSink

    class FakeProducer:  # KafkaSink-shaped: at-least-once, not readable
        def __init__(self):
            self.batches = []

        def write_data(self, df, batch_id):
            self.batches.append((batch_id, df.count()))
            return {"rows": None, "topic": "t"}

    producer = FakeProducer()
    ms = MultiSink(
        str(tmp_path / "tee"),
        {
            "verdicts": (None, {"bucket_col": None}),
            "topic": (None, producer),
        },
    )
    df = spark.createDataFrame([("a", 1)], "conv_id string, n long")
    ms.write_batch(df, 0)
    assert producer.batches == [(0, 1)]
    assert ms.committed_batches() == [0]
    assert ms.read_committed(spark, "verdicts").count() == 1
    with pytest.raises(TypeError, match="not a readable table sink"):
        ms.read_committed(spark, "topic")


def test_commit_marker_per_partition_lineage(spark, tmp_path):
    """North rule: per-partition lineage — commit markers record
    files/bytes per bucket partition of each batch."""
    import json as _json

    sink = ExactlyOnceParquetSink(str(tmp_path / "s"), n_buckets=4)
    df = spark.createDataFrame(
        [(f"c{i}", i) for i in range(40)], "conv_id string, turn_idx int"
    )
    sink.write_batch(df, 3)
    marker = _json.load(open(os.path.join(str(tmp_path / "s"), "_commits", "3.json")))
    parts = marker["partitions"]
    assert parts and all(k.startswith("_bucket=") for k in parts)
    assert sum(p["files"] for p in parts.values()) >= len(parts)
    assert all(p["bytes"] > 0 for p in parts.values())
    assert marker["rows"] == 40


def test_stream_asof_enrich_matches_batch(spark, tmp_path):
    """The streaming as-of (state-store latest-prior-right) emits
    exactly the batch asof_join rows, across multiple micro-batches
    with out-of-event-time file order."""
    from osprey_spark.operators.joins import asof_join
    from osprey_spark.streaming.state import stream_asof_enrich

    lt_dir, rt_dir = str(tmp_path / "lt"), str(tmp_path / "rt")
    # deterministic interleaved history: turns every 60s, verdicts on
    # some turns, three convs, one conv hot
    lrows, rrows = [], []
    for ci, conv in enumerate(("c1", "c2", "c3")):
        for i in range(12 if conv == "c1" else 5):
            sec = i * 60 + ci * 7
            lrows.append((conv, i, f"t-{conv}-{i}", f"2024-01-01 10:{sec // 60:02d}:{sec % 60:02d}"))
            if (i + ci) % 3 == 0:
                rrows.append((conv, f"v{ci}{i}", i % 2 == 0,
                              f"2024-01-01 10:{sec // 60:02d}:{sec % 60:02d}"))
    ldf = spark.createDataFrame(
        lrows, "conv_id string, turn_idx int, text string, ts_str string"
    ).select("conv_id", "turn_idx", "text", F.to_timestamp("ts_str").alias("ts"))
    rdf = spark.createDataFrame(
        rrows, "conv_id string, verdict string, block boolean, ts_str string"
    ).select("conv_id", "verdict", "block", F.to_timestamp("ts_str").alias("ts"))
    # two files per side -> maxFilesPerTrigger=1 interleaves batches;
    # split by parity of turn_idx so a later batch carries EARLIER ts
    ldf.filter(F.col("turn_idx") % 2 == 1).coalesce(1).write.parquet(lt_dir)
    ldf.filter(F.col("turn_idx") % 2 == 0).coalesce(1).write.mode("append").parquet(lt_dir)
    rdf.coalesce(1).write.parquet(rt_dir)

    ls = spark.readStream.schema(
        "conv_id string, turn_idx int, text string, ts timestamp"
    ).option("maxFilesPerTrigger", 1).parquet(lt_dir)
    rs = spark.readStream.schema(
        "conv_id string, verdict string, block boolean, ts timestamp"
    ).parquet(rt_dir)
    out = stream_asof_enrich(
        ls, rs, key="conv_id", right_cols=["verdict", "block"], horizon_s=10_000.0
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("asof_enrich")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.conv_id, r.turn_idx): (r.r_verdict, r.r_block, r.r_ts)
        for r in spark.sql("select * from asof_enrich").collect()
    }
    want = {
        (r.conv_id, r.turn_idx): (r.r_verdict, r.r_block, r.r_ts)
        for r in asof_join(
            ldf, rdf, on=["conv_id"], right_cols=["verdict", "block"]
        ).collect()
    }
    assert len(got) == len(lrows)
    assert got == want


@pytest.mark.parametrize("flavor", ["window", "cache"])
def test_stateful_rules_coalesced_single_bucket(spark, tmp_path, monkeypatch, flavor):
    """Key-coalescing stress: force ALL keys into ONE state bucket
    (OSPREY_WC_STATE_BUCKETS=1) so every micro-batch's state fn call
    must segment and fold MANY interleaved keys from a shared map —
    the multi-key-per-bucket path the production 1024-bucket config
    hits at real key cardinality. Streaming must still match batch
    per key, with descending-ts input across several convs."""
    from osprey_spark.turns import TURN_BINDINGS, with_envelope

    monkeypatch.setenv("OSPREY_WC_STATE_BUCKETS", "1")
    sml = {
        "window": """
K: str = JsonData(path='$.conv_id')
IsUser = JsonData(path='$.role') == 'user'
N = IncrementWindow(key=K, window_seconds=600.0, when_all=[IsUser])
""",
        "cache": """
K: str = JsonData(path='$.conv_id')
Text: str = JsonData(path='$.text')
IsUser = JsonData(path='$.role') == 'user'
CacheSetStr(key=K, value=Text, when_all=[IsUser], ttl_seconds=3600.0)
LastUserText = CacheGetStr(key=K, default='none')
""",
    }[flavor]
    out_col = {"window": "N", "cache": "LastUserText"}[flavor]
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    os.makedirs(in_dir)
    t = generate_turns(spark, n_convs=6, turns_per_conv=15, hot_convs=1)
    # two micro-batches split on EVENT TIME (batch 2 strictly later, so
    # no cross-batch late data muddies the equivalence — that caveat is
    # covered elsewhere); within each batch rows arrive ts-DESCENDING
    # with all keys interleaved in the single shared bucket
    mid = t.agg(
        F.percentile(F.col("ts").cast("long"), F.lit(0.5)).cast("long")
    ).collect()[0][0]
    sec = F.col("ts").cast("long")
    t.filter(sec <= mid).orderBy(F.col("ts").desc()).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    t.filter(sec > mid).orderBy(F.col("ts").desc()).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)

    def rs():
        return compile_ruleset({"main.sml": sml}, bindings=TURN_BINDINGS)

    eng = StreamingRuleEngine(
        spark, rs(), in_dir, out_dir, passthrough=("conv_id", "turn_idx"),
        max_files_per_trigger=1,
    )
    eng.run_to_completion()
    got = {
        (r["conv_id"], r["turn_idx"]): r[out_col] for r in eng.results().collect()
    }
    batch = rs().apply(
        with_envelope(spark.read.parquet(in_dir)),
        passthrough=["conv_id", "turn_idx"],
    )
    want = {(r["conv_id"], r["turn_idx"]): r[out_col] for r in batch.collect()}
    assert len(want) == t.count()  # hot conv inflates beyond 6x15
    assert got == want


def test_state_op_input_is_hoisted_narrow(spark, tmp_path):
    """Plan regression for state-op hoisting: the
    FlatMapGroupsInPandasWithState node's input must carry only
    (source columns + the op's dependency closure + __wc internals) —
    NOT the unrelated features defined before the op in source order.
    A regression here silently re-ships every feature through Arrow
    (the measured 2.5x stateful throughput loss)."""
    from osprey_spark.turns import TURN_BINDINGS, generate_turns, with_envelope
    from osprey_spark.streaming.pipeline import TURNS_SCHEMA

    sml = """
Big1 = StringLength(s=JsonData(path='$.text'))
Big2 = StringToLower(s=JsonData(path='$.text'))
Big3 = StringSplit(s=JsonData(path='$.text'), sep=' ')
WcKey: str = JsonData(path='$.conv_id')
N = IncrementWindow(key=WcKey, window_seconds=600.0)
Heavy = N >= 3
"""
    in_dir = str(tmp_path / "in")
    generate_turns(spark, n_convs=2, turns_per_conv=3, hot_convs=0).coalesce(
        1
    ).write.parquet(in_dir)
    stream = spark.readStream.schema(TURNS_SCHEMA).parquet(in_dir)
    rs = compile_ruleset({"main.sml": sml}, bindings=TURN_BINDINGS)
    out = rs.apply(with_envelope(stream), passthrough=["conv_id", "turn_idx"])
    plan = out._jdf.queryExecution().analyzed().toString()
    node = next(ln for ln in plan.splitlines() if "WithState" in ln)
    sig = node.split("]", 1)[0]
    assert "__f_WcKey" in sig  # the dep closure rides along
    for feature in ("__f_Big1", "__f_Big2", "__f_Big3"):
        assert feature not in sig, f"{feature} crossed the Arrow boundary"


def test_stream_asof_enrich_long_key_carries_state(spark, tmp_path):
    """Regression: JSON state-map keys are strings; a bigint key column
    must still find its carried entries in later micro-batches (the
    lookup stringifies to match json.dumps), and non-JSON-safe right
    column types are rejected up front."""
    from osprey_spark.streaming.state import stream_asof_enrich

    lt_dir, rt_dir = str(tmp_path / "lt"), str(tmp_path / "rt")
    # rights arrive in batch 1 (early ts); lefts arrive in batch 2 with
    # later ts -> every match must come from carried state
    rdf = spark.createDataFrame(
        [(7, "v1", "2024-01-01 10:00:00")], "uid long, verdict string, ts_str string"
    ).select("uid", "verdict", F.to_timestamp("ts_str").alias("ts"))
    ldf = spark.createDataFrame(
        [(7, 1, "2024-01-01 10:05:00"), (7, 2, "2024-01-01 10:06:00")],
        "uid long, seq int, ts_str string",
    ).select("uid", "seq", F.to_timestamp("ts_str").alias("ts"))
    rdf.coalesce(1).write.parquet(rt_dir)
    # two left files -> seq 2 arrives in micro-batch 2, where its only
    # possible match is the CARRIED state entry (rights were all
    # consumed in batch 1)
    ldf.filter(F.col("seq") == 1).coalesce(1).write.mode("append").parquet(lt_dir)
    ldf.filter(F.col("seq") == 2).coalesce(1).write.mode("append").parquet(lt_dir)
    ls = spark.readStream.schema("uid long, seq int, ts timestamp").option(
        "maxFilesPerTrigger", 1
    ).parquet(lt_dir)
    rs = spark.readStream.schema("uid long, verdict string, ts timestamp").parquet(rt_dir)
    out = stream_asof_enrich(ls, rs, key="uid", right_cols=["verdict"])
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("asof_longkey")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r.seq: r.r_verdict for r in spark.sql("select * from asof_longkey").collect()}
    assert got == {1: "v1", 2: "v1"}

    with pytest.raises(ValueError, match="JSON state round trip"):
        stream_asof_enrich(ls, rs.withColumn("when", F.col("ts")), key="uid",
                           right_cols=["verdict", "when"])


def test_window_counter_state_survives_checkpoint_restart(spark, tmp_path):
    """North rule: resumable from checkpoint. The bucketed window-
    counter state (per-bucket JSON map in the state store) must carry
    across an engine RESTART: rows arriving after the resume count
    increments persisted by the previous run."""
    from osprey_spark.turns import TURN_BINDINGS

    sml = """
K: str = JsonData(path='$.conv_id')
N = IncrementWindow(key=K, window_seconds=3600.0)
"""
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    os.makedirs(in_dir)
    rows1 = [("c1", 0, "user", "a", None, "2024-01-01 10:00:00"),
             ("c1", 1, "user", "b", None, "2024-01-01 10:05:00")]
    rows2 = [("c1", 2, "user", "c", None, "2024-01-01 10:10:00"),
             ("c2", 0, "user", "d", None, "2024-01-01 10:11:00")]
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts_str string"

    def write(rows):
        (spark.createDataFrame(rows, schema)
         .select("conv_id", "turn_idx", "role", "text", "tool",
                 F.to_timestamp("ts_str").alias("ts"))
         .coalesce(1).write.mode("append").parquet(in_dir))

    def run():
        eng = StreamingRuleEngine(
            spark, compile_ruleset({"main.sml": sml}, bindings=TURN_BINDINGS),
            in_dir, out_dir, passthrough=("conv_id", "turn_idx"),
        )
        eng.run_to_completion()
        return eng

    write(rows1)
    run()
    write(rows2)
    eng = run()  # fresh engine object, same checkpoint + state store
    got = {(r["conv_id"], r["turn_idx"]): r["N"] for r in eng.results().collect()}
    # c1 turn 2 arrives post-restart: its in-window count must include
    # the two increments persisted by the FIRST run
    assert got == {("c1", 0): 1, ("c1", 1): 2, ("c1", 2): 3, ("c2", 0): 1}


def test_window_counter_under_rocksdb_state_store(spark, tmp_path):
    """The 10^12-turn state path: Spark's bundled RocksDB state store
    provider (changelog-checkpointable on a real cluster) must produce
    exactly the HDFS-backed provider's counts for the bucketed
    window-counter op."""
    from osprey_spark.turns import TURN_BINDINGS, with_envelope

    sml = """
K: str = JsonData(path='$.conv_id')
N = IncrementWindow(key=K, window_seconds=600.0)
"""
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    t = generate_turns(spark, n_convs=4, turns_per_conv=6, hot_convs=1)
    t.coalesce(1).write.mode("append").parquet(in_dir)

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        eng = StreamingRuleEngine(
            spark,
            compile_ruleset({"main.sml": sml}, bindings=TURN_BINDINGS),
            in_dir,
            str(tmp_path / "out"),
            passthrough=("conv_id", "turn_idx"),
        )
        eng.run_to_completion()
        got = {
            (r["conv_id"], r["turn_idx"]): r["N"] for r in eng.results().collect()
        }
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    batch = compile_ruleset({"main.sml": sml}, bindings=TURN_BINDINGS).apply(
        with_envelope(spark.read.parquet(in_dir)), passthrough=["conv_id", "turn_idx"]
    )
    want = {(r["conv_id"], r["turn_idx"]): r["N"] for r in batch.collect()}
    assert len(got) == t.count()
    assert got == want


def test_stream_stream_left_outer_join(spark, tmp_path):
    """left_outer keeps unmatched turns: once the watermark clears a
    turn's join window, it emits with NULL verdicts — the audit-trail
    shape. Matched rows are identical to the inner join's."""
    from osprey_spark.streaming.windows import join_verdicts_to_turns

    t_dir = str(tmp_path / "t")
    v_dir = str(tmp_path / "v")

    def _write(rows, schema, path, mode):
        spark.createDataFrame(rows, schema).selectExpr(
            *[c.split(" ")[0] for c in schema.split(", ") if not c.startswith("ts_str")],
            "to_timestamp(ts_str) as " + ("ts" if path == t_dir else "v_ts"),
        ).coalesce(1).write.mode(mode).parquet(path)

    t_schema = "conv_id string, turn_idx int, text string, ts_str string"
    v_schema = "conv_id string, turn_idx int, verdicts array<string>, ts_str string"
    _write(
        [
            ("a", 0, "hello there", "2024-01-01 10:00:00"),
            ("a", 1, "no verdict for me", "2024-01-01 10:00:30"),
            ("b", 0, "hello again", "2024-01-01 10:01:00"),
        ],
        t_schema,
        t_dir,
        "overwrite",
    )
    _write(
        [
            ("a", 0, ["hello"], "2024-01-01 10:00:05"),
            ("b", 0, ["hello"], "2024-01-01 10:01:05"),
        ],
        v_schema,
        v_dir,
        "overwrite",
    )

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def run():
        ts = spark.readStream.schema(
            "conv_id string, turn_idx int, text string, ts timestamp"
        ).parquet(t_dir)
        vs = spark.readStream.schema(
            "conv_id string, turn_idx int, verdicts array<string>, v_ts timestamp"
        ).parquet(v_dir)
        q = (
            join_verdicts_to_turns(
                ts, vs, watermark="1 minutes", join_window_seconds=60, how="left_outer"
            )
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.parquet(out).collect()

    first = run()
    matched = {(r.conv_id, r.turn_idx) for r in first if r.verdicts is not None}
    assert matched == {("a", 0), ("b", 0)}
    # the unmatched turn is still held in join state (watermark has
    # not cleared its window), so no null row yet
    assert all(r.verdicts is not None for r in first)

    # advance BOTH streams' watermarks past 10:00:30 + 60s + 1m delay
    _write([("z", 0, "late turn", "2024-01-01 10:30:00")], t_schema, t_dir, "append")
    _write([("z", 9, ["x"], "2024-01-01 10:30:00")], v_schema, v_dir, "append")
    second = run()
    nulls = {(r.conv_id, r.turn_idx) for r in second if r.verdicts is None}
    assert ("a", 1) in nulls
    a1 = [r for r in second if (r.conv_id, r.turn_idx) == ("a", 1)][0]
    assert a1.text == "no verdict for me"  # per-turn text preserved

    with pytest.raises(ValueError):
        join_verdicts_to_turns(None, None, how="full_outer")


@pytest.mark.parametrize("fmt_name", ["parquet_markers", "sqlite_manifest"])
def test_snapshot_time_travel(spark, tmp_path, fmt_name):
    """Iceberg VERSION AS OF analogue: read_snapshot(as_of) returns
    exactly the union of batches committed with id <= as_of; a data
    write whose commit marker never landed is invisible at every
    snapshot; snapshot_history surfaces the commit metadata.

    Parameterized over BOTH TableFormat implementations (marker-file
    renames vs the ACID SQLite manifest catalog) — the same invariant
    suite over two structurally different commit layers is the n=2
    evidence for the Iceberg swap-point claim."""
    from osprey_spark.streaming.sink import SqliteManifestFormat

    root = str(tmp_path / "tt")
    fmt = SqliteManifestFormat(root) if fmt_name == "sqlite_manifest" else None
    sink = ExactlyOnceParquetSink(root, bucket_col=None, table_format=fmt)

    def batch(tag, n):
        return spark.range(n).select(
            F.lit(tag).alias("tag"), F.col("id").cast("long").alias("v")
        )

    sink.write_batch(batch("b0", 3), 0)
    sink.write_batch(batch("b1", 4), 1)
    # crashed writer: data files land, marker does not
    sink.write_data(batch("crash", 9), 2)
    sink.write_batch(batch("b3", 5), 3)

    assert sink.read_snapshot(spark, 0).count() == 3
    assert sink.read_snapshot(spark, 1).count() == 7
    as_of_2 = sink.read_snapshot(spark, 2)  # batch 2 uncommitted
    assert as_of_2.count() == 7
    assert as_of_2.filter(F.col("tag") == "crash").count() == 0
    assert sink.read_snapshot(spark, 3).count() == 12
    assert sink.read_committed(spark).count() == 12

    hist = sink.snapshot_history()
    assert [h["batch_id"] for h in hist] == [0, 1, 3]
    assert all("partitions" in h and "committed_at_unix" in h for h in hist)

    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        sink.read_snapshot(spark, -1)


@pytest.mark.parametrize("fmt_name", ["parquet_markers", "sqlite_manifest"])
def test_table_format_invariants_both_formats(spark, tmp_path, fmt_name):
    """The three contract invariants (TableFormat docstring) driven
    directly against each implementation: (1) per-batch overwrite is
    idempotent and isolated, (2) a commit flips visibility atomically
    and at-most-once, (3) scan() is exactly the committed union."""
    from osprey_spark.streaming.sink import ParquetDirFormat, SqliteManifestFormat

    root = str(tmp_path / "fmt")
    fmt = (
        SqliteManifestFormat(root)
        if fmt_name == "sqlite_manifest"
        else ParquetDirFormat(root)
    )

    def df(tag, n):
        return spark.range(n).select(
            F.lit(tag).alias("tag"), F.col("id").cast("long").alias("v")
        )

    # (1) idempotent + isolated overwrite
    fmt.overwrite_batch_partition(df("a", 3), 0, [])
    fmt.overwrite_batch_partition(df("b", 4), 1, [])
    fmt.overwrite_batch_partition(df("a2", 5), 0, [])  # replay batch 0
    assert not fmt.is_committed(0) and not fmt.is_committed(1)

    # (2) commit visibility flips exactly at commit()
    fmt.commit(0, {"batch_id": 0, "rows": 5})
    assert fmt.is_committed(0) and not fmt.is_committed(1)
    assert fmt.committed_batches() == [0]
    fmt.commit(1, {"batch_id": 1, "rows": 4})
    assert fmt.committed_batches() == [0, 1]

    # (3) scan = committed union; replayed batch 0 shows ONLY its
    # replacement rows (overwrite replaced, never appended), batch 1
    # untouched by the replay
    out = fmt.scan(spark, fmt.committed_batches())
    tags = {r["tag"] for r in out.collect()}
    assert tags == {"a2", "b"}
    assert out.count() == 9

    # commit metadata roundtrip
    assert fmt.commit_metadata(1)["rows"] == 4

    # replayed COMMIT is idempotent too (metadata follows the data)
    fmt.commit(0, {"batch_id": 0, "rows": 5, "replayed": True})
    assert fmt.committed_batches() == [0, 1]
    assert fmt.commit_metadata(0).get("replayed") is True
