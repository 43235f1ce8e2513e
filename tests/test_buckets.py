"""Adaptive state-bucket resolution (round-5: the 1024 constant becomes
plan-time ``max(32*cores, ceil(n_keys/4096))`` with env pin and a
checkpoint-stability guard — streaming/buckets.py), and the bucket
layout's label rule, which is part of the checkpoint format."""

import hashlib
import json
import os
import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from osprey_spark.streaming.buckets import (
    BALANCED,
    BUCKETS_PER_CORE,
    IDENTITY,
    BucketLayout,
    bucket_labels,
    murmur3_int,
    record_layout,
    recorded_layout,
    state_bucket_count,
)


def test_env_pin_wins(monkeypatch):
    monkeypatch.setenv("OSPREY_WC_STATE_BUCKETS", "77")
    assert state_bucket_count() == 77
    assert state_bucket_count(n_keys=10**9) == 77


def test_scales_with_session_cores(spark, monkeypatch):
    monkeypatch.delenv("OSPREY_WC_STATE_BUCKETS", raising=False)
    cores = spark.sparkContext.defaultParallelism
    assert state_bucket_count() == BUCKETS_PER_CORE * cores


def test_key_cardinality_raises_floor(spark, monkeypatch):
    monkeypatch.delenv("OSPREY_WC_STATE_BUCKETS", raising=False)
    floor = BUCKETS_PER_CORE * spark.sparkContext.defaultParallelism
    assert state_bucket_count(n_keys=1) == floor
    # 100M keys need > floor buckets to keep per-bucket maps bounded
    assert state_bucket_count(n_keys=100_000_000) == max(floor, 24415)


def test_sidecar_records_once(tmp_path):
    ck = str(tmp_path / "ckpt")
    assert recorded_layout(ck) is None
    first = record_layout(ck, 512).n
    assert first == 512
    # later calls (even with a different resolution) return the record
    assert record_layout(ck, 2048).n == 512
    assert recorded_layout(ck).n == 512


def test_pre_sidecar_checkpoint_records_historical_count(spark, tmp_path, monkeypatch):
    """A checkpoint that already ran before the sidecar existed was
    bucketed by the historical 1024 constant: that is what gets
    recorded, not the current per-core resolution."""
    monkeypatch.delenv("OSPREY_WC_STATE_BUCKETS", raising=False)
    assert state_bucket_count() != 1024  # the session resolves per core
    for marker in ("offsets", "commits"):
        ck = tmp_path / marker
        (ck / marker).mkdir(parents=True)
        assert record_layout(str(ck)).n == 1024
        assert recorded_layout(str(ck)).n == 1024
    # a fresh checkpoint dir records the current resolution
    assert record_layout(str(tmp_path / "fresh")).n == state_bucket_count()


def test_engine_refuses_resized_restart(spark, tmp_path, monkeypatch):
    """Resuming a checkpoint under a different resolved bucket count
    must fail loudly, not silently strand state."""
    from osprey_spark.compiler import compile_ruleset
    from osprey_spark.streaming.pipeline import StreamingRuleEngine
    from osprey_spark.turns import TURN_BINDINGS

    monkeypatch.setenv("OSPREY_WC_STATE_BUCKETS", "64")
    sml = (
        "TurnText: str = JsonData(path='$.text', required=False)\n"
        "R = Rule(when_all=[StringContains(s=TurnText, phrase='x')], description='d')\n"
        "WhenRules(rules_any=[R], then=[DeclareVerdict(verdict='v')])\n"
    )
    rs = compile_ruleset({"main.sml": sml}, bindings=TURN_BINDINGS)
    out = str(tmp_path / "out")
    eng = StreamingRuleEngine(spark, rs, input_dir="unused", output_dir=out)
    assert recorded_layout(eng.checkpoint_dir).n == 64
    monkeypatch.setenv("OSPREY_WC_STATE_BUCKETS", "128")
    with pytest.raises(ValueError, match="64"):
        StreamingRuleEngine(spark, rs, input_dir="unused", output_dir=out)


# --------------------------------------------------------------------------
# bucket labels: bucket b groups under label[b] (the checkpoint format)
# --------------------------------------------------------------------------


def test_murmur3_matches_spark_hash(spark):
    """``murmur3_int`` is Spark's ``hash()`` of an int, the hash that
    places a group on a state partition."""
    edges = [-(2**31), -(2**31) + 1, -123456789, 123456789, 2**31 - 2, 2**31 - 1]
    df = spark.range(-1000, 1000).select(F.col("id").cast("int").alias("v")).union(
        spark.createDataFrame([(v,) for v in edges], "v int")
    )
    rows = df.select("v", F.hash("v").alias("h")).collect()
    assert len(rows) == 2006
    assert [r["h"] for r in rows] == [murmur3_int(r["v"]) for r in rows]


@pytest.mark.parametrize("n", [8, 128, 1024])
def test_balanced_labels_give_every_task_n_over_p_buckets(spark, n):
    """Spark's own ``pmod(hash(label), P)`` puts exactly n/P labels in
    each of P partitions, for every P that divides n (P = n: label b
    hashes to bucket b)."""
    labels = bucket_labels(n)
    assert len(set(labels)) == n and min(labels) >= 0
    divisors = [p for p in range(1, n + 1) if n % p == 0]
    rows = (
        spark.createDataFrame([(label,) for label in labels], "l int")
        .select(*[F.pmod(F.hash("l"), F.lit(p)).alias(f"p{p}") for p in divisors])
        .collect()
    )
    assert [r[f"p{n}"] for r in rows] == list(range(n))
    for p in divisors:
        assert Counter(r[f"p{p}"] for r in rows) == {i: n // p for i in range(p)}


def test_label_table_is_pinned():
    """Recorded when balanced labels entered the checkpoint format: a
    drifted table would strand every key's state in its old group."""
    assert bucket_labels(128)[:16] == (
        273, 94, 57, 85, 328, 29, 90, 35, 14, 227, 191, 7, 177, 192, 28, 0
    )
    digest = hashlib.sha256(",".join(map(str, bucket_labels(4096))).encode()).hexdigest()
    assert digest[:16] == "fba819a688748d21"
    assert BucketLayout(128).table() is None
    assert BucketLayout(128, BALANCED).table() == bucket_labels(128)


def test_sidecar_label_field(tmp_path, monkeypatch):
    """A new checkpoint records balanced labels; a sidecar without the
    field and a checkpoint that ran without a sidecar read as identity
    labels; an unknown rule refuses to resume."""
    monkeypatch.delenv("OSPREY_WC_STATE_BUCKETS", raising=False)
    fresh = tmp_path / "fresh"
    assert record_layout(str(fresh), 64) == BucketLayout(64, BALANCED)
    assert json.loads((fresh / "state_buckets.json").read_text()) == {
        "state_buckets": 64,
        "bucket_labels": BALANCED,
    }
    old = tmp_path / "old_sidecar"
    old.mkdir()
    (old / "state_buckets.json").write_text('{"state_buckets": 8}')
    assert recorded_layout(str(old)) == BucketLayout(8, IDENTITY)
    assert record_layout(str(old), 64) == BucketLayout(8, IDENTITY)
    ran = tmp_path / "no_sidecar"
    (ran / "offsets").mkdir(parents=True)
    assert record_layout(str(ran)) == BucketLayout(1024, IDENTITY)
    assert recorded_layout(str(ran)) == BucketLayout(1024, IDENTITY)
    (tmp_path / "future").mkdir()
    (tmp_path / "future" / "state_buckets.json").write_text(
        '{"state_buckets": 8, "bucket_labels": "zigzag"}'
    )
    with pytest.raises(ValueError, match="zigzag"):
        recorded_layout(str(tmp_path / "future"))


_WINDOW_SML = (
    "K: str = JsonData(path='$.conv_id')\n"
    "N = IncrementWindow(key=K, window_seconds=3600.0)\n"
)


def _turns(spark):
    from osprey_spark.turns import generate_turns

    return generate_turns(spark, n_convs=200, turns_per_conv=6, hot_convs=0, late_fraction=0.0)


def _era_engine(spark, turns, in_dir, out_dir, lo):
    """Append turns [lo, lo+3) of every conversation to ``in_dir`` and
    build a new engine on ``out_dir``'s checkpoint."""
    from osprey_spark.compiler import compile_ruleset
    from osprey_spark.streaming.pipeline import StreamingRuleEngine
    from osprey_spark.turns import TURN_BINDINGS

    turns.filter((F.col("turn_idx") >= lo) & (F.col("turn_idx") < lo + 3)).coalesce(
        1
    ).write.mode("append").parquet(in_dir)
    return StreamingRuleEngine(
        spark,
        compile_ruleset({"main.sml": _WINDOW_SML}, bindings=TURN_BINDINGS),
        in_dir,
        out_dir,
        passthrough=("conv_id", "turn_idx"),
    )


def _assert_stream_equals_batch(spark, eng, in_dir):
    from osprey_spark.compiler import compile_ruleset
    from osprey_spark.turns import TURN_BINDINGS, with_envelope

    got = {(r["conv_id"], r["turn_idx"]): r["N"] for r in eng.results().collect()}
    batch = compile_ruleset({"main.sml": _WINDOW_SML}, bindings=TURN_BINDINGS).apply(
        with_envelope(spark.read.parquet(in_dir)), passthrough=["conv_id", "turn_idx"]
    )
    want = {(r["conv_id"], r["turn_idx"]): r["N"] for r in batch.collect()}
    assert len(want) == 1200 and got == want


def test_new_checkpoint_balances_state_and_resumes(spark, tmp_path, monkeypatch):
    """A new engine checkpoint records balanced labels, the state store
    holds bucket b's keys under label[b] on partition b mod P (n/P
    buckets a partition), and a restart resumes that state exactly."""
    from osprey_spark.streaming.inspect import read_state

    monkeypatch.setenv("OSPREY_WC_STATE_BUCKETS", "16")
    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    t = _turns(spark)
    eng = _era_engine(spark, t, in_dir, out_dir, 0)
    assert eng.state_layout == BucketLayout(16, BALANCED)
    assert recorded_layout(eng.checkpoint_dir) == BucketLayout(16, BALANCED)
    eng.run_to_completion()
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    placed = {
        (r["key"]["__fs_bkt"], r["partition_id"])
        for r in read_state(spark, eng.checkpoint_dir).collect()
    }
    labels = bucket_labels(16)
    assert {(labels[b], b % int(parts)) for b in range(16)} == placed
    eng = _era_engine(spark, t, in_dir, out_dir, 3)
    eng.run_to_completion()
    _assert_stream_equals_batch(spark, eng, in_dir)


def test_engine_layout_outlives_a_pin_change_before_planning(spark, tmp_path, monkeypatch):
    """The engine resolves the layout once: a bucket-count change after
    construction (here the env pin; on a cluster, a drifting
    defaultParallelism) does not reach the plan, and the recorded
    layout resumes exactly."""
    monkeypatch.setenv("OSPREY_WC_STATE_BUCKETS", "64")
    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")
    t = _turns(spark)
    eng = _era_engine(spark, t, in_dir, out_dir, 0)
    assert recorded_layout(eng.checkpoint_dir).n == 64
    monkeypatch.setenv("OSPREY_WC_STATE_BUCKETS", "32")
    plan = eng.transform(eng.source())._jdf.queryExecution().analyzed().toString()
    counts = re.findall(r"pmod\(xxhash64\(__fs_key#\d+, 42\), cast\((\d+) as bigint\)\)", plan)
    assert counts == ["64"]
    eng.run_to_completion()
    monkeypatch.setenv("OSPREY_WC_STATE_BUCKETS", "64")
    eng = _era_engine(spark, t, in_dir, out_dir, 3)
    eng.run_to_completion()
    _assert_stream_equals_batch(spark, eng, in_dir)
