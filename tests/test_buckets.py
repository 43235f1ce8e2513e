"""Adaptive state-bucket resolution (round-5: the 1024 constant becomes
plan-time ``max(32*cores, ceil(n_keys/4096))`` with env pin and a
checkpoint-stability guard — streaming/buckets.py)."""

import os

import pytest

from osprey_spark.streaming.buckets import (
    BUCKETS_PER_CORE,
    record_bucket_count,
    recorded_bucket_count,
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
    assert recorded_bucket_count(ck) is None
    first = record_bucket_count(ck, 512)
    assert first == 512
    # later calls (even with a different resolution) return the record
    assert record_bucket_count(ck, 2048) == 512
    assert recorded_bucket_count(ck) == 512


def test_pre_sidecar_checkpoint_records_historical_count(spark, tmp_path, monkeypatch):
    """A checkpoint that already ran before the sidecar existed was
    bucketed by the historical 1024 constant: that is what gets
    recorded, not the current per-core resolution."""
    monkeypatch.delenv("OSPREY_WC_STATE_BUCKETS", raising=False)
    assert state_bucket_count() != 1024  # the session resolves per core
    for marker in ("offsets", "commits"):
        ck = tmp_path / marker
        (ck / marker).mkdir(parents=True)
        assert record_bucket_count(str(ck)) == 1024
        assert recorded_bucket_count(str(ck)) == 1024
    # a fresh checkpoint dir records the current resolution
    assert record_bucket_count(str(tmp_path / "fresh")) == state_bucket_count()


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
    assert recorded_bucket_count(eng.checkpoint_dir) == 64
    monkeypatch.setenv("OSPREY_WC_STATE_BUCKETS", "128")
    with pytest.raises(ValueError, match="64"):
        StreamingRuleEngine(spark, rs, input_dir="unused", output_dir=out)
