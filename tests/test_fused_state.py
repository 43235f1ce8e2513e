"""State-op fusion: consecutive streaming window/seq state ops that
share one key expression resolve through a SINGLE
applyInPandasWithState pass (one exchange + one state-store
round-trip for N mechanisms).

Contract: fused output is identical to both the sequential unfused
streaming path and the batch plans; fusion must NOT engage across a
key change or a dependency on a fused op's output.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from osprey_spark.compiler import compile_ruleset
from osprey_spark.streaming.pipeline import StreamingRuleEngine
from osprey_spark.turns import TURN_BINDINGS, generate_turns, with_envelope


def _n_state_nodes(df) -> int:
    plan = df._jdf.queryExecution().analyzed().toString()
    return plan.count("FlatMapGroupsInPandasWithState")


def _n_fused_passes(df) -> int:
    """State nodes in the plan, asserting each groups by the fused
    pass's bucket column."""
    plan = df._jdf.queryExecution().analyzed().toString()
    nodes = [ln for ln in plan.splitlines() if "FlatMapGroupsInPandasWithState" in ln]
    assert all("__fs_bkt" in ln for ln in nodes), nodes
    return len(nodes)


def _stream_vs_batch(spark, tmp_path, sml, feature_cols):
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
        (r["conv_id"], r["turn_idx"]): tuple(r[c] for c in feature_cols)
        for r in eng.results().collect()
    }
    batch = rs().apply(
        with_envelope(spark.read.parquet(in_dir)),
        passthrough=["conv_id", "turn_idx"],
    )
    want = {
        (r["conv_id"], r["turn_idx"]): tuple(r[c] for c in feature_cols)
        for r in batch.collect()
    }
    assert got == want and len(want) == 80
    return rs, in_dir


FUSED_SML = """
K: str = JsonData(path='$.conv_id')
Role: str = JsonData(path='$.role')
Ti: int = JsonData(path='$.turn_idx')
IsUser = Role == 'user'
NShort = IncrementWindow(key=K, window_seconds=120.0, when_all=[IsUser])
NLong = IncrementWindow(key=K, window_seconds=3600.0)
ToolSeq = SequenceMatches(key=K, symbol=Role, pattern='at', last_k=4, order=Ti)
Bursty = NShort >= 2
"""


def test_fused_run_single_state_pass(spark, tmp_path):
    """Two window counters + one CEP pattern on the same key: ONE
    FlatMapGroupsInPandasWithState in the streaming plan, outputs
    equal to batch for every mechanism."""
    rs, in_dir = _stream_vs_batch(
        spark, tmp_path, FUSED_SML, ["NShort", "NLong", "ToolSeq", "Bursty"]
    )
    stream = spark.readStream.schema(
        spark.read.parquet(in_dir).schema
    ).parquet(in_dir)
    out = rs().apply(with_envelope(stream), passthrough=["conv_id", "turn_idx"])
    assert _n_state_nodes(out) == 1


DEP_SML = """
K: str = JsonData(path='$.conv_id')
Role: str = JsonData(path='$.role')
N1 = IncrementWindow(key=K, window_seconds=3600.0)
N2 = IncrementWindow(key=K, window_seconds=3600.0, when_all=[N1 >= 2])
"""


def test_fusion_breaks_on_dependency(spark, tmp_path):
    """The second counter's gate reads the first counter's output, so
    the ops cannot share a pass — and Spark supports only ONE
    applyInPandasWithState per streaming query: apply() must raise
    the engine's actionable error (naming both groups) instead of
    failing deep inside Spark at query start. Batch is unaffected."""
    import pytest

    rs = compile_ruleset({"main.sml": DEP_SML}, bindings=TURN_BINDINGS)
    t = generate_turns(spark, n_convs=2, turns_per_conv=6, hot_convs=0)
    batch = rs.apply(with_envelope(t), passthrough=["conv_id", "turn_idx"])
    rows = batch.select("N1", "N2").collect()
    assert len(rows) == 12 and all(r.N1 >= r.N2 for r in rows)

    in_dir = str(tmp_path / "in")
    t.coalesce(1).write.parquet(in_dir)
    stream = spark.readStream.schema(t.schema).parquet(in_dir)
    with pytest.raises(ValueError, match="N1.*N2|2 stateful passes"):
        rs.apply(with_envelope(stream), passthrough=["conv_id", "turn_idx"])


KEYS_SML = """
K: str = JsonData(path='$.conv_id')
R: str = JsonData(path='$.role')
NConv = IncrementWindow(key=K, window_seconds=3600.0)
NRole = IncrementWindow(key=R, window_seconds=3600.0)
"""


def test_fusion_breaks_on_key_change(spark, tmp_path):
    """Different key expressions cannot share a grouping, which in
    streaming means an unrunnable 2-pass plan: apply() raises the
    engine error up front. Batch evaluates both counters fine."""
    import pytest

    rs = compile_ruleset({"main.sml": KEYS_SML}, bindings=TURN_BINDINGS)
    t = generate_turns(spark, n_convs=2, turns_per_conv=6, hot_convs=0)
    batch = rs.apply(with_envelope(t), passthrough=["conv_id", "turn_idx"])
    rows = batch.select("NConv", "NRole").collect()
    assert len(rows) == 12 and all(r.NRole >= 1 and r.NConv >= 1 for r in rows)

    in_dir = str(tmp_path / "in")
    t.coalesce(1).write.parquet(in_dir)
    stream = spark.readStream.schema(t.schema).parquet(in_dir)
    with pytest.raises(ValueError, match="stateful passes"):
        rs.apply(with_envelope(stream), passthrough=["conv_id", "turn_idx"])


def test_fused_state_survives_restart(spark, tmp_path):
    """Kill after batch 1, restart on the same checkpoint: the fused
    composite state (both counters + the suffix) resumes and the
    final outputs still match batch."""
    sml = FUSED_SML
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    os.makedirs(in_dir)
    t = generate_turns(spark, n_convs=4, turns_per_conv=8, hot_convs=0, late_fraction=0.0)

    def rs():
        return compile_ruleset({"main.sml": sml}, bindings=TURN_BINDINGS)

    t.filter(F.col("turn_idx") < 4).coalesce(1).write.mode("append").parquet(in_dir)
    eng = StreamingRuleEngine(
        spark, rs(), in_dir, out_dir, passthrough=("conv_id", "turn_idx")
    )
    eng.run_to_completion()
    t.filter(F.col("turn_idx") >= 4).coalesce(1).write.mode("append").parquet(in_dir)
    eng2 = StreamingRuleEngine(
        spark, rs(), in_dir, out_dir, passthrough=("conv_id", "turn_idx")
    )
    eng2.run_to_completion()
    got = {
        (r["conv_id"], r["turn_idx"]): (r["NShort"], r["NLong"], r["ToolSeq"])
        for r in eng2.results().collect()
    }
    batch = rs().apply(
        with_envelope(spark.read.parquet(in_dir)),
        passthrough=["conv_id", "turn_idx"],
    )
    want = {
        (r["conv_id"], r["turn_idx"]): (r["NShort"], r["NLong"], r["ToolSeq"])
        for r in batch.collect()
    }
    assert got == want and len(want) == 32


CACHE_FUSED_SML = """
K: str = JsonData(path='$.conv_id')
Role: str = JsonData(path='$.role')
Text: str = JsonData(path='$.text')
Ti: int = JsonData(path='$.turn_idx')
IsUser = Role == 'user'
N = IncrementWindow(key=K, window_seconds=600.0, when_all=[IsUser])
CacheSetStr(key=K, value=Text, when_all=[IsUser], ttl_seconds=3600.0)
LastUserText = CacheGetStr(key=K, default='none')
ToolSeq = SequenceMatches(key=K, symbol=Role, pattern='at', last_k=4, order=Ti)
"""


def test_cache_fuses_with_other_state_ops(spark, tmp_path):
    """All THREE state-op families on one key — counter, Redis-style
    cache pairing, CEP suffix — stream through a single
    applyInPandasWithState and match batch exactly (incl. the cache's
    zadd-then-read write/probe ordering across micro-batches)."""
    rs, in_dir = _stream_vs_batch(
        spark, tmp_path, CACHE_FUSED_SML, ["N", "LastUserText", "ToolSeq"]
    )
    stream = spark.readStream.schema(
        spark.read.parquet(in_dir).schema
    ).parquet(in_dir)
    out = rs().apply(with_envelope(stream), passthrough=["conv_id", "turn_idx"])
    assert _n_state_nodes(out) == 1


CACHE_ALONE_SML = """
K: str = JsonData(path='$.conv_id')
Text: str = JsonData(path='$.text')
IsUser = JsonData(path='$.role') == 'user'
CacheSetStr(key=K, value=Text, when_all=[IsUser], ttl_seconds=3600.0)
LastUserText = CacheGetStr(key=K, default='none')
"""


def test_single_cache_streams_through_fused_pass(spark, tmp_path):
    """A lone same-key cache op is a fused pass of one and matches
    batch."""
    rs, in_dir = _stream_vs_batch(spark, tmp_path, CACHE_ALONE_SML, ["LastUserText"])
    stream = spark.readStream.schema(
        spark.read.parquet(in_dir).schema
    ).parquet(in_dir)
    out = rs().apply(with_envelope(stream), passthrough=["conv_id", "turn_idx"])
    assert _n_fused_passes(out) == 1


CACHE_CROSS_KEY_SML = """
K: str = JsonData(path='$.conv_id')
R: str = JsonData(path='$.role')
Text: str = JsonData(path='$.text')
CacheSetStr(key=R, value=Text, ttl_seconds=3600.0)
LastByRole = CacheGetStr(key=K, default='none')
N = IncrementWindow(key=K, window_seconds=600.0)
"""


def test_cross_key_cache_cannot_fuse(spark, tmp_path):
    """A cache whose writes key differently from its reads can only
    use the union resolver; combined with another state op that makes
    two passes -> the engine's actionable error."""
    import pytest

    rs = compile_ruleset({"main.sml": CACHE_CROSS_KEY_SML}, bindings=TURN_BINDINGS)
    t = generate_turns(spark, n_convs=2, turns_per_conv=6, hot_convs=0)
    in_dir = str(tmp_path / "in")
    t.coalesce(1).write.parquet(in_dir)
    stream = spark.readStream.schema(t.schema).parquet(in_dir)
    with pytest.raises(ValueError, match="stateful passes"):
        rs.apply(with_envelope(stream), passthrough=["conv_id", "turn_idx"])


NEW_FAMILIES_SML = """
K: str = JsonData(path='$.conv_id')
Tool: str = JsonData(path='$.tool')
T: str = JsonData(path='$.text')
L: int = StringLength(s=T)
NTools = GetUniqueCount(key=K, value=Tool, cap=3)
MaxLen = GetWindowMax(key=K, value=L, window_seconds=600.0)
MinLen = GetWindowMin(key=K, value=L, window_seconds=600.0)
Rpt = SeenBefore(key=K, value=Tool)
N = IncrementWindow(key=K, window_seconds=600.0)
Heat = GetDecayScore(key=K, halflife_seconds=600.0)
"""

_NEW_COLS = ["NTools", "MaxLen", "MinLen", "Rpt", "N", "Heat"]


def test_new_families_fuse_into_one_pass(spark, tmp_path):
    """unique + max + min + seen-before + counter + decay on one
    key: SIX mechanisms, ONE FlatMapGroupsInPandasWithState, outputs equal to
    batch for every mechanism."""
    rs, in_dir = _stream_vs_batch(spark, tmp_path, NEW_FAMILIES_SML, _NEW_COLS)
    stream = spark.readStream.schema(
        spark.read.parquet(in_dir).schema
    ).parquet(in_dir)
    out = rs().apply(with_envelope(stream), passthrough=["conv_id", "turn_idx"])
    assert _n_state_nodes(out) == 1


def test_new_families_survive_restart(spark, tmp_path):
    """Kill after batch 1, restart on the same checkpoint: the
    composite state (first-seen map, in-window entries, two-smallest
    pairs, counter deque, decay amounts) resumes and final outputs match batch."""
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    os.makedirs(in_dir)
    t = generate_turns(
        spark, n_convs=4, turns_per_conv=8, hot_convs=0, late_fraction=0.0
    )

    def rs():
        return compile_ruleset(
            {"main.sml": NEW_FAMILIES_SML}, bindings=TURN_BINDINGS
        )

    t.filter(F.col("turn_idx") < 4).coalesce(1).write.mode("append").parquet(in_dir)
    eng = StreamingRuleEngine(
        spark, rs(), in_dir, out_dir, passthrough=("conv_id", "turn_idx")
    )
    eng.run_to_completion()
    t.filter(F.col("turn_idx") >= 4).coalesce(1).write.mode("append").parquet(in_dir)
    eng2 = StreamingRuleEngine(
        spark, rs(), in_dir, out_dir, passthrough=("conv_id", "turn_idx")
    )
    eng2.run_to_completion()
    got = {
        (r["conv_id"], r["turn_idx"]): tuple(r[c] for c in _NEW_COLS)
        for r in eng2.results().collect()
    }
    batch = rs().apply(
        with_envelope(spark.read.parquet(in_dir)),
        passthrough=["conv_id", "turn_idx"],
    )
    want = {
        (r["conv_id"], r["turn_idx"]): tuple(r[c] for c in _NEW_COLS)
        for r in batch.collect()
    }
    assert got == want and len(want) == 32


# --------------------------------------------------------------------------
# fifteenth family: GetBurstiness
# --------------------------------------------------------------------------

BURST_SML = """
K: str = JsonData(path='$.conv_id')
ConvB = GetBurstiness(key=K)
N = IncrementWindow(key=K, window_seconds=3600.0)
Metronome = ConvB < -0.9
"""


def test_burstiness_batch_known_answer(spark):
    """Per-event B over a hand series matches a python replica of the
    running gap moments, including the 0.0 cold default, the
    metronome -1 limit, and tie-group sharing."""
    import datetime as dt
    import json
    import math

    t0 = dt.datetime(2025, 1, 1)
    # conv a: events at 0,10,20,30 (metronome); conv b: 0,0,5 (tie)
    rows = []
    for cid, offs in [("a", [0, 10, 20, 30]), ("b", [0, 0, 5])]:
        for i, off in enumerate(offs):
            rows.append(
                (cid, i, "user", "x", None, t0 + dt.timedelta(seconds=off))
            )
    del json  # envelope is derived by with_envelope, not hand-built
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx long, role string, text string,"
        " tool string, ts timestamp",
    )
    rs = compile_ruleset({"main.sml": BURST_SML}, bindings=TURN_BINDINGS)
    out = rs.apply(with_envelope(df), passthrough=["conv_id", "turn_idx"])
    got = {
        (r["conv_id"], r["turn_idx"]): r["ConvB"] for r in out.collect()
    }

    def replica(gaps):
        if not gaps:
            return 0.0
        n = len(gaps)
        mu = sum(gaps) / n
        var = max(0.0, sum(g * g for g in gaps) / n - mu * mu)
        sig = math.sqrt(var)
        return round((sig - mu) / (sig + mu), 6) if sig + mu > 0 else 0.0

    assert got[("a", 0)] == 0.0
    assert got[("a", 1)] == replica([10]) == -1.0
    assert got[("a", 3)] == replica([10, 10, 10]) == -1.0
    # conv b: ties at sec 0 share one value (one zero gap), then gap 5
    assert got[("b", 0)] == got[("b", 1)] == replica([0]) == 0.0
    assert got[("b", 2)] == replica([0, 5])


def test_burstiness_fuses_and_matches_batch(spark, tmp_path):
    """GetBurstiness + IncrementWindow on one key: ONE state pass,
    streaming outputs equal to batch for every event."""
    rs, in_dir = _stream_vs_batch(
        spark, tmp_path, BURST_SML, ["ConvB", "N", "Metronome"]
    )
    stream = spark.readStream.schema(
        spark.read.parquet(in_dir).schema
    ).parquet(in_dir)
    out = rs().apply(with_envelope(stream), passthrough=["conv_id", "turn_idx"])
    assert _n_state_nodes(out) == 1


def test_burstiness_survives_restart(spark, tmp_path):
    """Kill after batch 1, restart a NEW engine on the same
    checkpoint: the four-int gap-moment state resumes and every
    post-restart B equals the batch value."""
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    os.makedirs(in_dir)
    t = generate_turns(
        spark, n_convs=4, turns_per_conv=8, hot_convs=0, late_fraction=0.0
    )

    def rs():
        return compile_ruleset({"main.sml": BURST_SML}, bindings=TURN_BINDINGS)

    t.filter(F.col("turn_idx") < 4).coalesce(1).write.mode("append").parquet(in_dir)
    eng = StreamingRuleEngine(
        spark, rs(), in_dir, out_dir, passthrough=("conv_id", "turn_idx")
    )
    eng.run_to_completion()
    t.filter(F.col("turn_idx") >= 4).coalesce(1).write.mode("append").parquet(in_dir)
    eng2 = StreamingRuleEngine(
        spark, rs(), in_dir, out_dir, passthrough=("conv_id", "turn_idx")
    )
    eng2.run_to_completion()
    got = {
        (r["conv_id"], r["turn_idx"]): (r["ConvB"], r["N"], r["Metronome"])
        for r in eng2.results().collect()
    }
    batch = rs().apply(
        with_envelope(spark.read.parquet(in_dir)),
        passthrough=["conv_id", "turn_idx"],
    )
    want = {
        (r["conv_id"], r["turn_idx"]): (r["ConvB"], r["N"], r["Metronome"])
        for r in batch.collect()
    }
    assert got == want and len(want) == 32


# --------------------------------------------------------------------------
# singleton window / sequence ops: a fused pass of one
# --------------------------------------------------------------------------

SINGLE_WINDOW_SML = """
K: str = JsonData(path='$.conv_id')
N = IncrementWindow(key=K, window_seconds=3600.0)
"""

SINGLE_SEQ_SML = """
K: str = JsonData(path='$.conv_id')
Role: str = JsonData(path='$.role')
Ti: int = JsonData(path='$.turn_idx')
ToolSeq = SequenceMatches(key=K, symbol=Role, pattern='at', last_k=4, order=Ti)
"""

SINGLETONS = pytest.mark.parametrize(
    "sml,col",
    [(SINGLE_WINDOW_SML, "N"), (SINGLE_SEQ_SML, "ToolSeq")],
    ids=["window", "seq"],
)

_TURN_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts_str string"
)

ROWS1 = [
    ("c1", 0, "user", "a", None, "2024-01-01 10:00:00"),
    ("c1", 1, "assistant", "b", None, "2024-01-01 10:05:00"),
    ("c2", 0, "user", "e", None, "2024-01-01 10:06:00"),
]
ROWS2 = [
    ("c1", 2, "tool", "c", "exec", "2024-01-01 10:10:00"),
    ("c2", 1, "user", "d", None, "2024-01-01 10:11:00"),
]


def _write_rows(spark, in_dir, rows):
    (
        spark.createDataFrame(rows, _TURN_SCHEMA)
        .select(
            "conv_id", "turn_idx", "role", "text", "tool",
            F.to_timestamp("ts_str").alias("ts"),
        )
        .coalesce(1)
        .write.mode("append")
        .parquet(in_dir)
    )


@SINGLETONS
def test_singleton_stream_equals_batch(spark, tmp_path, sml, col):
    """A lone IncrementWindow / SequenceMatches streams through the
    fused pass (one state node, grouped by the fused bucket column)
    and equals batch across two micro-batches."""
    rs, in_dir = _stream_vs_batch(spark, tmp_path, sml, [col])
    stream = spark.readStream.schema(
        spark.read.parquet(in_dir).schema
    ).parquet(in_dir)
    out = rs().apply(with_envelope(stream), passthrough=["conv_id", "turn_idx"])
    assert _n_fused_passes(out) == 1


@SINGLETONS
def test_singleton_survives_checkpoint_restart(spark, tmp_path, sml, col):
    """Kill after batch 1, restart a new engine on the same
    checkpoint: the singleton's state resumes and the post-restart
    rows equal batch."""
    in_dir, out_dir = str(tmp_path / "in"), str(tmp_path / "out")

    def run():
        eng = StreamingRuleEngine(
            spark,
            compile_ruleset({"main.sml": sml}, bindings=TURN_BINDINGS),
            in_dir,
            out_dir,
            passthrough=("conv_id", "turn_idx"),
        )
        eng.run_to_completion()
        return eng

    _write_rows(spark, in_dir, ROWS1)
    run()
    _write_rows(spark, in_dir, ROWS2)
    got = {(r["conv_id"], r["turn_idx"]): r[col] for r in run().results().collect()}
    batch = compile_ruleset({"main.sml": sml}, bindings=TURN_BINDINGS).apply(
        with_envelope(spark.read.parquet(in_dir)), passthrough=["conv_id", "turn_idx"]
    )
    want = {(r["conv_id"], r["turn_idx"]): r[col] for r in batch.collect()}
    assert got == want and len(want) == 5
    if col == "N":
        assert got == {("c1", 0): 1, ("c1", 1): 2, ("c1", 2): 3, ("c2", 0): 1, ("c2", 1): 2}
    else:
        assert got[("c1", 2)] is True  # 'a' then 't' across the restart


# tests/fixtures/singleton_window_ckpt: a checkpoint (``ckpt/``) written
# by the former standalone streaming IncrementWindow resolver — state
# grouped by ``__wc_bkt`` in ``entries_json`` as a {key: deque} map —
# with SINGLE_WINDOW_SML, 8 state buckets and 4 shuffle partitions over
# one batch of ROWS1's three turns (``in/``: c1 at 10:00 and 10:05, c2
# at 10:06). Its source log names the input as
# file:///fixture/in/...; the test points that at its own copy.
LEGACY_SINGLETON_CKPT = os.path.join(
    os.path.dirname(__file__), "fixtures", "singleton_window_ckpt"
)


def test_legacy_singleton_window_checkpoint_resumes_exactly(spark, tmp_path, monkeypatch):
    """Upgrade safety: the standalone resolver's checkpoint resumes on
    the fused pass with exact counts, never with empty state."""
    import json

    monkeypatch.setenv("OSPREY_WC_STATE_BUCKETS", "8")
    shutil.copytree(LEGACY_SINGLETON_CKPT, tmp_path, dirs_exist_ok=True)
    log = tmp_path / "ckpt" / "sources" / "0" / "0"
    log.write_text(log.read_text().replace("file:///fixture/", f"file://{tmp_path}/"))
    # the logged file keeps its logged mtime, so the source never
    # mistakes it for a new file
    entry = json.loads(log.read_text().splitlines()[1])
    seen = entry["path"][len("file://"):]
    os.utime(seen, (entry["timestamp"] / 1000, entry["timestamp"] / 1000))
    in_dir = str(tmp_path / "in")
    _write_rows(spark, in_dir, ROWS2)
    eng = StreamingRuleEngine(
        spark,
        compile_ruleset({"main.sml": SINGLE_WINDOW_SML}, bindings=TURN_BINDINGS),
        in_dir,
        str(tmp_path / "out"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        passthrough=("conv_id", "turn_idx"),
    )
    eng.run_to_completion()
    got = {(r["conv_id"], r["turn_idx"]): r["N"] for r in eng.results().collect()}
    assert got == {("c1", 2): 3, ("c2", 1): 2}


# --------------------------------------------------------------------------
# ruleset hot-swap: the composite state is keyed by op identity
# --------------------------------------------------------------------------

_SWAP_KEY = "K: str = JsonData(path='$.conv_id')\n"
_N1 = "N1 = IncrementWindow(key=K, window_seconds=600.0)\n"
_N2 = "N2 = IncrementWindow(key=K, window_seconds=3600.0)\n"
_N3 = "N3 = IncrementWindow(key=K, window_seconds=86400.0)\n"


def test_hot_swap_keeps_unchanged_op_state(spark, tmp_path):
    """Restart the same checkpoint with an op added, then with an op
    removed: unchanged ops keep their state (equal to batch over the
    whole stream), the added op starts empty (equal to batch over the
    rows since it was added), and nothing reads another op's state."""
    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")
    t = generate_turns(spark, n_convs=4, turns_per_conv=9, hot_convs=0, late_fraction=0.0)

    def rs(sml):
        return compile_ruleset({"main.sml": _SWAP_KEY + sml}, bindings=TURN_BINDINGS)

    def stream(sml, era, lo):
        t.filter((F.col("turn_idx") >= lo) & (F.col("turn_idx") < lo + 3)).coalesce(
            1
        ).write.mode("append").parquet(in_dir)
        eng = StreamingRuleEngine(
            spark, rs(sml), in_dir, str(tmp_path / f"out{era}"),
            checkpoint_dir=ckpt, passthrough=("conv_id", "turn_idx"),
        )
        eng.run_to_completion()
        return {(r["conv_id"], r["turn_idx"]): r.asDict() for r in eng.results().collect()}

    def batch(sml, since):
        rows = spark.read.parquet(in_dir).filter(F.col("turn_idx") >= since)
        out = rs(sml).apply(with_envelope(rows), passthrough=["conv_id", "turn_idx"])
        return {(r["conv_id"], r["turn_idx"]): r.asDict() for r in out.collect()}

    stream(_N1 + _N2, 1, 0)
    era2 = stream(_N1 + _N2 + _N3, 2, 3)
    full, fresh = batch(_N1 + _N2 + _N3, 0), batch(_N3, 3)
    assert len(era2) == 12
    for k, row in era2.items():
        assert (row["N1"], row["N2"]) == (full[k]["N1"], full[k]["N2"])
        assert row["N3"] == fresh[k]["N3"]
    era3 = stream(_N2 + _N3, 3, 6)
    full, since_added = batch(_N2, 0), batch(_N3, 3)
    assert len(era3) == 12 and "N1" not in next(iter(era3.values()))
    for k, row in era3.items():
        assert row["N2"] == full[k]["N2"] and row["N3"] == since_added[k]["N3"]


def test_composite_state_layouts():
    """The stored composite state resolves per op by identity; the two
    older layouts resume only where they are unambiguous."""
    from osprey_spark.compiler.families import op_states

    ids, fams = ["window:a", "seq:b"], ["window", "seq"]
    assert op_states({}, ids, fams) == [{}, {}]
    assert op_states({"seq:b": {"k": "at"}, "gone:c": {"k": [1]}}, ids, fams) == [
        {}, {"k": "at"}
    ]
    # positional list: only at the same op count
    assert op_states([{"k": [5]}, {}], ids, fams) == [{"k": [5]}, {}]
    with pytest.raises(ValueError, match="positional list layout"):
        op_states([{"k": [5]}], ids, fams)
    # single-op {key: entry} map of the former standalone resolvers
    assert op_states({"k": [5, 6]}, ["window:a"], ["window"]) == [{"k": [5, 6]}]
    with pytest.raises(ValueError, match="single-op"):
        op_states({"k": [5, 6]}, ids, fams)
    with pytest.raises(ValueError, match="single-op"):
        op_states({"k": [5, 6]}, ["seq:b"], ["seq"])


def test_keyed_state_runner_owns_the_state_calls():
    """``applyInPandasWithState`` is called only by the keyed-state
    runner, the windowed sketch ops and CEP's response-absence timeout
    op: every other state op supplies a fold to the runner."""
    import ast
    import pathlib

    import osprey_spark

    root = pathlib.Path(osprey_spark.__file__).parent
    sites: dict = {}
    for path in sorted(root.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Attribute) and node.attr == "applyInPandasWithState":
                rel = path.relative_to(root).as_posix()
                sites[rel] = sites.get(rel, 0) + 1
    assert sites == {
        "streaming/keyed_state.py": 1,
        "streaming/sketches.py": 7,
        "operators/cep.py": 1,
    }
