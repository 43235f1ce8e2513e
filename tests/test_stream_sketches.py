"""Streaming windowed HLL: register merge in the state store.

Equivalence contract: after the stream consumes all input (split
mid-window across micro-batches), the latest changelog row per
(window, dim) slot equals the batch `hll_distinct` run over the same
rows grouped by the same derived window column — registers are a
max-merge of identical md5-derived integers, so the running estimate
converges to the batch estimate exactly.
"""

from __future__ import annotations

import os
import shutil

import pyspark.sql.functions as F
import pytest

from osprey_spark.operators.sketches import hll_distinct
from osprey_spark.streaming.sketches import (
    parse_delay_seconds,
    stream_drift_psi,
    stream_window_cms,
    stream_window_hist,
    stream_window_hll,
    stream_window_kmv,
    stream_window_weighted_sample,
)


def _turn_rows():
    # two 1-hour windows x two roles; conv ids overlap across windows
    # (distinct is per-slot) and repeat within a slot (HLL de-dups)
    rows = []
    for i in range(120):
        conv = f"c{i % 37}"
        role = "user" if i % 3 else "assistant"
        hour = 10 + (i // 60)
        ts = f"2024-01-01 {hour:02d}:{i % 60:02d}:00"
        rows.append((conv, i, role, f"text {i}", ts))
    return rows


def _df(spark):
    return spark.createDataFrame(
        _turn_rows(),
        "conv_id string, turn_idx int, role string, text string, ts_str string",
    ).select(
        "conv_id", "turn_idx", "role", "text", F.to_timestamp("ts_str").alias("ts")
    )


def test_parse_delay_seconds():
    assert parse_delay_seconds("30 minutes") == 1800
    assert parse_delay_seconds("2 hours") == 7200
    with pytest.raises(ValueError):
        parse_delay_seconds("soon")


def test_stream_window_hll_matches_batch(spark, tmp_path):
    df = _df(spark)
    src = str(tmp_path / "turns")
    # split mid-window so registers must merge across micro-batches
    df.filter(F.col("turn_idx") < 45).coalesce(1).write.parquet(src)
    df.filter(F.col("turn_idx") >= 45).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(
            "conv_id string, turn_idx int, role string, text string, ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream_window_hll(stream, window_seconds=3600, watermark="10 minutes")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("hll_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emitted = spark.sql("select * from hll_stream").collect()
    assert emitted, "stream emitted nothing"
    latest = {}
    for r in emitted:
        k = (r.win_start, r.role)
        if k not in latest or r.upd_seq > latest[k].upd_seq:
            latest[k] = r

    ts_sec = F.col("ts").cast("long")
    win = (ts_sec - F.pmod(ts_sec, F.lit(3600))).alias("win_start")
    batch = hll_distinct(
        df.select(win, "role", "conv_id"), "conv_id", ["win_start", "role"]
    ).collect()
    want = {(r.win_start, r.role): (r.n_exact, r.hll_estimate) for r in batch}
    assert set(latest) == set(want)
    for k, r in latest.items():
        n_exact, est = want[k]
        assert r.hll_estimate == est, (k, r.hll_estimate, est)
        # sketch sanity: within the coarse error of m=256 registers
        assert abs(r.hll_estimate - n_exact) / max(n_exact, 1) < 0.35


def test_stream_windowed_topn_matches_batch(spark, tmp_path):
    """Streaming trending top-N: finalized windows (append-mode agg,
    all groups of a closing window land in one micro-batch) ranked in
    foreachBatch equal the batch windowed top-k for those windows."""
    from pyspark.sql import Window as W

    from osprey_spark.streaming.windows import rank_topn, stream_windowed_topn

    rows = []
    for i in range(180):
        hour = 10 + (i // 60)
        rows.append((f"c{i}", i, ["user", "assistant", "tool"][i % 3 if i % 7 else 2],
                     f"t{i}", f"2024-01-01 {hour:02d}:{i % 60:02d}:00"))
    # a much-later row pushes the watermark past all three hours
    rows.append(("zz", 999, "user", "late", "2024-01-01 18:00:00"))
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, ts_str string"
    ).select("conv_id", "turn_idx", "role", "text", F.to_timestamp("ts_str").alias("ts"))
    src = str(tmp_path / "turns")
    df.filter(F.col("turn_idx") < 90).coalesce(1).write.parquet(src)
    df.filter((F.col("turn_idx") >= 90) & (F.col("turn_idx") < 999)).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    df.filter(F.col("turn_idx") == 999).coalesce(1).write.mode("append").parquet(src)

    out_dir = str(tmp_path / "topn_out")

    def sink(batch_df, batch_id):
        ranked = rank_topn(batch_df, "role", k=2)
        ranked.write.mode("append").parquet(out_dir)

    stream = (
        spark.readStream.schema(
            "conv_id string, turn_idx int, role string, text string, ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream_windowed_topn(stream, "role", watermark="10 minutes")
        .writeStream.outputMode("append")
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.window_start, r.rank): (r.role, r.n)
        for r in spark.read.parquet(out_dir).collect()
    }
    # batch reference over the three CLOSED hours (the late row's own
    # window never finalizes — watermark stops at its event time)
    closed = df.filter(F.col("turn_idx") < 999)
    counts = (
        closed.groupBy(F.window(F.col("ts"), "1 hour").alias("w"), "role")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "role", "n")
    )
    want = {
        (r.window_start, r.rank): (r.role, r.n)
        for r in rank_topn(counts, "role", k=2).collect()
    }
    assert got == want and len({w for w, _ in got}) == 3


def test_stream_window_cms_matches_batch(spark, tmp_path):
    """Sum-merge sibling of the HLL test: after the stream consumes
    all input (split mid-window), the latest cms_n per (window, key)
    equals batch count_min_build + count_min_estimate over the same
    rows grouped by the same derived window — integer counter
    addition is exact in any arrival order."""
    from osprey_spark.operators.sketches import (
        count_min_build,
        count_min_estimate,
    )
    from osprey_spark.streaming.sketches import stream_window_cms

    df = _df(spark)
    src = str(tmp_path / "turns_cms")
    df.filter(F.col("turn_idx") < 45).coalesce(1).write.parquet(src)
    df.filter(F.col("turn_idx") >= 45).coalesce(1).write.mode("append").parquet(src)

    watch = ("c0", "c1", "c7", "c36", "nope")
    stream = (
        spark.readStream.schema(
            "conv_id string, turn_idx int, role string, text string, ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream_window_cms(
            stream,
            watch_keys=watch,
            window_seconds=3600,
            watermark="10 minutes",
            width=64,
            depth=4,
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("cms_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emitted = spark.sql("select * from cms_stream").collect()
    assert emitted, "stream emitted nothing"
    latest = {}
    for r in emitted:
        k = (r.win_start, r.key)
        if k not in latest or r.upd_seq > latest[k].upd_seq:
            latest[k] = r
    # batch replay: same derived window, same sketch params
    batch = df.withColumn(
        "win_start",
        (F.col("ts").cast("long") - F.pmod(F.col("ts").cast("long"), F.lit(3600))),
    )
    keys_df = spark.createDataFrame([(k,) for k in watch], "conv_id string")
    for win_start in {k[0] for k in latest}:
        rows = batch.filter(F.col("win_start") == win_start)
        sk = count_min_build(rows, "conv_id", width=64, depth=4)
        est = {
            r["conv_id"]: r["cms_n"]
            for r in count_min_estimate(
                sk, keys_df, "conv_id", width=64, depth=4
            ).collect()
        }
        for k in watch:
            assert latest[(win_start, k)].cms_n == est[k], (win_start, k)
    # the absent key reads 0 unless colliding; with width=64 collisions
    # may lift it — CMS never under-estimates, check the bound instead
    true_counts = {
        (r["win_start"], r["conv_id"]): r["n"]
        for r in batch.groupBy("win_start", "conv_id").agg(F.count("*").alias("n")).collect()
    }
    for (w, k), r in latest.items():
        assert r.cms_n >= true_counts.get((w, k), 0)


def test_stream_weighted_sample_matches_batch(spark, tmp_path):
    """Windowed streaming A-ES reservoir: after the stream consumes
    all input (split mid-window so the reservoir must min-k-merge
    across micro-batches, including displacement by later-arriving
    smaller keys), the latest reservoir per window is row-for-row
    identical — ids, weights, round-6 keys, rank order — to the batch
    weighted_sample stratified by the same derived window column."""
    from osprey_spark.operators.packing import weighted_sample
    from osprey_spark.streaming.sketches import stream_window_weighted_sample

    df = _df(spark)
    src = str(tmp_path / "turns_ws")
    df.filter(F.col("turn_idx") < 45).coalesce(1).write.parquet(src)
    df.filter(F.col("turn_idx") >= 45).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(
            "conv_id string, turn_idx int, role string, text string, ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream_window_weighted_sample(
            stream, k=5, window_seconds=3600, watermark="10 minutes"
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ws_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emitted = spark.sql("select * from ws_stream").collect()
    assert emitted, "stream emitted nothing"
    latest_seq = {}
    for r in emitted:
        latest_seq[r.win_start] = max(latest_seq.get(r.win_start, 0), r.upd_seq)
    got = {}
    for r in emitted:
        if r.upd_seq == latest_seq[r.win_start]:
            got.setdefault(r.win_start, []).append(r)
    for rows in got.values():
        rows.sort(key=lambda r: r.rank)
        assert len(rows) <= 5

    win = F.col("ts").cast("long") - F.pmod(F.col("ts").cast("long"), F.lit(3600))
    batch_docs = df.select(
        win.alias("win_start"),
        F.concat_ws(":", F.col("conv_id"), F.col("turn_idx").cast("string")).alias("sid"),
        F.length("text").alias("wchars"),
    )
    expected = weighted_sample(
        batch_docs, k=5, weight_col="wchars", id_col="sid", seed="ws1", by="win_start"
    ).collect()
    exp = {}
    for r in expected:
        exp.setdefault(r.win_start, []).append(r)
    assert set(exp) == set(got)
    for ws, exp_rows in exp.items():
        exp_rows.sort(key=lambda r: (r.sample_key, r.sid))
        got_rows = got[ws]
        assert [(g.sample_id, g.weight, g.sample_key) for g in got_rows] == [
            (e.sid, e.weight, e.sample_key) for e in exp_rows
        ]


def test_stream_window_hist_matches_batch(spark, tmp_path):
    """Vector-addition sibling of the HLL/CMS tests: after the stream
    consumes all input (split mid-window), the latest (est, n_rows)
    per (window, role, q_pct) equals batch hist_quantiles over the
    same rows grouped by the same derived window — histogram merge is
    integer bin addition, exact in any arrival order."""
    from osprey_spark.operators.sketches import hist_quantiles
    from osprey_spark.streaming.sketches import stream_window_hist

    df = _df(spark).withColumn("text_len", F.length("text"))
    src = str(tmp_path / "turns_hist")
    df.filter(F.col("turn_idx") < 45).coalesce(1).write.parquet(src)
    df.filter(F.col("turn_idx") >= 45).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(
            "conv_id string, turn_idx int, role string, text string,"
            " ts timestamp, text_len int"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream_window_hist(
            stream,
            "text_len",
            dim_cols=("role",),
            window_seconds=3600,
            watermark="10 minutes",
            q_pcts=(50, 95, 99),
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("hist_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emitted = spark.sql("select * from hist_stream").collect()
    assert emitted, "stream emitted nothing"
    latest = {}
    finals = 0
    for r in emitted:
        k = (r.win_start, r.role, r.q_pct)
        if k not in latest or r.upd_seq > latest[k].upd_seq:
            latest[k] = r
        finals += int(r.is_final)
    batch = df.withColumn(
        "win_start",
        (F.col("ts").cast("long") - F.pmod(F.col("ts").cast("long"), F.lit(3600))),
    )
    expect = {
        (r["win_start"], r["role"], r["q_pct"]): (r["est"], r["n_rows"])
        for r in hist_quantiles(
            batch, "text_len", ["win_start", "role"], (50, 95, 99)
        ).collect()
    }
    assert set(latest) == set(expect)
    for k, r in latest.items():
        assert (r.est, r.n_rows) == expect[k], k


def test_stream_window_kmv_matches_batch(spark, tmp_path):
    """Min-k-merge sibling: after the stream consumes all input
    (split mid-window), the latest set-operation estimates per window
    equal batch kmv_set_ops grouped by the same derived window —
    sorted-set-union-truncate is associative+commutative."""
    from osprey_spark.operators.sketches import kmv_set_ops
    from osprey_spark.streaming.sketches import stream_window_kmv

    df = _df(spark)
    src = str(tmp_path / "turns_kmv")
    df.filter(F.col("turn_idx") < 45).coalesce(1).write.parquet(src)
    df.filter(F.col("turn_idx") >= 45).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(
            "conv_id string, turn_idx int, role string, text string, ts timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    k = 16  # below the 37 distinct convs: exercises the estimator path
    q = (
        stream_window_kmv(
            stream,
            "conv_id",
            "role",
            "user",
            "assistant",
            window_seconds=3600,
            watermark="10 minutes",
            k=k,
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("kmv_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emitted = spark.sql("select * from kmv_stream").collect()
    assert emitted, "stream emitted nothing"
    latest = {}
    for r in emitted:
        if r.win_start not in latest or r.upd_seq > latest[r.win_start].upd_seq:
            latest[r.win_start] = r
    batch = df.withColumn(
        "win_start",
        (F.col("ts").cast("long") - F.pmod(F.col("ts").cast("long"), F.lit(3600))),
    )
    expect = {
        r["win_start"]: r
        for r in kmv_set_ops(
            batch,
            "conv_id",
            "role",
            "user",
            "assistant",
            k=k,
            group_cols=("win_start",),
        ).collect()
    }
    assert set(latest) == set(expect)
    for w, r in latest.items():
        e = expect[w]
        assert (
            r.est_a,
            r.est_b,
            r.est_union,
            r.est_jaccard,
            r.est_intersect,
        ) == (e.est_a, e.est_b, e.est_union, e.est_jaccard, e.est_intersect), w
        # saturated regime reached: est != exact somewhere
    assert any(
        latest[w].est_a != float(expect[w].exact_a) for w in latest
    ), "k too large — estimator branch never exercised"


_LIFECYCLE_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, v int, ts timestamp"
)

# each windowed sketch op over a tiny no-dim stream (10-minute watermark,
# 1-hour windows)
_WINDOW_SKETCHES = {
    "hll": lambda s: stream_window_hll(
        s, dim_cols=(), window_seconds=3600, watermark="10 minutes"
    ),
    "cms": lambda s: stream_window_cms(
        s, watch_keys=("c0", "c1", "c2"), window_seconds=3600, watermark="10 minutes"
    ),
    "kmv": lambda s: stream_window_kmv(
        s, "conv_id", "role", "user", "assistant", window_seconds=3600,
        watermark="10 minutes", k=2,
    ),
    "hist": lambda s: stream_window_hist(
        s, "v", window_seconds=3600, watermark="10 minutes", q_pcts=(50, 99)
    ),
    "weighted_sample": lambda s: stream_window_weighted_sample(
        s, k=3, window_seconds=3600, watermark="10 minutes"
    ),
    "drift_psi": lambda s: stream_drift_psi(
        s, "v", ref_bins={8: 2, 20: 1}, window_seconds=3600, watermark="10 minutes"
    ),
}


def _lifecycle_rows(first_idx, *hhmm_v):
    return [
        (f"c{(first_idx + i) % 5}", first_idx + i, ("user", "assistant")[i % 2],
         "x" * (1 + (first_idx + i) % 7), v, f"2024-01-01 {t}:00")
        for i, (t, v) in enumerate(hhmm_v)
    ]


def _reads(rows):
    """Changelog rows -> {(win_start, upd_seq, is_final): sorted reads}."""
    out = {}
    for r in rows:
        d = r.asDict()
        k = (d.pop("win_start"), d.pop("upd_seq"), d.pop("is_final"))
        out.setdefault(k, []).append(tuple(d.values()))
    return {k: sorted(v, key=repr) for k, v in out.items()}


@pytest.fixture()
def one_state_partition(spark):
    # a micro-batch of this tiny stateful stream takes ~1.6 s on one
    # state partition, ~2.3 s on the suite's default four
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "1")
    yield
    spark.conf.set("spark.sql.shuffle.partitions", prev)


@pytest.mark.parametrize("op", list(_WINDOW_SKETCHES))
def test_window_sketch_lifecycle(spark, tmp_path, one_state_partition, op):
    """One checkpoint, four runs: (1) a restart mid-window — the
    restored sketch merges the new rows, reading what one uninterrupted
    run reads; (2) a later row pushes the watermark past both earlier
    slots — each emits exactly one is_final read, equal to its last
    open read, and evicts; (3) a later-still row — no closed slot is
    emitted again."""
    import pandas as pd

    def run(name, rows):
        # pandas writes the input file in ~10 ms; a Spark write job
        # takes ~1 s, five times per case
        pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "v", "ts"])
        pdf = pdf.astype({"turn_idx": "int32", "v": "int32"})
        pdf["ts"] = pd.to_datetime(pdf["ts"]).dt.tz_localize("UTC")
        in_dir = tmp_path / f"in_{name}"
        in_dir.mkdir(exist_ok=True)
        pdf.to_parquet(in_dir / f"part-{len(list(in_dir.iterdir()))}.parquet",
                       index=False, coerce_timestamps="us")
        got = []
        q = (
            _WINDOW_SKETCHES[op](
                spark.readStream.schema(_LIFECYCLE_SCHEMA).parquet(str(in_dir))
            )
            .writeStream.outputMode("append")
            .foreachBatch(lambda df, _id: got.extend(df.collect()))
            .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return _reads(got)

    rows_a = _lifecycle_rows(0, ("10:00", 5), ("10:05", 40), ("11:00", 300), ("11:05", 7))
    # rows_a leave the watermark at 10:55, so rows_b are on time, and
    # rows_b leave it at 11:05, short of the 10:00 slot's 11:10 close
    rows_b = _lifecycle_rows(4, ("10:56", 12), ("10:58", 900), ("11:10", 60), ("11:15", 3))
    slots = {1704103200, 1704106800}  # 10:00 and 11:00

    run("s", rows_a)
    restarted = run("s", rows_b)
    once = run("ref", rows_a + rows_b)
    assert {k[0] for k in restarted} == slots
    last_open = {}
    for w in slots:
        assert restarted[(w, 2, False)] == once[(w, 1, False)], (op, w)
        last_open[w] = restarted[(w, 2, False)]

    late = run("s", _lifecycle_rows(8, ("14:00", 1)))
    for w in slots:
        emitted = [k for k in late if k[0] == w]
        assert emitted == [(w, 3, True)], (op, w, emitted)
        assert late[(w, 3, True)] == last_open[w], (op, w)

    later = run("s", _lifecycle_rows(9, ("15:00", 1)))
    assert later and not {k[0] for k in later} & slots, (op, sorted(later))


# tests/fixtures/window_hist_ckpt: a checkpoint (``ckpt/``) written by
# the per-op stream_window_hist that preceded the shared runner — state
# ``bins_json`` = json [{"<bin>": count}, upd_seq] per (win_start, role)
# — with dim_cols=("role",), q_pcts=(50, 99), a 10-minute watermark and
# 4 shuffle partitions over one batch (``in/``, hour 10: user v=10, 300,
# 7; assistant v=40). Its source log names the input as
# file:///fixture/in/...; the test points that at its own copy.
LEGACY_HIST_CKPT = os.path.join(
    os.path.dirname(__file__), "fixtures", "window_hist_ckpt"
)


def test_legacy_window_hist_checkpoint_resumes_exactly(spark, tmp_path):
    """Upgrade safety: the per-op hist checkpoint resumes on the shared
    runner — its string-keyed bins merge with new rows, exact counts."""
    import json

    shutil.copytree(LEGACY_HIST_CKPT, tmp_path, dirs_exist_ok=True)
    log = tmp_path / "ckpt" / "sources" / "0" / "0"
    log.write_text(log.read_text().replace("file:///fixture/", f"file://{tmp_path}/"))
    # the logged file keeps its logged mtime, so the source never
    # mistakes it for a new file
    entry = json.loads(log.read_text().splitlines()[1])
    seen = entry["path"][len("file://"):]
    os.utime(seen, (entry["timestamp"] / 1000, entry["timestamp"] / 1000))
    schema = "conv_id string, role string, v int, ts timestamp"
    (
        spark.createDataFrame(
            [("c5", "user", 1000, "2024-01-01 10:20:00"),
             ("c6", "assistant", 41, "2024-01-01 10:21:00")],
            "conv_id string, role string, v int, ts_str string",
        )
        .select("conv_id", "role", "v", F.to_timestamp("ts_str").alias("ts"))
        .coalesce(1)
        .write.mode("append")
        .parquet(str(tmp_path / "in"))
    )
    got = []
    q = (
        stream_window_hist(
            spark.readStream.schema(schema).parquet(str(tmp_path / "in")),
            "v", dim_cols=("role",), window_seconds=3600,
            watermark="10 minutes", q_pcts=(50, 99),
        )
        .writeStream.outputMode("append")
        .foreachBatch(lambda df, _id: got.extend(df.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert {
        (r.role, r.q_pct): (r.est, r.n_rows, r.upd_seq, r.is_final) for r in got
    } == {
        ("user", 50): (10, 4, 2, False),
        ("user", 99): (896, 4, 2, False),
        ("assistant", 50): (40, 2, 2, False),
        ("assistant", 99): (40, 2, 2, False),
    }


def test_stream_drift_psi_matches_batch(spark, tmp_path):
    """Drift sibling of the hist test: the latest (psi, ks) per
    (window, role) slot equals the batch drift computed via
    py_drift_metrics over the same rows — and py_drift_metrics itself
    is pinned to the oracle-checked batch drift_metrics by
    tests/test_drift.py. The fixed reference histogram comes from the
    first window's user rows (the 'last-known-good snapshot' shape)."""
    from osprey_spark.operators.sketches import (
        hist_table,
        py_drift_metrics,
    )
    from osprey_spark.streaming.sketches import stream_drift_psi

    df = _df(spark).withColumn("text_len", F.length("text"))
    ref = hist_table(
        df, F.col("text_len"), pred=F.col("turn_idx") < 30
    )
    src = str(tmp_path / "turns_drift")
    df.filter(F.col("turn_idx") < 45).coalesce(1).write.parquet(src)
    df.filter(F.col("turn_idx") >= 45).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(
            "conv_id string, turn_idx int, role string, text string,"
            " ts timestamp, text_len int"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream_drift_psi(
            stream,
            "text_len",
            ref_bins=ref,
            dim_cols=("role",),
            window_seconds=3600,
            watermark="10 minutes",
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("drift_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emitted = spark.sql("select * from drift_stream").collect()
    assert emitted, "stream emitted nothing"
    latest = {}
    for r in emitted:
        k = (r.win_start, r.role)
        if k not in latest or r.upd_seq > latest[k].upd_seq:
            latest[k] = r
    # batch replay: bin tables per (window, role) via hist_table on
    # the filtered frame, then the shared arithmetic
    win = (F.col("ts").cast("long") - F.pmod(F.col("ts").cast("long"), F.lit(3600)))
    slots = {
        (r.win_start, r.role)
        for r in df.select(win.alias("win_start"), "role").distinct().collect()
    }
    assert set(latest) == slots
    for (ws, role), r in latest.items():
        cur = hist_table(
            df,
            F.col("text_len"),
            pred=(win == F.lit(ws)) & (F.col("role") == role),
        )
        rn, cn, nb, psi, ks = py_drift_metrics(ref, cur)
        assert (r.ref_n, r.cur_n, r.n_bins) == (rn, cn, nb), (ws, role)
        assert r.psi == psi and r.ks == ks, (ws, role)
    # the first window saw rows in BOTH micro-batches (split at turn
    # 45 of 60) — its latest drift merged cross-batch state
    first = [r for r in emitted if r.win_start == min(s[0] for s in slots)]
    assert max(r.upd_seq for r in first) >= 2


def test_stream_cusum_matches_batch(spark, tmp_path):
    """stream_cusum over chunked micro-batches == batch cusum_drift
    with the same quantized reference, including a replayed hour
    (dropped by the last-applied guard)."""
    from osprey_spark.operators.forecast import cusum_drift
    from osprey_spark.streaming.sketches import stream_cusum

    base = [10, 11, 9, 10] * 6
    drift = [14] * 20
    series = base + drift
    rows = [(i * 3600, c) for i, c in enumerate(series)]

    bdf = spark.createDataFrame(rows, "hour_ts long, cnt long")
    batch = [
        (r["hour_ts"], r["cusum_q"])
        for r in cusum_drift(bdf, warmup=24).collect()
    ]
    assert batch, "fixture must alarm"

    # same reference the batch op derives from its warmup
    q = 10**6
    mu_q = sum(base) * q // 24
    k_q = mu_q * 10 // 100
    h_q = mu_q * 3

    src = str(tmp_path / "hourly")
    # three files split mid-drift + a REPLAY of an already-applied hour
    n = len(rows)
    spark.createDataFrame(rows[: n // 3], "hour_ts long, cnt long").coalesce(
        1
    ).write.parquet(src)
    spark.createDataFrame(
        rows[n // 3 : 2 * n // 3], "hour_ts long, cnt long"
    ).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(
        [rows[0]] + rows[2 * n // 3 :], "hour_ts long, cnt long"
    ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("hour_ts long, cnt long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    qy = (
        stream_cusum(stream, mu_q=mu_q, k_q=k_q, h_q=h_q)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("cusum_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    qy.awaitTermination()
    got = sorted(
        (r.hour_ts, r.cusum_q)
        for r in spark.sql("select * from cusum_stream").collect()
    )
    assert got == sorted(batch)


def test_stream_cusum_state_survives_checkpoint_restart(spark, tmp_path):
    """Kill after the first file, restart a NEW query on the same
    checkpoint: the four-int (p, pmin0, last_h, seq) state resumes
    through the state store and the post-restart alarms equal the
    batch tail — no re-alarm of pre-restart hours, no gap."""
    from osprey_spark.operators.forecast import cusum_drift
    from osprey_spark.streaming.sketches import stream_cusum

    base = [10, 11, 9, 10] * 6
    drift = [14] * 16
    series = base + drift
    rows = [(i * 3600, c) for i, c in enumerate(series)]
    q = 10**6
    mu_q = sum(base) * q // 24
    k_q = mu_q * 10 // 100
    h_q = mu_q * 3

    bdf = spark.createDataFrame(rows, "hour_ts long, cnt long")
    batch = sorted(
        (r["hour_ts"], r["cusum_q"])
        for r in cusum_drift(bdf, warmup=24).collect()
    )
    assert batch

    src = str(tmp_path / "hourly")
    ckpt = str(tmp_path / "ckpt")
    n = len(rows)
    spark.createDataFrame(rows[: n // 2], "hour_ts long, cnt long").coalesce(
        1
    ).write.parquet(src)

    out_dir = str(tmp_path / "alarms")

    def run():
        before = set()
        import os as _os

        if _os.path.isdir(out_dir):
            before = {
                (r.hour_ts, r.cusum_q)
                for r in spark.read.parquet(out_dir).collect()
            }
        stream = (
            spark.readStream.schema("hour_ts long, cnt long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        qy = (
            stream_cusum(stream, mu_q=mu_q, k_q=k_q, h_q=h_q)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        qy.awaitTermination()
        after = {
            (r.hour_ts, r.cusum_q)
            for r in spark.read.parquet(out_dir).collect()
        }
        return after - before

    first = run()

    # second half lands AFTER the first engine terminated
    spark.createDataFrame(
        rows[n // 2 :], "hour_ts long, cnt long"
    ).coalesce(1).write.mode("append").parquet(src)
    second = run()

    got = sorted(first | second)
    assert got == batch
    # restart processed only the new hours: no re-alarm of any
    # pre-restart hour
    assert not (first & second)
