"""Streaming sketch operators: mergeable sketch state per window.

The batch HLL (`operators/sketches.hll_distinct`) answers "how many
distinct conversations per hour/role" in the nightly scan; a safety
pipeline wants the same number WHILE the hour is still open — e.g. a
raid detector watching distinct-actor counts climb inside the current
window. HyperLogLog is the canonical streaming answer because its
state is a register-max: merging a micro-batch into the carried
registers is order-independent, so the running estimate after the
last batch is EXACTLY the batch estimate over the same prefix —
provable bit-for-bit on the registers, which the equivalence test
does.

Scale shape (100 TB stream): register assignment (md5 bucket + exact
binary-length rank) runs JVM-side per row; the stateful group key is
(window, dims...) — cardinality = windows x dim-values, NOT the key
cardinality being counted, so state is 256 small ints per open
window/dim slot and the shuffle is one exchange on the window/dim
key with no per-conversation state at all. A hot window/dim slot
serializes its register fold (inherent to any per-group sketch) but
carries only counts, never conversation payloads.

Lifecycle: watermark-driven, owned by `_window_sketch` for all six
windowed ops (each supplies only its projection, empty sketch, merge
and read). Open slots emit a changelog row per touching micro-batch
(`is_final=false`, monotone `upd_seq`); when the event-time watermark
passes window_end + the configured delay, the slot times out, emits
its closing row (`is_final=true`) and frees its state — the state
store never accumulates closed windows. The watermark also bounds
lateness: a row already behind the watermark (more than the delay
older than the latest event time seen) is dropped by Spark's stateful
filter before any merge, even while its window slot is still open. So
each op's "exact in any arrival order" equivalence holds for rows at
most `watermark` late. `stream_cusum` keeps its own call: it has no
window, no timeout and a typed four-long state.

No counterpart in the reference engine (its approx distinct counts
are Druid/ClickHouse-side, e.g. the TopN/timeseries paths the batch
analytics plans mirror); this is §2.6 streaming-extension territory.
"""

from __future__ import annotations

import json
import math
import re
from decimal import ROUND_HALF_UP, Decimal
from typing import Any, Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.sketches import _HLL_ALPHA_M2, _HLL_M

_Q6 = Decimal("0.000001")

_UNIT_SECONDS = {
    "second": 1,
    "seconds": 1,
    "minute": 60,
    "minutes": 60,
    "hour": 3600,
    "hours": 3600,
    "day": 86400,
    "days": 86400,
}


def parse_delay_seconds(delay: str) -> int:
    """'30 minutes' -> 1800. Mirrors the subset of Spark's interval
    grammar the pipeline uses; rejects anything else loudly."""
    m = re.fullmatch(r"\s*(\d+)\s+(\w+)\s*", delay)
    if not m or m.group(2) not in _UNIT_SECONDS:
        raise ValueError(f"unsupported delay spec: {delay!r}")
    return int(m.group(1)) * _UNIT_SECONDS[m.group(2)]


def _round6(x: float) -> float:
    # replicate Spark F.round(col, 6) on doubles: shortest-repr
    # BigDecimal then HALF_UP (Python round() is half-even)
    return float(Decimal(repr(x)).quantize(_Q6, rounding=ROUND_HALF_UP))


def hll_estimate_from_registers(regs: dict) -> float:
    """Estimate from a {bucket: rank} register map, replicating the
    batch plan's float semantics exactly: the harmonic sum folds in
    ascending bucket order (each term an exact dyadic 2^-r), the
    empty-register count enters as (m - n) * 1.0, and the small-range
    linear-counting branch matches `operators/sketches.hll_distinct`
    term for term."""
    n_present = len(regs)
    sp = 0.0
    for b in sorted(int(k) for k in regs):
        sp += 1.0 / (2.0 ** regs[str(b)])
    vz = _HLL_M - n_present
    s = vz * 1.0 + sp
    eraw = _HLL_ALPHA_M2 / s
    if eraw <= 2.5 * _HLL_M and vz > 0:
        est = float(_HLL_M) * math.log(float(_HLL_M) / float(vz))
    else:
        est = eraw
    return _round6(est)


def _window_sketch(
    turns: DataFrame,
    cols: list,
    fields: str,
    empty: Callable[[], Any],
    merge: Callable[[Any, Any], Any],
    read: Callable[[Any], dict],
    state_field: str,
    dims: tuple[str, ...],
    ts_col: str,
    window_seconds: int,
    watermark: str,
) -> DataFrame:
    """The event-time lifecycle of every windowed sketch op; the op
    supplies only its projected ``cols``, its output ``fields`` (DDL),
    an ``empty()`` sketch, ``merge(sketch, pdf) -> sketch`` and
    ``read(sketch) -> {field: values}``.

    The stream is grouped by ``(win_start, dims...)`` — the tumbling
    ``window_seconds`` window of ``ts_col``, dims cast to string — and
    each slot keeps ``json [sketch, upd_seq]`` in ``state_field``. A
    touching micro-batch merges each chunk, bumps ``upd_seq`` and emits
    the read with ``is_final=false``; once the watermark passes
    window_end + delay the slot emits the read once more with
    ``is_final=true`` and frees its state. A row already behind the
    watermark never reaches ``merge`` (Spark's stateful filter drops
    it, open slot or not), so the merged sketch equals the batch one
    only for rows at most ``watermark`` late. Rows are ``win_start,
    dims..., fields..., upd_seq, is_final``. The state field and its
    JSON payload are the op's own, so its checkpoints resume unchanged.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    delay_sec = parse_delay_seconds(watermark)
    win_s = int(window_seconds)
    ts_sec = F.col(ts_col).cast("long")
    src = turns.withWatermark(ts_col, watermark).select(
        (ts_sec - F.pmod(ts_sec, F.lit(win_s))).alias("win_start"),
        *[F.col(d).cast("string").alias(d) for d in dims],
        *cols,
        # the watermark-bearing event-time column must survive the
        # projection for EventTimeTimeout to resolve; fn ignores it
        F.col(ts_col),
    )
    out_schema = ", ".join(
        ["win_start long", *[f"`{d}` string" for d in dims], fields]
        + ["upd_seq long", "is_final boolean"]
    )

    def fn(key_tuple, pdf_iter, state):
        # key tuple arrives as numpy scalars; GroupState round-trips
        # its properties (incl. the timeout timestamp) through
        # json.dumps, which rejects np.int64 — coerce once here
        win_start = int(key_tuple[0])
        sketch, seq = json.loads(state.get[0]) if state.exists else (empty(), 0)

        def frame(sketch, seq, final):
            vals = read(sketch)
            n = len(next(iter(vals.values())))
            return pd.DataFrame(
                {
                    "win_start": pd.array([win_start] * n, dtype="int64"),
                    **{d: [dv] * n for d, dv in zip(dims, key_tuple[1:])},
                    **vals,
                    "upd_seq": pd.array([seq] * n, dtype="int64"),
                    "is_final": pd.array([final] * n, dtype="bool"),
                }
            )

        if state.hasTimedOut:
            state.remove()
            yield frame(sketch, seq + 1, True)
            return

        for pdf in pdf_iter:
            if len(pdf):
                sketch = merge(sketch, pdf)
        seq += 1
        state.update((json.dumps([sketch, seq]),))
        # close the slot once the event-time watermark clears
        # window_end + delay (timeout needs a timestamp strictly
        # beyond the current watermark to register)
        timeout_ms = (win_start + win_s + delay_sec) * 1000
        state.setTimeoutTimestamp(max(timeout_ms, state.getCurrentWatermarkMs() + 1))
        yield frame(sketch, seq, False)

    return src.groupBy("win_start", *dims).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=f"{state_field} string",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def _add_bins(bins: dict, pdf) -> dict:
    # histogram merge = integer vector addition of per-batch partial
    # bin counts — exact in any arrival order; the bin ids stay string
    # keys, as the checkpointed JSON holds them
    for b, n in pdf.groupby("_bin").size().items():
        k = str(int(b))
        bins[k] = bins.get(k, 0) + int(n)
    return bins


def stream_window_hll(
    turns: DataFrame,
    key_col: str = "conv_id",
    dim_cols: tuple[str, ...] = ("role",),
    ts_col: str = "ts",
    window_seconds: int = 3600,
    watermark: str = "30 minutes",
    seed: str = "hll",
) -> DataFrame:
    """Running distinct-`key_col` HLL estimate per (tumbling window,
    dims...) over a stream, registers merged in the state store.

    Emits one changelog row per open slot per touching micro-batch:
    ``win_start (long epoch sec), dims..., n_regs, hll_estimate,
    upd_seq, is_final``. `upd_seq` is a per-slot monotone update
    counter (latest row per slot = current estimate; memory-sink row
    order is not a contract). When the watermark passes
    window_end + delay the slot emits `is_final=true` and evicts.

    Equivalence contract (tested): after all input is consumed, the
    latest row per slot carries registers — and therefore an
    estimate — identical to `operators/sketches.hll_distinct` run in
    batch over the same rows grouped by the same derived window/dim
    columns. Register assignment uses the IDENTICAL md5 expressions
    JVM-side, so the state fold is a max-merge of the same integers
    in any arrival order of rows at most `watermark` late.
    """
    key = F.col(key_col)
    h = F.md5(F.concat(F.lit(f"{seed}:"), key.cast("string")).cast("binary"))
    v = F.conv(F.substring(h, 3, 13), 16, 10).cast("long")
    rho = (
        F.when(v == 0, F.lit(53))
        .otherwise(F.lit(53) - F.length(F.conv(F.substring(h, 3, 13), 16, 2)))
        .cast("int")
    )

    def merge(regs, pdf):
        # per-batch max-merge: groupby bucket max then fold into
        # the carried registers — order-independent by construction
        for b, r in pdf.groupby("_bkt")["_rho"].max().items():
            k = str(int(b))
            if r > regs.get(k, 0):
                regs[k] = int(r)
        return regs

    def read(regs):
        return {
            "n_regs": [len(regs)],
            "hll_estimate": [hll_estimate_from_registers(regs)],
        }

    bkt = F.conv(F.substring(h, 1, 2), 16, 10).cast("int")
    return _window_sketch(
        turns,
        [bkt.alias("_bkt"), rho.alias("_rho")],
        "n_regs long, hll_estimate double",
        dict, merge, read, "regs_json",
        dim_cols, ts_col, window_seconds, watermark,
    )


def py_cms_bucket(key: str, d: int, width: int = 1024, seed: str = "cms") -> int:
    """Python replay of operators/sketches._bucket — identical md5
    prefix, identical modulus (the driver-side mirror the watch-list
    lookups use; the row-side buckets stay JVM expressions)."""
    import hashlib

    h = hashlib.md5(f"{seed}:{d}:{key}".encode()).hexdigest()
    return int(h[:8], 16) % width


def stream_window_cms(
    turns: DataFrame,
    key_col: str = "conv_id",
    watch_keys: tuple[str, ...] = (),
    dim_cols: tuple[str, ...] = (),
    ts_col: str = "ts",
    window_seconds: int = 3600,
    watermark: str = "30 minutes",
    width: int = 1024,
    depth: int = 4,
    seed: str = "cms",
) -> DataFrame:
    """Running count-min estimates for a WATCH LIST of keys per
    (tumbling window, dims...) — the sum-merge sibling of
    `stream_window_hll` (registers max-merge; CMS counters ADD, the
    other canonical mergeable-sketch fold). The moderation use: watch
    known-hot entities' frequencies climb inside the open window
    without keeping per-entity state — state is the width×depth
    counter table per open slot regardless of key cardinality.

    Emits one changelog row per watched key per touching micro-batch:
    ``win_start, dims..., key, cms_n, upd_seq, is_final``; timeout
    behavior and `upd_seq` contract identical to `stream_window_hll`.

    Equivalence contract (tested): after all input is consumed, the
    latest `cms_n` per (slot, key) equals
    `count_min_build` + `count_min_estimate` run in batch over the
    same rows grouped by the same derived window column — the counter
    fold is integer addition of identical md5-derived buckets, exact
    in any arrival order of rows at most `watermark` late.
    """
    from ..operators.sketches import _bucket

    if not watch_keys:
        raise ValueError("stream_window_cms needs a non-empty watch_keys list")
    key = F.col(key_col)
    buckets = F.array(*[_bucket(key, d, width, seed) for d in range(depth)])
    watch = {
        k: [py_cms_bucket(k, d, width, seed) for d in range(depth)]
        for k in watch_keys
    }

    def merge(counters, pdf):
        # sum-merge: per-batch (d, bucket) partial counts fold by
        # integer addition — exact in any arrival order
        for (d, b), n in pdf.groupby(["_d", "_bucket"]).size().items():
            ck = f"{int(d)}:{int(b)}"
            counters[ck] = counters.get(ck, 0) + int(n)
        return counters

    def read(counters):
        return {
            "key": list(watch),
            "cms_n": [
                min(counters.get(f"{d}:{b}", 0) for d, b in enumerate(bs))
                for bs in watch.values()
            ],
        }

    return _window_sketch(
        turns,
        [F.posexplode(buckets).alias("_d", "_bucket")],
        "key string, cms_n long",
        dict, merge, read, "counters_json",
        dim_cols, ts_col, window_seconds, watermark,
    )


def stream_window_kmv(
    turns: DataFrame,
    key_col: str,
    seg_col: str,
    seg_a: str,
    seg_b: str,
    dim_cols: tuple[str, ...] = (),
    ts_col: str = "ts",
    window_seconds: int = 3600,
    watermark: str = "30 minutes",
    k: int = 256,
    seed: str = "kmv",
) -> DataFrame:
    """Running KMV/theta set-operation estimates per (tumbling window,
    dims...): distinct keys in segment A, in segment B, in their union
    and INTERSECTION while the window is still open — the overlap
    question ("how many users hit both the payment and the login flow
    this hour?") that the max-merge HLL structurally cannot answer.
    Fifth streaming sketch fold: MIN-K merge (sorted set union
    truncated to k), associative+commutative like the others, so the
    final estimates equal the batch `kmv_set_ops(group_cols=[window])`
    bit-for-bit in any arrival order of rows at most `watermark` late.
    State per open slot is two <=k
    hash lists — independent of traffic and key cardinality.

    Emits one changelog row per touching micro-batch:
    ``win_start, dims..., est_a, est_b, est_union, est_jaccard,
    est_intersect, upd_seq, is_final``; timeout/`upd_seq` contract
    identical to `stream_window_hll`.
    """
    from ..operators.sketches import _KMV_DOM, _kmv_hash

    kk = int(k)

    def _est(lst):
        # replay of kmv_estimate_col: exact below saturation, else
        # (k-1) / (kth / 2^32), HALF_UP to 6 — identical doubles
        if len(lst) < kk:
            return float(len(lst))
        return _round6((kk - 1.0) / (lst[kk - 1] / _KMV_DOM))

    def merge(sk, pdf):
        for seg, name in ((seg_a, "a"), (seg_b, "b")):
            hs = pdf.loc[pdf["_seg"] == seg, "_h"]
            if len(hs):
                # min-k merge: sorted set union, truncated
                sk[name] = sorted(set(sk.get(name, [])) | set(int(h) for h in hs))[:kk]
        return sk

    def read(sk):
        a, b = sk.get("a", []), sk.get("b", [])
        sa, sb = set(a), set(b)
        u_all = sorted(sa | sb)
        inboth = sa & sb
        est_u = _est(u_all)
        if not u_all:
            jacc = 0.0
        elif len(u_all) < kk:
            jacc = len(inboth) / float(len(u_all))
        else:
            jacc = len(set(u_all[:kk]) & inboth) / float(kk)
        return {
            "est_a": [_est(a)],
            "est_b": [_est(b)],
            "est_union": [est_u],
            "est_jaccard": [_round6(jacc)],
            "est_intersect": [_round6(jacc * est_u)],
        }

    return _window_sketch(
        turns.filter(F.col(seg_col).isin([seg_a, seg_b])),
        [
            F.col(seg_col).cast("string").alias("_seg"),
            _kmv_hash(F.col(key_col), seed).alias("_h"),
        ],
        "est_a double, est_b double, est_union double, est_jaccard double,"
        " est_intersect double",
        dict, merge, read, "kmv_json",
        dim_cols, ts_col, window_seconds, watermark,
    )


def stream_window_hist(
    turns: DataFrame,
    value_col: str,
    dim_cols: tuple[str, ...] = (),
    ts_col: str = "ts",
    window_seconds: int = 3600,
    watermark: str = "30 minutes",
    q_pcts: tuple[int, ...] = (50, 90, 99),
) -> DataFrame:
    """Running quantile estimates per (tumbling window, dims...) from
    the log-binned histogram sketch — the third mergeable-sketch fold
    next to `stream_window_hll` (max-merge) and `stream_window_cms`
    (sum-merge of hashed buckets): histogram merge is integer vector
    addition over <=252 EXACT bins, so the running p50/p95/p99 inside
    the open window (micro-batch latency, turn lengths, tool run
    times) equals the batch `hist_quantiles` over the same prefix in
    any arrival order of rows at most `watermark` late, bit-for-bit.
    State per open slot is the bin
    table — independent of traffic volume AND of value cardinality.

    Emits one changelog row per q_pct per touching micro-batch:
    ``win_start, dims..., q_pct, est, n_rows, upd_seq, is_final``;
    timeout/`upd_seq` contract identical to `stream_window_hll`.

    Equivalence contract (tested): after all input is consumed, the
    latest (est, n_rows) per (slot, q_pct) equals
    `operators.sketches.hist_quantiles` run in batch over the same
    rows grouped by the same derived window column.
    """
    from ..operators.sketches import hist_bin, py_hist_quantiles

    qs = [int(q) for q in q_pcts]

    def read(bins):
        reads = py_hist_quantiles({int(b): n for b, n in bins.items()}, qs)
        return {
            "q_pct": [r[0] for r in reads],
            "est": [r[1] for r in reads],
            "n_rows": [r[2] for r in reads],
        }

    return _window_sketch(
        turns,
        [hist_bin(F.col(value_col).cast("long")).alias("_bin")],
        "q_pct long, est long, n_rows long",
        dict, _add_bins, read, "bins_json",
        dim_cols, ts_col, window_seconds, watermark,
    )


def stream_window_weighted_sample(
    turns: DataFrame,
    k: int = 8,
    weight_col: str | None = None,
    id_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    dim_cols: tuple[str, ...] = (),
    ts_col: str = "ts",
    window_seconds: int = 3600,
    watermark: str = "30 minutes",
    seed: str = "ws1",
) -> DataFrame:
    """Streaming weighted reservoir sample per (tumbling window,
    dims...) — the A-ES race of ``operators/packing.weighted_sample``
    run incrementally: each row's sort key -ln(u)/w (u a seeded md5
    uniform, computed JVM-SIDE with the batch operator's exact
    expressions) arrives at the state store, which keeps only the k
    smallest (key, id, weight) entries per open slot. min-k is
    associative and commutative, so the carried reservoir after any
    prefix equals the batch top-k over that prefix in ANY arrival
    order — rows at most `watermark` late displace exactly as they
    would in batch (later ones are dropped by the watermark). State
    is k entries per open slot regardless of traffic ("sample 8 turns
    of this hour proportional to length" costs the same at 10^12
    turns/hour).

    Emits the full current reservoir per touching micro-batch:
    ``win_start, dims..., rank, sample_id, weight, sample_key
    (round-6, the batch operator's output convention), upd_seq,
    is_final``; timeout/eviction contract identical to
    `stream_window_hll`.

    Equivalence contract (tested): after all input is consumed, the
    latest reservoir per slot is row-for-row identical (ids, weights,
    round-6 keys, ranks) to ``weighted_sample(..., by=win)`` run in
    batch over the same rows — both sort the SAME JVM-computed
    doubles, and json state round-trips floats exactly (shortest-repr
    decoding), so no re-derivation ever happens Python-side.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    sid = F.concat_ws(":", *[F.col(c).cast("string") for c in id_cols])
    w = (
        F.greatest(F.length("text").cast("long"), F.lit(1))
        if weight_col is None
        else F.greatest(F.col(weight_col).cast("long"), F.lit(1))
    )
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}:"), sid)), 1, 15), 16, 10
    ).cast("long")
    u = (h + F.lit(1)).cast("double") / F.lit(float(1 << 60))
    skey = -F.log(u) / w.cast("double")
    kk = int(k)

    def merge(res, pdf):
        res = res + [
            [float(x), str(i), int(wt)]
            for x, i, wt in zip(pdf["_skey"], pdf["_id"], pdf["_w"])
        ]
        # min-k merge: k smallest (key, id) of carried ∪ batch — the
        # same total order the batch TakeOrdered uses on these doubles
        res.sort(key=lambda e: (e[0], e[1]))
        return res[:kk]

    def read(res):
        return {
            "rank": list(range(1, len(res) + 1)),
            "sample_id": [e[1] for e in res],
            "weight": [e[2] for e in res],
            "sample_key": [_round6(e[0]) for e in res],
        }

    return _window_sketch(
        turns,
        [sid.alias("_id"), w.alias("_w"), skey.alias("_skey")],
        "rank int, sample_id string, weight long, sample_key double",
        list, merge, read, "reservoir_json",
        dim_cols, ts_col, window_seconds, watermark,
    )


def stream_drift_psi(
    turns: DataFrame,
    value_col: str,
    ref_bins: dict,
    dim_cols: tuple[str, ...] = (),
    ts_col: str = "ts",
    window_seconds: int = 3600,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Running distribution-drift alert per (tumbling window, dims...):
    PSI + KS of the open window's value distribution against a FIXED
    reference histogram (the last-known-good snapshot from
    ``operators.sketches.hist_table``, <=252 (bin, count) pairs riding
    the closure as a literal — the broadcast-dimension class).

    The state fold is the same integer bin-count vector addition as
    ``stream_window_hist`` — exact in any arrival order of rows at
    most ``watermark`` late — and every
    read recomputes PSI/KS from the merged table via
    ``py_drift_metrics``, the identical arithmetic the batch
    ``drift_metrics`` oracle checks. So the latest row per slot always
    equals the batch drift of exactly the rows seen so far, and the
    ``is_final`` row (event-time timeout, same contract as the
    HLL/CMS/hist folds) equals the batch drift of the closed window.

    Emits ``win_start, dims..., ref_n, cur_n, n_bins, psi, ks,
    upd_seq, is_final`` per touching micro-batch (changelog; keep the
    max upd_seq per slot, or filter is_final for closed windows only).
    """
    from ..operators.sketches import hist_bin, py_drift_metrics

    ref = {int(k): int(v) for k, v in ref_bins.items()}

    def read(bins):
        rn, cn, nb, psi, ks = py_drift_metrics(ref, {int(b): n for b, n in bins.items()})
        return {"ref_n": [rn], "cur_n": [cn], "n_bins": [nb], "psi": [psi], "ks": [ks]}

    return _window_sketch(
        turns,
        [hist_bin(F.col(value_col).cast("long")).alias("_bin")],
        "ref_n long, cur_n long, n_bins long, psi double, ks double",
        dict, _add_bins, read, "bins_json",
        dim_cols, ts_col, window_seconds, watermark,
    )


def stream_cusum(
    hourly: DataFrame,
    mu_q: int,
    k_q: int,
    h_q: int,
    key_cols: tuple[str, ...] = (),
    ts_col: str = "hour_ts",
    cnt_col: str = "cnt",
) -> DataFrame:
    """Streaming twin of ``operators.forecast.cusum_drift``: one-sided
    CUSUM drift alarms maintained incrementally per series key.

    Input is a stream of FINALIZED per-hour counts (feed it the
    ``is_final`` rows of a windowed count, or any monotone hourly
    rollup); reference level/allowance/threshold come in as the same
    mu-quanta integers the batch op derives from its warmup — the
    production split: a batch job learns the reference, the stream
    applies it.

    State per key is FOUR integers — the prefix sum ``p``, the
    clamped running minimum ``min(0, min p_j)``, the last applied
    hour, and the update seq — so state size is traffic-independent
    by construction (the decay-counter boundedness class). The
    prefix-sum identity makes the fold associative-with-order: rows
    are sorted per batch and an hour at or before the last applied
    one is DROPPED (replay/at-least-once protection), so any
    batch-boundary chunking yields the identical alarm stream
    (stream == batch is tested).

    Emits one row per ALARM hour: ``key..., hour_ts, cusum_q`` with
    ``cusum_q > h_q`` — exactly the batch op's output.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    keys = list(key_cols)
    key_sel = (
        [F.col(k).cast("string").alias(k) for k in keys]
        if keys
        else [F.lit("all").alias("_series")]
    )
    src = hourly.select(
        *key_sel,
        F.col(ts_col).cast("long").alias("_h"),
        F.col(cnt_col).cast("long").alias("_c"),
    )
    group_keys = keys if keys else ["_series"]
    out_schema = StructType(
        [StructField(k, StringType()) for k in group_keys]
        + [StructField(ts_col, LongType()), StructField("cusum_q", LongType())]
    )
    state_schema = StructType(
        [
            StructField("p", LongType()),
            StructField("pmin0", LongType()),
            StructField("last_h", LongType()),
            StructField("seq", LongType()),
        ]
    )
    mu, k, h = int(mu_q), int(k_q), int(h_q)

    def fn(key_tuple, pdf_iter, state):
        p, pmin0, last_h, seq = (
            state.get if state.exists else (0, 0, -(1 << 62), 0)
        )
        rows = []
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if chunks:
            allrows = pd.concat(chunks).sort_values("_h")
            for hh, cc in zip(allrows["_h"], allrows["_c"]):
                hh, cc = int(hh), int(cc)
                if hh <= last_h:
                    continue  # replayed/duplicate hour
                last_h = hh
                p += cc * (10**6) - mu - k
                if p < pmin0:
                    pmin0 = p
                s = p - min(0, pmin0)
                if s > h:
                    rows.append((hh, s))
        seq += 1
        state.update((p, pmin0, last_h, seq))
        if rows:
            yield pd.DataFrame(
                {
                    **{kk: [kv] * len(rows) for kk, kv in zip(group_keys, key_tuple)},
                    ts_col: pd.array([r[0] for r in rows], dtype="int64"),
                    "cusum_q": pd.array([r[1] for r in rows], dtype="int64"),
                }
            )

    return src.groupBy(*group_keys).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
