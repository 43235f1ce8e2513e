"""The stateful rule families: each one's batch resolver and streaming
fold, side by side in one table row.

Every stateful SML call (``IncrementWindow``, ``SequenceMatches``,
``GetUniqueCount``, ``CacheGet*`` ...) registers through
``defer_state_op``: it names the op, stores ``(family, spec)`` in the
ordered ``CompilerContext.state_ops`` and appends a deferred feature;
``CompiledRuleset.apply`` resolves it at plan time. ``FAMILIES`` is the
only place that knows the families:

- ``prefix`` — the mangled-name prefix of the family's ops (``__wc_``
  for the window counter: ops are named ``__wc_0``, ``__wc_1`` ...);
- ``batch`` — ``batch(df, sp, sec, pin)`` resolves one spec on a batch
  frame and returns it with the op's column added. ``sec`` is the
  event-second Column; ``pin(df)`` adds the pinned row-id column
  ``ROW_ID`` that the cache and rate-limit resolvers join back by.
  Most families are window functions (JVM-side); RateLimit has no
  window form and folds each bucket through its own streaming fold;
- ``inputs`` — the spec fields holding input Columns (dependency
  extraction for hoisting and fusion);
- ``stream`` — the builder for the streaming side: the columns the
  fused state pass ships per op, the output type, and the bucket
  fold.

Streaming frames resolve every family through the fused state pass
(``CompiledRuleset._join_fused_state``), which hands each op a whole
bucket at once. A fold has the signature
``fold(smap, mks, starts, ends, sec, inp, out)``: the bucket's rows are
sorted by (key, sec[, ord]) (``segments``); key ``mks[k]`` (its JSON
map key) owns rows ``[starts[k], ends[k])``; ``sec`` is every row's
event second, ``inp`` the op's input arrays and ``out`` its output
array, all in that sorted order; ``smap`` is the op's ``{key: entry}``
map. The window counter and window sum share one numpy kernel over the
bucket; every other family wraps its one-key body
``(smap, mk, seg_sec, s, e, inp, out)`` in ``per_key``. Each fold is
pinned to its batch resolver by the stream==batch suites.

There is one cache-overwrite fold (``_cache``): a CacheGet whose Set
statements write under another key streams through it too, as a fused
pass of one over the union of probe and write rows. Writes of one
statement to one key in one second tie-break like the batch struct
max ``(ts, idx, exp, value)``: the larger value wins, NULL lowest.
"""

from __future__ import annotations

import hashlib
import json
import math
import re
from itertools import chain
from typing import Any, Callable, NamedTuple, Optional

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .values import Value

# the row-id column ``pin`` adds
ROW_ID = "__rid"
# the map key of a NULL state key
NULL_KEY = "\x00"


class Family(NamedTuple):
    prefix: str
    batch: Callable[[DataFrame, dict, Column, Callable], DataFrame]
    inputs: tuple
    stream: Callable[[dict], "Stream"]


class Stream(NamedTuple):
    cols: dict  # field -> (Column, numpy dtype) shipped to the fold
    out_type: T.DataType
    out_np: str  # numpy dtype of the output array; "object" starts as None
    fold: Callable


def _gate(sp: dict) -> Column:
    g = sp["gate"]
    return F.coalesce(g, F.lit(False)) if g is not None else F.lit(True)


def _gated(sp: dict) -> Column:
    """The value, NULL where the gate is off."""
    return sp["value_col"] if sp["gate"] is None else F.when(_gate(sp), sp["value_col"])


def _amount(sp: dict) -> Column:
    """The long amount, 0 where the gate is off."""
    amt = sp["value_col"]
    if sp["gate"] is not None:
        amt = F.when(_gate(sp), amt).otherwise(F.lit(0))
    return amt.cast("long")


def _frame(sec: Column, win: Optional[int], *keys) -> WindowSpec:
    """The RANGE frame over event seconds per ``keys``: the trailing
    ``win`` seconds, or every earlier second when ``win`` is None —
    equal-second rows included either way."""
    lo = Window.unboundedPreceding if win is None else -(win - 1)
    return Window.partitionBy(*keys).orderBy(sec).rangeBetween(lo, 0)


def _ordered(sp: dict, sec: Column, *keys) -> WindowSpec:
    """The key's (and ``keys``') rows in (event second, order) order."""
    order = [sec] if sp["order_col"] is None else [sec, sp["order_col"]]
    return Window.partitionBy(sp["key_col"], *keys).orderBy(*order)


def _out(df: DataFrame, sp: dict, col: Column) -> DataFrame:
    return df.select("*", col.alias(sp["name"]))


def segments(pdf: pd.DataFrame, ordered: bool) -> tuple:
    """Sort a bucket's rows by (``__fs_key``, ``__fs_sec``[,
    ``__fs_ord``]) and cut them into key runs. Returns ``(order, mks,
    starts, ends, sec)``: ``order`` is the sort permutation, key
    ``mks[k]`` (``NULL_KEY`` for NULL, last) owns sorted rows
    ``[starts[k], ends[k])`` and ``sec`` is the sorted event seconds.
    Only these narrow columns sort; callers scatter outputs back
    through ``order``."""
    codes, names = pd.factorize(pdf["__fs_key"].to_numpy(dtype=object), sort=True)
    codes[codes < 0] = len(names)  # NULL keys last
    sec = pdf["__fs_sec"].to_numpy(dtype="int64")
    by = [sec, codes]
    if ordered:
        by.insert(0, pdf["__fs_ord"].to_numpy(dtype="float64"))
    order = np.lexsort(by)
    codes = codes[order]
    starts = np.flatnonzero(np.diff(codes, prepend=-1))
    ends = np.append(starts[1:], len(codes))
    mks = names.tolist() + [NULL_KEY] * (len(starts) - len(names))
    return order, mks, starts, ends, sec[order]


def _put(smap: dict, mk: str, entry: Any) -> None:
    """Store a key's entry; an empty entry evicts the slot."""
    if entry:
        smap[mk] = entry
    elif mk in smap:
        del smap[mk]


def _present(v) -> bool:
    return v is not None and not pd.isna(v)


def per_key(seg_fold: Callable) -> Callable:
    """The bucket fold of a family whose body folds one key at a time:
    ``seg_fold(smap, mk, seg_sec, s, e, inp, out)`` runs on each key's
    rows ``[s, e)``."""

    def fold(smap, mks, starts, ends, sec, inp, out):
        for mk, s, e in zip(mks, starts.tolist(), ends.tolist()):
            seg_fold(smap, mk, sec[s:e], s, e, inp, out)

    return fold


def trailing_sum_fold(
    win: int, amt: Optional[str], *, pairs: bool, cap: int = 0, gated: bool = False
) -> Callable:
    """The bucket kernel of the window counter and the window sum: per
    row, the sum of the key's amounts (carried + this batch) with event
    second in ``[sec - win + 1, sec]``, ties included, as the batch
    RANGE window sees them. A window count is the sum of its 0/1
    increments (every row counts when ``amt`` is None). The state keeps
    each key's non-zero entries still inside the window of its newest
    row: ``[sec, amt]`` pairs when ``pairs``, else bare seconds (one
    per increment). ``cap`` clamps the output, ``gated`` zeroes rows
    whose ``gate`` input is off.

    One stable sort of ``key index * span + (sec - base)`` over carried
    entries and rows orders every key's entries by second, carried
    before new at equal seconds; two ``searchsorted`` calls against the
    prefix sum give every row's window."""

    def fold(smap, mks, starts, ends, sec, inp, out):
        n_keys = len(mks)
        carried = [smap.get(mk, ()) for mk in mks]
        c_len = np.fromiter(map(len, carried), dtype="int64", count=n_keys)
        flat = chain.from_iterable(carried)
        if pairs:
            c = np.fromiter(chain.from_iterable(flat), dtype="int64").reshape(-1, 2)
            c_sec, c_amt = c[:, 0], c[:, 1]
        else:
            c_sec = np.fromiter(flat, dtype="int64")
            c_amt = np.ones(len(c_sec), dtype="int64")
        r_key = np.repeat(np.arange(n_keys), ends - starts)
        r_amt = np.ones(len(sec), dtype="int64") if amt is None else inp[amt].astype("int64")
        key = np.concatenate([np.repeat(np.arange(n_keys), c_len), r_key])
        e_sec = np.concatenate([c_sec, sec])
        e_amt = np.concatenate([c_amt, r_amt])
        # every probed second (sec - win + 1 included) lands in [1, span)
        base = int(e_sec.min()) - win
        span = int(e_sec.max()) - base + 1
        comp = key * span + (e_sec - base)
        order = np.argsort(comp, kind="stable")
        comp, key, e_sec, e_amt = comp[order], key[order], e_sec[order], e_amt[order]
        csum = np.concatenate(([0], np.cumsum(e_amt)))
        probe = r_key * span + (sec - base)
        got = (
            csum[np.searchsorted(comp, probe, side="right")]
            - csum[np.searchsorted(comp, probe - win + 1, side="left")]
        )
        if cap:
            got = np.minimum(got, cap)
        out[:] = np.where(inp["gate"], got, 0) if gated else got
        # evict: entries older than the window of the key's newest row
        keep = (e_amt != 0) & (e_sec >= (sec[ends - 1] - win + 1)[key])
        bounds = np.concatenate(([0], np.cumsum(np.bincount(key[keep], minlength=n_keys))))
        kept = (np.stack([e_sec[keep], e_amt[keep]], axis=1) if pairs else e_sec[keep]).tolist()
        for mk, lo, hi in zip(mks, bounds[:-1].tolist(), bounds[1:].tolist()):
            _put(smap, mk, kept[lo:hi])

    return fold


def _window(sp: dict) -> Stream:
    # the carried entry is the Redis zset of in-window increment
    # seconds; an increment that is the literal true (no when_all)
    # ships no column: every row counts
    cols = {}
    if stable_node(sp["incremented"]) != stable_node(F.lit(True)):
        cols["inc"] = (F.coalesce(sp["incremented"], F.lit(False)), "bool")
    if sp["gate"] is not None:
        cols["gate"] = (_gate(sp), "bool")
    fold = trailing_sum_fold(
        int(sp["window_seconds"]), "inc" if "inc" in cols else None,
        pairs=False, cap=int(sp["cap"]), gated="gate" in cols,
    )
    return Stream(cols, T.LongType(), "int64", fold)


def _window_batch(df, sp, sec, pin):
    count = F.sum(F.when(sp["incremented"], 1).otherwise(0)).over(
        _frame(sec, int(sp["window_seconds"]), sp["key_col"])
    )
    if sp["cap"]:
        count = F.least(count, F.lit(int(sp["cap"])))
    if sp["gate"] is not None:
        count = F.when(_gate(sp), count).otherwise(F.lit(0))
    return _out(df, sp, F.coalesce(count, F.lit(0)).cast("long"))


def _seq(sp: dict) -> Stream:
    k_len, rx = int(sp["last_k"]), re.compile(sp["pattern"])

    def fold(smap, mk, seg_sec, s, e, inp, out):
        # the <=K-char symbol suffix carried across micro-batches, so a
        # pattern completed by a later batch's event matches on arrival
        suffix = smap.get(mk, "")
        seg_out = out[s:e]
        for j, ch in enumerate(inp["sym"][s:e]):
            suffix = (suffix + ch)[-k_len:]
            seg_out[j] = rx.search(suffix) is not None
        _put(smap, mk, suffix)

    return Stream({"sym": (sp["symbol_col"], "object")}, T.BooleanType(), "bool", per_key(fold))


def _seq_batch(df, sp, sec, pin):
    # the rolling last-K symbols; equals the streaming suffix whenever
    # (event time, order) is a total order per key
    w = _ordered(sp, sec).rowsBetween(-(int(sp["last_k"]) - 1), 0)
    suffix = F.array_join(F.collect_list(sp["symbol_col"]).over(w), "")
    return _out(df, sp, F.coalesce(suffix.rlike(sp["pattern"]), F.lit(False)))


def _wdistinct(sp: dict) -> Stream:
    win = int(sp["window_seconds"])

    def fold(smap, mk, seg_sec, s, e, inp, out):
        # distinct registered values in the trailing window, judged like
        # the batch range window: ALL visible same-key occurrences
        # (carried + this whole segment) with ts in [sec_r - win + 1,
        # sec_r] — equal-timestamp occurrences from later rows included,
        # exactly what collect_set over RANGE sees
        occ = [tuple(o) for o in smap.get(mk, ())]
        vals, vgs = inp["val"][s:e], inp["vg"][s:e]
        for j in range(e - s):
            if vgs[j] and _present(vals[j]):
                occ.append((int(seg_sec[j]), vals[j]))
        occ.sort(key=lambda o: o[0])
        counts: dict = {}
        distinct = 0
        lo = hi = 0
        seg_out = out[s:e]
        for j in range(e - s):
            t = int(seg_sec[j])
            while hi < len(occ) and occ[hi][0] <= t:
                v = occ[hi][1]
                c = counts.get(v, 0)
                if c == 0:
                    distinct += 1
                counts[v] = c + 1
                hi += 1
            floor_t = t - win + 1
            while lo < hi and occ[lo][0] < floor_t:
                v = occ[lo][1]
                counts[v] -= 1
                if counts[v] == 0:
                    distinct -= 1
                lo += 1
            seg_out[j] = distinct
        keep = int(seg_sec.max()) - win + 1
        _put(smap, mk, [[t, v] for t, v in occ if t >= keep])

    cols = {"val": (sp["value_col"], "object"), "vg": (_gate(sp), "bool")}
    return Stream(cols, T.LongType(), "int64", per_key(fold))


def _wdistinct_batch(df, sp, sec, pin):
    # collect_set drops NULLs, so gated-off values never register
    w = _frame(sec, int(sp["window_seconds"]), sp["key_col"])
    return _out(df, sp, F.size(F.collect_set(_gated(sp)).over(w)).cast("long"))


def _seen(sp: dict) -> Stream:
    def fold(smap, mk, seg_sec, s, e, inp, out):
        # repeated-content membership: per value, the TWO SMALLEST
        # registration seconds (carried + this segment, min-merged —
        # exact under late data). Row at t with value v: registrations
        # of v with sec <= t, capped at 2; a registering row needs 2
        # (itself included), a reader 1 — tie-group inclusive either way
        vals, vgs = inp["val"][s:e], inp["vg"][s:e]
        n_seg = e - s
        events_s = [(int(t0), v) for v, ss in smap.get(mk, ()) for t0 in ss]
        for j in range(n_seg):
            if vgs[j] and _present(vals[j]):
                events_s.append((int(seg_sec[j]), str(vals[j])))
        events_s.sort()
        # the two smallest seconds per value over ALL events
        merged: dict = {}
        for t0, v in events_s:
            lst = merged.setdefault(v, [])
            if len(lst) < 2:
                lst.append(t0)
        final_pairs = {v: list(ss) for v, ss in merged.items()}
        counts_at: dict = {}
        seg_out = out[s:e]
        hi = 0
        for j in range(n_seg):
            t = int(seg_sec[j])
            while hi < len(events_s) and events_s[hi][0] <= t:
                t0, v = events_s[hi]
                # only the two smallest count; later duplicates of
                # carried secs would double-count a registration, so
                # consume events from the merged pairs only
                if counts_at.get(v, 0) < 2 and t0 in merged.get(v, ()):
                    counts_at[v] = counts_at.get(v, 0) + 1
                    merged[v].remove(t0)
                hi += 1
            v = vals[j]
            if not _present(v):
                seg_out[j] = False
            else:
                seg_out[j] = counts_at.get(str(v), 0) >= (2 if vgs[j] else 1)
        _put(smap, mk, sorted([v, ss] for v, ss in final_pairs.items()))

    cols = {"val": (sp["value_col"], "object"), "vg": (_gate(sp), "bool")}
    return Stream(cols, T.BooleanType(), "bool", per_key(fold))


def _seen_batch(df, sp, sec, pin):
    # registrations of this (key, value) up to this second: a
    # registering row needs 2 (itself included), a reader 1
    val = sp["value_col"]
    registers = val.isNotNull() & _gate(sp)
    cnt = F.count(F.when(registers, F.lit(1))).over(_frame(sec, None, sp["key_col"], val))
    thresh = F.when(registers, F.lit(2)).otherwise(F.lit(1))
    return _out(df, sp, F.when(val.isNull(), F.lit(False)).otherwise(cnt >= thresh))


def _wminmax(sp: dict) -> Stream:
    win, mode = int(sp["window_seconds"]), int(sp["mode"])

    def fold(smap, mk, seg_sec, s, e, inp, out):
        # trailing-window MAX/MIN, judged like the batch RANGE window.
        # Carried state is ALL in-window (sec, val) entries — an
        # envelope prune is unsafe across batches (a late row's window
        # may exclude the dominating later entry), so the monotonic
        # deque is rebuilt per segment (O(n) amortized) and only
        # time-expired entries drop from state, exactly like wsum
        entries = [tuple(o) for o in smap.get(mk, ())]
        vals, vgs = inp["val"][s:e], inp["vg"][s:e]
        for j in range(e - s):
            if vgs[j] and _present(vals[j]):
                entries.append((int(seg_sec[j]), int(vals[j])))
        entries.sort(key=lambda o: o[0])
        dq: list = []  # (sec, mode*val), vals decreasing
        head = hi = 0
        seg_out = out[s:e]
        for j in range(e - s):
            t = int(seg_sec[j])
            while hi < len(entries) and entries[hi][0] <= t:
                sv = mode * entries[hi][1]
                while len(dq) > head and dq[-1][1] <= sv:
                    dq.pop()
                dq.append((entries[hi][0], sv))
                hi += 1
            floor_t = t - win + 1
            while len(dq) > head and dq[head][0] < floor_t:
                head += 1
            seg_out[j] = mode * dq[head][1] if len(dq) > head else None
        keep = int(seg_sec.max()) - win + 1
        _put(smap, mk, [[t, v] for t, v in entries if t >= keep])

    # object dtype keeps NULL values visible
    cols = {"val": (sp["value_col"], "object"), "vg": (_gate(sp), "bool")}
    return Stream(cols, T.LongType(), "object", per_key(fold))


def _wminmax_batch(df, sp, sec, pin):
    # an empty window reads NULL, not 0
    agg = F.max(_gated(sp)) if sp["mode"] > 0 else F.min(_gated(sp))
    w = _frame(sec, int(sp["window_seconds"]), sp["key_col"])
    return _out(df, sp, agg.over(w).cast("long"))


def _unique(sp: dict) -> Stream:
    cap = int(sp["cap"])

    def fold(smap, mk, seg_sec, s, e, inp, out):
        # lifetime distinct registered values, judged like the batch
        # UNBOUNDED range window (equal-second later rows included, so
        # the fold is tie-order independent). State carries each value's
        # FIRST-SEEN second — a bare value set would overcount for LATE
        # rows whose sec precedes a carried registration. cap>0 stops
        # TRACKING once reached — exact for the clamped output, since
        # past cap both engines report cap forever
        first = {v: int(t0) for v, t0 in smap.get(mk, ())}
        vals, vgs = inp["val"][s:e], inp["vg"][s:e]
        n_seg = e - s
        events_u = [(t0, v) for v, t0 in first.items()]
        for j in range(n_seg):
            if vgs[j] and _present(vals[j]):
                sv, t_j = str(vals[j]), int(seg_sec[j])
                if sv not in first or t_j < first[sv]:
                    first[sv] = t_j
                    events_u.append((t_j, sv))
        events_u.sort()  # (sec, value): tie-deterministic
        seen: set = set()
        seg_out = out[s:e]
        hi = j = 0
        while j < n_seg:
            t = int(seg_sec[j])
            while hi < len(events_u) and events_u[hi][0] <= t:
                t0, v = events_u[hi]
                # count only the value's FIRST event (duplicates from a
                # lowered first-seen are filtered here)
                if first.get(v) == t0 and (cap == 0 or len(seen) < cap):
                    seen.add(v)
                hi += 1
            g = j
            while g + 1 < n_seg and seg_sec[g + 1] == t:
                g += 1
            seg_out[j : g + 1] = len(seen)
            j = g + 1
        if cap:
            # keep only the tracked values — the clamp makes extras
            # irrelevant forever
            kept = sorted(first.items(), key=lambda kv: (kv[1], kv[0]))[:cap]
        else:
            kept = sorted(first.items())
        _put(smap, mk, [[v, t0] for v, t0 in kept])

    cols = {"val": (sp["value_col"], "object"), "vg": (_gate(sp), "bool")}
    return Stream(cols, T.LongType(), "int64", per_key(fold))


def _unique_batch(df, sp, sec, pin):
    # the exact count, clamped after (the fold's stop-at-cap agrees)
    count = F.size(F.collect_set(_gated(sp)).over(_frame(sec, None, sp["key_col"]))).cast("long")
    if sp["cap"]:
        count = F.least(count, F.lit(int(sp["cap"])).cast("long"))
    return _out(df, sp, count)


def _sess(sp: dict) -> Stream:
    gap = int(sp["gap_seconds"])

    def fold(smap, mk, seg_sec, s, e, inp, out):
        # events in the current session, judged like the batch
        # (key, session) RANGE count: a tie group (equal sec) shares a
        # session and each tie row counts the whole group. Carried state
        # [last_sec, open_count] continues the session when the
        # segment's first event is within the gap
        st = smap.get(mk)
        n_seg = e - s
        seg_out = out[s:e]
        starts_ses = [0]
        bases = [st[1] if st is not None and int(seg_sec[0]) - st[0] <= gap else 0]
        for j in range(1, n_seg):
            if int(seg_sec[j]) - int(seg_sec[j - 1]) > gap:
                starts_ses.append(j)
                bases.append(0)
        si = j = 0
        while j < n_seg:
            while si + 1 < len(starts_ses) and starts_ses[si + 1] <= j:
                si += 1
            hi = j
            while hi + 1 < n_seg and seg_sec[hi + 1] == seg_sec[j]:
                hi += 1
            seg_out[j : hi + 1] = bases[si] + (hi - starts_ses[si] + 1)
            j = hi + 1
        smap[mk] = [int(seg_sec[-1]), int(bases[-1] + (n_seg - starts_ses[-1]))]

    return Stream({}, T.LongType(), "int64", per_key(fold))


def _sess_batch(df, sp, sec, pin):
    # lag-gap break -> running-sum session id -> RANGE count within
    # (key, session id); both windows cluster by the key, so this is
    # one shuffle and one sort
    tmp = df.select(
        "*", sp["key_col"].cast("string").alias("__ss_key"), sec.alias("__ss_sec")
    )
    w_ord = Window.partitionBy("__ss_key").orderBy("__ss_sec")
    prev = F.lag("__ss_sec").over(w_ord)
    brk = F.when(
        prev.isNull() | ((F.col("__ss_sec") - prev) > F.lit(int(sp["gap_seconds"]))), F.lit(1)
    ).otherwise(F.lit(0))
    tmp = tmp.select("*", brk.alias("__ss_brk"))
    sid = F.sum("__ss_brk").over(w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    tmp = tmp.select("*", sid.alias("__ss_id"))
    count = F.count(F.lit(1)).over(_frame(F.col("__ss_sec"), None, "__ss_key", "__ss_id"))
    return _out(tmp, sp, count.cast("long")).drop("__ss_key", "__ss_sec", "__ss_brk", "__ss_id")


def _last(sp: dict) -> Stream:
    def fold(smap, mk, seg_sec, s, e, inp, out):
        # lag(value): the segment's first row sees the carried value (or
        # None for a new key), later rows the prior row's value; the
        # state is ONE JSON-safe string (or None) per key
        vals = inp["val"][s:e]
        seg_out = out[s:e]
        st = smap.get(mk)
        seg_out[0] = st[0] if st is not None else None
        if e - s > 1:
            seg_out[1:] = vals[:-1]
        v_last = vals[-1]
        if v_last is not None and not (isinstance(v_last, float) and pd.isna(v_last)):
            v_last = str(v_last)
        else:
            v_last = None
        smap[mk] = [v_last]

    return Stream({"val": (sp["value_col"], "object")}, T.StringType(), "object", per_key(fold))


def _last_batch(df, sp, sec, pin):
    return _out(df, sp, F.lag(sp["value_col"]).over(_ordered(sp, sec)))


def _rl(sp: dict) -> Stream:
    rate, cap, cost = int(sp["rate"]), int(sp["cap"]), int(sp["cost"])

    def fold(smap, mk, seg_sec, s, e, inp, out):
        # token bucket: state [tokens_units, last_sec]; a NEW key starts
        # FULL. Integer units throughout, denials consume nothing; the
        # batch resolver runs this same fold
        st = smap.get(mk)
        tokens, last = (cap, int(seg_sec[0])) if st is None else st
        seg_out = out[s:e]
        for j in range(e - s):
            t = int(seg_sec[j])
            if t > last:  # cross-batch late rows refill 0
                tokens = min(cap, tokens + rate * (t - last))
                last = t
            if tokens >= cost:
                tokens -= cost
                seg_out[j] = True
        smap[mk] = [tokens, last]

    return Stream({}, T.BooleanType(), "bool", per_key(fold))


def _rl_batch(df, sp, sec, pin):
    # the recurrence (consumption depends on prior ALLOW decisions) has
    # no window form: a narrow (row id, key, sec[, order]) relation
    # groups by the key's hash bucket (identity labels: no checkpoint),
    # each bucket runs the streaming fold from empty state, and the
    # decisions join back by row id; the wide frame stays JVM-side.
    # A lazy import: streaming/__init__ imports pipeline, which imports
    # the compiler, so a top-level one would be circular
    from ..streaming.keyed_state import bucket_column

    df = pin(df)
    key = sp["key_col"].cast("string")
    ordered = sp["order_col"] is not None
    narrow = df.select(
        F.col(ROW_ID).alias("_rlid"),
        key.alias("__fs_key"),
        sec.alias("__fs_sec"),
        *([sp["order_col"].cast("double").alias("__fs_ord")] if ordered else []),
        bucket_column([key]).alias("_rlb"),
    )
    fold = _rl(sp).fold

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        order, mks, starts, ends, seg_sec = segments(pdf, ordered)
        got = np.zeros(len(pdf), dtype=bool)
        fold({}, mks, starts, ends, seg_sec, {}, got)
        allowed = np.empty_like(got)
        allowed[order] = got
        return pd.DataFrame({"_rlid": pdf["_rlid"], "_rlv": allowed})

    res = narrow.groupBy("_rlb").applyInPandas(run, "_rlid long, _rlv boolean")
    return (
        df.join(res, F.col(ROW_ID) == F.col("_rlid"), "left")
        .drop("_rlid")
        .withColumnRenamed("_rlv", sp["name"])
    )


def _age(sp: dict) -> Stream:
    def fold(smap, mk, seg_sec, s, e, inp, out):
        # seconds since the key's first-seen second; the min-fold lets a
        # late out-of-order first event lower the carried floor (it
        # reports 0 itself: the segment is sec-sorted)
        st = smap.get(mk)
        first = int(seg_sec[0]) if st is None else min(int(st[0]), int(seg_sec[0]))
        out[s:e] = seg_sec - first
        smap[mk] = [first]

    return Stream({}, T.LongType(), "int64", per_key(fold))


def _age_batch(df, sp, sec, pin):
    # the min depends only on event times: tie-order independent
    return _out(df, sp, (sec - F.min(sec).over(_frame(sec, None, sp["key_col"]))).cast("long"))


def _round6(x: float) -> float:
    """Half-away-from-zero round to 6 decimals: the batch expressions'
    ``F.round`` output contract."""
    r = math.floor(abs(x) * 1e6 + 0.5) / 1e6
    return -r if x < 0 else r


def _burst(sp: dict) -> Stream:
    def fold(smap, mk, seg_sec, s, e, inp, out):
        # Goh-Barabasi B over the key's inter-event gaps, judged like the
        # batch RANGE window: a tie group folds ALL its gaps (first row
        # sec-last, rest 0) before any row reads B. State is four ints
        # [last_sec, n_gaps, S, Q]; B = (sigma-mu)/(sigma+mu) in IEEE
        # doubles identical to the JVM expression. Cross-batch LATE rows
        # clamp the gap to 0 (watermark-respecting equivalence)
        last, ng, sg, qg = smap.get(mk) or [None, 0, 0, 0]
        seg_out = out[s:e]
        n_seg = e - s
        j = 0
        while j < n_seg:
            hi = j
            while hi + 1 < n_seg and seg_sec[hi + 1] == seg_sec[j]:
                hi += 1
            t = int(seg_sec[j])
            g_sz = hi - j + 1
            if last is None:
                ng += g_sz - 1
            else:
                gap = max(t - last, 0)
                ng += g_sz
                sg += gap
                qg += gap * gap
            last = t
            b = 0.0
            if ng >= 1:
                mu = sg / ng
                sig = math.sqrt(max(qg / ng - mu * mu, 0.0))
                den = sig + mu
                b = (sig - mu) / den if den > 0 else 0.0
            seg_out[j : hi + 1] = _round6(b)
            j = hi + 1
        smap[mk] = [last, ng, sg, qg]

    return Stream({}, T.DoubleType(), "float64", per_key(fold))


def _burst_batch(df, sp, sec, pin):
    # a tie group's gap multiset is tie-order invariant (first row
    # carries sec - prev, the rest 0) and the RANGE aggregate sees the
    # whole group, so every row's B is too; rounded to 6 like the fold
    name = sp["name"]
    g, sc, k = f"__bs_{name}_g", f"__bs_{name}_sec", f"__bs_{name}_key"
    tmp = df.select("*", sec.alias(sc), sp["key_col"].cast("string").alias(k))
    tmp = tmp.select("*", (F.col(sc) - F.lag(sc).over(Window.partitionBy(k).orderBy(sc))).alias(g))
    w = _frame(F.col(sc), None, k)
    n_run = F.count(F.col(g)).over(w)
    nd = n_run.cast("double")
    mu = F.sum(F.col(g)).over(w).cast("double") / nd
    var = F.sum(F.col(g) * F.col(g)).over(w).cast("double") / nd - mu * mu
    sig = F.sqrt(F.greatest(F.lit(0.0), var))
    den = sig + mu
    b = F.when((n_run >= 1) & (den > 0), F.round((sig - mu) / den, 6)).otherwise(F.lit(0.0))
    return _out(tmp, sp, b).drop(g, sc, k)


def _sorted_amounts(smap, mk, seg_sec, amt):
    prev = np.asarray(smap.get(mk, ()), dtype="int64").reshape(-1, 2)
    all_sec = np.concatenate([prev[:, 0], seg_sec])
    all_amt = np.concatenate([prev[:, 1], amt])
    order = np.argsort(all_sec, kind="stable")
    return all_sec[order], all_amt[order]


def _wsum(sp: dict) -> Stream:
    # carried state: the in-window non-zero [sec, amt] entries
    fold = trailing_sum_fold(int(sp["window_seconds"]), "amt", pairs=True)
    return Stream({"amt": (_amount(sp), "int64")}, T.LongType(), "int64", fold)


def _wsum_batch(df, sp, sec, pin):
    total = F.sum(_amount(sp)).over(_frame(sec, int(sp["window_seconds"]), sp["key_col"]))
    return _out(df, sp, F.coalesce(total, F.lit(0)).cast("long"))


def _decay(sp: dict) -> Stream:
    h = int(sp["halflife_s"])

    def fold(smap, mk, seg_sec, s, e, inp, out):
        # decayed registration sum, judged like the batch UNBOUNDED
        # range window, weighted 2^20 >> halflife_bucket_age (zero
        # beyond 20). State carries per-SECOND merged (sec, amt) entries
        # within the 21-bucket horizon behind the key's newest event —
        # older entries weigh 0 for every future row
        all_sec, all_amt = _sorted_amounts(smap, mk, seg_sec, inp["amt"][s:e])
        # merge equal seconds (RANGE ties share the whole tie group)
        u_sec, inv = np.unique(all_sec, return_inverse=True)
        u_amt = np.bincount(inv, weights=all_amt.astype("float64")).astype("int64")
        u_b = u_sec // h
        csum = np.concatenate(([0], np.cumsum(u_amt)))
        row_b = seg_sec // h
        # same-bucket partial: sec <= row sec
        lo0 = np.searchsorted(u_b, row_b, side="left")
        hi0 = np.searchsorted(u_sec, seg_sec, side="right")
        score = (csum[hi0] - csum[lo0]) * (1 << 20)
        for dd in range(1, 21):
            lb = np.searchsorted(u_b, row_b - dd, side="left")
            rb = np.searchsorted(u_b, row_b - dd, side="right")
            score += (csum[rb] - csum[lb]) * ((1 << 20) >> dd)
        out[s:e] = score
        kidx = np.searchsorted(u_b, int(seg_sec.max() // h) - 20, side="left")
        _put(smap, mk, [
            [int(t), int(a)] for t, a in zip(u_sec[kidx:], u_amt[kidx:]) if a != 0
        ])

    return Stream({"amt": (_amount(sp), "int64")}, T.LongType(), "int64", per_key(fold))


def _decay_batch(df, sp, sec, pin):
    # every same-key registration up to this second, folded JVM-side:
    # weight 2^20 >> bucket age via a literal array lookup (no float)
    bkt = F.floor(sec / F.lit(int(sp["halflife_s"]))).cast("long")
    entries = F.collect_list(F.struct(bkt.alias("b"), _amount(sp).alias("a"))).over(
        _frame(sec, None, sp["key_col"])
    )
    # weights[d+1] = 2^20 >> d for d in 0..21; entry 22 is the exact
    # zero (2^20 >> 21), and the index clamp keeps every lookup in
    # bounds under ANSI element_at
    weights = F.array(*[F.lit((1 << 20) >> d) for d in range(22)])
    score = F.aggregate(
        entries,
        F.lit(0).cast("long"),
        lambda acc, e: acc
        + e["a"] * F.element_at(weights, (F.least(F.lit(21), bkt - e["b"]) + 1).cast("int")),
    )
    return _out(df, sp, score.cast("long"))


def _tent(sp: dict) -> Stream:
    def fold(smap, mk, seg_sec, s, e, inp, out):
        # running transition entropy: state [last_symbol, n, sq,
        # {pair: count}]; the quantized c*ln(c) deltas telescope exactly,
        # matching the batch two-window formulation bit-for-bit under
        # the same (sec, ord) order. c*ln(c) >= 0, so floor(x + 0.5) is
        # the JVM HALF_UP round the batch path uses
        last, ncnt, sq, cnts = smap.get(mk) or [None, 0, 0, {}]
        seg_out = out[s:e]
        for j, ch in enumerate(inp["sym"][s:e]):
            if last is not None:
                pr = last + "\x01" + ch
                cc = cnts.get(pr, 0) + 1
                cnts[pr] = cc
                r1 = math.floor(cc * math.log(cc) * 1e9 + 0.5)
                r0 = math.floor((cc - 1) * math.log(cc - 1) * 1e9 + 0.5) if cc >= 2 else 0
                sq += r1 - r0
                ncnt += 1
                h = math.log(ncnt) - sq / (1e9 * ncnt)
                seg_out[j] = math.floor(h * 1e6 + 0.5) / 1e6
            else:
                seg_out[j] = 0.0
            last = ch
        smap[mk] = [last, ncnt, sq, cnts]

    return Stream({"sym": (sp["state_col"], "object")}, T.DoubleType(), "float64", per_key(fold))


def _tent_batch(df, sp, sec, pin):
    # TELESCOPED: the per-pair running count c turns each row into the
    # quantized delta r(c ln c) - r((c-1) ln(c-1)), whose key-running
    # sum is sum_pairs r(c ln c) at every row: two shuffles (key+pair,
    # then key), no prefix scan, no map state. Rounded to 6 decimals
    # by contract: JVM and libm log differ by 1 ulp on some inputs
    qf = 1e9
    name, sym = sp["name"], sp["state_col"]
    p, d, v = f"{name}_p", f"{name}_d", f"{name}_v"
    w_key = _ordered(sp, sec)
    prev = F.lag(sym).over(w_key)
    df1 = df.select("*", F.when(prev.isNotNull(), F.concat_ws("\x01", prev, sym)).alias(p))
    c = F.count(F.col(p)).over(_ordered(sp, sec, F.col(p)).rowsBetween(Window.unboundedPreceding, 0))
    cd, c0d = c.cast("double"), (c - 1).cast("double")
    r1 = F.round(cd * F.log(cd) * F.lit(qf), 0).cast("long")
    r0 = F.when(c >= 2, F.round(c0d * F.log(c0d) * F.lit(qf), 0).cast("long")).otherwise(
        F.lit(0).cast("long")
    )
    delta = F.when(F.col(p).isNotNull(), r1 - r0).otherwise(F.lit(0).cast("long"))
    df2 = df1.select("*", delta.alias(d), F.col(p).isNotNull().cast("long").alias(v))
    w_run = w_key.rowsBetween(Window.unboundedPreceding, 0)
    s_run, n_run = F.sum(F.col(d)).over(w_run), F.sum(F.col(v)).over(w_run)
    nd = n_run.cast("double")
    ent = F.when(
        n_run >= 1, F.round(F.log(nd) - s_run.cast("double") / (F.lit(qf) * nd), 6)
    ).otherwise(F.lit(0.0))
    return _out(df2, sp, ent).drop(p, d, v)


def _write_rank(w: list) -> tuple:
    """Order of a write ``[ts, idx, exp, val]``: the batch struct max,
    NULL values lowest."""
    return (w[:3], w[3] is not None, w[3])


def _cache(sp: dict) -> Stream:
    sets = [(j, int(st["idx"]), round(st["ttl"])) for j, st in enumerate(sp["sets"])]

    def fold(smap, mk, seg_sec, s, e, inp, out):
        # rebuild the batch resolver's event stream for this segment —
        # per row, its gated Set writes then its probe, sorted (sec,
        # writes-first, stmt idx) — and fold the Redis overwrite state
        # through it. events: (sec, kind 0=write/1=probe, idx, payload, exp)
        events = []
        for r in range(s, e):
            t = int(seg_sec[r - s])
            for j, idx, ttl in sets:
                if inp[f"g{j}"][r]:
                    v = inp[f"v{j}"][r]
                    v = None if pd.isna(v) else (v.item() if hasattr(v, "item") else v)
                    events.append((t, 0, idx, v, t + ttl - 1))
            events.append((t, 1, 0, r, 0))
        events.sort(key=lambda ev: (ev[0], ev[1], ev[2]))
        latest = smap.get(mk)  # [ts, idx, exp, val]
        for t, kind, idx, payload, exp in events:
            if kind == 0:
                w = [t, idx, exp, payload]
                if latest is None or _write_rank(w) > _write_rank(latest):
                    latest = w
            elif latest is not None and latest[2] >= t:
                out[payload] = latest[3]
        _put(smap, mk, latest)

    cols = {}
    for j, st in enumerate(sp["sets"]):
        # a NULL key never writes (the batch resolver filters it)
        cols[f"g{j}"] = (st["key_col"].isNotNull() & _gate(st), "bool")
        cols[f"v{j}"] = (st["value_col"].cast(sp["cast"]), "object")
    return Stream(cols, T._parse_datatype_string(sp["cast"]), "object", per_key(fold))


def cache_union(probes: DataFrame, df: DataFrame, sp: dict, sec: Column) -> DataFrame:
    """``probes`` (rows carrying the Get's key as ``_ck`` and their
    event second as ``_cts``) unioned with one narrow row per gated Set
    write of ``df`` with a non-NULL key: ``_ck`` the Set's key,
    ``_cts`` the write's second, ``_cidx`` the statement index,
    ``_cexp`` the last second the write is readable and ``_cv`` the
    value. Probe rows read NULL in the last three; write rows read NULL
    in every other probe column."""
    rel = probes
    for st in sp["sets"]:
        writes = df.filter(_gate(st) & st["key_col"].isNotNull()).select(
            st["key_col"].cast("string").alias("_ck"),
            sec.alias("_cts"),
            F.lit(int(st["idx"])).cast("long").alias("_cidx"),
            (sec + F.lit(round(st["ttl"]) - 1)).alias("_cexp"),
            st["value_col"].cast(sp["cast"]).alias("_cv"),
        )
        rel = rel.unionByName(writes, allowMissingColumns=True)
    return rel


def cache_result(looked_up: Column, sp: dict) -> Column:
    """A CacheGet's value from its raw lookup: the default when nothing
    live was found or the Get's gate is off."""
    result = F.coalesce(looked_up, sp["default_col"])
    if sp["gate"] is not None:
        result = F.when(_gate(sp), result).otherwise(sp["default_col"])
    return result


def _cache_batch(df, sp, sec, pin):
    # a key-VALUE lookup (Redis pairing, see functions/cache.py): one
    # shuffle on the key value over the union of probes and writes, the
    # latest write in the max-TTL frame, expiry-checked against the
    # probe's second (an expired latest write hides older ones), and
    # the values join back by row id
    df = pin(df)
    probes = df.select(
        F.col(ROW_ID).alias("_crid"), sp["key_col"].cast("string").alias("_ck"), sec.alias("_cts")
    )
    rel = cache_union(probes, df, sp, sec)
    max_ttl = max([1] + [round(st["ttl"]) for st in sp["sets"]])
    is_write = F.col("_cidx").isNotNull()
    best = F.max(
        F.when(is_write, F.struct(
            F.col("_cts").alias("ts"), F.col("_cidx").alias("i"),
            F.col("_cexp").alias("exp"), F.col("_cv").alias("v"),
        ))
    ).over(_frame(F.col("_cts"), max_ttl, "_ck"))
    looked_up = (
        rel.withColumn("_cbest", best)
        .filter(~is_write)
        .select("_crid", F.when(F.col("_cbest.exp") >= F.col("_cts"), F.col("_cbest.v")).alias("_cval"))
    )
    df = df.join(looked_up, df[ROW_ID] == looked_up["_crid"], "left").drop("_crid")
    return _out(df, sp, cache_result(F.col("_cval"), sp)).drop("_cval")


FAMILIES: dict[str, Family] = {
    "window": Family("__wc_", _window_batch, ("key_col", "incremented", "gate"), _window),
    "seq": Family("__sq_", _seq_batch, ("key_col", "symbol_col", "order_col"), _seq),
    "wdistinct": Family("__wd_", _wdistinct_batch, ("key_col", "value_col", "gate"), _wdistinct),
    "sess": Family("__sc_", _sess_batch, ("key_col",), _sess),
    "last": Family("__lv_", _last_batch, ("key_col", "value_col", "order_col"), _last),
    "wsum": Family("__ws_", _wsum_batch, ("key_col", "value_col", "gate"), _wsum),
    "age": Family("__ka_", _age_batch, ("key_col",), _age),
    "rl": Family("__rl_", _rl_batch, ("key_col", "order_col"), _rl),
    "unique": Family("__uc_", _unique_batch, ("key_col", "value_col", "gate"), _unique),
    "wminmax": Family("__wm_", _wminmax_batch, ("key_col", "value_col", "gate"), _wminmax),
    "seen": Family("__sb_", _seen_batch, ("key_col", "value_col", "gate"), _seen),
    "decay": Family("__dy_", _decay_batch, ("key_col", "value_col", "gate"), _decay),
    "tent": Family("__te_", _tent_batch, ("key_col", "state_col", "order_col"), _tent),
    "burst": Family("__bs_", _burst_batch, ("key_col",), _burst),
    "cache": Family("__cache_", _cache_batch, ("key_col", "default_col", "gate", "sets"), _cache),
}


def defer_state_op(ctx, fam: str, dtype: str, **spec) -> Value:
    """Register one stateful call: name it ``<prefix><n>`` (its index
    among the family's ops), store ``(fam, spec)`` under that name in
    ``ctx.state_ops``, append the deferred feature ``apply()``
    resolves, and return the feature's ``Value``. ``spec`` is exactly
    what ``op_identities`` digests, so a changed field starts that op's
    checkpointed state empty."""
    n = sum(1 for f, _ in ctx.state_ops.values() if f == fam)
    name = f"{FAMILIES[fam].prefix}{n}"
    ctx.state_ops[name] = (fam, {"name": name, **spec})
    ctx.feature_exprs.append((name, None))
    return Value(col=F.col(name), dtype=dtype)


def spec_columns(fam: str, sp: dict) -> list[Column]:
    """The input Columns of one spec (a cache spec's paired Set
    statements included)."""
    cols = []
    for field in FAMILIES[fam].inputs:
        v = sp[field]
        if field == "sets":
            for st in v:
                cols += [c for c in (st["key_col"], st["value_col"], st["gate"]) if c is not None]
        elif v is not None:
            cols.append(v)
    return cols


_ORIGIN_RE = re.compile(r",?Origin\((?:[^()]|\((?:[^()]|\([^()]*\))*\))*\)")
_LAMBDA_VAR_RE = re.compile(r"UnresolvedNamedLambdaVariable\((\w+)")


def stable_node(col: Column) -> str:
    """A Column's expression tree as a string that is the same for the
    same expression in every compile: source origins (call-site stack
    traces) are dropped and fresh lambda-variable names renumbered."""
    s = _ORIGIN_RE.sub("", col._jc.node().toString())
    names: dict = {}
    return _LAMBDA_VAR_RE.sub(
        lambda m: "UnresolvedNamedLambdaVariable("
        + names.setdefault(m.group(1), f"lv{len(names)}"),
        s,
    )


def _canonical(v: Any) -> Any:
    if isinstance(v, Column):
        return stable_node(v)
    if isinstance(v, dict):
        return {k: _canonical(x) for k, x in v.items() if k not in ("name", "key_repr")}
    if isinstance(v, (list, tuple)):
        return [_canonical(x) for x in v]
    return v


def op_identities(fspecs: list) -> list[str]:
    """The state-map key of each op of a fused pass: family plus a
    digest of its parameters and input expressions (not its mangled
    feature name, which shifts when ops are added before it).
    Identical ops get ``#n`` suffixes so each keeps its own state."""
    out: list[str] = []
    for fam, sp in fspecs:
        digest = hashlib.sha1(
            json.dumps(_canonical(sp), sort_keys=True, default=str).encode()
        ).hexdigest()[:16]
        ident = f"{fam}:{digest}"
        n = sum(1 for o in out if o.split("#")[0] == ident)
        out.append(f"{ident}#{n}" if n else ident)
    return out


def op_states(stored: Any, idents: list[str], fams: list[str]) -> list[dict]:
    """Per-op ``{key: entry}`` maps, in op order, from a bucket's stored
    composite state. The current layout maps op identity -> map, so
    unchanged ops keep their state across a ruleset change, new ops
    start empty and dropped ops are discarded. Two older layouts are
    accepted only where they are unambiguous: a positional list whose
    length equals the op count, and the single-op ``{key: entry}`` map
    of the former standalone window-count / sequence / cache resolvers."""
    if isinstance(stored, list):
        if len(stored) != len(idents):
            raise ValueError(
                f"fused state holds {len(stored)} op states in the positional "
                f"list layout but the pass now has {len(idents)} ops; the "
                "list layout cannot say which op each state belongs to. "
                "Resume with the original ruleset, or start a new checkpoint."
            )
        return stored
    if any(not isinstance(v, dict) for v in stored.values()):
        entry = {"window": list, "seq": str, "cache": list}.get(fams[0]) if len(fams) == 1 else None
        if entry is None or not all(isinstance(v, entry) for v in stored.values()):
            raise ValueError(
                "fused state holds a single-op {key: entry} map (the layout of "
                "the former standalone IncrementWindow / SequenceMatches / "
                f"CacheGet resolvers) but the pass now runs {fams}; it resumes only "
                "into the same single op. Resume with the original ruleset, "
                "or start a new checkpoint."
            )
        return [stored]
    return [stored.get(ident, {}) for ident in idents]
