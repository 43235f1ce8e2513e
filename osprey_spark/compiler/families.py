"""The stateful rule families: one table row and one streaming fold each.

Every stateful SML call (``IncrementWindow``, ``SequenceMatches``,
``GetUniqueCount``, ``CacheGet*`` ...) registers a spec in a
``CompilerContext`` list and a deferred feature; ``CompiledRuleset.apply``
resolves it at plan time. ``FAMILIES`` is the only place that knows the
families:

- ``lookups`` — the ``CompilerContext`` attribute holding the specs;
- ``batch`` — the ``CompiledRuleset`` method resolving one spec on a
  batch frame (window functions, JVM-side);
- ``inputs`` — the spec fields holding input Columns (dependency
  extraction for hoisting and fusion);
- ``stream`` — the builder for the streaming side: the columns the
  fused state pass ships per op, the output type, and the per-key
  segment fold.

Streaming frames resolve every family through the fused state pass
(``CompiledRuleset._join_fused_state``): rows sort by (key, sec[, ord]),
and each key's segment folds through every op of the pass against that
op's ``{key: entry}`` map. A segment fold has the signature
``fold(smap, mk, seg_sec, s, e, inp, out)``: ``mk`` is the JSON map key,
``seg_sec`` the segment's event seconds, ``[s, e)`` its rows in the
batch, ``inp`` the op's input arrays and ``out`` its output array.
Each fold is pinned to its batch resolver by the stream==batch suites.
"""

from __future__ import annotations

import hashlib
import json
import math
import re
from typing import Any, Callable, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T


class Family(NamedTuple):
    lookups: str
    batch: str
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


def _put(smap: dict, mk: str, entry: Any) -> None:
    """Store a key's entry; an empty entry evicts the slot."""
    if entry:
        smap[mk] = entry
    elif mk in smap:
        del smap[mk]


def _present(v) -> bool:
    return v is not None and not pd.isna(v)


def _window(sp: dict) -> Stream:
    win, cap, gated = int(sp["window_seconds"]), int(sp["cap"]), sp["gate"] is not None

    def fold(smap, mk, seg_sec, s, e, inp, out):
        # all increment timestamps visible for this key: carried deque
        # + this segment's gated rows. Count at row i = increments in
        # [sec_i - win + 1, sec_i]; a row's own increment sorts <= sec_i
        # so it counts, later rows' do not — zadd-then-zcard, vectorized
        inc_ts = np.sort(
            np.concatenate(
                [np.asarray(smap.get(mk, ()), dtype="int64"), seg_sec[inp["inc"][s:e]]]
            )
        )
        hi = np.searchsorted(inc_ts, seg_sec, side="right")
        lo = np.searchsorted(inc_ts, seg_sec - win + 1, side="left")
        counts = hi - lo
        if cap and len(inc_ts) > cap:
            counts = np.minimum(counts, cap)
        out[s:e] = np.where(inp["gate"][s:e], counts, 0) if gated else counts
        keep = int(seg_sec.max()) - win + 1
        kept = inc_ts[np.searchsorted(inc_ts, keep, side="left"):]
        _put(smap, mk, [int(x) for x in kept])

    cols = {"inc": (F.coalesce(sp["incremented"], F.lit(False)), "bool")}
    if gated:
        cols["gate"] = (_gate(sp), "bool")
    return Stream(cols, T.LongType(), "int64", fold)


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

    return Stream({"sym": (sp["symbol_col"], "object")}, T.BooleanType(), "bool", fold)


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
    return Stream(cols, T.LongType(), "int64", fold)


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
    return Stream(cols, T.BooleanType(), "bool", fold)


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
    return Stream(cols, T.LongType(), "object", fold)


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
    return Stream(cols, T.LongType(), "int64", fold)


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

    return Stream({}, T.LongType(), "int64", fold)


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

    return Stream({"val": (sp["value_col"], "object")}, T.StringType(), "object", fold)


def _rl(sp: dict) -> Stream:
    rate, cap, cost = int(sp["rate"]), int(sp["cap"]), int(sp["cost"])

    def fold(smap, mk, seg_sec, s, e, inp, out):
        # token bucket: state [tokens_units, last_sec]; a NEW key starts
        # FULL. The exact recurrence the batch resolver runs — integer
        # units throughout, denials consume nothing
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

    return Stream({}, T.BooleanType(), "bool", fold)


def _age(sp: dict) -> Stream:
    def fold(smap, mk, seg_sec, s, e, inp, out):
        # seconds since the key's first-seen second; the min-fold lets a
        # late out-of-order first event lower the carried floor (it
        # reports 0 itself: the segment is sec-sorted)
        st = smap.get(mk)
        first = int(seg_sec[0]) if st is None else min(int(st[0]), int(seg_sec[0]))
        out[s:e] = seg_sec - first
        smap[mk] = [first]

    return Stream({}, T.LongType(), "int64", fold)


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

    return Stream({}, T.DoubleType(), "float64", fold)


def _amount(sp: dict) -> Column:
    amt = sp["value_col"]
    if sp["gate"] is not None:
        amt = F.when(F.coalesce(sp["gate"], F.lit(False)), amt).otherwise(F.lit(0))
    return amt.cast("long")


def _sorted_amounts(smap, mk, seg_sec, amt):
    prev = np.asarray(smap.get(mk, ()), dtype="int64").reshape(-1, 2)
    all_sec = np.concatenate([prev[:, 0], seg_sec])
    all_amt = np.concatenate([prev[:, 1], amt])
    order = np.argsort(all_sec, kind="stable")
    return all_sec[order], all_amt[order]


def _wsum(sp: dict) -> Stream:
    win = int(sp["window_seconds"])

    def fold(smap, mk, seg_sec, s, e, inp, out):
        # trailing-window SUM, judged like the batch RANGE window: all
        # visible same-key amounts (carried + this whole segment) with
        # ts in [sec_r - win + 1, sec_r]. Carried state is the in-window
        # non-zero (sec, amt) entries, re-sorted because late data may
        # put carried entries after segment rows
        all_sec, all_amt = _sorted_amounts(smap, mk, seg_sec, inp["amt"][s:e])
        csum = np.concatenate(([0], np.cumsum(all_amt)))
        hi = np.searchsorted(all_sec, seg_sec, side="right")
        lo = np.searchsorted(all_sec, seg_sec - win + 1, side="left")
        out[s:e] = csum[hi] - csum[lo]
        kidx = np.searchsorted(all_sec, int(seg_sec.max()) - win + 1, side="left")
        _put(smap, mk, [
            [int(t), int(a)] for t, a in zip(all_sec[kidx:], all_amt[kidx:]) if a != 0
        ])

    return Stream({"amt": (_amount(sp), "int64")}, T.LongType(), "int64", fold)


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

    return Stream({"amt": (_amount(sp), "int64")}, T.LongType(), "int64", fold)


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

    return Stream({"sym": (sp["state_col"], "object")}, T.DoubleType(), "float64", fold)


def _cache(sp: dict) -> Stream:
    sets = [(j, int(st["idx"]), round(st["ttl"])) for j, st in enumerate(sp["sets"])]

    def fold(smap, mk, seg_sec, s, e, inp, out):
        # rebuild the union resolver's event stream for this segment —
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
                if latest is None or [t, idx] >= latest[:2]:
                    latest = [t, idx, exp, payload]
            elif latest is not None and latest[2] >= t:
                out[payload] = latest[3]
        _put(smap, mk, latest)

    cols = {}
    for j, st in enumerate(sp["sets"]):
        # a NULL key never writes (the union resolver filters it)
        g = st["key_col"].isNotNull()
        if st["gate"] is not None:
            g = g & F.coalesce(st["gate"], F.lit(False))
        cols[f"g{j}"] = (g, "bool")
        cols[f"v{j}"] = (st["value_col"].cast(sp["cast"]), "object")
    return Stream(cols, T._parse_datatype_string(sp["cast"]), "object", fold)


FAMILIES: dict[str, Family] = {
    "window": Family("window_lookups", "_join_window_count",
                     ("key_col", "incremented", "gate"), _window),
    "seq": Family("seq_lookups", "_join_seq_match",
                  ("key_col", "symbol_col", "order_col"), _seq),
    "wdistinct": Family("distinct_lookups", "_join_window_distinct",
                        ("key_col", "value_col", "gate"), _wdistinct),
    "sess": Family("session_lookups", "_join_session_count", ("key_col",), _sess),
    "last": Family("last_lookups", "_join_last_value",
                   ("key_col", "value_col", "order_col"), _last),
    "wsum": Family("wsum_lookups", "_join_window_sum",
                   ("key_col", "value_col", "gate"), _wsum),
    "age": Family("age_lookups", "_join_key_age", ("key_col",), _age),
    "rl": Family("ratelimit_lookups", "_join_rate_limit",
                 ("key_col", "order_col"), _rl),
    "unique": Family("unique_lookups", "_join_unique_count",
                     ("key_col", "value_col", "gate"), _unique),
    "wminmax": Family("wminmax_lookups", "_join_window_minmax",
                      ("key_col", "value_col", "gate"), _wminmax),
    "seen": Family("seen_lookups", "_join_seen_before",
                   ("key_col", "value_col", "gate"), _seen),
    "decay": Family("decay_lookups", "_join_decay_score",
                    ("key_col", "value_col", "gate"), _decay),
    "tent": Family("tent_lookups", "_join_transition_entropy",
                   ("key_col", "state_col", "order_col"), _tent),
    "burst": Family("burst_lookups", "_join_burstiness", ("key_col",), _burst),
    "cache": Family("cache_lookups", "_join_cache",
                    ("key_col", "default_col", "gate", "sets"), _cache),
}


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
