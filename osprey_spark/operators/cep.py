"""CEP sequence-pattern detection over per-key event sequences.

The north-rule engine class (Flink CEP / SQL MATCH_RECOGNIZE) detects
ORDERED patterns — "an assistant turn followed by a run of tool calls
with no user turn in between" — which Spark has no built-in operator
for. This module implements it MATCH_RECOGNIZE-style as a composition
of DataFrame ops:

1. each row maps to ONE character from a caller-chosen alphabet
   (``symbols_from_map``: a chained CASE — pure projection);
2. one hash aggregate per key builds the ordered symbol string
   (``collect_list(struct(order, sym))`` → ``array_sort`` →
   ``array_join``) — the ONLY shuffle, carrying one char per event;
3. the pattern — a regular expression over the alphabet — is counted
   and located with JVM-side ``regexp_count`` / ``regexp_instr``.

Because every event is exactly one character, string positions ARE
sequence positions: ``first_match_idx`` is the 0-based index (e.g.
``turn_idx``) of the first matching event.

Scale shape at 10^12 turns: per-key state is bounded by the
conversation length, never the corpus (the same boundedness contract
as session windows); the aggregate is map-side partial over (key,
order, char) triples; no join, no window over the full table. Matching
cost is linear in the per-key sequence length. Patterns must not match
the empty string (both engines would loop on zero-width matches) —
rejected at construction.

Regex subset: character literals, classes (``[^ua]``), anchors,
bounded/unbounded greedy quantifiers — the subset with identical
semantics in Java regex (Spark) and RE2 (the DuckDB oracle). Counting
is non-overlapping leftmost, the shared convention of Java
``Matcher.find`` loops and RE2 global extraction.

The reference engine keeps per-conversation tool sequences in rule
state (streaming form: ``streaming/state.py`` escalation ``tool_seq``)
but has no pattern matcher over them; this operator is the survey's
§2.6 CEP extension. Streaming form: ``stream_sequence_match`` below —
incremental non-overlapping counting through
``applyInPandasWithState``, same leftmost semantics per key.
"""

from __future__ import annotations

import re
from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from ..streaming.buckets import state_bucket_count


def _validate_pattern(pattern: str) -> None:
    re.compile(pattern)  # syntax check (Python ~ Java subset used here)
    if re.search(pattern, "") is not None:
        raise ValueError(f"pattern must not match the empty string: {pattern!r}")


def symbols_from_map(col: Column, mapping: Mapping[str, str], default: str = "?") -> Column:
    """Map a categorical column to one-char symbols (chained CASE;
    NULL and unmapped values map to ``default``)."""
    for v in list(mapping.values()) + [default]:
        if len(v) != 1:
            raise ValueError(f"symbols must be single characters, got {v!r}")
    expr = F.lit(default)
    for k, v in reversed(list(mapping.items())):
        expr = F.when(col == F.lit(k), F.lit(v)).otherwise(expr)
    return expr


def sequence_match(
    df: DataFrame,
    pattern: str,
    symbol: Column,
    key_col: str = "conv_id",
    order_cols: Sequence[str] = ("turn_idx",),
    min_matches: int = 1,
) -> DataFrame:
    """Keys whose ordered symbol sequence matches ``pattern`` at least
    ``min_matches`` times (non-overlapping, leftmost) →
    ``(key, seq_len, n_matches, first_match_idx)``.

    ``first_match_idx`` is the 0-based sequence position (== the first
    ``order_cols`` rank) where the first match starts.
    """
    _validate_pattern(pattern)
    seq = (
        df.select(F.col(key_col), *[F.col(c) for c in order_cols], symbol.alias("_sym"))
        .groupBy(key_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(*order_cols, "_sym"))
                    ),
                    lambda s: s["_sym"],
                ),
                "",
            ).alias("_seq")
        )
    )
    n = F.regexp_count(F.col("_seq"), F.lit(pattern))
    return (
        seq.select(
            F.col(key_col),
            F.length("_seq").cast("long").alias("seq_len"),
            n.cast("long").alias("n_matches"),
            (F.regexp_instr(F.col("_seq"), F.lit(pattern)) - 1)
            .cast("long")
            .alias("first_match_idx"),
        )
        .filter(F.col("n_matches") >= min_matches)
        .orderBy(key_col)
    )


def sequence_match_sessions(
    df: DataFrame,
    pattern: str,
    symbol: Column,
    key_col: str = "conv_id",
    ts_col: str = "ts",
    order_cols: Sequence[str] = ("turn_idx",),
    gap_seconds: int = 1800,
    min_matches: int = 1,
) -> DataFrame:
    """Time-bounded CEP (Flink CEP ``within()`` analogue): the pattern
    must complete inside ONE session — a maximal run of events per key
    with inter-event gaps ≤ ``gap_seconds`` — so matches cannot span
    arbitrarily stale history. Composition of the engine's sessionizer
    (lag + gap-flag + running-sum session ids, one key shuffle reused
    by both windows) with :func:`sequence_match` grouped by
    (key, session): per-group state is bounded by the SESSION length,
    strictly tighter than the whole-conversation bound.

    Output: ``(key, session_id, session_start, seq_len, n_matches,
    first_match_idx)`` — ``first_match_idx`` is the position within
    the session, ``session_id`` the per-key 1-based session ordinal.
    """
    from pyspark.sql import Window

    from .timeutil import epoch_seconds

    _validate_pattern(pattern)
    base = df.select(
        F.col(key_col),
        *[F.col(c) for c in order_cols],
        epoch_seconds(F.col(ts_col)).alias("_sec"),
        symbol.alias("_sym"),
    )
    byk = Window.partitionBy(key_col).orderBy("_sec", *order_cols)
    sec = F.col("_sec")
    new_sess = (
        F.when(F.lag(sec).over(byk).isNull(), 1)
        .when(sec - F.lag(sec).over(byk) > gap_seconds, 1)
        .otherwise(0)
    )
    with_sess = base.withColumn("_sess", F.sum(new_sess).over(byk))
    seq = with_sess.groupBy(key_col, "_sess").agg(
        F.floor(F.min("_sec")).cast("long").alias("session_start"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_sec", *order_cols, "_sym"))),
                lambda s: s["_sym"],
            ),
            "",
        ).alias("_seq"),
    )
    n = F.regexp_count(F.col("_seq"), F.lit(pattern))
    return (
        seq.select(
            F.col(key_col),
            F.col("_sess").cast("long").alias("session_id"),
            F.col("session_start"),
            F.length("_seq").cast("long").alias("seq_len"),
            n.cast("long").alias("n_matches"),
            (F.regexp_instr(F.col("_seq"), F.lit(pattern)) - 1)
            .cast("long")
            .alias("first_match_idx"),
        )
        .filter(F.col("n_matches") >= min_matches)
        .orderBy(key_col, "session_id")
    )


def sequence_match_sessions_oracle_sql(
    pattern: str,
    symbol_case_sql: str,
    key_col: str = "conv_id",
    ts_col: str = "ts",
    order_col: str = "turn_idx",
    gap_seconds: int = 1800,
    table: str = "turns",
    min_matches: int = 1,
) -> str:
    """DuckDB replay of :func:`sequence_match_sessions` — identical
    lag/gap/running-sum session assignment, identical regex reads."""
    esc = pattern.replace("'", "''")
    return f"""
WITH e AS (
  SELECT {key_col}, {order_col}, epoch({ts_col}) AS sec,
         {symbol_case_sql} AS sym
  FROM {table}
),
m AS (
  SELECT *, CASE WHEN lag(sec) OVER w IS NULL
                      OR sec - lag(sec) OVER w > {gap_seconds}
                 THEN 1 ELSE 0 END AS new_s
  FROM e WINDOW w AS (PARTITION BY {key_col} ORDER BY sec, {order_col})
),
s AS (
  SELECT *, sum(new_s) OVER (PARTITION BY {key_col} ORDER BY sec, {order_col}) AS sess
  FROM m
),
seqs AS (
  SELECT {key_col}, sess, CAST(floor(min(sec)) AS BIGINT) AS session_start,
         string_agg(sym, '' ORDER BY sec, {order_col}) AS seq
  FROM s GROUP BY {key_col}, sess
)
SELECT {key_col}, CAST(sess AS BIGINT) AS session_id, session_start,
  CAST(length(seq) AS BIGINT) AS seq_len,
  CAST(len(regexp_extract_all(seq, '{esc}')) AS BIGINT) AS n_matches,
  CAST(length(regexp_extract(seq, '^((?:.)*?)(?:{esc})', 1)) AS BIGINT) AS first_match_idx
FROM seqs
WHERE len(regexp_extract_all(seq, '{esc}')) >= {min_matches}
ORDER BY {key_col}, session_id
"""


def consume_matches(
    rx: "re.Pattern[str]",
    buf: str,
    base: int,
    n_matches: int,
    first_idx: int,
) -> tuple[str, int, int, int]:
    """The incremental non-overlapping matcher shared by the streaming
    state fns: count every leftmost match in ``buf``, consuming each
    matched prefix; ``base`` is the global sequence index of
    ``buf[0]``. Returns the updated (buf, base, n_matches,
    first_idx). Split-invariance — feeding a symbol string through
    this in ANY chunking yields the same counts/first index as one
    pass, and equals the batch regex semantics for fixed-length
    patterns — is pinned by a hypothesis property test."""
    while True:
        m = rx.search(buf)
        if m is None:
            return buf, base, n_matches, first_idx
        if first_idx < 0:
            first_idx = base + m.start()
        n_matches += 1
        buf = buf[m.end() :]
        base += m.end()


def stream_sequence_match(
    turns: DataFrame,
    pattern: str,
    symbol: Column,
    key_col: str = "conv_id",
    order_col: str = "turn_idx",
    ts_col: str = "ts",
    watermark: str = "30 minutes",
    max_buffer: int = 4096,
    session_gap_seconds: float | None = None,
) -> DataFrame:
    """Streaming counterpart of :func:`sequence_match`: per-key
    incremental pattern detection through ``applyInPandasWithState``.
    With ``session_gap_seconds`` set it is instead the streaming
    counterpart of :func:`sequence_match_sessions`: an event-time gap
    larger than the threshold closes the key's session — the finished
    session's final changelog row is emitted and the buffer, counters
    and match position reset, so matches cannot span a pause and
    ``session_id``/``first_match_idx`` line up with the batch
    operator's per-session rows (equivalence-tested). Without it,
    ``session_id`` is constantly 1.

    Emits one row per key per micro-batch that touched it —
    ``(key, seq_len, n_matches, first_match_idx)`` — a changelog whose
    latest row per key equals the batch operator's row for the same
    prefix of the stream (equivalence-tested across multi-batch
    splits).

    State per key: the symbol buffer SINCE THE END OF THE LAST COUNTED
    MATCH (plus counters). Non-overlapping leftmost counting consumes
    matched prefixes, so a match spanning micro-batches is found when
    its last symbol arrives, exactly as the batch regex would.
    Matching is EAGER (inherent to any online CEP — a matcher cannot
    wait forever for a greedy quantifier to stop extending): a match
    counts as soon as it completes on the symbols seen so far, so a
    pattern with an unbounded trailing quantifier (``t{2,}``) whose
    batch-form match would span micro-batches may count as several
    shorter matches. Fixed-length patterns (``at{2}``, ``a[ts]a``) —
    where a match cannot extend — are batch-exact (equivalence-tested).
    Boundedness: the unconsumed buffer caps at ``max_buffer`` symbols —
    older symbols are dropped from the front, so patterns whose matches
    span more than ``max_buffer`` events are missed past the cap (the
    standard bounded-state CEP tradeoff; size it to the maximum
    plausible match span, not the conversation length). Anchors are
    rejected — prefix consumption would change their meaning.

    Key coalescing as in ``streaming/keyed_state.py``: grouped by a hash
    bucket of the key (OSPREY_WC_STATE_BUCKETS) with a per-bucket
    {key: state} map; per-key segments of the (key, order)-sorted batch
    fold independently, so semantics equal per-key grouping while the
    fixed per-group Arrow cost amortizes across keys.
    """
    import pandas as pd
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from ..streaming.keyed_state import run_keyed_state

    _validate_pattern(pattern)
    if "^" in pattern or "$" in pattern:
        raise ValueError("anchors are not supported in the streaming form")
    rx = re.compile(pattern)

    out_schema = StructType(
        [
            StructField(key_col, StringType()),
            StructField("session_id", LongType()),
            StructField("seq_len", LongType()),
            StructField("n_matches", LongType()),
            StructField("first_match_idx", LongType()),
        ]
    )

    def fold(pdf, smap):
        pdf = pdf.sort_values([key_col, order_col], kind="stable")
        out_keys, out_sess, out_len, out_n, out_first = [], [], [], [], []

        def emit(conv, sess, seq_len, n_matches, first_idx):
            out_keys.append(conv)
            out_sess.append(sess)
            out_len.append(seq_len)
            out_n.append(n_matches)
            out_first.append(first_idx if first_idx >= 0 else None)

        for conv, grp in pdf.groupby(key_col, sort=False):
            mk = str(conv) if conv is not None else "\x00"
            sess, seq_len, n_matches, first_idx, base, buf, last_sec = smap.get(
                mk, [1, 0, 0, -1, 0, "", None]
            )

            def consume():
                nonlocal n_matches, first_idx, base, buf
                buf, base, n_matches, first_idx = consume_matches(
                    rx, buf, base, n_matches, first_idx
                )

            if session_gap_seconds is None:
                buf += "".join(grp["_sym"].to_numpy(dtype=object))
                seq_len += len(grp)
                consume()
            else:
                secs = (
                    grp[ts_col].to_numpy(dtype="datetime64[ns]").astype("int64")
                    / 1e9
                )
                for sym, sec in zip(grp["_sym"].to_numpy(dtype=object), secs):
                    if last_sec is not None and sec - last_sec > session_gap_seconds:
                        # close the finished session's changelog row,
                        # then reset per-session counters
                        consume()
                        emit(conv, sess, seq_len, n_matches, first_idx)
                        sess += 1
                        seq_len, n_matches, first_idx, base, buf = 0, 0, -1, 0, ""
                    last_sec = sec
                    buf += sym
                    seq_len += 1
                consume()
            if len(buf) > max_buffer:
                drop = len(buf) - max_buffer
                buf = buf[drop:]
                base += drop
            smap[mk] = [sess, seq_len, n_matches, first_idx, base, buf, last_sec]
            emit(conv, sess, seq_len, n_matches, first_idx)
        out = pd.DataFrame(
            {
                key_col: out_keys,
                "session_id": out_sess,
                "seq_len": out_len,
                "n_matches": out_n,
                "first_match_idx": pd.array(out_first, dtype="Int64"),
            }
        )
        return out, smap

    src = turns.withWatermark(ts_col, watermark).select(
        F.col(key_col).cast("string").alias(key_col),
        F.col(order_col),
        F.col(ts_col),
        symbol.alias("_sym"),
    )
    return run_keyed_state(
        src,
        fold,
        out_schema,
        "state_json",
        bucket=("__cep_bkt", [F.col(key_col).cast("string")]),
    )


def sequence_match_oracle_sql(
    pattern: str,
    symbol_case_sql: str,
    key_col: str = "conv_id",
    order_col: str = "turn_idx",
    table: str = "turns",
    min_matches: int = 1,
) -> str:
    """DuckDB replay of :func:`sequence_match`. ``symbol_case_sql`` is
    the SQL twin of the ``symbol`` expression. ``first_match_idx`` is
    replayed as the length of the shortest prefix after which the
    pattern matches (lazy-prefix capture) — identical to the leftmost
    match start ``regexp_instr`` reports."""
    esc = pattern.replace("'", "''")
    return f"""
WITH seqs AS (
  SELECT {key_col}, string_agg({symbol_case_sql}, '' ORDER BY {order_col}) AS seq
  FROM {table} GROUP BY {key_col}
)
SELECT {key_col},
  CAST(length(seq) AS BIGINT) AS seq_len,
  CAST(len(regexp_extract_all(seq, '{esc}')) AS BIGINT) AS n_matches,
  CAST(length(regexp_extract(seq, '^((?:.)*?)(?:{esc})', 1)) AS BIGINT) AS first_match_idx
FROM seqs
WHERE len(regexp_extract_all(seq, '{esc}')) >= {min_matches}
ORDER BY {key_col}
"""


def response_absence(
    turns: DataFrame,
    timeout_seconds: int = 300,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    ts_col: str = "ts",
    trigger_role: str = "user",
    response_role: str = "assistant",
) -> DataFrame:
    """CEP NEGATION — absence detection: for every ``trigger_role``
    turn, was there a ``response_role`` turn LATER in the same
    conversation within ``timeout_seconds``? Positive patterns
    (sequence_match) cannot express "X *not* followed by Y within T";
    this is the complement — the SLA/abandonment signal (Flink CEP
    ``notFollowedBy`` + ``within``).

    Batch plan: one window over conv-sized partitions ordered by
    DESCENDING ``idx_col`` computes the running min event time of
    response turns at-or-after each row (a backwards-looking min over
    the reversed order — no self-join); ``responded`` compares it to
    the trigger's time. Per-key cost is conversation-bounded, the
    shuffle key is the conversation — the same contract as every
    transcript op. Output: one row per trigger turn with
    ``response_ts`` (epoch sec, NULL if none) and ``responded``.

    Streaming form: :func:`stream_response_absence` — pending
    triggers wait in the state store and unanswered ones emit on
    event-time TIMEOUT, the online shape of the same semantics.
    """
    from pyspark.sql import Window as W

    sec = F.col(ts_col).cast("timestamp").cast("long")
    base = turns.select(
        F.col(conv_col).alias("conv_id"),
        F.col(idx_col).alias("turn_idx"),
        F.col(role_col).alias("_role"),
        sec.alias("_sec"),
    )
    w = (
        W.partitionBy("conv_id")
        .orderBy(F.desc("turn_idx"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    nxt = F.min(
        F.when(F.col("_role") == response_role, F.col("_sec"))
    ).over(w)
    return (
        base.select("*", nxt.alias("_resp_sec"))
        .filter(F.col("_role") == trigger_role)
        .select(
            "conv_id",
            "turn_idx",
            F.col("_sec").alias("trigger_sec"),
            F.coalesce(
                (F.col("_resp_sec") - F.col("_sec")) <= timeout_seconds,
                F.lit(False),
            ).alias("responded"),
            # response_sec only when the SLA was met: keeps batch and
            # streaming identical (the streaming form cannot know the
            # eventual beyond-timeout response time at expiry)
            F.when(
                F.coalesce(
                    (F.col("_resp_sec") - F.col("_sec")) <= timeout_seconds,
                    F.lit(False),
                ),
                F.col("_resp_sec"),
            ).alias("response_sec"),
        )
        .orderBy("conv_id", "turn_idx")
    )


def response_absence_oracle_sql(
    table: str = "turns", timeout_seconds: int = 300
) -> str:
    """DuckDB replay of :func:`response_absence`: identical reversed
    running-min window and timeout comparison."""
    return f"""
SELECT conv_id, turn_idx,
  CAST(floor(epoch(ts)) AS BIGINT) AS trigger_sec,
  coalesce(resp - CAST(floor(epoch(ts)) AS BIGINT) <= {timeout_seconds}, FALSE) AS responded,
  CASE WHEN coalesce(resp - CAST(floor(epoch(ts)) AS BIGINT) <= {timeout_seconds}, FALSE)
       THEN resp END AS response_sec
FROM (
  SELECT conv_id, turn_idx, role, ts,
    min(CASE WHEN role = 'assistant' THEN CAST(floor(epoch(ts)) AS BIGINT) END)
      OVER (PARTITION BY conv_id ORDER BY turn_idx DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS resp
  FROM {table}
)
WHERE role = 'user'
ORDER BY conv_id, turn_idx
"""


def stream_response_absence(
    turns: DataFrame,
    timeout_seconds: int = 300,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    ts_col: str = "ts",
    trigger_role: str = "user",
    response_role: str = "assistant",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming absence detection with event-time TIMEOUT emission —
    the online form of :func:`response_absence`. Trigger turns wait
    in the state store; a later response turn resolves every pending
    trigger of its conversation (``responded`` = within
    ``timeout_seconds``); a trigger still pending when the watermark
    passes ``trigger + timeout`` can never be answered in time, so
    the slot emits ``responded=false`` and frees — nothing waits
    forever and state is bounded by OPEN triggers, not history.

    Same key-coalescing as the other state ops: buckets of the conv
    key; the bucket's timeout timestamp is the EARLIEST pending
    deadline across its conversations, re-armed after every batch.
    Late-beyond-watermark responses count as absent — the standard
    watermark contract (batch equivalence holds for streams whose
    responses respect the watermark; equivalence-tested).

    Output: one row per trigger turn (conv_id, turn_idx,
    trigger_sec, responded, response_sec) — identical schema and
    values to the batch operator.
    """
    import json as _json
    import os as _os

    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        BooleanType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from ..streaming.sketches import parse_delay_seconds

    delay_sec = parse_delay_seconds(watermark)
    n_buckets = state_bucket_count()
    sec = F.col(ts_col).cast("timestamp").cast("long")
    src = turns.withWatermark(ts_col, watermark).select(
        F.col(ts_col),
        F.col(conv_col).cast("string").alias("__ra_key"),
        F.col(idx_col).cast("long").alias("__ra_idx"),
        sec.alias("__ra_sec"),
        (F.col(role_col) == trigger_role).alias("__ra_trig"),
        (F.col(role_col) == response_role).alias("__ra_resp"),
        F.pmod(F.xxhash64(F.col(conv_col).cast("string")), F.lit(n_buckets))
        .cast("int")
        .alias("__ra_bkt"),
    )
    out_schema = StructType(
        [
            StructField("conv_id", StringType()),
            StructField("turn_idx", LongType()),
            StructField("trigger_sec", LongType()),
            StructField("responded", BooleanType()),
            StructField("response_sec", LongType()),
        ]
    )
    state_schema = StructType([StructField("pending_json", StringType())])
    _NULL_KEY = "\x00"
    tmo = int(timeout_seconds)

    def fn(key, pdf_iter, state):
        smap = _json.loads(state.get[0]) if state.exists else {}
        wm_sec = state.getCurrentWatermarkMs() // 1000
        rows: list[tuple] = []

        def _expire(now_wm: int) -> None:
            # a pending trigger is definitively unanswered once the
            # watermark (already event-time minus delay) passes its
            # deadline: no in-contract response can still arrive
            for conv in list(smap):
                kept = []
                for idx, tsec in smap[conv]:
                    if tsec + tmo < now_wm:
                        rows.append((conv if conv != _NULL_KEY else None, idx, tsec, False, None))
                    else:
                        kept.append([idx, tsec])
                if kept:
                    smap[conv] = kept
                else:
                    del smap[conv]

        def _rearm() -> None:
            deadlines = [
                tsec + tmo for p in smap.values() for _, tsec in p
            ]
            if deadlines:
                state.setTimeoutTimestamp(
                    max((min(deadlines) + 1) * 1000, state.getCurrentWatermarkMs() + 1)
                )

        def _emit():
            if not rows:
                return
            yield pd.DataFrame(
                {
                    "conv_id": [r[0] for r in rows],
                    "turn_idx": pd.array([r[1] for r in rows], dtype="int64"),
                    "trigger_sec": pd.array([r[2] for r in rows], dtype="int64"),
                    "responded": pd.array([r[3] for r in rows], dtype="bool"),
                    "response_sec": pd.array(
                        [r[4] for r in rows], dtype="Int64"
                    ),
                }
            )

        if state.hasTimedOut:
            _expire(wm_sec)
            if smap:
                state.update((_json.dumps(smap),))
                _rearm()
            else:
                state.remove()
            yield from _emit()
            return

        _expire(wm_sec)
        chunks = [c for c in pdf_iter if len(c)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
            pdf = pdf.sort_values(["__ra_key", "__ra_idx"], kind="stable")
            for conv_raw, grp in pdf.groupby("__ra_key", sort=False, dropna=False):
                conv = conv_raw if isinstance(conv_raw, str) else _NULL_KEY
                pending = smap.get(conv, [])
                for idx, tsec, trig, resp in zip(
                    grp["__ra_idx"].to_numpy(dtype="int64"),
                    grp["__ra_sec"].to_numpy(dtype="int64"),
                    grp["__ra_trig"].to_numpy(dtype=bool),
                    grp["__ra_resp"].to_numpy(dtype=bool),
                ):
                    if resp:
                        for pidx, psec in pending:
                            ok = (int(tsec) - psec) <= tmo
                            rows.append(
                                (
                                    conv if conv != _NULL_KEY else None,
                                    pidx,
                                    psec,
                                    ok,
                                    int(tsec) if ok else None,
                                )
                            )
                        pending = []
                    if trig:
                        pending.append([int(idx), int(tsec)])
                if pending:
                    smap[conv] = pending
                elif conv in smap:
                    del smap[conv]
        if smap:
            state.update((_json.dumps(smap),))
            _rearm()
        elif state.exists:
            state.remove()
        yield from _emit()

    return src.groupBy("__ra_bkt").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def sequential_patterns(
    turns: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    state_col: str = "role",
    min_support: int = 2,
    k: int = 50,
) -> DataFrame:
    """Frequent gap-allowed subsequence patterns of length 2 and 3
    over per-conversation state sequences — the PrefixSpan question
    (Pei et al. 2001) answered with EXISTENCE semantics: a
    conversation supports ``a>b>c`` iff SOME occurrence of b sits
    strictly between some a and some c (gaps allowed, one count per
    conversation). The sequence-template miner: where cep_sequence
    matches ONE known pattern, this ENUMERATES the templates and
    ranks them — a bot fleet's shared choreography surfaces as a
    high-support pattern organic traffic doesn't have.

    The engine trick that makes it joins-not-scans: collapse each
    conversation to its per-state occurrence profile — first index,
    last index, sorted index list (ONE hash aggregate; the frame is
    |conv| × |alphabet|, tiny for role/tool alphabets). Then
    - ``a>b`` is supported iff ``first(a) < last(b)`` — a pure
      column predicate on the pair join, and
    - ``a>b>c`` iff ∃ j ∈ idx(b): ``first(a) < j < last(c)`` — one
      array EXISTS per triple row.
    Per-conversation fan-out is |alphabet|² + |alphabet|³, bounded
    by the state-alphabet size, never the turn count; repeated
    states need no special cases (strict inequalities force distinct
    occurrences automatically — test-pinned).

    Support counts are exact BIGINTs; ``share`` = support/n_convs is
    one fixed division off a 1-row broadcast (the decay_score
    class). Output: top-``k`` patterns by (support desc, pattern)
    across both lengths: ``(pattern, length, support, share)``.
    """
    if int(min_support) < 1:
        raise ValueError("sequential_patterns: min_support must be >= 1")
    if int(k) < 1:
        raise ValueError("sequential_patterns: k must be >= 1")
    prof = turns.groupBy(
        F.col(conv_col).alias("_cv"), F.col(state_col).alias("_s")
    ).agg(
        F.min(idx_col).cast("long").alias("_f"),
        F.max(idx_col).cast("long").alias("_l"),
        F.array_sort(F.collect_list(F.col(idx_col).cast("long"))).alias("_ix"),
    )
    packed = prof.groupBy("_cv").agg(
        F.collect_list(F.struct("_s", "_f", "_l", "_ix")).alias("_p")
    )
    P = F.col("_p")
    p2 = F.flatten(
        F.transform(
            P,
            lambda a: F.transform(
                P,
                lambda b: F.when(
                    a["_f"] < b["_l"], F.concat_ws(">", a["_s"], b["_s"])
                ),
            ),
        )
    )
    p3 = F.flatten(
        F.transform(
            P,
            lambda a: F.flatten(
                F.transform(
                    P,
                    lambda b: F.transform(
                        P,
                        lambda c: F.when(
                            F.exists(
                                b["_ix"],
                                lambda j: (j > a["_f"]) & (j < c["_l"]),
                            ),
                            F.concat_ws(">", a["_s"], b["_s"], c["_s"]),
                        ),
                    ),
                )
            ),
        )
    )
    notnull = lambda x: x.isNotNull()  # noqa: E731
    pats = packed.select(
        F.explode(
            F.concat(F.filter(p2, notnull), F.filter(p3, notnull))
        ).alias("pattern")
    )
    n_convs = packed.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    allp = (
        pats.groupBy("pattern")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .filter(F.col("support") >= int(min_support))
    )
    out = (
        allp.join(F.broadcast(n_convs))
        .select(
            "pattern",
            (F.size(F.split(F.col("pattern"), ">")) ).cast("int").alias("length"),
            "support",
            F.round(
                F.col("support").cast("double") / F.col("_n").cast("double"), 6
            ).alias("share"),
        )
        .orderBy(F.desc("support"), "pattern")
        .limit(int(k))
    )
    return out


def sequential_patterns_sql(
    table: str,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    state_col: str = "role",
    min_support: int = 2,
    k: int = 50,
) -> str:
    """DuckDB replay of :func:`sequential_patterns` — same occurrence
    profiles, same predicates (list_filter length > 0 for EXISTS)."""
    return f"""spst AS (
  SELECT {conv_col} AS cv, {state_col} AS s,
    CAST(min({idx_col}) AS BIGINT) AS f,
    CAST(max({idx_col}) AS BIGINT) AS l,
    list_sort(list(CAST({idx_col} AS BIGINT))) AS ix
  FROM {table} GROUP BY 1, 2
),
spn AS (SELECT CAST(count(DISTINCT cv) AS BIGINT) AS n FROM spst),
spp2 AS (
  SELECT a.s || '>' || b.s AS pattern, 2 AS length,
    CAST(count(*) AS BIGINT) AS support
  FROM spst a JOIN spst b ON a.cv = b.cv AND a.f < b.l
  GROUP BY 1
),
spp3 AS (
  SELECT a.s || '>' || b.s || '>' || c.s AS pattern, 3 AS length,
    CAST(count(*) AS BIGINT) AS support
  FROM spst a
  JOIN spst b ON a.cv = b.cv
  JOIN spst c ON a.cv = c.cv
  WHERE len(list_filter(b.ix, j -> j > a.f AND j < c.l)) > 0
  GROUP BY 1
),
spall AS (
  SELECT * FROM spp2 UNION ALL SELECT * FROM spp3
)
SELECT pattern, length, support,
  round(CAST(support AS DOUBLE) / CAST(n AS DOUBLE), 6) AS share
FROM spall, spn
WHERE support >= {int(min_support)}
ORDER BY support DESC, pattern LIMIT {int(k)}"""
