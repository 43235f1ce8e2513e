"""Engine-core UDFs: data access, entities, rules, effects, time.

SURVEY.md §2.2 table. Each docstring cites the reference UDF it
reimplements (paths relative to /root/reference/osprey_worker/src/
osprey/engine/ unless noted).
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from ..compiler.values import Effect, Value
from ..compiler import nullsafe
from ..compiler.compile import annotation_dtype
from ..compiler.families import defer_state_op
from .registry import arg, const_arg, raw_arg, register, when_all_gate, whole_seconds

_JSON_CAST = {"str": "string", "int": "long", "float": "double", "bool": "boolean"}

_SIMPLE_PATH = re.compile(r"\$\.([A-Za-z_][A-Za-z0-9_]*)")


def _payload_col(ctx, path: str):
    """Resolve a JSONPath against the action payload.

    Fast path: a simple ``$.field`` path whose field is declared in
    ``bindings.data_fields`` binds straight to the typed input column
    (vectorized JVM access, JSON envelope pruned away by Catalyst).
    Anything else parses the JSON envelope with ``get_json_object``
    (missing path → NULL, matching the reference's required-path
    failure collapsing to a failed node, ref: stdlib/udfs/
    json_data.py:31-58)."""
    m = _SIMPLE_PATH.fullmatch(path)
    fields = ctx.bindings.data_fields
    if m and fields and m.group(1) in fields:
        return F.col(fields[m.group(1)]), True
    return F.get_json_object(F.col(ctx.bindings.data), path), False


@register("JsonData")
def json_data(ctx, call, args):
    """JSONPath extraction from the action's data envelope.

    ref: stdlib/udfs/json_data.py:10-58 (+ json_utils.py). The return
    type is dynamic from the assignment annotation; with our collapse
    of Err→NULL, ``required=`` has no effect on the VALUE (a missing
    required path fails the node → NULL feature → dependents poisoned,
    which SQL NULL propagation reproduces) — but a required-path miss
    IS counted in the ``__error_count`` reserved column, mirroring the
    reference's failed-node counter
    (ref: engine/executor/custom_extracted_features.py:72-81).
    """
    path = const_arg(ctx, call, args, "path")
    required = const_arg(ctx, call, args, "required", required=False, default=True)
    const_arg(ctx, call, args, "coerce_type", required=False, default=False)
    dtype = annotation_dtype(ctx.current_annotation)
    raw, direct = _payload_col(ctx, path)
    if required:
        ctx.error_indicators.append(raw.isNull())
    if dtype.startswith("list:"):
        elem = _JSON_CAST.get(dtype.split(":")[1], "string")
        if direct:
            return Value(col=raw.cast(f"array<{elem}>"), dtype=dtype)
        return Value(col=F.from_json(raw, f"array<{elem}>"), dtype=dtype)
    if dtype in _JSON_CAST:
        return Value(col=raw.cast(_JSON_CAST[dtype]), dtype=dtype)
    # unannotated: both paths return string — the envelope path
    # (get_json_object) can only yield strings, so the data_fields
    # fast path casts to match; otherwise the same SML program would
    # change comparison semantics with the binding mode (e.g.
    # TurnIdx == '5' true via JSON, false via a direct long column)
    return Value(col=raw.cast("string") if direct else raw, dtype="str")


@register("GetActionName", query=True)
def get_action_name(ctx, call, args):
    """ref: stdlib/udfs/get_action_name.py:9-14."""
    return Value(col=F.col(ctx.bindings.action_name), dtype="str")


@register("Entity")
def entity(ctx, call, args):
    """Wrap an id into EntityT (ref: stdlib/udfs/entity.py:25-47).

    Post-execution value is the bare id (ref: language_types/
    entities.py:37), so we carry the id column + the type tag.
    """
    etype = const_arg(ctx, call, args, "type")
    id_v = arg(ctx, call, args, "id")
    return Value(col=id_v.col.cast("string"), dtype="entity", entity_type=etype)


@register("EntityJson")
def entity_json(ctx, call, args):
    """Entity with the id pulled from the JSON envelope
    (ref: stdlib/udfs/entity.py:49-64)."""
    etype = const_arg(ctx, call, args, "type")
    path = const_arg(ctx, call, args, "path")
    const_arg(ctx, call, args, "required", required=False, default=True)
    # EntityJsonArguments extends json_data.Arguments (ref:
    # stdlib/udfs/entity.py:35), so coerce_type is accepted; entity
    # ids always land as strings here, which subsumes the coercion
    const_arg(ctx, call, args, "coerce_type", required=False, default=False)
    col, _ = _payload_col(ctx, path)
    return Value(col=col.cast("string"), dtype="entity", entity_type=etype)


@register("Rule")
def rule(ctx, call, args):
    """``Rule(when_all=[...], description=...) → RuleT``; value =
    strict all() (ref: stdlib/udfs/rules.py:24-110, eval at :97; list
    strictness per node_executor/literals/list_executor.py:17-18)."""
    from ..sml.nodes import ListLiteral

    when_all_node = raw_arg(ctx, call, args, "when_all")
    if not isinstance(when_all_node, ListLiteral) or not when_all_node.items:
        raise ctx.error("Rule requires when_all=[...conditions...]", call.span)
    conds = [ctx.compile_expr(e) for e in when_all_node.items]
    col = nullsafe.strict_all(conds)
    desc = args.get("description")
    v = Value(col=col, dtype="rule")
    if desc is not None:
        ctx.rule_descriptions[id(v)] = desc.col
    return v


@register("WhenRules")
def when_rules_expr(ctx, call, args):
    raise ctx.error("WhenRules is a statement, not an expression", call.span)


@register("DeclareVerdict")
def declare_verdict(ctx, call, args):
    """ref: stdlib/udfs/verdicts.py:13-20."""
    verdict = const_arg(ctx, call, args, "verdict")
    return Value(col=F.lit(None), dtype="effect", effect=Effect(kind="verdict", verdict=verdict))


def _label_effect(ctx, call, args, status: str) -> Value:
    entity_v = arg(ctx, call, args, "entity")
    if entity_v.dtype != "entity":
        raise ctx.error(f"{call.func} entity= must be an Entity", call.span)
    label = const_arg(ctx, call, args, "label")
    ctx.validate_label(label, entity_v.entity_type, call.span)
    apply_if = args.get("apply_if")
    expires = args.get("expires_after")
    expires_s = None
    if expires is not None:
        if expires.dtype != "timedelta" or not expires.is_const:
            raise ctx.error("expires_after= must be a TimeDelta literal", call.span)
        expires_s = float(expires.const)
    return Value(
        col=F.lit(None),
        dtype="effect",
        effect=Effect(
            kind="label",
            entity=entity_v,
            label=label,
            status=status,
            apply_if=apply_if,
            expires_after_seconds=expires_s,
        ),
    )


@register("LabelAdd")
def label_add(ctx, call, args):
    """ref: stdlib/udfs/labels.py:32-75 (fail-closed apply_if at 61-67)."""
    return _label_effect(ctx, call, args, "added")


@register("LabelRemove")
def label_remove(ctx, call, args):
    """ref: stdlib/udfs/labels.py:78-85."""
    return _label_effect(ctx, call, args, "removed")


@register("AtprotoLabel")
def atproto_label(ctx, call, args):
    """Plugin effect (ref: example_plugins/src/udfs/atproto/label.py:74)
    — modeled as a LabelAdd with expiration_in_hours."""
    entity_v = arg(ctx, call, args, "entity")
    label = const_arg(ctx, call, args, "label")
    hours = const_arg(ctx, call, args, "expiration_in_hours", required=False)
    const_arg(ctx, call, args, "comment", required=False)
    return Value(
        col=F.lit(None),
        dtype="effect",
        effect=Effect(
            kind="label",
            entity=entity_v,
            label=label,
            status="added",
            expires_after_seconds=float(hours) * 3600.0 if hours is not None else None,
        ),
    )


@register("HasLabel")
def has_label(ctx, call, args):
    """Read the per-entity label store during rule evaluation
    (ref: stdlib/udfs/labels.py:110-293; batch fetch by routing key at
    242-293). Compiles to a named boolean column that
    ``CompiledRuleset.apply(labels_df=...)`` satisfies with a
    broadcast left-join against the label snapshot — the vectorized
    replacement for the reference's per-action batched service calls.
    Expiry and min_label_age are judged at event time."""
    entity_v = arg(ctx, call, args, "entity")
    if entity_v.dtype != "entity":
        raise ctx.error("HasLabel entity= must be an Entity", call.span)
    label = const_arg(ctx, call, args, "label")
    ctx.validate_label(label, entity_v.entity_type, call.span)
    status = const_arg(ctx, call, args, "status", required=False, default="added")
    const_arg(ctx, call, args, "manual", required=False)
    min_age = args.get("min_label_age")
    min_age_s = None
    if min_age is not None:
        if min_age.dtype != "timedelta" or not min_age.is_const:
            raise ctx.error("min_label_age= must be a TimeDelta literal", call.span)
        min_age_s = float(min_age.const)
    if status not in ("added", "removed"):
        raise ctx.error("HasLabel status= must be 'added' or 'removed'", call.span)
    name = f"__lbl_{len(ctx.label_lookups)}"
    ctx.label_lookups.append(
        {
            "name": name,
            "entity_type": entity_v.entity_type or "Unknown",
            "entity_col": entity_v.col,
            "label": label,
            "status": status,
            "min_age_seconds": min_age_s,
        }
    )
    ctx.feature_exprs.append((name, None))
    return Value(col=F.col(name), dtype="bool")


def _window_count(ctx, call, args, increments: bool):
    """Shared kernel for IncrementWindow/GetWindowCount
    (ref: example_plugins/src/udfs/cache.py:161-227, 333-347): the
    Redis sorted-set counter becomes an event-time range window
    (shuffle keyed by the key expression), judged at event time.

    Gating follows the reference exactly: only events whose
    IncrementWindow ``when_all`` passes are zadd-ed, so the in-window
    count is ``sum(increment_gate)`` — NOT a count of all same-key
    events. A gated-off event still contributes nothing and returns 0
    (ref :336-338). GetWindowCount is read-only: it counts the
    increments registered by IncrementWindow statements with the same
    key expression in this program (pairing rule as for CacheSet/Get);
    with no paired increment it falls back to counting every event
    (the increment-on-every-event pattern), documented divergence."""
    key_v = arg(ctx, call, args, "key")
    window_s = whole_seconds(ctx, call, args, "window_seconds")
    const_arg(ctx, call, args, "max_ttl_seconds", required=False)
    # ref cache.py:166,198-201: counts saturate at max_events_cap
    cap = const_arg(ctx, call, args, "max_events_cap", required=False, default=10_000)
    gate = when_all_gate(ctx, call, args)

    if increments:
        ctx.window_increments.append({"key_repr": str(key_v.col), "gate": gate})
        inc_gates = [gate]
    else:
        inc_gates = [
            s["gate"]
            for s in ctx.window_increments
            if s["key_repr"] == str(key_v.col)
        ] or [None]  # no paired IncrementWindow -> count all events

    if any(g is None for g in inc_gates):
        incremented = F.lit(True)
    else:
        any_gate = inc_gates[0]
        for g in inc_gates[1:]:
            any_gate = any_gate | g
        incremented = F.coalesce(any_gate, F.lit(False))

    # deferred: CompiledRuleset.apply picks the physical strategy at
    # plan time — batch frames get an event-time range window; a
    # STREAMING frame gets applyInPandasWithState (non-time window
    # functions are illegal on streams), same semantics either way
    return defer_state_op(
        ctx, "window", "int",
        key_col=key_v.col,
        window_seconds=round(float(window_s)),
        cap=int(cap) if cap else 0,
        gate=gate,
        incremented=incremented,
    )


@register("IncrementWindow")
def increment_window(ctx, call, args):
    """ref: example_plugins/src/udfs/cache.py:333-341 — sliding-window
    counter add-then-count; the count includes the current event."""
    return _window_count(ctx, call, args, increments=True)


@register("GetWindowCount")
def get_window_count(ctx, call, args):
    """ref: example_plugins/src/udfs/cache.py:344-347 — read-only
    window count (see _window_count gating/pairing rules)."""
    return _window_count(ctx, call, args, increments=False)


@register("GetWindowDistinct")
def get_window_distinct(ctx, call, args):
    """Distinct-value window counter — the raid/brigading signal the
    reference's zset counters cannot express (zcard counts EVENTS;
    this counts DISTINCT ``value``s per key in the trailing window,
    e.g. distinct authors posting one URL in 10 minutes). Fourth
    stateful family beside window counters, cache pairs and CEP
    suffixes; same deferred resolution: batch = collect_set over an
    event-time range window, streaming = the fused state pass with a
    per-key occurrence deque + two-pointer distinct fold.

    ``when_all`` gates which events REGISTER their value (like
    IncrementWindow's zadd gate); every event reads the count. NULL
    values never register. Values compare as strings (the state
    round-trips through JSON).
    """
    key_v = arg(ctx, call, args, "key")
    value_v = arg(ctx, call, args, "value")
    window_s = whole_seconds(ctx, call, args, "window_seconds")
    return defer_state_op(
        ctx, "wdistinct", "int",
        key_col=key_v.col,
        value_col=value_v.col.cast("string"),
        window_seconds=round(float(window_s)),
        gate=when_all_gate(ctx, call, args),
    )


def _window_extreme(ctx, call, args, mode: int):
    """Shared registration for GetWindowMax / GetWindowMin."""
    key_v = arg(ctx, call, args, "key")
    value_v = arg(ctx, call, args, "value")
    window_s = whole_seconds(ctx, call, args, "window_seconds")
    return defer_state_op(
        ctx, "wminmax", "int",
        key_col=key_v.col,
        value_col=value_v.col.cast("long"),
        window_seconds=round(float(window_s)),
        mode=mode,
        gate=when_all_gate(ctx, call, args),
    )


@register("GetWindowMax")
def get_window_max(ctx, call, args):
    """Trailing-window MAX of the registered integer ``value``s per
    key — the "largest transfer / highest risk score in the last
    hour" escalation signal (north_star: rate-style rules; the
    reference's zset counters can only COUNT in a window, so a
    max-style threshold there needs a table scan). NULL when no value
    registered in the window — the empty window is "no signal", not
    0 (a real 0 value must stay distinguishable).

    Eleventh stateful family. INTEGER values only, like GetWindowSum
    (max itself is fold-order-free, but the integer contract keeps
    the state JSON-exact and the oracle bit-identical). Batch =
    ``max(value)`` over a key-partitioned RANGE window (one key
    shuffle, tie-group inclusive); streaming = the fused state pass
    keeping the in-window (sec, value) entries per key with a
    monotonic-deque sweep per micro-batch — entries cannot be
    envelope-pruned across batches (a late row's window may exclude
    the dominating later entry), so state is bounded by window
    occupancy exactly like GetWindowSum. ``when_all`` gates which
    events register; every event reads.
    """
    return _window_extreme(ctx, call, args, mode=1)


@register("GetWindowMin")
def get_window_min(ctx, call, args):
    """Trailing-window MIN of the registered integer ``value``s per
    key (e.g. fastest inter-action latency in the window — the
    automation/bot cadence signal). Same contract, state shape and
    fusion behavior as GetWindowMax with the comparison flipped; see
    GetWindowMax for the full semantics.
    """
    return _window_extreme(ctx, call, args, mode=-1)


@register("SeenBefore")
def seen_before(ctx, call, args):
    """Exact repeated-content detector — has this ``value`` been
    registered for this key AT OR BEFORE this event's second by
    another event (self excluded)? The "same text posted again in
    this conversation" / "same payment instrument reused" primitive
    (ref: the reference approximates this with Redis zset counters
    keyed by content hash, `udfs.py` window counters — which count
    events in a window and forget; this is lifetime-exact).

    Twelfth stateful family. Semantics are tie-order independent:
    a registering event reads True iff its value has ≥ 2
    registrations with sec ≤ its own (itself included), a
    non-registering reader True iff ≥ 1. Batch = a conditional count
    over a (key, value)-partitioned RANGE window; streaming = the
    fused state pass carrying the TWO SMALLEST registration seconds
    per (key, value) — min-merged, so late data stays exact and state
    is 2 longs per distinct value regardless of repetition volume.
    NULL values never register and always read False. ``when_all``
    gates registration; every event reads.
    """
    key_v = arg(ctx, call, args, "key")
    value_v = arg(ctx, call, args, "value")
    return defer_state_op(
        ctx, "seen", "bool",
        key_col=key_v.col,
        value_col=value_v.col.cast("string"),
        gate=when_all_gate(ctx, call, args),
    )


@register("GetUniqueCount")
def get_unique_count(ctx, call, args):
    """LIFETIME distinct-value counter — distinct ``value``s ever
    registered by this key, e.g. distinct IPs an account has logged
    in from or distinct tools a conversation has invoked (north_star:
    per-conversation state for stateful rule escalation; ref: the
    zset window counters in `udfs.py` count in-window EVENTS — the
    unbounded "how many different Xs has this entity ever used"
    signal has no reference counter and needs a self-join there).
    Unlike GetWindowDistinct nothing ever expires: the count is
    monotone per key.

    Tenth stateful family. Batch = size(collect_set) over an
    UNBOUNDED-preceding range window (one key shuffle, tie-order
    independent: equal-second rows all see the whole tie group);
    streaming = the fused state pass carrying each value's FIRST-SEEN
    second per key (not a bare value set — a LATE row must exclude
    values first registered after its own second to match batch).
    ``cap`` bounds that state EXACTLY: counts clamp at cap and
    values stop being tracked once cap is reached, so a clamped
    streaming count always equals the clamped batch count while state
    stays <= cap values per key (cap=0 = unbounded — prefer a cap in
    long-running streams). ``when_all`` gates which events REGISTER
    (every event reads); NULL values never register; values compare
    as strings.
    """
    key_v = arg(ctx, call, args, "key")
    value_v = arg(ctx, call, args, "value")
    cap = const_arg(ctx, call, args, "cap", required=False, default=0)
    if float(cap) < 0 or float(cap) != int(cap):
        raise ctx.error(
            f"{call.func}: cap must be a non-negative integer "
            f"(0 = unbounded), got {cap}",
            call.span,
        )
    return defer_state_op(
        ctx, "unique", "int",
        key_col=key_v.col,
        value_col=value_v.col.cast("string"),
        cap=int(cap),
        gate=when_all_gate(ctx, call, args),
    )


@register("GetSessionCount")
def get_session_count(ctx, call, args):
    """Session-window dialogue counter (north_star: "session windows
    keyed by conv_id with event-time watermarks on ts for
    dialogue-level rules"): events in the CURRENT session for this
    key, where a session breaks when the event-time gap from the
    previous same-key event exceeds ``gap_seconds``. Unlike the
    trailing-window counter (which forgets events older than the
    window even mid-burst), this counts the whole active dialogue —
    the "how deep into this conversation burst are we" signal.

    Fifth stateful family beside window counters, distinct-value
    windows, cache pairs and CEP suffixes. Batch = lag-gap session
    break → running-sum session id → RANGE count within (key,
    session); streaming = the fused state pass carrying (last event
    sec, events in the open session). Same-second events are ties:
    they always share a session and each counts the full tie group
    (RANGE semantics), so the count is independent of tie order.
    Every event registers — there is deliberately no when_all gate
    (a gated session would be ill-defined: reads would reference a
    session that gated-off events neither extend nor break).
    """
    key_v = arg(ctx, call, args, "key")
    gap_s = whole_seconds(ctx, call, args, "gap_seconds")
    return defer_state_op(
        ctx, "sess", "int", key_col=key_v.col, gap_seconds=round(float(gap_s))
    )


@register("GetWindowSum")
def get_window_sum(ctx, call, args):
    """Windowed-SUM rate counter (north_star: "tumbling/sliding
    windows for rate-style rules (e.g. turns-per-conv-per-minute)"
    extended to weighted rates): the sum of the integer ``value``
    registered by same-key events in the trailing
    ``window_seconds`` event-time window, current event included —
    tokens-per-conversation-per-minute, tool-cost budgets, any
    rate rule where events carry a weight. NULL values register 0.
    ``gate`` (optional bool) masks which events register, like
    IncrementWindow's gated increments.

    Seventh stateful family. Batch = ``sum(value)`` over a
    key-partitioned RANGE window (one key shuffle; ties share the
    full tie-group sum, so results are tie-order independent);
    streaming = the fused state pass carrying the in-window
    (sec, amount) entries per key — the same deque shape as the
    distinct-value window. Integer-only by design: a float windowed
    sum would make results depend on partition fold order.
    """
    key_v = arg(ctx, call, args, "key")
    value_v = arg(ctx, call, args, "value")
    gate_v = arg(ctx, call, args, "gate", required=False)
    win_s = whole_seconds(ctx, call, args, "window_seconds")
    if value_v.dtype not in ("int", None, "any"):
        raise ctx.error(
            f"{call.func}: value must be an integer feature (float windowed "
            f"sums are partition-order dependent), got {value_v.dtype}",
            call.span,
        )
    return defer_state_op(
        ctx, "wsum", "int",
        key_col=key_v.col,
        value_col=F.coalesce(value_v.col.cast("long"), F.lit(0)),
        gate=gate_v.col if gate_v is not None else None,
        window_seconds=round(float(win_s)),
    )


@register("GetDecayScore")
def get_decay_score(ctx, call, args):
    """Exponentially time-decayed activity score ("how hot is this
    key RIGHT NOW") — the window-edge-free escalation signal: each
    gated event registers an integer ``value`` (default 1) whose
    weight halves every ``halflife_seconds``. At event time the score
    is the decayed sum of every same-key registration at or before
    this event's second (tie-group inclusive).

    INTEGER-exact (operators/decay.py discipline): time is bucketed
    into absolute halflife buckets ``sec // h`` and a registration
    ``d`` buckets old weighs ``(1 << 20) >> d`` (zero beyond 20) —
    no float exp/log, so the score is a sum of exact longs:
    tie-order independent, partition-order independent, and
    DuckDB-replayable verbatim. Score units: 2^20 per current-bucket
    registration of value 1.

    Thirteenth stateful family. Batch = an integer HOF fold over the
    key's UNBOUNDED range window (one key shuffle, the GetUniqueCount
    window class); streaming = the fused state pass carrying the
    in-horizon (sec, amount) entries per key — entries older than 20
    halflife buckets behind the key's newest event weigh zero for
    every future row and are evicted, so state is horizon-bounded
    like GetWindowSum (and, like that family, rows arriving LATER
    than the horizon may undercount — the documented bounded-lateness
    contract shared by all trailing-window families).
    """
    key_v = arg(ctx, call, args, "key")
    value_v = arg(ctx, call, args, "value", required=False)
    gate_v = arg(ctx, call, args, "gate", required=False)
    half_s = whole_seconds(ctx, call, args, "halflife_seconds")
    if value_v is not None and value_v.dtype not in ("int", None, "any"):
        raise ctx.error(
            f"{call.func}: value must be an integer feature (float decayed "
            f"sums are partition-order dependent), got {value_v.dtype}",
            call.span,
        )
    return defer_state_op(
        ctx, "decay", "int",
        key_col=key_v.col,
        value_col=(
            F.coalesce(value_v.col.cast("long"), F.lit(0))
            if value_v is not None
            else F.lit(1).cast("long")
        ),
        gate=gate_v.col if gate_v is not None else None,
        halflife_s=round(float(half_s)),
    )


@register("RateLimit")
def rate_limit(ctx, call, args):
    """Token-bucket rate limiter (north_star: stateful rule
    escalation / abuse throttling; the primitive behind every
    "N actions per window with burst" rule): True when the key's
    bucket has at least ``cost`` tokens at this event's time, in
    which case they are consumed; False otherwise (denials consume
    nothing — the classic bucket). The bucket starts FULL at
    ``burst`` tokens and refills continuously at ``limit`` tokens
    per ``per_seconds``.

    All arithmetic is INTEGER, in units of 1/per_seconds token
    (cap = burst·per, refill = limit units/sec, cost = cost·per), so
    allow/deny decisions are bit-exact under any partitioning and
    the DuckDB oracle replays the fold verbatim. ``order`` is the
    within-key tiebreak after event time (equal-second events
    consume in (sec, order) order — pass the turn index; without it
    ties are nondeterministic, same contract as SequenceMatches).

    Ninth stateful family — and the first whose recurrence has no
    window-function form (consumption depends on prior ALLOW
    decisions, a min-clamped conditional fold): streaming rides the
    fused state pass carrying [tokens_units, last_sec] per key, and
    batch runs the same fold from empty state over each key bucket of
    a narrow (rid, key, sec, order) applyInPandas pass joined back by
    row id.
    """
    key_v = arg(ctx, call, args, "key")
    order_v = arg(ctx, call, args, "order", required=False)
    limit = const_arg(ctx, call, args, "limit")
    per_s = const_arg(ctx, call, args, "per_seconds")
    burst = const_arg(ctx, call, args, "burst", required=False, default=None)
    cost = const_arg(ctx, call, args, "cost", required=False, default=1)
    burst = limit if burst is None else burst
    for nm, v in (("limit", limit), ("per_seconds", per_s), ("burst", burst),
                  ("cost", cost)):
        if float(v) < 1.0 or float(v) != int(v):
            raise ctx.error(
                f"{call.func}: {nm} must be a positive integer (got {v}) — "
                f"fractional rates would break the integer-exact bucket",
                call.span,
            )
    return defer_state_op(
        ctx, "rl", "bool",
        key_col=key_v.col,
        order_col=order_v.col if order_v is not None else None,
        rate=int(limit),  # units (1/per token) refilled per second
        cap=int(burst) * int(per_s),
        cost=int(cost) * int(per_s),
    )


@register("GetKeyAge")
def get_key_age(ctx, call, args):
    """Observed key age (north_star: per-conversation state for
    stateful rule escalation; ref: the GetSnowflakeBucket /
    TimeSince age-bucket rules, `stdlib/udfs/time.py`, which derive
    entity age from ID timestamps): seconds between the FIRST
    same-key event ever observed and the current event — 0 for the
    key's first event. The new-account / young-conversation
    primitive: ``ConvAge = GetKeyAge(key=ConvId)`` gates rules that
    only apply to fresh conversations (burst detection, new-entity
    throttles) without a self-join against a first-seen table.

    Eighth stateful family. Batch = ``sec - min(sec)`` over a
    key-partitioned RANGE window (one key shuffle; min depends only
    on event times, so results are tie-order independent);
    streaming = the fused state pass carrying ONE long per key (the
    first-seen second) — late arrivals fold through ``min``, so an
    out-of-order first event still reports age 0 and lowers the
    carried floor for everything after it.
    """
    key_v = arg(ctx, call, args, "key")
    return defer_state_op(ctx, "age", "int", key_col=key_v.col)


@register("GetBurstiness")
def get_burstiness(ctx, call, args):
    """Goh-Barabasi burstiness of the key's inter-event gaps so far
    (north_star: per-conversation state for stateful rule
    escalation): B = (sigma-mu)/(sigma+mu) over every gap between
    same-key events up to and including this one — the live
    timing-texture primitive: ``ConvB = GetBurstiness(key=ConvId)``
    gates metronome-cron rules (B near -1) and burst-storm rules
    (B near +1) without a self-join or an offline pass; pairs with
    the batch dq.burstiness screen.

    Fifteenth stateful family. Batch = gap moments over a key RANGE
    window (one key shuffle; tie groups share one value, so results
    are tie-order independent); streaming = the fused state pass
    carrying FOUR ints per key (last_sec, n_gaps, sum, sum-sq).
    Output is rounded to 6 by contract; 0.0 (Poisson-neutral) until
    the key has a gap. Cross-batch late rows clamp their gap at 0 —
    batch equivalence holds for watermark-respecting streams.
    """
    key_v = arg(ctx, call, args, "key")
    return defer_state_op(ctx, "burst", "float", key_col=key_v.col)


@register("GetLastValue")
def get_last_value(ctx, call, args):
    """Previous-event value carry (north_star: "keeping
    per-conversation state (prior verdicts, label counters,
    tool-usage sequences) in the state store for stateful rule
    escalation"): the string ``value`` registered by the PREVIOUS
    same-key event in (event time, ``order``) order — NULL for the
    key's first event. The escalation primitive: ``PrevVerdict =
    GetLastValue(key=ConvId, value=Verdict, order=TurnIdx)`` lets a
    rule compare this turn against the conversation's prior verdict
    without a self-join. A NULL result means "first event OR the
    previous event registered NULL" (lag semantics — coalesce a
    sentinel into ``value`` to distinguish).

    Sixth stateful family. Batch = ``lag(value)`` over a key window
    (one key shuffle); streaming = the fused state pass carrying ONE
    string per key — the cheapest possible per-conversation state.
    ``order`` is the within-key tiebreak after event time (pass the
    turn index); without it equal-timestamp events order
    nondeterministically, exactly as in SequenceMatches.
    """
    key_v = arg(ctx, call, args, "key")
    value_v = arg(ctx, call, args, "value")
    order_v = arg(ctx, call, args, "order", required=False)
    return defer_state_op(
        ctx, "last", "str",
        key_col=key_v.col,
        value_col=value_v.col.cast("string"),
        order_col=order_v.col if order_v is not None else None,
    )


@register("SequenceMatches")
def sequence_matches(ctx, call, args):
    """CEP in the rule language (north_star: "tool-usage sequences …
    stateful rule escalation"): True when the rolling last-``last_k``
    one-char symbols of same-key events — event-time order, current
    event included — contain a regex match.

    The reference carries a last-K tool sequence in rule state
    (example_plugins cache zsets / this engine's escalation
    ``tool_seq``) but has no matcher over it; this surfaces
    ``operators.cep`` to SML. ``symbol`` contributes its FIRST
    character (NULL/empty → '?'); ``order=`` is the within-key
    tiebreak after event time (pass the turn index — without it,
    equal-timestamp events order nondeterministically). Patterns must
    not match the empty string; anchors are rejected (the window is a
    rolling suffix, so ^/$ would mean "exactly K events ago", a trap).

    Physical strategy is deferred to apply(): batch frames get a
    rows-between window (one shuffle on the key); streaming frames a
    key-coalesced applyInPandasWithState op whose state is the ≤K-char
    suffix per key (bounded, exactly the reference's tool_seq shape).
    """
    key_v = arg(ctx, call, args, "key")
    sym_v = arg(ctx, call, args, "symbol")
    order_v = arg(ctx, call, args, "order", required=False)
    pattern = const_arg(ctx, call, args, "pattern")
    last_k = const_arg(ctx, call, args, "last_k", required=False, default=8)
    try:
        rx = re.compile(str(pattern))
    except re.error as e:
        raise ctx.error(f"SequenceMatches: invalid pattern: {e}", call.span)
    if rx.search("") is not None:
        raise ctx.error(
            "SequenceMatches: pattern must not match the empty string", call.span
        )
    if "^" in str(pattern) or "$" in str(pattern):
        raise ctx.error(
            "SequenceMatches: anchors are not supported over a rolling suffix",
            call.span,
        )
    k = int(last_k)
    if not 1 <= k <= 64:
        raise ctx.error(
            f"SequenceMatches: last_k must be in [1, 64], got {k}", call.span
        )
    sym = F.coalesce(F.substring(sym_v.col.cast("string"), 1, 1), F.lit("?"))
    sym = F.when(sym == "", F.lit("?")).otherwise(sym)
    return defer_state_op(
        ctx, "seq", "bool",
        key_col=key_v.col,
        symbol_col=sym,
        order_col=order_v.col if order_v is not None else None,
        pattern=str(pattern),
        last_k=k,
    )


@register("GetSnowflakeBucket")
def get_snowflake_bucket(ctx, call, args):
    """Bucket a snowflake id's embedded timestamp
    (ref: stdlib/udfs/time_bucket.py:61-78; snowflake→unix =
    (id >> 22) ms + configurable epoch, worker/lib/snowflake.py:26-35,
    epoch default 0). granularity < 3600 is a validation error."""
    snowflake = arg(ctx, call, args, "snowflake")
    g = const_arg(ctx, call, args, "granularity_seconds")
    if int(g) < 3600:
        raise ctx.error(
            "invalid granularity_seconds: can not be less than 3600 (1 hour)", call.span
        )
    epoch_ms = const_arg(ctx, call, args, "epoch_ms", required=False, default=0)
    sec = (F.shiftright(snowflake.col.cast("long"), 22) + F.lit(int(epoch_ms))) / F.lit(1000)
    return Value(col=(sec.cast("long") - F.pmod(sec.cast("long"), F.lit(int(g)))), dtype="int")


# domain -> MX host table, loaded by the host application from a DNS
# snapshot (the deterministic substitute for per-row async DNS)
MX_TABLE: dict[str, str] = {}


def register_mx_table(mapping: dict[str, str]) -> None:
    MX_TABLE.update({k.lower(): v for k, v in mapping.items()})


@register("MXLookup")
def mx_lookup(ctx, call, args):
    """External-IO UDF class (async DNS, ref: stdlib/udfs/
    mx_lookup.py:15-20, execute_async=True). Live per-row DNS is not
    reproducible in a deterministic pipeline; deployments load a DNS
    snapshot via ``register_mx_table`` and the lookup compiles to a
    broadcast literal map (for snapshots beyond literal-map size,
    pre-join the snapshot table and bind the column). With no table
    registered the node fails → NULL, the reference's failed-lookup
    semantics."""
    domain = arg(ctx, call, args, "domain")
    if not MX_TABLE:
        return Value(col=F.lit(None).cast("string"), dtype="str")
    m = F.create_map(*[F.lit(x) for kv in sorted(MX_TABLE.items()) for x in kv])
    return Value(col=F.element_at(m, F.lower(domain.col)), dtype="str")


@register("TimeDelta")
def time_delta(ctx, call, args):
    """ref: stdlib/udfs/time_delta.py:17; post-exec value = seconds
    (ref: language_types/time_delta.py:10-24)."""
    seconds = 0.0
    for unit, mult in (
        ("weeks", 604800.0),
        ("days", 86400.0),
        ("hours", 3600.0),
        ("minutes", 60.0),
        ("seconds", 1.0),
        ("milliseconds", 0.001),
    ):
        v = const_arg(ctx, call, args, unit, required=False, default=0)
        seconds += float(v) * mult
    return Value(col=F.lit(seconds), dtype="timedelta", const=seconds)


@register("TimeSince")
def time_since(ctx, call, args):
    """Seconds between a timestamp feature and the action time,
    clamped ≥ 0 (ref: stdlib/udfs/time_since.py:22-32)."""
    ts = arg(ctx, call, args, "timestamp")
    action_ts = F.col(ctx.bindings.timestamp)
    parsed = ts.col if ts.dtype == "timestamp" else F.to_timestamp(ts.col)
    delta = action_ts.cast("double") - parsed.cast("double")
    return Value(col=F.greatest(delta, F.lit(0.0)), dtype="timedelta")


@register("GetTimedeltaBucket")
def get_timedelta_bucket(ctx, call, args):
    """Floor a timedelta to a granularity, min 3600s
    (ref: stdlib/udfs/time_bucket.py:13-36)."""
    td = arg(ctx, call, args, "timedelta")
    gran = args.get("granularity")
    g = float(gran.const) if gran is not None and gran.is_const else 3600.0
    g = max(g, 3600.0)
    return Value(col=(F.floor(td.col / F.lit(g)) * F.lit(g)).cast("double"), dtype="timedelta")


@register("GetTimestampBucket")
def get_timestamp_bucket(ctx, call, args):
    """ref: stdlib/udfs/time_bucket.py:38-59."""
    ts = arg(ctx, call, args, "timestamp")
    gran = args.get("granularity")
    g = float(gran.const) if gran is not None and gran.is_const else 3600.0
    g = max(g, 3600.0)
    sec = F.to_timestamp(ts.col).cast("double") if ts.dtype == "str" else ts.col.cast("double")
    return Value(
        col=(F.floor(sec / F.lit(g)) * F.lit(g)).cast("timestamp"), dtype="timestamp"
    )


@register("ResolveOptional")
def resolve_optional(ctx, call, args):
    """ref: stdlib/udfs/resolve_optional.py:30 → coalesce."""
    v = args.get("optional_value") or args.get("value")
    if v is None:
        raise ctx.error("ResolveOptional requires optional_value=", call.span)
    fallback = args.get("fallback")
    if fallback is None:
        fallback = Value(col=F.lit(""), dtype=v.dtype if v.dtype != "null" else "str")
    return Value(col=F.coalesce(v.col, fallback.col), dtype=v.dtype if v.dtype != "null" else fallback.dtype)


@register("RandomBool")
def random_bool(ctx, call, args):
    """ref: stdlib/udfs/random_bool.py:11 — nondeterministic; seeded
    via SEED= for reproducible tests (our extension)."""
    seed = const_arg(ctx, call, args, "seed", required=False)
    r = F.rand(seed) if seed is not None else F.rand()
    return Value(col=r < F.lit(0.5), dtype="bool")


@register("RandomInt")
def random_int(ctx, call, args):
    """ref: stdlib/udfs/random_int.py:12."""
    lo = const_arg(ctx, call, args, "start", required=False, default=0)
    hi = const_arg(ctx, call, args, "stop", required=False, default=2**31)
    seed = const_arg(ctx, call, args, "seed", required=False)
    r = F.rand(seed) if seed is not None else F.rand()
    return Value(col=(F.lit(lo) + (r * F.lit(hi - lo)).cast("long")), dtype="int")


@register("Experiment")
def experiment(ctx, call, args):
    """Deterministic entity bucketing (ref: stdlib/udfs/experiments.py
    :50-213; hash at 156-158 is ``mmh3.hash(f'{name}/{id}') % 10000``).

    Default path uses xxhash64 (JVM-side) — same determinism and
    uniformity, different concrete assignment. ``parity=True``
    switches to a vectorized murmur3-x86-32 pandas UDF that matches
    the reference's buckets bit-for-bit (functions/mmh3.py).
    """
    entity_v = arg(ctx, call, args, "entity")
    buckets = const_arg(ctx, call, args, "buckets")
    sizes = const_arg(ctx, call, args, "bucket_sizes", required=False)
    name = const_arg(ctx, call, args, "name", required=False, default="experiment")
    version = const_arg(ctx, call, args, "version", required=False, default=1)
    parity = const_arg(ctx, call, args, "parity", required=False, default=False)
    # compile-time experiment validation
    # (ref: stdlib/udfs/experiments.py:70-98)
    if not isinstance(version, int) or version < 0:
        raise ctx.error("experiment version must be zero or greater", call.span)
    if not buckets or len(buckets) > 10:
        raise ctx.error(
            "number of experiment buckets must be between 1 and 10 inclusive", call.span
        )
    if "control" not in buckets:
        raise ctx.error("'control' must be one of the buckets", call.span)
    if sizes is not None and len(sizes) != len(buckets):
        raise ctx.error(
            "buckets and bucket_sizes must have the same number of elements", call.span
        )
    if sizes is None:
        sizes = [10000 // len(buckets)] * len(buckets)
    if parity:
        # exact mmh3 bucket parity with the reference (key has no
        # version component there) — vectorized murmur3 pandas UDF
        import pandas as pd

        from .mmh3 import hash_mod

        def _bucket_fn(entity):
            return pd.Series(hash_mod(name, entity.tolist()))

        point = F.pandas_udf(_bucket_fn, "long")(entity_v.col.cast("string"))
    else:
        # JVM fast path: same determinism/uniformity, different
        # concrete assignment (documented divergence)
        point = F.pmod(
            F.xxhash64(F.concat(F.lit(f"{name}/v{version}/"), entity_v.col)), F.lit(10000)
        )
    expr = F.lit(None).cast("string")
    cum = 0
    branches = []
    for b, s in zip(buckets, sizes):
        branches.append((cum, cum + s, b))
        cum += s
    col = None
    for lo, hi, b in branches:
        cond = (point >= F.lit(lo)) & (point < F.lit(hi))
        col = F.when(cond, F.lit(b)) if col is None else col.when(cond, F.lit(b))
    col = col.otherwise(expr) if col is not None else expr
    return Value(col=col, dtype="str")


@register("ExperimentWhen")
def experiment_when(ctx, call, args):
    """Gate a value on an experiment bucket
    (ref: stdlib/udfs/experiments.py:220-302)."""
    exp = arg(ctx, call, args, "experiment")
    bucket = const_arg(ctx, call, args, "bucket")
    then_v = arg(ctx, call, args, "then")
    default = args.get("default")
    col = F.when(exp.col.eqNullSafe(F.lit(bucket)), then_v.col)
    if default is not None:
        col = col.otherwise(default.col)
    return Value(col=col, dtype=then_v.dtype)


@register("GetTransitionEntropy")
def get_transition_entropy(ctx, call, args):
    """Running transition-entropy of the key's state sequence ("how
    predictable is this conversation so far") — the scripted-bot
    escalation signal: an automation loop cycling the same role/tool
    transitions scores near 0 while human dialogue wanders high; a
    rule like ``Botlike = Entropy < 0.5 and Turns >= 8`` escalates
    loops no rate gate or repetition n-gram can see.

    At each event the feature is the Shannon entropy (nats) of the
    (previous state → state) transition counts observed for the key
    UP TO AND INCLUDING this event, via the algebraic identity
    ``H = ln(n) − (Σ_pair c·ln c)/n``; the first event of a key (no
    transition yet) reads 0.0. NULL states count as their own symbol.

    Fourteenth stateful family — the first with CONTINUOUS
    distribution-shaped state. Exactness: each pair's ``c·ln c``
    quantizes to a BIGINT at every count step and the running sum
    telescopes exactly (``Σ_rows [r(c ln c) − r((c−1)ln(c−1))] =
    Σ_pairs r(c_final ln c_final)``), so batch (two windows: a
    (key, pair) running count + a key running sum — two shuffles) and
    streaming (fused state pass carrying
    ``(last_symbol, n, Σq, pair-count map)`` — state bounded by the
    key's transition vocabulary) emit identical values given the same
    (event time, ``order=``) total order. The feature is rounded to 6
    decimals BY CONTRACT: JVM Math.log and CPython/libm log differ by
    1 ulp on some inputs (measured: log(3.0)), and the rounding
    absorbs that noise — the same absorption every ln-using DuckDB
    oracle relies on. Pass ``order=`` (the turn index) or
    equal-timestamp events order nondeterministically, the
    SequenceMatches contract.
    """
    key_v = arg(ctx, call, args, "key")
    state_v = arg(ctx, call, args, "state")
    order_v = arg(ctx, call, args, "order", required=False)
    return defer_state_op(
        ctx, "tent", "float",
        key_col=key_v.col,
        state_col=F.coalesce(state_v.col.cast("string"), F.lit("\x00")),
        order_col=order_v.col if order_v is not None else None,
    )
