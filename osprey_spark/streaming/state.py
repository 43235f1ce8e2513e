"""Stateful operators: per-conversation escalation + per-entity labels.

The reference's stateful mechanisms are (a) the entity label store
read back by ``HasLabel`` across events (ref: stdlib/udfs/labels.py
:133-293, docs/rules.md:188-227 "Labels ... enable stateful rules")
and (b) Redis sliding-window counters (ref: example_plugins/src/udfs/
cache.py:161-227). Both become Spark state-store operators keyed by
entity / conv_id. State visibility follows micro-batch semantics:
within a batch rows apply in (turn_idx) order; across batches state
is read-your-writes (matching osprey's cross-event visibility).
"""

from __future__ import annotations

import json

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .keyed_state import run_keyed_state

CONV_OUTPUT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("turn_idx", IntegerType()),
        StructField("ts", TimestampType()),
        StructField("turns_so_far", LongType()),
        StructField("flagged_so_far", LongType()),
        StructField("tool_seq", StringType()),
        StructField("escalated", BooleanType()),
    ]
)

TOOL_SEQ_K = 8


def _conv_state_fold(escalate_after: int):
    """Bucketed fold: the group key is a hash BUCKET of conv_id (key
    coalescing — see ``keyed_state.py``), state is a JSON map
    {conv_id: [n_turns, n_flagged, tool_seq]}; each conv's segment of
    the (conv_id, turn_idx)-sorted batch folds against its own entry,
    so per-conversation semantics are identical to per-key grouping."""

    def fold(pdf: pd.DataFrame, smap: dict):
        pdf = pdf.sort_values(["conv_id", "turn_idx"], kind="stable")
        out_turns = []
        out_flagged = []
        out_seq = []
        out_esc = []
        prev_conv = None
        n_turns = n_flagged = 0
        tools: list = []
        for conv_id, flagged, tool in zip(
            pdf["conv_id"].values, pdf["flagged"].values, pdf["tool"].values
        ):
            mk = conv_id if conv_id is not None else "\x00"
            if mk != prev_conv:
                if prev_conv is not None:
                    smap[prev_conv] = [n_turns, n_flagged, ",".join(tools)]
                n_turns, n_flagged, tool_seq = smap.get(mk, (0, 0, ""))
                tools = tool_seq.split(",") if tool_seq else []
                prev_conv = mk
            n_turns += 1
            if flagged:
                n_flagged += 1
            if isinstance(tool, str) and tool:
                tools.append(tool)
                tools = tools[-TOOL_SEQ_K:]
            out_turns.append(n_turns)
            out_flagged.append(n_flagged)
            out_seq.append(",".join(tools))
            out_esc.append(n_flagged >= escalate_after)
        if prev_conv is not None:
            smap[prev_conv] = [n_turns, n_flagged, ",".join(tools)]
        out = pd.DataFrame(
            {
                "conv_id": pdf["conv_id"].values,
                "turn_idx": pdf["turn_idx"].values,
                "ts": pdf["ts"].values,
                "turns_so_far": out_turns,
                "flagged_so_far": out_flagged,
                "tool_seq": out_seq,
                "escalated": out_esc,
            }
        )
        return out, smap

    return fold


def conversation_state(
    turns: DataFrame,
    flagged_col: str,
    escalate_after: int = 3,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Per-conversation escalation state (north_star: prior verdicts,
    label counters, tool-usage sequences in the state store).

    Input: a *streaming* DataFrame with (conv_id, turn_idx, ts, tool)
    + a boolean ``flagged_col``. Output: one row per turn with running
    counters and the escalation flag. Keyed state lives in the Spark
    state store, grouped by a hash BUCKET of conv_id with a per-bucket
    {conv_id: counters} map (key coalescing, OSPREY_WC_STATE_BUCKETS —
    the fixed per-group Arrow cost dominates at real conversation
    cardinality). Skew: a hot conversation is a single-key hotspot by
    definition — the op is O(rows) per conv either way; the sink
    bucketing salts downstream, and upstream rule evaluation is
    stateless so AQE balances it.
    """
    src = turns.withWatermark("ts", watermark).select(
        "conv_id",
        "turn_idx",
        "ts",
        F.col("tool").cast("string").alias("tool"),
        F.coalesce(F.col(flagged_col), F.lit(False)).alias("flagged"),
    )
    return run_keyed_state(
        src,
        _conv_state_fold(escalate_after),
        CONV_OUTPUT_SCHEMA,
        "state_json",
        bucket=("__cs_bkt", [F.col("conv_id")]),
    )


# --- label store -------------------------------------------------------------

LABEL_OUTPUT_SCHEMA = StructType(
    [
        StructField("entity_type", StringType()),
        StructField("entity_id", StringType()),
        StructField("label", StringType()),
        StructField("status", StringType()),
        StructField("expires_at_unix", LongType()),
        StructField("mutation_ts", TimestampType()),
    ]
)


def _label_state_fold(pdf: pd.DataFrame, labels: dict):
    """Apply LabelEffect mutations to the per-entity label map
    (semantics of worker LabelOutputSink + HasLabel expiry,
    ref: stdlib/udfs/labels.py:168-224): ADDED wins over expired,
    REMOVED drops, expires_at tracked per label. Emits the label's
    current row after each mutation (a changelog stream).

    Columnar: each emitted row depends only on its own mutation (an
    'added' sets {added, ts+expires_after}, a 'removed' sets
    {removed, None} regardless of prior state), so the changelog is an
    elementwise transform; only the carried state needs a
    groupby-last. No per-row Python in the batch path."""
    import numpy as np

    pdf = pdf.sort_values("ts", kind="stable")
    ts = pd.to_datetime(pdf["ts"])
    ts_unix = np.where(ts.isna(), 0.0, ts.astype("int64") / 1e9)
    ea = pd.to_numeric(pdf["expires_after"], errors="coerce").to_numpy(dtype="float64", na_value=0.0)
    added = pdf["status"].eq("added").to_numpy()
    expires = np.where(added & (ea != 0.0), (ts_unix + ea).astype("int64"), 0)
    out = pd.DataFrame(
        {
            "entity_type": pdf["entity_type"].to_numpy(),
            "entity_id": pdf["entity_id"].to_numpy(),
            "label": pdf["label"].to_numpy(),
            "status": pdf["status"].to_numpy(),
            "expires_at_unix": expires,
            "mutation_ts": pdf["ts"].to_numpy(),
        }
    )
    last = out.groupby("label", sort=False).tail(1)
    for label, status, exp in zip(
        last["label"].to_numpy(), last["status"].to_numpy(), last["expires_at_unix"].to_numpy()
    ):
        labels[label] = {
            "status": status,
            "expires_at": int(exp) if (status == "added" and exp) else None,
        }
    return out, labels


def label_store(effects: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Maintain per-entity label state from the ``__label_effects``
    stream (exploded). Input columns: entity_type, entity_id, label,
    status, expires_after, ts. Output: label changelog rows."""
    return run_keyed_state(
        effects.withWatermark("ts", watermark),
        _label_state_fold,
        LABEL_OUTPUT_SCHEMA,
        "labels_json",
        group_cols=("entity_type", "entity_id"),
    )


def latest_labels(changelog: DataFrame) -> DataFrame:
    """Current label snapshot from the changelog: the row with the
    greatest mutation_ts per (entity_type, entity_id, label) — the
    read side HasLabel joins against (ref: stdlib/udfs/labels.py
    :168-224 reads the labels service's current state)."""
    from pyspark.sql import Window as W

    # deterministic tiebreak for same-timestamp mutations: 'removed'
    # outranks 'added' (conservative — a tied add/remove resolves to
    # not-labeled), then expires_at desc pins byte-identical snapshots
    # across runs/partitionings
    w = W.partitionBy("entity_type", "entity_id", "label").orderBy(
        F.desc("mutation_ts"), F.desc("status"), F.desc("expires_at_unix")
    )
    return (
        changelog.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def explode_label_effects(rules_out: DataFrame) -> DataFrame:
    """``__label_effects`` array → one row per effect with event time."""
    from ..compiler.compile import LABEL_EFFECTS, TIMESTAMP

    return (
        rules_out.select(TIMESTAMP, F.explode(LABEL_EFFECTS).alias("e"))
        .select(
            F.col("e.entity_type").alias("entity_type"),
            F.col("e.entity_id").alias("entity_id"),
            F.col("e.label").alias("label"),
            F.col("e.status").alias("status"),
            F.col("e.expires_after").alias("expires_after"),
            F.col(TIMESTAMP).cast("timestamp").alias("ts"),
        )
    )


# ---------------------------------------------------------------------------
# streaming as-of enrichment
# ---------------------------------------------------------------------------

def stream_asof_enrich(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: list[str] | None = None,
    watermark: str = "10 minutes",
    horizon_s: float = 3600.0,
    prefix: str = "r_",
) -> DataFrame:
    """Streaming counterpart of ``operators.joins.asof_join``: each
    left-stream row picks the most recent right-stream row at or
    before its event time, per key (e.g. enrich every turn with the
    latest PRIOR verdict for its conversation — the north star's
    "prior verdicts in the state store" shape).

    Spark's stream-stream join cannot express "latest at-or-before"
    (it emits EVERY in-window match), so this is a keyed state op:
    both streams union into one keyed stream (a stateless union — no
    extra shuffle beyond the one keyed exchange) and the state store
    carries, per key, the recent right rows as (event-sec, payload)
    entries.

    Within a micro-batch rows apply in event-time order with right
    rows before left at equal timestamps — identical tie semantics to
    the batch operator (equivalence-tested). Across micro-batches:
    entries older than ``horizon_s`` behind the key's max seen event
    time compact to the single latest entry, so a left row within the
    horizon (or beyond it, when its true match IS the latest older
    right row — the overwhelmingly common case for watermark-bounded
    streams) resolves exactly; state per key is O(right rows per
    horizon), never unbounded. Duplicate right (key, ts) entries keep
    the last in sort order — pre-aggregate the right side for a
    deterministic result, as with the batch operator.

    Processing-time caveat (inherent to any online as-of, and the
    same read-your-writes micro-batch semantics as the label store):
    a left row is enriched with the rights KNOWN when its micro-batch
    executes — a right row that arrives in a *later* micro-batch
    cannot retroactively enrich it, even if its event time qualifies.
    When retroactive completeness matters, replay the batch
    ``asof_join`` over the landed table instead (the equivalence test
    pins the two operators emit identical rows for same-batch and
    earlier-batch rights).
    """
    import numpy as np
    from pyspark.sql.types import DoubleType

    if right_cols is None:
        right_cols = [c for c in right.columns if c not in (key, right_ts)]
    right_fields = {f.name: f for f in right.schema.fields}
    # payload rides a to_json/json.loads round trip; types that do not
    # survive it (timestamp/date/binary/decimal come back as strings
    # or lossy floats) would fail or corrupt at the Arrow boundary —
    # reject them up front with an actionable message. The batch
    # asof_join carries a native struct and has no such restriction.
    _json_safe = ("string", "boolean", "byte", "short", "integer", "long", "float", "double", "array", "map", "struct")
    for c in right_cols:
        tn = right_fields[c].dataType.typeName()
        if not tn.startswith(_json_safe):
            raise ValueError(
                f"stream_asof_enrich right_col {c!r} has type {tn}, which does "
                "not survive the JSON state round trip — cast it (e.g. "
                "timestamps to double epoch seconds) or use the batch asof_join"
            )

    l2 = left.withWatermark(left_ts, watermark).select(
        "*",
        F.col(left_ts).cast("double").alias("__ats"),
        F.lit(1).alias("__side"),
    )
    r2 = right.withWatermark(right_ts, watermark).select(
        F.col(key),
        F.col(right_ts).cast("double").alias("__ats"),
        F.lit(0).alias("__side"),
        F.to_json(F.struct(*[F.col(c) for c in right_cols])).alias("__pj"),
    )
    u = l2.unionByName(r2, allowMissingColumns=True)

    passthrough = [c for c in left.columns]
    out_schema = StructType(
        [f for f in left.schema.fields]
        + [StructField(prefix + right_ts, DoubleType())]
        + [
            StructField(prefix + c, right_fields[c].dataType)
            for c in right_cols
        ]
    )

    # key-coalesced like every keyed state op (keyed_state.py): a
    # per-bucket {key: entries} map, per-key segment folds
    _NULL_KEY = "\x00"

    def fold(pdf, smap):
        # per key: event-time order, right rows before left at equal
        # ts — the batch operator's inclusive-backward tie rule
        pdf = pdf.sort_values(
            [key, "__ats", "__side"], kind="stable", na_position="last"
        )
        keys_a = pdf[key].to_numpy(dtype=object)
        side_a = (pdf["__side"] == 0).to_numpy()
        ats_a = pdf["__ats"].to_numpy(dtype="float64")
        pj_a = pdf["__pj"].to_numpy(dtype=object)
        n = len(keys_a)
        change = np.nonzero(keys_a[1:] != keys_a[:-1])[0] + 1
        outs = []
        for s, e in zip(np.concatenate(([0], change)), np.concatenate((change, [n]))):
            # json.dumps stringifies map keys — stringify on lookup too,
            # or a non-string key column (bigint user ids) would silently
            # miss its carried state every batch
            mk = _NULL_KEY if keys_a[s] is None else str(keys_a[s])
            entries = smap.get(mk, [])
            is_right = side_a[s:e]
            ats = ats_a[s:e]
            # carried entries are already ts-sorted; batch rights
            # append in sorted order — merge defensively anyway
            r_ts = [x[0] for x in entries] + [float(t) for t in ats[is_right]]
            r_pj = [x[1] for x in entries] + list(pj_a[s:e][is_right])
            order = np.argsort(np.asarray(r_ts), kind="stable")
            r_ts_arr = np.asarray(r_ts, dtype="float64")[order]
            r_pj = [r_pj[i] for i in order]

            lmask = ~is_right
            if lmask.any():
                lts = ats[lmask]
                idx = np.searchsorted(r_ts_arr, lts, side="right") - 1
                out = pdf.iloc[s:e].loc[lmask, passthrough].copy()
                mts, payloads = [], []
                for i in idx:
                    if i >= 0:
                        mts.append(float(r_ts_arr[i]))
                        payloads.append(json.loads(r_pj[i]))
                    else:
                        mts.append(None)
                        payloads.append({})
                out[prefix + right_ts] = mts
                for c in right_cols:
                    out[prefix + c] = [p.get(c) for p in payloads]
                outs.append(out)

            # compact: keep rights within the horizon of this key's
            # max seen event time, plus the single latest older entry
            if len(r_ts_arr):
                floor = float(ats.max()) - float(horizon_s)
                keep = r_ts_arr >= floor
                first_kept = int(np.argmax(keep)) if keep.any() else len(r_ts_arr)
                start = max(first_kept - 1, 0) if not keep.all() else first_kept
                if not keep.any():
                    start = len(r_ts_arr) - 1  # latest-only baseline
                smap[mk] = [
                    [float(r_ts_arr[i]), r_pj[i]] for i in range(start, len(r_ts_arr))
                ]
        if not outs:
            return None, smap
        return (pd.concat(outs, ignore_index=True) if len(outs) > 1 else outs[0]), smap

    enriched = run_keyed_state(
        u,
        fold,
        out_schema,
        "entries_json",
        bucket=("__bkt", [F.col(key).cast("string")]),
    )
    proj = [F.col(c) for c in passthrough]
    proj.append(
        F.col(prefix + right_ts).cast("timestamp").alias(prefix + right_ts)
    )
    proj.extend(F.col(prefix + c) for c in right_cols)
    return enriched.select(*proj)
