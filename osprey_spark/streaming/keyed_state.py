"""The keyed-state runner: the one ``applyInPandasWithState`` call
behind every bucketed or grouped streaming state op.

Every NoTimeout state op in this engine (the compiler's fused rule
pass and cache resolver, conversation state, the label store, the
streaming as-of join, CEP, transcript folds, near-dup bands, CDC
upserts, decayed counters) has the same shape: group the stream, keep
one JSON string of state per group, and fold each micro-batch's rows
for the group against it. The runner owns that shape so each operator
supplies only its fold:

    fold(pdf, state) -> (out_frame | None, new_state)

- **Grouping.** Either the caller's group columns, or a hash bucket
  ``pmod(xxhash64(*keys), n)`` of its key columns (grouped under the
  bucket's label, ``bucket_column``) with a per-bucket
  ``{key: entry}`` map in the state (key coalescing, see
  ``buckets.py``: the fixed per-group Arrow + state cost of
  ``applyInPandasWithState``, measured ~0.4 ms, dominates at real key
  cardinality; bucketing took the window-counter rule from ~20k to
  ~52k turns/s at 40k conversations). Per-key semantics stay exact:
  folds sort by key and fold each key's segment against its own entry.
- **Whole-group materialization.** ``pdf_iter`` yields
  ~maxRecordsPerBatch-row Arrow chunks, and a later chunk may hold
  earlier timestamps. Folding chunk by chunk would make the result
  depend on chunk boundaries, so the runner concatenates the whole
  group before the fold sees it. One group's micro-batch volume bounds
  the concat.
- **Codec.** State is one string column holding JSON; absent state
  decodes to ``initial()``.
- **Empty input** emits nothing and leaves the state as it was.

The bucket column name, the state field name and the JSON payload are
the operator's, so checkpoints written by each operator resume
unchanged. Ops that emit on event-time timeout have no bucket map and
fold on expiry, not on input: the six windowed sketch ops run on the
windowed runner, ``sketches._window_sketch``, the home of the
event-time ops, and CEP's response-absence op keeps its per-trigger
deadlines in its own call. ``sketches.stream_cusum`` keeps its own
call too: its state is four typed longs, not JSON.
"""

from __future__ import annotations

import json
from typing import Any, Callable, Optional, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from .buckets import BucketLayout, state_bucket_count

Fold = Callable[[pd.DataFrame, Any], "tuple[Optional[pd.DataFrame], Any]"]


def bucket_column(keys: Sequence[Column], layout: Optional[BucketLayout] = None) -> Column:
    """The state-store group key of every key-coalesced op, an int:
    bucket ``b = pmod(xxhash64(*keys), layout.n)`` under its label —
    ``b`` itself for identity labels, else ``layout.table()[b]`` (one
    array-literal lookup; see ``buckets.py`` for why balanced labels
    spread the buckets evenly over the state tasks). ``layout``
    defaults to identity labels over the plan-time resolution of
    ``state_bucket_count()``."""
    layout = layout or BucketLayout(state_bucket_count())
    b = F.pmod(F.xxhash64(*keys), F.lit(layout.n)).cast("int")
    table = layout.table()
    if table is None:
        return b
    # a SQL array literal parses in one call (F.lit of a list builds a
    # Column per element over py4j)
    return F.get(F.expr(f"array({','.join(map(str, table))})"), b)


def run_keyed_state(
    df: DataFrame,
    fold: Fold,
    out_schema: StructType,
    state_field: str,
    *,
    group_cols: Sequence[str] = (),
    bucket: Optional[tuple[str, Sequence[Column]]] = None,
    layout: Optional[BucketLayout] = None,
    initial: Callable[[], Any] = dict,
) -> DataFrame:
    """Group ``df`` and fold each group's micro-batch rows against its
    JSON state. Pass ``bucket=(column_name, key_columns)`` to group by
    a hash bucket of the keys (added as ``column_name``, bucketed by
    ``layout``), or ``group_cols`` to group by existing columns."""
    if bucket is not None:
        name, keys = bucket
        df = df.withColumn(name, bucket_column(keys, layout))
        group_cols = [name]

    def fn(_key, pdf_iter, state):
        chunks = [c for c in pdf_iter if len(c)]
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
        st = json.loads(state.get[0]) if state.exists else initial()
        out, st = fold(pdf, st)
        state.update((json.dumps(st),))
        if out is not None:
            yield out

    return df.groupBy(*group_cols).applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=StructType([StructField(state_field, StringType())]),
        outputMode="append",
        timeoutConf="NoTimeout",
    )
