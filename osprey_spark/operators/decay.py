"""Time-decayed activity counters — integer-exact, mergeable, bounded.

The trust-and-safety primitive behind "how hot is this entity RIGHT
NOW": each event contributes a weight that halves every ``halflife_s``
seconds, so a burst five halflives ago scores 1/32 of a burst now.
The reference keeps raw windowed counts (IncrementWindow family); the
decayed counter is the standard generalization (exponentially decayed
counters, Cormode et al. 2009) that needs no window edge.

Float decay (``sum(exp(-λ·age))``) is partition-fold-order dependent
and oracle-hostile. This implementation is INTEGER-exact instead:

- time is bucketed into absolute halflife buckets ``b = sec //
  halflife_s`` (integer floor division — no float log/exp anywhere);
- an event in bucket ``b`` read at bucket ``nb`` weighs
  ``(1 << 20) >> min(21, nb - b)`` — one right shift per elapsed
  halflife, weight 0 beyond 21 halflives (2^20 >> 21 = 0);
- the score is a SUM of per-row integer weights → associative,
  commutative, map-side-combinable, bit-identical under any
  partitioning, and replayable verbatim in DuckDB.

The zero-beyond-21 clamp is what makes the STREAMING state bounded:
a bucket more than 21 halflives older than the newest bucket ever
seen weighs 0 at every valid read time (read time ≥ max event time),
so ``stream_decay_counters`` evicts it — per-key state is ≤ 23
(bucket, count) pairs at ANY traffic level, unlike a raw event deque.

Scale shape: batch is ONE hash aggregate over the key with map-side
partials plus a 1-row broadcast (the global ``now`` bucket — the
skew_profile/zorder_stats bounded-exchange class). Streaming shards
keys over ``n_buckets`` state groups like the CDC/near-dup folds;
bucket-count vectors merge by integer addition, so any arrival order
(late data included) converges to the identical counter state.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BASE = 1 << 20  # weight of an event in the current halflife bucket
MAX_SHIFT = 21  # (1 << 20) >> 21 == 0: events older than 21 halflives


def _bucket_col(sec_col, halflife_s: int):
    # positive epochs: floor(x / h) == x div h; stays in exact-double
    # range (epoch/3600 << 2^53)
    return F.floor(sec_col / F.lit(int(halflife_s))).cast("long")


def decay_score(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str = "ts",
    halflife_s: int = 3600,
) -> DataFrame:
    """Decayed activity per key at ``now = max(ts)`` →
    ``(key..., n_events, decay_score)``.

    ``decay_score`` is in BASE=2^20 micro-units (an event this bucket
    = 1048576; one halflife old = 524288; ≥21 halflives = 0).
    """
    keys = [F.col(k) for k in key_cols]
    sec = F.col(ts_col).cast("timestamp").cast("long")
    b = _bucket_col(sec, halflife_s)
    now_b = df.select(
        _bucket_col(F.max(sec), halflife_s).alias("_now_b")
    )
    # SQL form: the Python F.shiftright only accepts a literal shift
    w = F.expr(
        f"shiftright({BASE}L, least({MAX_SHIFT}, "
        "greatest(0, cast(_now_b - _b as int))))"
    )
    return (
        df.select(*keys, b.alias("_b"))
        .join(F.broadcast(now_b))  # 1-row global frame
        .groupBy(*[F.col(k) for k in key_cols])
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(w).cast("long").alias("decay_score"),
        )
    )


def decay_score_sql(
    table: str,
    key_cols: Sequence[str],
    ts_expr: str = "ts",
    halflife_s: int = 3600,
) -> str:
    """DuckDB oracle replaying the identical integer arithmetic."""
    keys = ", ".join(key_cols)
    h = int(halflife_s)
    sec = f"CAST(floor(epoch({ts_expr})) AS BIGINT)"
    return f"""
WITH nb AS (
  SELECT {sec} // {h} AS now_b FROM {table}
  ORDER BY {ts_expr} DESC LIMIT 1
)
SELECT {keys},
  CAST(count(*) AS BIGINT) AS n_events,
  CAST(sum(
    1048576 >> least({MAX_SHIFT},
                     greatest(0, nb.now_b - ({sec} // {h})))
  ) AS BIGINT) AS decay_score
FROM {table}, nb
GROUP BY {keys}
"""


def stream_decay_counters(
    turns: DataFrame,
    key_cols: Sequence[str] = ("conv_id",),
    ts_col: str = "ts",
    halflife_s: int = 3600,
    n_buckets: int = 1024,
) -> DataFrame:
    """Incremental decayed counters: per key, the state is the
    (halflife-bucket → count) vector, merged by integer addition and
    evicted beyond ``MAX_SHIFT`` buckets behind the key's newest
    bucket. Emits per touching micro-batch: ``key..., n_events,
    max_bucket, counts_json, upd_seq`` — score at read time ``now``
    is ``sum(count * (BASE >> min(MAX_SHIFT, now_b - b)))`` over the
    vector, equal to batch :func:`decay_score` bit-for-bit (tested).
    """
    import json

    import pandas as pd
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from ..streaming.buckets import BucketLayout
    from ..streaming.keyed_state import run_keyed_state

    keys = list(key_cols)
    sec = F.col(ts_col).cast("timestamp").cast("long")
    src = turns.select(*keys, _bucket_col(sec, halflife_s).alias("_b"))
    in_fields = {f.name: f for f in src.schema.fields}
    out_schema = StructType(
        [in_fields[k] for k in keys]
        + [
            StructField("n_events", LongType()),
            StructField("max_bucket", LongType()),
            StructField("counts_json", StringType()),
            StructField("upd_seq", LongType()),
        ]
    )
    def fold(pdf, state):
        # per logical key: [n_events, {bucket: count}]
        st, seq = state
        touched = {}
        part = pdf.groupby(keys + ["_b"]).size()
        for kt, n in part.items():
            kt = kt if isinstance(kt, tuple) else (kt,)
            klist = [x.item() if hasattr(x, "item") else x for x in kt[:-1]]
            b = int(kt[-1])
            sk = json.dumps(klist)
            ent = st.get(sk, [0, {}])
            ent[0] += int(n)
            ent[1][str(b)] = ent[1].get(str(b), 0) + int(n)
            st[sk] = ent
            touched[sk] = klist
        # evict zero-weight buckets (see module docstring)
        for sk in touched:
            counts = st[sk][1]
            mb = max(int(b) for b in counts)
            st[sk][1] = {
                b: c for b, c in counts.items() if int(b) >= mb - MAX_SHIFT
            }
        seq += 1
        rows = []
        for sk, klist in touched.items():
            n_ev, counts = st[sk]
            rows.append(
                klist
                + [
                    n_ev,
                    max(int(b) for b in counts),
                    json.dumps(counts, sort_keys=True),
                    seq,
                ]
            )
        out = pd.DataFrame(
            rows,
            columns=keys + ["n_events", "max_bucket", "counts_json", "upd_seq"],
        )
        return out, [st, seq]

    return run_keyed_state(
        src,
        fold,
        out_schema,
        "state_json",
        bucket=("_bkt", [F.col(k) for k in keys]),
        layout=BucketLayout(n_buckets),
        initial=lambda: [{}, 0],
    )


def replay_decay_score(counts_json: str, now_b: int) -> int:
    """Read-time score from a streamed counter vector — the identical
    integer fold the batch operator computes per row."""
    import json

    total = 0
    for b, c in json.loads(counts_json).items():
        age = max(0, int(now_b) - int(b))
        total += int(c) * (BASE >> min(MAX_SHIFT, age))
    return total
