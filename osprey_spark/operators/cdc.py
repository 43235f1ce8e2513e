"""Changelog compaction: CDC upserts → latest snapshot per key.

The north rule lands verdicts in an exactly-once idempotent Iceberg
sink; the companion READ-side problem is a changelog of row revisions
— the same logical row (conv_id, turn_idx) arriving again with a
higher version when a turn is edited or redacted — that must compact
to the latest snapshot. This is Iceberg ``MERGE INTO`` / Delta upsert
semantics expressed as an engine operator (the reference's analytics
sink replays the full event log and has no revision concept;
ref: osprey_worker/sinks — verdicts are append-only there, so this is
the survey's §2.6 extension for mutable transcripts).

``latest_snapshot`` — batch compaction as ONE hash aggregate:
``max(struct(version, payload...))`` per key. Struct comparison is
lexicographic by field order, so the max is "highest version, payload
columns breaking exact version ties deterministically" — a total
order, hence a commutative/associative max-merge with MAP-SIDE
PARTIALS. The textbook ``row_number() OVER (PARTITION BY key ORDER BY
version DESC) = 1`` form shuffles and SORTS every revision; the
max-struct form folds to one row per key before the exchange, so at
10^12 rows the shuffle carries keys, not revision history. No join,
no row-scale window.

``stream_latest_snapshot`` — the same max-merge run incrementally via
``applyInPandasWithState``: state carries the current best
(version, payload) per logical key, sharded across ``n_buckets``
hash-bucket groups (state-tax amortization, same as
``streaming.dedup``). Because the fold is a max over a total order it
is associative + commutative: late or out-of-order revisions converge
to the identical snapshot in any arrival order — the changelog's
LATEST emitted row per key equals the batch operator bit-for-bit
(tested). Rows already emitted are never revised (append-mode
no-revision, same contract as the unique-count family); the sink-side
compaction of the changelog is itself a ``latest_snapshot`` on
``upd_seq``.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def latest_snapshot(
    df: DataFrame,
    key_cols: Sequence[str],
    version_col: str,
    payload_cols: Sequence[str],
) -> DataFrame:
    """Latest revision per logical key → ``(key..., version,
    payload...)``.

    One hash aggregate (map-side partial). Payload columns must be
    non-null for the deterministic tiebreak to be total — coalesce
    nullable payloads before calling (NULL orders before any value in
    Spark struct comparison but is skipped by DuckDB ``max``-style
    folds, so we refuse the ambiguity rather than pick a dialect).
    """
    packed = F.max(
        F.struct(
            F.col(version_col), *[F.col(c) for c in payload_cols]
        )
    ).alias("_top")
    out = df.groupBy(*[F.col(k) for k in key_cols]).agg(packed)
    return out.select(
        *key_cols,
        F.col(f"_top.{version_col}").alias(version_col),
        *[F.col(f"_top.{c}").alias(c) for c in payload_cols],
    )


def changelog_from_turns(turns: DataFrame) -> DataFrame:
    """Deterministic revision changelog over the turns view (test /
    oracle fixture — no RNG): every turn is inserted at version 0;
    turns with ``event_id % 5 = 0`` get an edit at version 1; turns
    with ``event_id % 25 = 0`` additionally get a redaction at
    version 2. Mirrors ``CHANGELOG_SQL`` exactly."""
    base = turns.select(
        "conv_id",
        "turn_idx",
        F.lit(0).cast("int").alias("version"),
        F.col("text"),
        F.col("ts"),
        F.col("event_id"),
    )
    edited = (
        turns.filter(F.col("event_id") % 5 == 0)
        .select(
            "conv_id",
            "turn_idx",
            F.lit(1).cast("int").alias("version"),
            F.concat(F.col("text"), F.lit(" [edited]")).alias("text"),
            F.col("ts"),
            F.col("event_id"),
        )
    )
    redacted = (
        turns.filter(F.col("event_id") % 25 == 0)
        .select(
            "conv_id",
            "turn_idx",
            F.lit(2).cast("int").alias("version"),
            F.lit("[redacted]").alias("text"),
            F.col("ts"),
            F.col("event_id"),
        )
    )
    return base.unionByName(edited).unionByName(redacted)


# DuckDB/Spark-common changelog over the shared turns CTE ({turns} is
# the view name). Kept in SQL so the oracle builds the identical input.
CHANGELOG_SQL = """
SELECT conv_id, turn_idx, CAST(0 AS INT) AS version, text FROM {turns}
UNION ALL
SELECT conv_id, turn_idx, CAST(1 AS INT) AS version,
       concat(text, ' [edited]') AS text
FROM {turns} WHERE event_id % 5 = 0
UNION ALL
SELECT conv_id, turn_idx, CAST(2 AS INT) AS version,
       '[redacted]' AS text
FROM {turns} WHERE event_id % 25 = 0
"""


def stream_latest_snapshot(
    changelog: DataFrame,
    key_cols: Sequence[str] = ("conv_id", "turn_idx"),
    version_col: str = "version",
    payload_cols: Sequence[str] = ("text",),
    n_buckets: int = 1024,
) -> DataFrame:
    """Incremental upsert compaction over a revision stream.

    Emits one changelog row per logical key per micro-batch that
    touches it: ``key..., version, payload..., upd_seq`` — the
    key's best-so-far revision after folding the batch. The LATEST
    emitted row per key (max ``upd_seq``) equals batch
    :func:`latest_snapshot` over the same rows, in any arrival order.
    """
    import json

    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    from ..streaming.buckets import BucketLayout
    from ..streaming.keyed_state import run_keyed_state

    keys = list(key_cols)
    pays = list(payload_cols)
    src = changelog.select(*keys, version_col, *pays)
    in_fields = {f.name: f for f in src.schema.fields}
    out_schema = StructType(
        [in_fields[c] for c in keys]
        + [in_fields[version_col]]
        + [in_fields[c] for c in pays]
        + [StructField("upd_seq", LongType())]
    )

    def fold(pdf, st):
        best, seq = st

        def _py(x):
            return x.item() if hasattr(x, "item") else x

        touched = {}
        for row in pdf.itertuples(index=False):
            kt = [_py(getattr(row, k)) for k in keys]
            sk = json.dumps(kt)
            cand = [int(getattr(row, version_col))] + [
                _py(getattr(row, c)) for c in pays
            ]
            cur = best.get(sk)
            # max-merge over the (version, payload...) total order
            if cur is None or cand > cur:
                best[sk] = cand
            touched[sk] = kt
        seq += 1
        out_rows = []
        for sk, kt in touched.items():
            v = best[sk]
            out_rows.append(kt + v + [seq])
        out = pd.DataFrame(
            out_rows, columns=keys + [version_col] + pays + ["upd_seq"]
        )
        return out, [best, seq]

    return run_keyed_state(
        src,
        fold,
        out_schema,
        "best_json",
        bucket=("_bkt", [F.col(k) for k in keys]),
        layout=BucketLayout(n_buckets),
        initial=lambda: [{}, 0],
    )


def scd2_history(
    changelog: DataFrame,
    key_cols: Sequence[str] = ("conv_id", "turn_idx"),
    version_col: str = "version",
    payload_cols: Sequence[str] = ("text",),
) -> DataFrame:
    """Slowly-changing-dimension type-2 build: the revision changelog
    becomes validity-interval rows — per logical key, each version
    carries ``(valid_from_version, valid_to_version, is_current)``
    where valid_to is the NEXT revision's version (NULL while
    current). The upsert snapshot (:func:`latest_snapshot`) answers
    "what is the row now"; SCD2 answers "what was the row at any
    version" — the audit/time-travel shape warehouses materialize
    beside every mutable dimension.

    One key-partitioned ``lead`` window; partitions are bounded by
    revisions-per-key (the CDC boundedness contract), so this rides
    the same key shuffle as the snapshot compaction.
    """
    from pyspark.sql import Window

    keys = [F.col(k) for k in key_cols]
    return (
        changelog.select(
            *keys,
            F.col(version_col).alias("valid_from_version"),
            *[F.col(c) for c in payload_cols],
        )
        .withColumn("valid_to_version", F.lead("valid_from_version").over(
            Window.partitionBy(*key_cols).orderBy("valid_from_version")
        ))
        .withColumn("is_current", F.col("valid_to_version").isNull())
    )


def scd2_history_sql(
    changelog_sql: str,
    key_cols: Sequence[str] = ("conv_id", "turn_idx"),
    version_col: str = "version",
    payload_cols: Sequence[str] = ("text",),
) -> str:
    keys = ", ".join(key_cols)
    pay = ", ".join(payload_cols)
    return f"""scd AS (
  SELECT {keys}, {version_col} AS valid_from_version, {pay},
    lead({version_col}) OVER (PARTITION BY {keys} ORDER BY {version_col})
      AS valid_to_version
  FROM ({changelog_sql})
)
SELECT {keys}, valid_from_version, {pay}, valid_to_version,
       valid_to_version IS NULL AS is_current
FROM scd"""


def snapshot_diff(
    changelog: DataFrame,
    v_old: int,
    v_new: int,
    key_cols: Sequence[str] = ("conv_id", "turn_idx"),
    version_col: str = "version",
    payload_col: str = "text",
) -> DataFrame:
    """Snapshot-to-snapshot change summary (the Iceberg
    changelog-scan / ``table_changes`` shape): compact the changelog
    to its state at version <= v_old and at version <= v_new, full
    outer join on the key, and classify every key as
    added / removed / changed / unchanged. Output one row per class
    with its count — the "what did this commit actually do" audit a
    100-TB table needs before anyone trusts a backfill.

    Both snapshots ride the SAME max(struct) hash-aggregate shape as
    :func:`latest_snapshot` (map-side partials, keys-not-history on
    the shuffle); the diff join is key-cardinality class.
    """
    def snap(v: int, alias: str, flag: str) -> DataFrame:
        filtered = changelog.filter(F.col(version_col) <= int(v))
        agg = filtered.groupBy(*[F.col(k) for k in key_cols]).agg(
            F.max(
                F.struct(F.col(version_col), F.col(payload_col))
            ).alias("_s")
        )
        # explicit presence flag: payload-NULL must NOT read as
        # key-absent (a key present in both snapshots with a NULL old
        # payload is 'changed'/'unchanged', never 'added')
        return agg.select(
            *key_cols,
            F.col(f"_s.{payload_col}").alias(alias),
            F.lit(True).alias(flag),
        )

    old = snap(v_old, "_old", "_in_old")
    new = snap(v_new, "_new", "_in_new")
    j = old.join(new, list(key_cols), "full_outer")
    cls = (
        F.when(F.col("_in_old").isNull(), F.lit("added"))
        .when(F.col("_in_new").isNull(), F.lit("removed"))
        .when(~F.col("_old").eqNullSafe(F.col("_new")), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.select(cls.alias("change_type"))
        .groupBy("change_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_keys"))
        .orderBy("change_type")
    )


def snapshot_diff_sql(
    changelog_sql: str,
    v_old: int,
    v_new: int,
    key_cols: Sequence[str] = ("conv_id", "turn_idx"),
    version_col: str = "version",
    payload_col: str = "text",
) -> str:
    keys = ", ".join(key_cols)
    join_on = " AND ".join(f"o.{k} = n.{k}" for k in key_cols)
    def snap(v: int) -> str:
        return f"""
  SELECT {keys}, {payload_col}, TRUE AS present FROM (
    SELECT {keys}, {version_col}, {payload_col},
           row_number() OVER (PARTITION BY {keys}
             ORDER BY {version_col} DESC, {payload_col} DESC) AS rn
    FROM ({changelog_sql}) WHERE {version_col} <= {int(v)}
  ) WHERE rn = 1"""
    return f"""sdo AS ({snap(v_old)}),
sdn AS ({snap(v_new)}),
sdj AS (
  SELECT CASE WHEN o.present IS NULL THEN 'added'
              WHEN n.present IS NULL THEN 'removed'
              WHEN o.{payload_col} IS DISTINCT FROM n.{payload_col} THEN 'changed'
              ELSE 'unchanged' END AS change_type
  FROM sdo o FULL OUTER JOIN sdn n ON {join_on}
)
SELECT change_type, CAST(count(*) AS BIGINT) AS n_keys
FROM sdj GROUP BY change_type ORDER BY change_type"""
