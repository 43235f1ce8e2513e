"""Streaming near-duplicate detection: first-seen-wins MinHash LSH.

The ingest-time dedup decision — "has (something like) this text been
seen before? keep the first copy, flag the rest" — made incrementally
per micro-batch. The batch contract is
`operators.dedup.near_dup_flags`: a row is near-dup iff ANY of its
MinHash LSH bands was emitted by a strictly earlier row (earlier =
smaller `near_dup_order_key`). The streaming form carries, per band
ever seen, the MINIMUM order key — a min-merge, associative and
commutative, so (like the SeenBefore rule UDF whose state contract
this generalizes to similarity space) late rows fold exactly: a late
arrival with a smaller key is itself unflagged and lowers the carried
min for every subsequent row; rows already emitted are never revised
(the inherent append-mode no-revision property, same as the
unique-count family).

Scale shape (10^12 turns): bands and order keys are computed JVM-side
with the batch operator's exact expressions; the stateful group key is
a HASH BUCKET of the band (`n_buckets` groups, default 1024), never
the band itself, so the per-group Arrow/state tax is amortized across
~(distinct_bands / n_buckets) bands per group — the same key
coalescing the window-counter rules use. State is one (band ->
min_okey) string pair per DISTINCT band ever seen, sharded across
buckets: the true cost of lifetime dedup (the batch equivalent keeps
the same table as a shuffle), ~64 bytes per distinct document. For a
bounded-horizon contract use the ingest
`dropDuplicatesWithinWatermark` path in `streaming.pipeline` instead.

Emits one row per (input row x band): ``id_cols..., band_flagged``;
collapse to per-row verdicts with :func:`collapse_near_dup_flags`
(bands of a row are all processed in the micro-batch that carries the
row, so the collapse is batch-local — a plain groupBy in foreachBatch
or over the drained changelog).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .buckets import BucketLayout
from .keyed_state import run_keyed_state


def stream_near_dup_bands(
    turns: DataFrame,
    id_cols: Sequence[str] = ("conv_id", "turn_idx"),
    text_col: str = "text",
    ts_col: str = "ts",
    n_hashes: int = 8,
    n_bands: int = 4,
    k: int = 3,
    n_buckets: int = 1024,
) -> DataFrame:
    """Per-band first-seen flags over a stream of turns; see module
    docstring for the contract. NULL texts are dropped from the band
    path (the batch twin emits them unflagged)."""
    import pandas as pd
    from pyspark.sql.types import BooleanType, StructField, StructType

    from ..operators.dedup import (
        minhash_bands,
        minhash_signature_from_digests,
        near_dup_order_key,
        shingle_digests,
        shingles,
    )

    rows_per_band = n_hashes // n_bands
    okey = near_dup_order_key(F.col(ts_col), [F.col(c) for c in id_cols])
    # staged projections — the digest array materializes once (same
    # CollapseProject reasoning as the batch twin / minhash_lsh_pairs)
    staged = (
        turns.filter(F.col(text_col).isNotNull())
        .select(
            *id_cols,
            okey.alias("_okey"),
            shingles(F.col(text_col), k).alias("_sh"),
        )
        .withColumn(
            "_digs", shingle_digests(F.col("_sh"), (n_hashes + 3) // 4)
        )
        .select(
            *id_cols,
            "_okey",
            minhash_signature_from_digests(F.col("_digs"), n_hashes).alias(
                "_sig"
            ),
        )
    )
    src = staged.select(
        *id_cols,
        "_okey",
        F.explode(
            F.array(*minhash_bands(F.col("_sig"), n_bands, rows_per_band))
        ).alias("_band"),
    )
    in_fields = {f.name: f for f in src.schema.fields}
    out_schema = StructType(
        [in_fields[c] for c in id_cols]
        + [StructField("band_flagged", BooleanType())]
    )
    ids = list(id_cols)

    def fold(pdf, mins):
        # fold in canonical order so intra-batch "strictly earlier"
        # matches the batch window exactly
        pdf = pdf.sort_values("_okey", kind="stable")
        flags = []
        for band, ok in zip(
            pdf["_band"].to_numpy(dtype=object),
            pdf["_okey"].to_numpy(dtype=object),
        ):
            prev = mins.get(band)
            flags.append(prev is not None and prev < ok)
            if prev is None or ok < prev:
                mins[band] = ok
        out = pdf[ids].copy()
        out["band_flagged"] = pd.array(flags, dtype="bool")
        return out, mins

    return run_keyed_state(
        src,
        fold,
        out_schema,
        "mins_json",
        bucket=("_bkt", [F.col("_band")]),
        layout=BucketLayout(n_buckets),
    )


def collapse_near_dup_flags(
    band_flags: DataFrame, id_cols: Sequence[str] = ("conv_id", "turn_idx")
) -> DataFrame:
    """Per-row verdicts from the per-band changelog: any flagged band
    flags the row — `near_dup_flags`' final fold, applicable per
    micro-batch (foreachBatch) or over the drained changelog."""
    return band_flags.groupBy(*id_cols).agg(
        F.max("band_flagged").alias("is_near_dup")
    )
