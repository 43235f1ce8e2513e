"""Conversation-transcript curation operators.

The north-star payload is multi-turn conversation / agent transcripts
(conv_id, turn_idx, role, text, tool, ts). Beyond the rule/CEP engine,
a training-data pipeline over transcripts needs transcript-shaped
curation signals: an agent that repeats itself turn after turn
(degenerate loops), and boilerplate turns (canned responses repeated
across thousands of conversations — the C4 "line appears 3+ times in
the corpus" filter, Raffel et al. 2020, applied at turn granularity,
which IS the line granularity of a transcript corpus).

Both operators are single-pass hash-aggregate / window shapes with no
corpus-sized shuffles beyond their grouping keys, and both produce
bit-reproducible floats (single integer divisions, position-ordered
fold for the mean) so the DuckDB oracles replay them hash-exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import tokenize_col


def turn_repetition(
    turns: DataFrame,
    threshold: float = 0.5,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    text_col: str = "text",
) -> DataFrame:
    """Per-conversation consecutive-turn Jaccard repetition.

    For every adjacent turn pair within a conversation, the Jaccard
    similarity of the turns' DISTINCT token sets; a conversation-level
    rollup of pair count, pairs at/above ``threshold`` (the degenerate
    agent-loop signal), and the mean consecutive similarity.

    Float determinism: each pair's Jaccard is ONE integer/integer
    division (|a∩b| and |a∪b| are exact counts), and the mean folds
    the pair list ordered by ``turn_idx``, so float addition order is
    fixed under any partitioning. Pairs where both turns tokenize to
    nothing are defined as identical (j = 1.0).

    Plan at 100 TB: one window (conv-sized partitions, never
    corpus-sized) + one conv-keyed hash aggregate with map-side
    partials — the same shuffle key the rest of the transcript
    pipeline already uses.
    """
    toks = turns.select(
        conv_col,
        idx_col,
        F.array_distinct(tokenize_col(F.col(text_col))).alias("_ts"),
    )
    w = Window.partitionBy(conv_col).orderBy(idx_col)
    prev = F.lag("_ts").over(w)
    inter = F.size(F.array_intersect(F.col("_ts"), prev))
    uni = F.size("_ts") + F.size(prev) - inter
    j = F.when(uni == 0, F.lit(1.0)).otherwise(
        inter.cast("double") / uni.cast("double")
    )
    pairs = toks.select(
        conv_col, idx_col, j.alias("_j")
    ).filter(F.col("_j").isNotNull())
    return (
        pairs.groupBy(conv_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum((F.col("_j") >= F.lit(threshold)).cast("long"))
            .cast("long")
            .alias("n_repetitive"),
            F.round(
                F.aggregate(
                    F.array_sort(
                        F.collect_list(F.struct(F.col(idx_col).alias("i"), F.col("_j").alias("j")))
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x["j"],
                )
                / F.count(F.lit(1)),
                6,
            ).alias("mean_jaccard"),
        )
        .orderBy(conv_col)
    )


def boilerplate_turns(
    turns: DataFrame,
    min_convs: int = 3,
    conv_col: str = "conv_id",
    text_col: str = "text",
) -> DataFrame:
    """C4-style boilerplate filter at turn granularity: a turn text
    that appears in >= ``min_convs`` DISTINCT conversations is
    boilerplate (canned responses, templated tool output), and each
    conversation reports how much of it is boilerplate.

    Counting distinct conversations rather than raw occurrences keeps
    intra-conversation loops out of this signal (``turn_repetition``
    owns those).

    Plan at 100 TB: (text, conv) distinct is a two-phase hash
    aggregate with map-side partials (hot texts pre-aggregate per
    partition before the shuffle — the skew story), the flag table
    joins back text-keyed, then one conv-keyed rollup.
    ``boilerplate_frac`` is one integer/integer division —
    bit-reproducible.
    """
    flagged = (
        turns.select(text_col, conv_col)
        .distinct()
        .groupBy(text_col)
        .agg(F.count(F.lit(1)).alias("_nc"))
        .filter(F.col("_nc") >= min_convs)
        .select(text_col, F.lit(True).alias("_bp"))
    )
    return (
        turns.join(flagged, text_col, "left")
        .groupBy(conv_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_turns"),
            F.sum(F.coalesce(F.col("_bp"), F.lit(False)).cast("long"))
            .cast("long")
            .alias("n_boilerplate"),
        )
        .withColumn(
            "boilerplate_frac",
            F.round(
                F.col("n_boilerplate").cast("double") / F.col("n_turns").cast("double"), 6
            ),
        )
        .orderBy(conv_col)
    )


def stream_turn_repetition(
    turns: DataFrame,
    threshold: float = 0.5,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Streaming counterpart of :func:`turn_repetition`: the
    degenerate-loop detector evaluated per micro-batch through
    ``applyInPandasWithState``, so a repetitive agent is flagged while
    the conversation is still running instead of in the nightly batch.

    State per conversation: the PREVIOUS turn's distinct token set
    plus the running (n_pairs, n_repetitive, sum_j) counters — bounded
    by one turn's vocabulary, not conversation length. Emits one
    changelog row per conversation per micro-batch that touched it
    (conversations with no pairs yet are withheld, matching the batch
    operator's output); the latest row per key equals the batch
    operator's row for the same stream prefix (equivalence-tested
    across multi-batch splits).

    Float parity with the batch form: each pair's Jaccard is the same
    single int/int division, and the running sum adds pairs in
    turn_idx order — the identical IEEE addition order as the batch
    operator's turn-ordered fold, so ``mean_jaccard`` is bit-equal.
    Tokenization uses ``re.ASCII`` so Python's ``\\w`` matches the JVM
    regex default the batch column expression compiles to.

    Key coalescing as in ``streaming/keyed_state.py``: grouped by a hash
    bucket of conv_id (OSPREY_WC_STATE_BUCKETS) with a per-bucket
    {conv: state} map, per-conv segments of the (conv, turn_idx)-sorted
    batch folding independently — per-key semantics at a fixed
    per-group Arrow cost amortized across keys.
    """
    import re as _re

    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from ..streaming.keyed_state import run_keyed_state
    from ..streaming.sketches import _round6

    split_rx = _re.compile(r"[\W_]+", _re.ASCII)

    out_schema = StructType(
        [
            StructField(conv_col, StringType()),
            StructField("n_pairs", LongType()),
            StructField("n_repetitive", LongType()),
            StructField("mean_jaccard", DoubleType()),
        ]
    )

    def fold(pdf, smap):
        pdf = pdf.sort_values([conv_col, idx_col], kind="stable")
        out_conv, out_np, out_nr, out_mean = [], [], [], []
        for conv, grp in pdf.groupby(conv_col, sort=False):
            mk = str(conv) if conv is not None else "\x00"
            prev, n_pairs, n_rep, sum_j = smap.get(mk, ["\x00missing", 0, 0, 0.0])
            for text in grp[text_col].to_numpy(dtype=object):
                toks = (
                    None
                    if text is None
                    else sorted({t for t in split_rx.split(text.lower()) if t})
                )
                if not isinstance(prev, str):  # a real previous turn (list or None)
                    if toks is not None and prev is not None:
                        a, b = set(toks), set(prev)
                        uni = len(a | b)
                        j = 1.0 if uni == 0 else len(a & b) / uni
                        n_pairs += 1
                        if j >= threshold:
                            n_rep += 1
                        sum_j += j
                prev = toks
            smap[mk] = [prev, n_pairs, n_rep, sum_j]
            if n_pairs > 0:
                out_conv.append(conv)
                out_np.append(n_pairs)
                out_nr.append(n_rep)
                out_mean.append(_round6(sum_j / n_pairs))
        out = pd.DataFrame(
            {
                conv_col: out_conv,
                "n_pairs": pd.array(out_np, dtype="int64"),
                "n_repetitive": pd.array(out_nr, dtype="int64"),
                "mean_jaccard": pd.array(out_mean, dtype="float64"),
            }
        )
        return out, smap

    src = turns.withWatermark(ts_col, watermark).select(
        F.col(conv_col).cast("string").alias(conv_col),
        F.col(idx_col),
        F.col(ts_col),
        F.col(text_col),
    )
    return run_keyed_state(
        src,
        fold,
        out_schema,
        "state_json",
        bucket=("__rep_bkt", [F.col(conv_col).cast("string")]),
    )


def transition_counts(
    turns: DataFrame,
    sym: Column | None = None,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
) -> DataFrame:
    """Corpus-wide Markov transition counts over per-conversation
    symbol sequences → ``(src, dst, n, out_total)``.

    The north star's "tool-usage sequences" as a first-order Markov
    layer: which step follows which across all conversations — retry
    loops surface as heavy self-transitions (``tool_k → tool_k``),
    protocol violations as transitions the dialogue contract forbids
    (``user → user``). Default symbol: ``coalesce(tool, role)`` —
    tool-call turns keep their tool name, everything else its role.

    Plan at 10^12 turns: ONE ``lag`` window over conv-sized partitions
    (the transcript pipeline's standard key shuffle, partition size
    bounded by conversation length) feeding ONE (src, dst) hash
    aggregate with map-side partials; ``out_total`` is a window sum
    over the RESULT frame, whose cardinality is |alphabet|² — the
    dimension-table class, never row-scale. Counts are integers;
    nothing floats.
    """
    if sym is None:
        sym = F.coalesce(F.col("tool"), F.col("role"))
    w = Window.partitionBy(conv_col).orderBy(idx_col)
    pairs = (
        turns.select(conv_col, idx_col, sym.alias("_sym"))
        .select(F.lag("_sym").over(w).alias("src"), F.col("_sym").alias("dst"))
        .filter(F.col("src").isNotNull())
    )
    counts = pairs.groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    out_w = Window.partitionBy("src")
    return counts.select(
        "src", "dst", "n", F.sum("n").over(out_w).cast("long").alias("out_total")
    )


def transition_counts_sql(
    table: str,
    sym_expr: str = "coalesce(tool, role)",
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
) -> str:
    """DuckDB oracle for :func:`transition_counts`."""
    return f"""
WITH syms AS (
  SELECT {conv_col} AS conv_id, {idx_col} AS turn_idx,
         {sym_expr} AS sym
  FROM {table}
), pairs AS (
  SELECT lag(sym) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS src,
         sym AS dst
  FROM syms
), counts AS (
  SELECT src, dst, CAST(count(*) AS BIGINT) AS n
  FROM pairs WHERE src IS NOT NULL GROUP BY src, dst
)
SELECT src, dst, n,
       CAST(sum(n) OVER (PARTITION BY src) AS BIGINT) AS out_total
FROM counts
"""


def response_latency(
    turns: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-conversation assistant response latency →
    ``(conv_id, n_responses, max_gap_s, sum_gap_s)``.

    A response pair is a ``user`` turn whose NEXT turn (by
    ``turn_idx``) is an ``assistant`` turn; its gap is the whole-second
    event-time delta. The dialogue-latency observability rollup (the
    timer-based absence rule in ``cep.response_absence`` answers "did
    anyone reply in time"; this answers "how fast are replies").

    All-integer outputs (floored epoch seconds), so the conv-keyed
    aggregate is partition-order independent. Plan: one lead window
    over conv-sized partitions + one conv hash aggregate on the same
    shuffle key — the pipeline's standard shape.
    """
    w = Window.partitionBy(conv_col).orderBy(idx_col)
    sec = F.floor(F.col(ts_col).cast("timestamp").cast("double")).cast("long")
    base = turns.select(conv_col, idx_col, role_col, sec.alias("_sec"))
    gap = F.when(
        (F.col(role_col) == "user") & (F.lead(role_col).over(w) == "assistant"),
        F.lead("_sec").over(w) - F.col("_sec"),
    )
    return (
        base.select(conv_col, gap.alias("_gap"))
        .groupBy(conv_col)
        .agg(
            F.count("_gap").cast("long").alias("n_responses"),
            F.max("_gap").cast("long").alias("max_gap_s"),
            F.sum("_gap").cast("long").alias("sum_gap_s"),
        )
        .filter(F.col("n_responses") > 0)
    )


def stream_transition_counts(
    turns: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    tool_col: str = "tool",
    n_buckets: int = 1024,
) -> DataFrame:
    """Streaming :func:`transition_counts` as a RETRACTION CHANGELOG
    (Flink update-mode semantics): emits ``(src, dst, delta)`` rows
    whose running SUM per (src, dst) equals the batch transition
    counts over all rows seen so far — in ANY arrival order.

    Why retractions are unavoidable here: a late turn ``b`` arriving
    between already-seen ``a`` and ``c`` SPLITS the previously-counted
    pair (a,c) into (a,b)+(b,c) — the old pair must be un-counted, so
    the changelog carries ``delta=-1`` rows. Sketch folds (HLL/CMS/
    min-k) dodge this because their merges are monotone; sequence
    adjacency is not, so this operator demonstrates the update-mode
    contract the monotone folds never need.

    State per conversation: the ordered (turn_idx → symbol) map —
    bounded by conversation length, the same per-key boundedness
    contract as session windows and CEP sequences (never corpus-
    scale). Per micro-batch each touched conversation recomputes its
    adjacency pairs (O(len)) and emits only the delta vs its previous
    pairs; deltas from all conversations in a state group are summed
    before emission. Duplicate (conv, turn_idx) deliveries keep the
    FIRST symbol (at-least-once upstream tolerated).
    """
    import pandas as pd
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from ..streaming.buckets import BucketLayout
    from ..streaming.keyed_state import run_keyed_state

    sym = F.coalesce(F.col(tool_col), F.col(role_col))
    src = turns.select(
        F.col(conv_col).cast("string").alias("_conv"),
        F.col(idx_col).cast("long").alias("_idx"),
        sym.cast("string").alias("_sym"),
    )
    out_schema = StructType(
        [
            StructField("src", StringType()),
            StructField("dst", StringType()),
            StructField("delta", LongType()),
        ]
    )

    def _pairs(seq_map):
        # seq_map: {idx(str): sym}; ordered adjacency pairs
        items = sorted((int(i), s) for i, s in seq_map.items())
        out = {}
        for (_, a), (_, b) in zip(items, items[1:]):
            out[(a, b)] = out.get((a, b), 0) + 1
        return out

    def fold(pdf, seqs):
        deltas: dict = {}
        for conv, grp in pdf.groupby("_conv"):
            cur = seqs.get(conv, {})
            before = _pairs(cur)
            for i, s in zip(grp["_idx"].to_numpy(), grp["_sym"].to_numpy()):
                k = str(int(i))
                if k not in cur:  # first delivery wins
                    cur[k] = None if s is None else str(s)
            seqs[conv] = cur
            after = _pairs(cur)
            for p in set(before) | set(after):
                d = after.get(p, 0) - before.get(p, 0)
                if d:
                    deltas[p] = deltas.get(p, 0) + d
        if not deltas:
            return None, seqs
        rows = [[a, b, d] for (a, b), d in deltas.items()]
        return pd.DataFrame(rows, columns=["src", "dst", "delta"]), seqs

    return run_keyed_state(
        src,
        fold,
        out_schema,
        "seqs_json",
        bucket=("_bkt", [F.col("_conv")]),
        layout=BucketLayout(n_buckets),
    )


def sft_render(
    turns: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
) -> DataFrame:
    """SFT training-example assembly from raw transcripts →
    ``(conv_id, n_turns, n_merged, rendered)``.

    The two standard cleanup/render steps between a transcript table
    and a chat-format training row:

    1. MERGE consecutive same-role turns (tool spam, double-sends)
       into one turn, texts joined with a single space in turn order;
    2. render the chat template: one ``<|role|> text`` line per merged
       turn, lines joined with newlines — deterministic, so the
       rendered string is oracle-replayable byte-for-byte.

    The merge is the classic gaps-and-islands shape: a turn starts a
    new island iff its role differs from the previous turn's (lag),
    island id = running count of starts — two window passes over the
    SAME conv-sized partitions (one shuffle), then one (conv, island)
    aggregate and one conv aggregate. State never exceeds a
    conversation; no joins.
    """
    w = Window.partitionBy(conv_col).orderBy(idx_col)
    base = turns.select(conv_col, idx_col, role_col, text_col)
    is_start = (
        F.lag(role_col).over(w).isNull()
        | (F.lag(role_col).over(w) != F.col(role_col))
    ).cast("int")
    with_isl = base.select(
        conv_col,
        idx_col,
        role_col,
        text_col,
        F.sum(is_start).over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("_isl"),
    )
    islands = with_isl.groupBy(conv_col, "_isl").agg(
        F.min(idx_col).alias("_i0"),
        F.first(role_col).alias("_role"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col(idx_col).alias("i"), F.col(text_col).alias("t"))
                    )
                ),
                lambda s: s["t"],
            ),
            " ",
        ).alias("_text"),
        F.count(F.lit(1)).alias("_n"),
    )
    return (
        islands.groupBy(conv_col)
        .agg(
            F.sum("_n").cast("long").alias("n_turns"),
            (F.sum("_n") - F.count(F.lit(1))).cast("long").alias("n_merged"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("_i0").alias("i"),
                                F.concat(
                                    F.lit("<|"), F.col("_role"), F.lit("|> "), F.col("_text")
                                ).alias("line"),
                            )
                        )
                    ),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("rendered"),
        )
    )


def sft_render_sql(table: str) -> str:
    """DuckDB oracle for :func:`sft_render` (gaps-and-islands +
    ordered string_agg)."""
    return f"""
WITH b AS (
  SELECT conv_id, turn_idx, role, text,
    CASE WHEN lag(role) OVER w IS NULL OR lag(role) OVER w != role
         THEN 1 ELSE 0 END AS st
  FROM {table}
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
),
isl AS (
  SELECT conv_id, turn_idx, role, text,
    sum(st) OVER (PARTITION BY conv_id ORDER BY turn_idx
                  ROWS UNBOUNDED PRECEDING) AS isl
  FROM b
),
merged AS (
  SELECT conv_id, isl, min(turn_idx) AS i0, min(role) AS role,
    string_agg(text, ' ' ORDER BY turn_idx) AS text,
    count(*) AS n
  FROM isl GROUP BY conv_id, isl
)
SELECT conv_id,
  CAST(sum(n) AS BIGINT) AS n_turns,
  CAST(sum(n) - count(*) AS BIGINT) AS n_merged,
  string_agg('<|' || role || '|> ' || text, chr(10) ORDER BY i0) AS rendered
FROM merged GROUP BY conv_id
"""


def echo_overlap(
    turns: DataFrame,
    threshold: float = 0.6,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
) -> DataFrame:
    """Assistant-parrots-user detection: clipped n-gram precision of
    each assistant turn against the immediately preceding user turn.

    The copy/echo quality signal for dialogue training data (the
    modified n-gram precision of BLEU, Papineni et al. 2002, with the
    preceding user turn as the reference): an assistant turn whose
    unigram precision vs the user prompt is ~1.0 adds no information
    — it just repeats the prompt back. Emits per-pair unigram and
    bigram clipped counts and precisions plus an ``echoed`` flag at
    ``threshold`` on the unigram precision.

    Shapes, at 100 TB: ONE conv-partitioned window (lag of the
    previous turn's role + token array — conversation-sized
    partitions, the pipeline's standard shuffle key) and everything
    else is per-row JVM higher-order functions (zip_with for bigrams,
    aggregate/least/filter for the clipped multiset intersection) —
    no self-join, no UDF, no corpus-sized state. Clipped counting is
    O(|cand| * (|cand|+|ref|)) per row on short turn texts.

    Float determinism: each precision is ONE integer/integer division
    rounded half-away-from-zero to 6 places, so the DuckDB replay is
    hash-exact.
    """

    def _bigrams(a: Column) -> Column:
        return F.when(
            F.size(a) >= 2,
            F.zip_with(
                F.slice(a, 1, F.size(a) - 1),
                F.slice(a, 2, F.size(a) - 1),
                lambda x, y: F.concat(x, F.lit(" "), y),
            ),
        ).otherwise(F.array().cast("array<string>"))

    def _clip(c: Column, r: Column) -> Column:
        # sum over distinct candidate grams of min(count_c, count_r)
        return F.aggregate(
            F.array_distinct(c),
            F.lit(0).cast("long"),
            lambda acc, t: acc
            + F.least(
                F.size(F.filter(c, lambda y: y == t)),
                F.size(F.filter(r, lambda y: y == t)),
            ).cast("long"),
        )

    toks = turns.select(
        conv_col,
        idx_col,
        role_col,
        tokenize_col(F.col(text_col)).alias("_tk"),
    )
    w = Window.partitionBy(conv_col).orderBy(idx_col)
    paired = toks.select(
        conv_col,
        idx_col,
        role_col,
        F.col("_tk").alias("_cand"),
        F.lag(role_col).over(w).alias("_prole"),
        F.lag("_tk").over(w).alias("_ref"),
    ).filter(
        (F.col(role_col) == "assistant") & (F.col("_prole") == "user")
    )
    n_cand = F.size("_cand").cast("long")
    n_bi = F.greatest(F.size("_cand") - 1, F.lit(0)).cast("long")
    uni_clip = _clip(F.col("_cand"), F.col("_ref"))
    bi_clip = _clip(_bigrams(F.col("_cand")), _bigrams(F.col("_ref")))
    uni_prec = F.when(
        n_cand > 0, F.round(uni_clip.cast("double") / n_cand, 6)
    ).otherwise(F.lit(0.0))
    bi_prec = F.when(
        n_bi > 0, F.round(bi_clip.cast("double") / n_bi, 6)
    ).otherwise(F.lit(0.0))
    return paired.select(
        conv_col,
        idx_col,
        n_cand.alias("n_cand"),
        uni_clip.alias("uni_clip"),
        bi_clip.alias("bi_clip"),
        uni_prec.alias("uni_prec"),
        bi_prec.alias("bi_prec"),
        (uni_prec >= F.lit(threshold)).alias("echoed"),
    )


def echo_overlap_sql(table: str, threshold: float = 0.6) -> str:
    """DuckDB oracle for :func:`echo_overlap` (lag pairing + list
    comprehension bigrams + clipped-count list fold)."""
    tk = r"list_filter(regexp_split_to_array(lower(text), '[\W_]+'), t -> t <> '')"
    bi = (
        "CASE WHEN len({a}) >= 2 THEN "
        "list_transform(range(1, len({a})), i -> {a}[i] || ' ' || {a}[i+1]) "
        "ELSE [] END"
    )
    clip = (
        "coalesce(list_sum(list_transform(list_distinct({c}), "
        "t -> least(len(list_filter({c}, y -> y = t)), "
        "len(list_filter({r}, y -> y = t))))), 0)"
    )
    return f"""
WITH tk AS (
  SELECT conv_id, turn_idx, role, {tk} AS cand,
    lag(role) OVER w AS prole, lag({tk}) OVER w AS ref
  FROM {table}
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
),
pairs AS (
  SELECT conv_id, turn_idx,
    CAST(len(cand) AS BIGINT) AS n_cand,
    CAST(greatest(len(cand) - 1, 0) AS BIGINT) AS n_bi,
    CAST({clip.format(c='cand', r='ref')} AS BIGINT) AS uni_clip,
    CAST({clip.format(c=bi.format(a='cand'), r=bi.format(a='ref'))} AS BIGINT) AS bi_clip
  FROM tk WHERE role = 'assistant' AND prole = 'user'
)
SELECT conv_id, turn_idx, n_cand, uni_clip, bi_clip,
  CASE WHEN n_cand > 0 THEN round(CAST(uni_clip AS DOUBLE) / n_cand, 6) ELSE 0.0 END AS uni_prec,
  CASE WHEN n_bi > 0 THEN round(CAST(bi_clip AS DOUBLE) / n_bi, 6) ELSE 0.0 END AS bi_prec,
  (CASE WHEN n_cand > 0 THEN round(CAST(uni_clip AS DOUBLE) / n_cand, 6) ELSE 0.0 END)
    >= {threshold} AS echoed
FROM pairs
"""


def context_windows(
    turns: DataFrame,
    budget: int = 32,
    target_role: str = "assistant",
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
) -> DataFrame:
    """Next-turn-prediction context assembly under a token budget.

    For every ``target_role`` turn, gather the longest suffix of its
    conversation history whose total token count fits ``budget`` and
    render it as ordered ``<|role|> text`` lines — the
    (context, target) training-example shape for next-turn prediction
    with a bounded context window. Targets whose single preceding
    turn already exceeds the budget produce no row (no non-empty
    context fits).

    Shapes, at 100 TB: the naive form is "collect the whole history
    per row" — an O(conv_len^2) window state blow-up. Instead ONE
    prefix-sum window computes ``pre`` = tokens before each turn, and
    the history suffix becomes a conv-keyed equi-join with the budget
    inequality ``t.pre - c.pre <= budget`` as a post-join filter:
    both sides shuffle on the pipeline's standard conv key
    (co-partitioned), and per-target fan-out is bounded by
    budget / min-tokens-per-turn REGARDLESS of conversation length.
    One (conv, target) hash aggregate with a turn-ordered array join
    renders byte-deterministic context strings.
    """
    base = turns.select(
        conv_col,
        idx_col,
        role_col,
        text_col,
        F.size(tokenize_col(F.col(text_col))).cast("long").alias("_nt"),
    )
    w = (
        Window.partitionBy(conv_col)
        .orderBy(idx_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cumt = base.withColumn("_pre", F.sum("_nt").over(w) - F.col("_nt"))
    targets = cumt.filter(
        (F.col(role_col) == target_role) & (F.col(idx_col) > 0)
    ).select(
        conv_col,
        F.col(idx_col).alias("_t_idx"),
        F.col("_pre").alias("_t_pre"),
        F.col(text_col).alias("target_text"),
    )
    ctx = cumt.select(
        conv_col,
        F.col(idx_col).alias("_c_idx"),
        F.col("_pre").alias("_c_pre"),
        F.col("_nt").alias("_c_nt"),
        F.concat(
            F.lit("<|"), F.col(role_col), F.lit("|> "), F.col(text_col)
        ).alias("_line"),
    )
    joined = targets.join(ctx, on=conv_col, how="inner").filter(
        (F.col("_c_idx") < F.col("_t_idx"))
        & (F.col("_t_pre") - F.col("_c_pre") <= F.lit(budget))
    )
    return (
        joined.groupBy(conv_col, "_t_idx", "target_text")
        .agg(
            F.count(F.lit(1)).cast("long").alias("ctx_turns"),
            F.sum("_c_nt").cast("long").alias("ctx_tokens"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("_c_idx").alias("i"),
                                F.col("_line").alias("line"),
                            )
                        )
                    ),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("ctx_text"),
        )
        .select(
            conv_col,
            F.col("_t_idx").alias(idx_col),
            "ctx_turns",
            "ctx_tokens",
            "ctx_text",
            "target_text",
        )
    )


def context_windows_sql(
    table: str, budget: int = 32, target_role: str = "assistant"
) -> str:
    """DuckDB oracle for :func:`context_windows` (prefix-sum window +
    budget-bounded self-join + ordered string_agg)."""
    tk = r"list_filter(regexp_split_to_array(lower(text), '[\W_]+'), t -> t <> '')"
    return f"""
WITH base AS (
  SELECT conv_id, turn_idx, role, text, CAST(len({tk}) AS BIGINT) AS nt
  FROM {table}
),
cumt AS (
  SELECT *, sum(nt) OVER (PARTITION BY conv_id ORDER BY turn_idx
                          ROWS UNBOUNDED PRECEDING) - nt AS pre
  FROM base
)
SELECT t.conv_id, t.turn_idx,
  CAST(count(*) AS BIGINT) AS ctx_turns,
  CAST(sum(c.nt) AS BIGINT) AS ctx_tokens,
  string_agg('<|' || c.role || '|> ' || c.text, chr(10) ORDER BY c.turn_idx) AS ctx_text,
  t.text AS target_text
FROM cumt t JOIN cumt c
  ON t.conv_id = c.conv_id
 AND c.turn_idx < t.turn_idx
 AND t.pre - c.pre <= {budget}
WHERE t.role = '{target_role}' AND t.turn_idx > 0
GROUP BY t.conv_id, t.turn_idx, t.text
"""


ROLES = ("user", "assistant", "system", "tool")


def pivot_roles(
    turns: DataFrame,
    conv_col: str = "conv_id",
    role_col: str = "role",
) -> DataFrame:
    """Per-conversation role-mix in wide form: one column of turn
    counts per role — the feature-vector shape downstream models and
    dashboards consume (a conversation with 40 tool turns and 1 user
    turn is an agent loop; 0 assistant turns is an abandoned chat).

    Pivot is the operator; the scale contract is the EXPLICIT value
    list: ``pivot(role, [values])`` compiles to ONE conv-keyed hash
    aggregate with map-side partials (conditional counts per role),
    while ``pivot(role)`` without values runs a whole extra
    distinct-collect job over the corpus first to discover them at
    the driver. Pivoted dimensions must be enum-class (|roles| = 4);
    absent combinations land NULL and are pinned to 0 so outputs are
    all-integer and the replay is hash-exact.
    """
    wide = (
        turns.groupBy(conv_col)
        .pivot(role_col, list(ROLES))
        .count()
    )
    cols = [
        F.coalesce(F.col(r), F.lit(0)).cast("long").alias(f"n_{r}")
        for r in ROLES
    ]
    total = sum(
        (F.coalesce(F.col(r), F.lit(0)) for r in ROLES), F.lit(0)
    ).cast("long")
    return wide.select(conv_col, *cols, total.alias("n_turns"))


def pivot_roles_sql(table: str) -> str:
    """DuckDB oracle for :func:`pivot_roles` (conditional counts —
    exactly the aggregate Spark's pivot compiles to)."""
    conds = ",\n  ".join(
        f"CAST(count(*) FILTER (role = '{r}') AS BIGINT) AS n_{r}"
        for r in ROLES
    )
    return f"""
SELECT conv_id,
  {conds},
  CAST(count(*) FILTER (role IN ('user','assistant','system','tool')) AS BIGINT) AS n_turns
FROM {table}
GROUP BY conv_id
"""


def conv_trend(
    turns: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    text_col: str = "text",
    min_turns: int = 3,
) -> DataFrame:
    """Per-conversation length-trajectory slope: the OLS regression of
    turn text length on turn index →
    ``(conv_id, n_turns, slope, mean_len)``. A strongly positive
    slope is the degeneration signal (replies ballooning turn over
    turn — agent loops, runaway tool output); a strongly negative one
    is a conversation collapsing into one-word exchanges.

    Exactness discipline: the five regression moments (n, Σx, Σy,
    Σxy, Σx²) are INTEGER sums in one conv-keyed hash aggregate
    (map-side partials; the transcript pipeline's existing shuffle
    key), and the slope is ONE fixed-shape double division
    ``(nΣxy − ΣxΣy) / (nΣx² − (Σx)²)`` — partition-order independent
    and replayed bit-exactly by the SQL oracle (no running-mean float
    accumulation). NULL texts count as length 0 (an empty turn is a
    real datapoint in the trajectory). The denominator cannot be 0:
    turn indices within a conversation are distinct, and the
    ``min_turns`` filter (default 3) removes the single-turn case.
    """
    x = F.col(idx_col).cast("long")
    y = F.coalesce(F.length(text_col), F.lit(0)).cast("long")
    g = turns.groupBy(conv_col).agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum(x).alias("_sx"),
        F.sum(y).alias("_sy"),
        F.sum(x * y).alias("_sxy"),
        F.sum(x * x).alias("_sxx"),
    ).filter(F.col("_n") >= int(min_turns))
    num = (F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy")).cast("double")
    den = (F.col("_n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")).cast("double")
    return g.select(
        conv_col,
        F.col("_n").cast("long").alias("n_turns"),
        F.round(num / den, 6).alias("slope"),
        F.round(F.col("_sy").cast("double") / F.col("_n").cast("double"), 6).alias(
            "mean_len"
        ),
    ).orderBy(conv_col)


def conv_trend_sql(table: str, min_turns: int = 3) -> str:
    """DuckDB replay of :func:`conv_trend` — identical integer moments
    and the identical single-division expression shape."""
    return f"""
SELECT conv_id,
  CAST(n AS BIGINT) AS n_turns,
  round(CAST(n * sxy - sx * sy AS DOUBLE)
        / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope,
  round(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_len
FROM (
  SELECT conv_id, count(*) AS n,
    sum(CAST(turn_idx AS BIGINT)) AS sx,
    sum(CAST(coalesce(length(text), 0) AS BIGINT)) AS sy,
    sum(CAST(turn_idx AS BIGINT) * CAST(coalesce(length(text), 0) AS BIGINT)) AS sxy,
    sum(CAST(turn_idx AS BIGINT) * CAST(turn_idx AS BIGINT)) AS sxx
  FROM {table} GROUP BY conv_id
) WHERE n >= {int(min_turns)}
ORDER BY conv_id
"""


def rouge_l(
    turns: DataFrame,
    max_tokens: int = 32,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
) -> DataFrame:
    """ROUGE-L of each assistant turn against the preceding user turn:
    token-level longest-common-SUBSEQUENCE precision/recall/F1 (Lin
    2004) — the order-aware companion to :func:`echo_overlap`'s
    clipped n-gram precision. BLEU-style clipping misses gappy copies
    ("a b c d" -> "a X b Y c Z d" has low bigram precision but near-
    total LCS recall); ROUGE-L is the standard summary/para-phrase
    overlap metric and, on dialogue data, the gappy-parroting signal.

    Shapes, at 100 TB: the SAME single conv-partitioned lag window as
    echo_overlap (the pipeline's standard shuffle key) pairs the
    turns; the LCS DP then runs per row as a pure-JVM nested
    higher-order-function fold — the outer ``aggregate`` walks
    candidate tokens carrying the DP row (an ``array<int>`` of length
    |ref|+1), the inner ``aggregate`` builds the next row — O(n*m)
    integer cells on ``max_tokens``-capped sequences, no UDF, no
    self-join, no corpus-sized state. Both sequences are hard-capped
    at ``max_tokens`` so the per-row cost is bounded by a constant
    regardless of pathological turn lengths.

    Engine-exactness: the LCS *length* is algorithm-independent (any
    correct DP yields the same integer), so the DuckDB oracle may use
    a different row-update formulation (prefix-max instead of the
    sequential classic) and still match bit-for-bit; P/R are single
    int/int double divisions and F1 one fixed parenthesization
    ``(2*p*r)/(p+r)`` evaluated identically in both engines, each
    rounded half-away-from-zero to 6 places.
    """
    toks = turns.select(
        conv_col,
        idx_col,
        role_col,
        F.slice(tokenize_col(F.col(text_col)), 1, max_tokens).alias("_tk"),
    )
    w = Window.partitionBy(conv_col).orderBy(idx_col)
    paired = toks.select(
        conv_col,
        idx_col,
        role_col,
        F.col("_tk").alias("_cand"),
        F.lag(role_col).over(w).alias("_prole"),
        F.lag("_tk").over(w).alias("_ref"),
    ).filter(
        (F.col(role_col) == "assistant") & (F.col("_prole") == "user")
    )

    a, b = F.col("_cand"), F.col("_ref")
    # Classic sequential LCS row update: N[j] = match ? P[j-1]+1
    # : max(P[j], N[j-1]).  acc2 is the new row built so far, so when
    # appending the entry for dp index j we have size(acc2) == j and
    # (1-based element_at) P[j-1] == element_at(P, j),
    # P[j] == element_at(P, j+1), N[j-1] == element_at(acc2, -1).
    dp0 = F.array_repeat(F.lit(0), F.size(b) + 1)
    dp = F.aggregate(
        a,
        dp0,
        lambda P, x: F.aggregate(
            b,
            F.array(F.lit(0)),
            lambda acc2, y: F.concat(
                acc2,
                F.array(
                    F.when(
                        y == x, F.element_at(P, F.size(acc2)) + F.lit(1)
                    ).otherwise(
                        F.greatest(
                            F.element_at(P, F.size(acc2) + 1),
                            F.element_at(acc2, -1),
                        )
                    )
                ),
            ),
        ),
    )
    lcs = F.element_at(dp, -1).cast("long")
    n_cand = F.size(a).cast("long")
    n_ref = F.size(b).cast("long")
    p_raw = lcs.cast("double") / n_cand
    r_raw = lcs.cast("double") / n_ref
    rouge_p = F.when(n_cand > 0, F.round(p_raw, 6)).otherwise(F.lit(0.0))
    rouge_r = F.when(n_ref > 0, F.round(r_raw, 6)).otherwise(F.lit(0.0))
    rouge_f = F.when(
        (lcs > 0) & (n_cand > 0) & (n_ref > 0),
        F.round((F.lit(2.0) * p_raw * r_raw) / (p_raw + r_raw), 6),
    ).otherwise(F.lit(0.0))
    return paired.select(
        conv_col,
        idx_col,
        n_cand.alias("n_cand"),
        n_ref.alias("n_ref"),
        lcs.alias("lcs_len"),
        rouge_p.alias("rouge_p"),
        rouge_r.alias("rouge_r"),
        rouge_f.alias("rouge_f"),
    )


def rouge_l_sql(table: str, max_tokens: int = 32) -> str:
    """DuckDB oracle for :func:`rouge_l`.

    Replays the LCS with the prefix-max row update (N[j] =
    max(P[j], max_{k<=j, ref[k]==x}(P[k-1]+1)) — valid because P is
    nondecreasing, and any correct LCS DP yields the identical
    integer): the candidate tokens become per-token match-mask lists
    against the reference so ``list_reduce``'s same-type accumulator
    constraint (acc and element both INT[]) is satisfied, with the
    initial DP row prepended as the reduce seed.
    """
    tk = (
        r"list_slice(list_filter(regexp_split_to_array(lower(text), "
        rf"'[\W_]+'), t -> t <> ''), 1, {int(max_tokens)})"
    )
    # masks: [dp0, mask(x1), mask(x2), ...]; reduce seed = dp0.
    masks = (
        "list_prepend(list_transform(range(0, len(ref) + 1), j -> 0), "
        "list_transform(cand, x -> list_transform(ref, y -> "
        "CASE WHEN y = x THEN 1 ELSE 0 END)))"
    )
    step = (
        "list_prepend(0, list_transform(range(1, len(P)), j -> "
        "greatest(P[j + 1], coalesce(list_max(list_transform(range(1, j + 1), "
        "k -> CASE WHEN el[k] = 1 THEN P[k] + 1 ELSE 0 END)), 0))))"
    )
    return f"""
WITH tk AS (
  SELECT conv_id, turn_idx, role, {tk} AS cand,
    lag(role) OVER w AS prole, lag({tk}) OVER w AS ref
  FROM {table}
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
),
pairs AS (
  SELECT conv_id, turn_idx, cand, ref,
    CAST(len(cand) AS BIGINT) AS n_cand,
    CAST(len(ref) AS BIGINT) AS n_ref,
    CAST((list_reduce({masks}, (P, el) -> {step}))[-1] AS BIGINT) AS lcs_len
  FROM tk WHERE role = 'assistant' AND prole = 'user'
)
SELECT conv_id, turn_idx, n_cand, n_ref, lcs_len,
  CASE WHEN n_cand > 0
    THEN round(CAST(lcs_len AS DOUBLE) / n_cand, 6) ELSE 0.0 END AS rouge_p,
  CASE WHEN n_ref > 0
    THEN round(CAST(lcs_len AS DOUBLE) / n_ref, 6) ELSE 0.0 END AS rouge_r,
  CASE WHEN lcs_len > 0 AND n_cand > 0 AND n_ref > 0
    THEN round((2.0 * (CAST(lcs_len AS DOUBLE) / n_cand)
                    * (CAST(lcs_len AS DOUBLE) / n_ref))
               / ((CAST(lcs_len AS DOUBLE) / n_cand)
                  + (CAST(lcs_len AS DOUBLE) / n_ref)), 6)
    ELSE 0.0 END AS rouge_f
FROM pairs
"""


def topic_segments(
    turns: DataFrame,
    block: int = 2,
    peak_window: int = 3,
    depth_threshold: float = 0.2,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    text_col: str = "text",
) -> DataFrame:
    """TextTiling-style topic segmentation of conversations (Hearst,
    CL 1997): score every gap between consecutive turns by the
    lexical cohesion of the ``block`` turns on each side, then mark
    topic boundaries where the cohesion *valley* is deep relative to
    its neighboring peaks — the discourse-structure signal for
    splitting long multi-topic transcripts into coherent training
    segments.

    Per gap g (after turn g): ``sim`` = Jaccard of the distinct token
    sets of turns [g-block+1..g] vs [g+1..g+block];
    ``depth`` = (peakL - sim) + (peakR - sim) with peakL/peakR the
    max sim over the ``peak_window`` gaps on each side, clamped at
    sim so a local maximum scores 0; ``boundary`` = depth >=
    ``depth_threshold`` AND the gap is the VALLEY itself — a local
    minimum of sim (strictly below the previous gap, at most the
    next, so a flat-bottomed valley flags its leftmost gap exactly
    once) — without the valley condition the deep gap's depth bleeds
    into its flanking gaps through their peak terms and a single
    topic shift flags three gaps. Blocks truncate at conversation
    edges
    (Hearst's standard edge handling); the last turn has no
    following block and emits no gap row.

    Shapes, at 100 TB: every step rides ONE conv-keyed shuffle — the
    block token unions are bounded rows-between ``collect_list``
    frames over the pipeline's standard (conv, idx) window, the
    Jaccard is per-row ``array_intersect``/``array_union`` on
    distinct token sets, and the peak scan is a second bounded
    rows-between max over the sims. No joins, no UDF, state bounded
    by block/peak_window — never conversation length.

    Determinism: sim is one int/int division rounded to 6; depth is
    one fixed combination of rounded sims rounded again to 6 — the
    DuckDB window replay is hash-exact.
    """
    if block < 1 or peak_window < 1:
        raise ValueError("topic_segments: block and peak_window must be >= 1")
    toks = turns.select(
        conv_col,
        idx_col,
        F.array_distinct(tokenize_col(F.col(text_col))).alias("_tk"),
    )
    w = Window.partitionBy(conv_col).orderBy(idx_col)
    A = F.array_distinct(
        F.flatten(
            F.collect_list("_tk").over(w.rowsBetween(-(block - 1), 0))
        )
    )
    B = F.array_distinct(
        F.flatten(F.collect_list("_tk").over(w.rowsBetween(1, block)))
    )
    gaps = toks.select(
        conv_col,
        idx_col,
        A.alias("_A"),
        B.alias("_B"),
    ).filter(F.size("_B") >= 1)
    inter = F.size(F.array_intersect("_A", "_B")).cast("long")
    union = F.size(F.array_union("_A", "_B")).cast("long")
    sim = F.when(
        union > 0, F.round(inter.cast("double") / union.cast("double"), 6)
    ).otherwise(F.lit(0.0))
    scored = gaps.select(
        conv_col, idx_col, inter.alias("n_common"), union.alias("n_union"),
        sim.alias("sim"),
    )
    ws = Window.partitionBy(conv_col).orderBy(idx_col)
    peak_l = F.greatest(
        F.coalesce(
            F.max("sim").over(ws.rowsBetween(-peak_window, -1)), F.col("sim")
        ),
        F.col("sim"),
    )
    peak_r = F.greatest(
        F.coalesce(
            F.max("sim").over(ws.rowsBetween(1, peak_window)), F.col("sim")
        ),
        F.col("sim"),
    )
    depth = F.round(peak_l + peak_r - F.lit(2.0) * F.col("sim"), 6)
    prev_sim = F.lag("sim").over(ws)
    next_sim = F.lead("sim").over(ws)
    is_valley = (prev_sim.isNull() | (F.col("sim") < prev_sim)) & (
        next_sim.isNull() | (F.col("sim") <= next_sim)
    )
    return scored.select(
        conv_col,
        idx_col,
        "n_common",
        "n_union",
        "sim",
        depth.alias("depth"),
        ((depth >= F.lit(float(depth_threshold))) & is_valley).alias(
            "boundary"
        ),
    )


def topic_segments_sql(
    table: str,
    block: int = 2,
    peak_window: int = 3,
    depth_threshold: float = 0.2,
) -> str:
    """DuckDB oracle for :func:`topic_segments` — the same bounded
    rows-between windows (list() frames flattened + distinct, max
    over sims) and the same rounded divisions."""
    tk = r"list_distinct(list_filter(regexp_split_to_array(lower(text), '[\W_]+'), t -> t <> ''))"
    return f"""
WITH tkt AS (
  SELECT conv_id, turn_idx, {tk} AS tk FROM {table}
),
blocks AS (
  SELECT conv_id, turn_idx,
    list_distinct(flatten(list(tk) OVER (PARTITION BY conv_id ORDER BY turn_idx
      ROWS BETWEEN {int(block) - 1} PRECEDING AND CURRENT ROW))) AS A,
    list_distinct(flatten(coalesce(list(tk) OVER (PARTITION BY conv_id ORDER BY turn_idx
      ROWS BETWEEN 1 FOLLOWING AND {int(block)} FOLLOWING), []))) AS B
  FROM tkt
),
gaps AS (
  SELECT conv_id, turn_idx,
    CAST(len(list_intersect(A, B)) AS BIGINT) AS n_common,
    CAST(len(list_distinct(list_concat(A, B))) AS BIGINT) AS n_union
  FROM blocks WHERE len(B) >= 1
),
scored AS (
  SELECT conv_id, turn_idx, n_common, n_union,
    CASE WHEN n_union > 0
      THEN round(CAST(n_common AS DOUBLE) / CAST(n_union AS DOUBLE), 6)
      ELSE 0.0 END AS sim
  FROM gaps
),
peaks AS (
  SELECT conv_id, turn_idx, n_common, n_union, sim,
    greatest(coalesce(max(sim) OVER (PARTITION BY conv_id ORDER BY turn_idx
      ROWS BETWEEN {int(peak_window)} PRECEDING AND 1 PRECEDING), sim), sim) AS peak_l,
    greatest(coalesce(max(sim) OVER (PARTITION BY conv_id ORDER BY turn_idx
      ROWS BETWEEN 1 FOLLOWING AND {int(peak_window)} FOLLOWING), sim), sim) AS peak_r,
    lag(sim) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_sim,
    lead(sim) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS next_sim
  FROM scored
)
SELECT conv_id, turn_idx, n_common, n_union, sim,
  round(peak_l + peak_r - 2.0 * sim, 6) AS depth,
  (round(peak_l + peak_r - 2.0 * sim, 6) >= {float(depth_threshold)}
   AND (prev_sim IS NULL OR sim < prev_sim)
   AND (next_sim IS NULL OR sim <= next_sim)) AS boundary
FROM peaks
"""


def textrank_turns(
    turns: DataFrame,
    rounds: int = 10,
    damping: float = 0.85,
    top_m: int = 3,
    max_turns: int = 64,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    text_col: str = "text",
) -> DataFrame:
    """Extractive conversation summarization by TextRank (Mihalcea &
    Tarau, EMNLP 2004): rank each turn by its centrality in the
    conversation's turn-similarity graph — power iteration of
    ``s_i = (1-d) + d * Σ_j (S_ij / deg_j) * s_j`` — and select the
    ``top_m`` most central turns as the summary. The structural
    "which turns carry this conversation" signal, with the edge
    weights as token Jaccard (rounded int/int division) instead of
    the paper's log-length normalization so every similarity is
    engine-exact.

    Shapes, at 100 TB: conversations collapse to ONE bounded row each
    (ordered token-set arrays capped at ``max_turns`` turns — the
    sft_render/preference_pairs boundedness class) on the pipeline's
    standard conv shuffle; the O(n²) similarity matrix, degree
    vector, and the fixed ``rounds`` power iterations all run per
    row as pure-JVM higher-order folds (no joins, no UDF, cost a
    constant set by max_turns² · rounds); final ranking is one
    row_number window back on the conv key.

    Engine-exactness: fixed round count, fixed fold order (j
    ascending, seed 0.0), fixed parenthesization
    ``(S/deg) * s`` per term and ``(1-d) + d * Σ`` per node — IEEE
    doubles evaluate bit-identically in DuckDB's list_reduce replay;
    scores round to 6 only after the last iteration, ranking ties
    break by turn index.

    Inline-hazard discipline (the near_dup_flags lesson, here in HOF
    form): every expensive intermediate is consumed by exactly ONE
    iterating HOF that walks it directly (``transform(S, row ->
    ...)``, ``zip_with(idxs, scores, ...)``) — never by
    ``element_at(X, i)`` inside a lambda, which re-evaluates X's
    whole expression per element if CollapseProject inlines the
    alias (measured: 88 s -> 1.4 s at sf0.01). The normalized
    transition matrix additionally rides the power iteration's
    INITIAL ACCUMULATOR (``struct(M, s0)``), which the fold contract
    evaluates exactly once regardless of any optimizer decision.
    """
    if rounds < 1 or top_m < 1 or max_turns < 1:
        raise ValueError("textrank_turns: rounds/top_m/max_turns must be >= 1")
    w = Window.partitionBy(conv_col).orderBy(idx_col)
    toks = (
        turns.select(
            conv_col,
            idx_col,
            F.array_distinct(tokenize_col(F.col(text_col))).alias("_tk"),
        )
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_turns)
    )
    g = toks.groupBy(conv_col).agg(
        F.sort_array(F.collect_list(F.struct(idx_col, "_tk"))).alias("_c")
    )
    idxs = F.transform(F.col("_c"), lambda c: c[idx_col])
    tks = F.transform(F.col("_c"), lambda c: c["_tk"])
    n = F.size(F.col("_c"))
    staged = g.select(
        conv_col, idxs.alias("_idxs"), tks.alias("_tks"), n.alias("_n")
    )
    tksc, nc = F.col("_tks"), F.col("_n")

    def _jac(i: Column, j: Column) -> Column:
        # |A∪B| = |A| + |B| - |A∩B| on distinct sets: one hash-set op
        # per pair instead of two (the union build was ~25% of the
        # matrix cost)
        a, b = F.element_at(tksc, i), F.element_at(tksc, j)
        inter = F.size(F.array_intersect(a, b))
        union = F.size(a) + F.size(b) - inter
        return F.when(
            (i != j) & (union > 0),
            F.round(inter.cast("double") / union.cast("double"), 6),
        ).otherwise(F.lit(0.0))

    seq_n = F.sequence(F.lit(1), nc)
    # Jaccard is symmetric: build the strict upper triangle once
    # (jagged rows U[i] = [jac(i, i+1) .. jac(i, n)]) and mirror it —
    # halves the dominant set-intersection cost. U is let-bound via
    # the single-element-array walk so the mirror's element_at
    # lookups can never re-evaluate the triangle expression.
    upper = F.transform(
        seq_n,
        lambda i: F.transform(
            F.sequence(i + 1, nc + 1),
            lambda j: F.when(j <= nc, _jac(i, j)).otherwise(F.lit(0.0)),
        ),
    )
    S = F.element_at(
        F.transform(
            F.array(upper),
            lambda U: F.transform(
                seq_n,
                lambda i: F.transform(
                    seq_n,
                    lambda j: F.when(
                        j > i, F.element_at(F.element_at(U, i), j - i)
                    )
                    .when(
                        j < i, F.element_at(F.element_at(U, j), i - j)
                    )
                    .otherwise(F.lit(0.0)),
                ),
            ),
        ),
        1,
    )
    staged = staged.select(
        conv_col, F.col("_idxs"), F.col("_n"), S.alias("_S")
    )
    Sc = F.col("_S")
    d, base = F.lit(float(damping)), F.lit(1.0 - float(damping))
    # deg_j = Σ_i S[i][j]; M[i][j] = deg_j > 0 ? S[i][j] / deg_j : 0.0
    # (column sums == row sums here — S is symmetric — but fold rows
    # per j via zip_with so deg is consumed positionally, not by
    # element_at). Division happens once; (S/deg) * s per round then
    # multiplies the SAME double the per-term division would produce,
    # so the oracle's (S[i][j]/deg[j])*s[j] replays bit-identically.
    deg = F.transform(Sc, lambda row: F.aggregate(row, F.lit(0.0), lambda a, x: a + x))
    # let-bind deg by walking a single-element array: dg is a lambda
    # variable, so deg evaluates ONCE per row instead of once per
    # matrix row if the alias were inlined (n x n^2 adds saved;
    # measured 25.8 s -> see bench at sf0.1)
    M = F.element_at(
        F.transform(
            F.array(deg),
            lambda dg: F.transform(
                Sc,
                lambda row: F.zip_with(
                    row,
                    dg,
                    lambda x, d2: F.when(d2 > 0.0, x / d2).otherwise(
                        F.lit(0.0)
                    ),
                ),
            ),
        ),
        1,
    )
    s0 = F.array_repeat(F.lit(1.0), nc)
    # M rides the fold's INITIAL accumulator: evaluated exactly once.
    scores = F.aggregate(
        F.sequence(F.lit(1), F.lit(int(rounds))),
        F.struct(M.alias("m"), s0.alias("s")),
        lambda acc, _r: F.struct(
            acc["m"].alias("m"),
            F.transform(
                acc["m"],
                lambda mrow: base
                + d
                * F.aggregate(
                    F.zip_with(mrow, acc["s"], lambda m, sv: m * sv),
                    F.lit(0.0),
                    lambda a, x: a + x,
                ),
            ).alias("s"),
        ),
        lambda acc: acc["s"],
    )
    rows = F.zip_with(
        F.col("_idxs"),
        scores,
        lambda idx, sc: F.struct(
            idx.alias("_idx"), F.round(sc, 6).alias("_score")
        ),
    )
    exploded = staged.select(conv_col, F.explode(rows).alias("_o")).select(
        conv_col,
        F.col("_o._idx").alias(idx_col),
        F.col("_o._score").alias("score"),
    )
    wr = Window.partitionBy(conv_col).orderBy(F.desc("score"), F.asc(idx_col))
    return exploded.select(
        conv_col,
        idx_col,
        "score",
        F.row_number().over(wr).cast("long").alias("rank"),
    ).withColumn("selected", F.col("rank") <= top_m)


def textrank_turns_sql(
    table: str,
    rounds: int = 10,
    damping: float = 0.85,
    top_m: int = 3,
    max_turns: int = 64,
) -> str:
    """DuckDB oracle for :func:`textrank_turns` — identical fold
    orders and parenthesization via list_reduce (seed-prepended
    accumulators, dummy round elements)."""
    d, base = float(damping), 1.0 - float(damping)
    tk = r"list_distinct(list_filter(regexp_split_to_array(lower(text), '[\W_]+'), t -> t <> ''))"
    jac = (
        "CASE WHEN i <> j "
        "AND len(tks[i]) + len(tks[j]) - len(list_intersect(tks[i], tks[j])) > 0 "
        "THEN round(CAST(len(list_intersect(tks[i], tks[j])) AS DOUBLE) "
        "/ CAST(len(tks[i]) + len(tks[j]) - len(list_intersect(tks[i], tks[j])) AS DOUBLE), 6) "
        "ELSE 0.0 END"
    )
    inner = (
        "list_reduce(list_prepend(0.0, list_transform(range(1, n + 1), "
        f"j -> CASE WHEN deg[j] > 0.0 THEN (S[i][j] / deg[j]) * s[j] ELSE 0.0 END)), "
        "(a, b) -> a + b)"
    )
    return f"""
WITH tkt AS (
  SELECT conv_id, turn_idx, {tk} AS tk,
    row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS rn
  FROM {table}
),
g AS (
  SELECT conv_id,
    list(turn_idx ORDER BY turn_idx) AS idxs,
    list(tk ORDER BY turn_idx) AS tks,
    count(*) AS n
  FROM tkt WHERE rn <= {int(max_turns)} GROUP BY conv_id
),
mat AS (
  SELECT conv_id, idxs, n,
    list_transform(range(1, n + 1), i ->
      list_transform(range(1, n + 1), j -> {jac})) AS S
  FROM g
),
degs AS (
  SELECT conv_id, idxs, n, S,
    list_transform(range(1, n + 1), i ->
      list_reduce(list_prepend(0.0, S[i]), (a, b) -> a + b)) AS deg
  FROM mat
),
iterated AS (
  SELECT conv_id, idxs, n,
    list_reduce(
      list_prepend(list_transform(range(1, n + 1), i -> 1.0),
        list_transform(range(1, {int(rounds)} + 1), r -> CAST([] AS DOUBLE[]))),
      (s, el) -> list_transform(range(1, n + 1), i ->
        {base} + {d} * {inner})) AS scores
  FROM degs
),
exploded AS (
  SELECT conv_id, unnest(list_transform(range(1, n + 1), i -> struct_pack(
    turn_idx := idxs[i], score := round(scores[i], 6)))) AS o
  FROM iterated
),
ranked AS (
  SELECT conv_id, o.turn_idx AS turn_idx, o.score AS score,
    CAST(row_number() OVER (PARTITION BY conv_id
      ORDER BY o.score DESC, o.turn_idx) AS BIGINT) AS rank
  FROM exploded
)
SELECT conv_id, turn_idx, score, rank, rank <= {int(top_m)} AS selected
FROM ranked
"""


def burst_spans(
    turns: DataFrame,
    s: float = 2.0,
    gamma: float = 1.0,
    max_turns: int = 64,
    min_gaps: int = 2,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    ts_col: str = "ts",
) -> DataFrame:
    """Kleinberg burst detection (KDD 2002) over each conversation's
    inter-turn gaps: the optimal 2-state automaton labeling — state 0
    emits gaps at the conversation's base rate λ0 = n_gaps / span,
    state 1 at λ1 = s·λ0, entering a burst costs γ·ln(n_gaps), leaving
    is free — solved exactly by Viterbi. The TEMPORAL-STRUCTURE signal
    the distributional monitors miss: ``rate_anomaly`` (mean z) and
    ``mad_outliers`` (robust z) flag individually extreme values;
    this finds sustained rapid-fire RUNS whose gaps are each
    individually unremarkable (the flooding/takeover shape).

    Shapes, at 100 TB: conversations collapse to ONE bounded row each
    (epoch arrays capped at ``max_turns`` — the textrank boundedness
    class) on the pipeline's standard conv shuffle; gaps are one
    zip_with over two slices (no element_at-in-lambda re-evaluation),
    and the whole Viterbi DP runs per row as a single pure-JVM
    ``aggregate`` fold carrying ``struct(cost0, cost1, path0, path1)``
    — no joins, no UDF, cost a constant set by max_turns.

    Engine-exactness: every output column is an INTEGER (gap seconds,
    gap index, 0/1 state) — doubles exist only inside the DP. The fold
    order is fixed (gap order), every emit cost keeps one fixed
    parenthesization ``(λ·x) − ln λ``, cost comparisons tie-break
    toward KEEPING the current state (``<=``), and the not-yet-
    enterable burst start is a finite 1e18 sentinel (not ±inf) so both
    engines' arithmetic stays ordinary IEEE. DuckDB replays the exact
    fold via list_reduce with the same-type-accumulator element trick
    (the rouge_l discipline).

    Returns per-gap rows ``(conv_id, gap_idx 1-based, gap_s,
    in_burst)`` for conversations with at least one burst gap.
    """
    if s <= 1.0:
        raise ValueError("burst_spans: s must be > 1 (burst rate above base)")
    if max_turns < 3 or min_gaps < 2:
        raise ValueError("burst_spans: max_turns >= 3 and min_gaps >= 2 required")
    w = Window.partitionBy(conv_col).orderBy(idx_col)
    sec = F.floor(F.col(ts_col).cast("timestamp").cast("double")).cast("long")
    capped = (
        turns.select(conv_col, F.col(idx_col), sec.alias("_sec"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= int(max_turns))
    )
    g = capped.groupBy(conv_col).agg(
        F.sort_array(F.collect_list(F.struct(idx_col, "_sec"))).alias("_c")
    )
    eps = F.transform(F.col("_c"), lambda c: c["_sec"])
    staged = g.select(conv_col, eps.alias("_ep"), F.size(F.col("_c")).alias("_n"))
    nm = F.col("_n") - 1
    gaps = F.zip_with(
        F.slice(F.col("_ep"), 2, nm),
        F.slice(F.col("_ep"), 1, nm),
        lambda a, b: a - b,
    )
    staged = staged.select(conv_col, gaps.alias("_g")).select(
        conv_col,
        "_g",
        F.size(F.col("_g")).alias("_m"),
        F.aggregate(
            F.col("_g"), F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("_T"),
    )
    staged = staged.filter(
        (F.col("_m") >= int(min_gaps)) & (F.col("_T") >= 1)
    )
    lam0 = F.col("_m").cast("double") / F.col("_T").cast("double")
    staged = staged.select(
        conv_col,
        "_g",
        lam0.alias("_lam0"),
        (F.lit(float(s)) * lam0).alias("_lam1"),
    ).select(
        conv_col,
        "_g",
        "_lam0",
        "_lam1",
        F.log(F.col("_lam0")).alias("_l0"),
        F.log(F.col("_lam1")).alias("_l1"),
        (F.lit(float(gamma)) * F.log(F.size(F.col("_g")).cast("double"))).alias(
            "_tr"
        ),
    )

    init = F.struct(
        F.lit(0.0).alias("c0"),
        F.lit(1.0e18).alias("c1"),
        F.array().cast("array<int>").alias("p0"),
        F.array().cast("array<int>").alias("p1"),
    )

    def _step(acc: Column, x: Column) -> Column:
        xd = x.cast("double")
        e0 = F.col("_lam0") * xd - F.col("_l0")
        e1 = F.col("_lam1") * xd - F.col("_l1")
        up = acc["c0"] + F.col("_tr")
        return F.struct(
            (F.least(acc["c0"], acc["c1"]) + e0).alias("c0"),
            (F.least(acc["c1"], up) + e1).alias("c1"),
            F.concat(
                F.when(acc["c0"] <= acc["c1"], acc["p0"]).otherwise(acc["p1"]),
                F.array(F.lit(0)),
            ).alias("p0"),
            F.concat(
                F.when(acc["c1"] <= up, acc["p1"]).otherwise(acc["p0"]),
                F.array(F.lit(1)),
            ).alias("p1"),
        )

    states = F.aggregate(
        F.col("_g"),
        init,
        _step,
        lambda a: F.when(a["c0"] <= a["c1"], a["p0"]).otherwise(a["p1"]),
    )

    # The DP fold must be evaluated ONCE: referenced by both a conv-level
    # filter and the per-gap explode, CollapseProject would inline (and
    # re-run) the whole Viterbi per consumer (measured 27 s at sf0.1).
    # Instead the fold result rides a single-element-array walk that also
    # precomputes the conv-level has-burst flag into every element, so ONE
    # generator consumes one expression and the filter runs post-explode.
    def _rows_of(st: Column) -> Column:
        return F.zip_with(
            F.col("_g"),
            st,
            lambda gp, s: F.struct(
                gp.alias("g"), s.alias("st"), F.array_max(st).alias("has")
            ),
        )

    rows = F.element_at(F.transform(F.array(states), _rows_of), 1)
    return (
        staged.select(conv_col, F.posexplode(rows))
        .filter(F.col("col.has") == 1)
        .select(
            conv_col,
            (F.col("pos") + 1).cast("long").alias("gap_idx"),
            F.col("col.g").cast("long").alias("gap_s"),
            F.col("col.st").cast("int").alias("in_burst"),
        )
    )


def burst_spans_sql(
    table: str,
    s: float = 2.0,
    gamma: float = 1.0,
    max_turns: int = 64,
    min_gaps: int = 2,
) -> str:
    """DuckDB replay of :func:`burst_spans`: the identical Viterbi
    fold via ``list_reduce`` under its same-type-accumulator
    constraint (gaps pre-mapped into the accumulator struct type, the
    rouge_l trick), same fixed parenthesization per emit cost, same
    <=-keeps-current-state tie-breaks, same 1e18 sentinel. The
    accumulator is ONE FLAT DOUBLE[] — ``[c0, c1] || path0 || path1``
    (both paths have length t after t steps, so no separator) —
    because DuckDB 1.0's list_reduce silently RESETS list-typed STRUCT
    fields between iterations (minimal repro: reduce over structs
    carrying a list — scalars accumulate, the list restarts empty each
    step); bare-list accumulators, slices and concat all carry
    correctly."""
    return f"""
capped AS (
  SELECT conv_id, turn_idx, sec FROM (
    SELECT conv_id, turn_idx, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
      row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS rn
    FROM {table}
  ) WHERE rn <= {int(max_turns)}
),
eps AS (
  SELECT conv_id, list(sec ORDER BY turn_idx) AS ep
  FROM capped GROUP BY conv_id
),
gapped AS (
  SELECT conv_id,
    list_transform(range(2, len(ep) + 1), i -> ep[i] - ep[i - 1]) AS g
  FROM eps WHERE len(ep) >= {int(min_gaps) + 1}
),
parm AS (
  SELECT conv_id, g, len(g) AS m, list_sum(g) AS T
  FROM gapped
  WHERE len(g) >= {int(min_gaps)} AND list_sum(g) >= 1
),
lams AS (
  SELECT conv_id, g,
    CAST(m AS DOUBLE) / CAST(T AS DOUBLE) AS lam0,
    CAST({float(s)!r} AS DOUBLE) * (CAST(m AS DOUBLE) / CAST(T AS DOUBLE)) AS lam1,
    CAST({float(gamma)!r} AS DOUBLE) * ln(CAST(m AS DOUBLE)) AS tr
  FROM parm
),
folded AS (
  SELECT conv_id, g,
    list_reduce(
      list_prepend(CAST([0.0, 1e18] AS DOUBLE[]),
                   list_transform(g, x -> CAST([x] AS DOUBLE[]))),
      (A, X) -> [
          least(A[1], A[2]) + (lam0 * X[1] - ln(lam0)),
          least(A[2], A[1] + tr) + (lam1 * X[1] - ln(lam1))
        ]
        || list_append(CASE WHEN A[1] <= A[2]
                            THEN A[3 : (len(A) + 2) // 2]
                            ELSE A[(len(A) + 4) // 2 : len(A)] END, 0.0)
        || list_append(CASE WHEN A[2] <= A[1] + tr
                            THEN A[(len(A) + 4) // 2 : len(A)]
                            ELSE A[3 : (len(A) + 2) // 2] END, 1.0)
    ) AS red
  FROM lams
),
labeled AS (
  SELECT conv_id, g,
    CASE WHEN red[1] <= red[2]
         THEN red[3 : (len(red) + 2) // 2]
         ELSE red[(len(red) + 4) // 2 : len(red)] END AS st
  FROM folded
)
SELECT conv_id,
  CAST(t.i AS BIGINT) AS gap_idx,
  CAST(g[t.i] AS BIGINT) AS gap_s,
  CAST(st[t.i] AS INT) AS in_burst
FROM labeled, unnest(range(1, len(g) + 1)) AS t(i)
WHERE list_max(st) = 1
"""


def changepoints(
    turns: DataFrame,
    penalty: float = 8.0,
    max_cps: int = 3,
    max_turns: int = 64,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    text_col: str = "text",
) -> DataFrame:
    """Mean-shift changepoint detection by binary segmentation (Scott
    & Knott 1974 lineage; the greedy standard the PELT literature
    benchmarks against) over each conversation's per-turn token-count
    series: where does the REGIME change — the agent starts dumping
    walls of text, the user goes monosyllabic. The level-shift signal
    ``burst_spans`` (rate runs) and ``rate_anomaly`` (point outliers)
    both miss: every post-shift turn is individually unremarkable, and
    the cadence never changes.

    Greedy recursion, iteratively: start with one segment [1, n];
    each of ``max_cps`` rounds evaluates EVERY admissible split of
    EVERY current segment by SSE gain — segment cost is
    ``Σx² − (Σx)²/len`` read off integer prefix-sum arrays, so each
    candidate is O(1) — and applies the single best split iff its
    gain exceeds ``penalty ·`` (global per-point variance), ties to
    the smallest position.

    Shapes, at 100 TB: conversations collapse to ONE bounded row (the
    burst_spans/textrank class) on the standard conv shuffle; prefix
    sums build as one bare-list fold, the whole recursion is a single
    pure-JVM ``aggregate`` over ``sequence(1, max_cps)`` carrying only
    the sorted cut array — no joins, no UDF.

    Engine-exactness: inputs are INTEGER token counts, prefix sums are
    exact longs, every output column is an integer — doubles exist
    only inside gain comparisons, built from exact longs by one fixed
    parenthesization; the per-round argmax is ``min(struct(−gain,
    k))``, a total order. Descending-sequence hazard: Spark's
    ``sequence(a, b)`` REVERSES when a > b (DuckDB's ``range`` is
    empty) — every candidate enumeration is guarded with an explicit
    when().

    Returns ``(conv_id, cp_pos, turn_idx)`` — cp_pos = 1-based
    position in the capped sequence AFTER which the shift occurs,
    turn_idx = the first turn of the new regime — for conversations
    with at least one accepted changepoint.
    """
    if max_cps < 1 or max_turns < 4:
        raise ValueError("changepoints: max_cps >= 1 and max_turns >= 4 required")
    w = Window.partitionBy(conv_col).orderBy(idx_col)
    ntok = F.size(F.split(F.col(text_col), " ")).cast("long")
    capped = (
        turns.select(conv_col, F.col(idx_col), ntok.alias("_v"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= int(max_turns))
    )
    g = capped.groupBy(conv_col).agg(
        F.sort_array(F.collect_list(F.struct(idx_col, "_v"))).alias("_c")
    )
    staged = g.select(
        conv_col,
        F.transform(F.col("_c"), lambda c: c[idx_col]).alias("_idxs"),
        F.transform(F.col("_c"), lambda c: c["_v"]).alias("_xs"),
        F.size(F.col("_c")).alias("_n"),
    ).filter(F.col("_n") >= 2)

    def _prefix(arr: Column, sq: bool) -> Column:
        return F.aggregate(
            arr,
            F.array(F.lit(0).cast("long")),
            lambda acc, x: F.concat(
                acc, F.array(F.element_at(acc, -1) + (x * x if sq else x))
            ),
        )

    # P/Q are O(n) fold expressions consumed by O(n · rounds) element_at
    # lookups — unprotected, CollapseProject inlines the fold into EVERY
    # lookup (measured: ~180 s at sf0.01). The textrank discipline: walk a
    # single-element array so the prefix arrays bind to a lambda variable,
    # which the optimizer cannot re-inline — they evaluate exactly once.
    pq_arr = F.array(
        F.struct(
            _prefix(F.col("_xs"), False).alias("P"),
            _prefix(F.col("_xs"), True).alias("Q"),
        )
    )
    n = F.col("_n")

    def _cuts_of(pq: Column) -> Column:
        P, Q = pq["P"], pq["Q"]

        def _cost(l: Column, r: Column) -> Column:
            s = (
                F.element_at(P, (r + 1).cast("int"))
                - F.element_at(P, l.cast("int"))
            ).cast("double")
            q = (
                F.element_at(Q, (r + 1).cast("int"))
                - F.element_at(Q, l.cast("int"))
            ).cast("double")
            return q - (s * s) / (r - l + 1).cast("double")

        thr = F.lit(float(penalty)) * (_cost(F.lit(1), n) / n.cast("double"))

        def _round(acc: Column, _elem: Column) -> Column:
            bounds = F.concat(
                F.array(F.lit(0).cast("long")), acc, F.array(n.cast("long"))
            )
            nb = F.size(bounds)

            def _seg_cands(i: Column) -> Column:
                l = F.element_at(bounds, i.cast("int")) + 1
                r = F.element_at(bounds, (i + 1).cast("int"))
                ks = F.when(l <= r - 1, F.sequence(l, r - 1)).otherwise(
                    F.array().cast("array<long>")
                )
                # _cost(l, r) is k-invariant: bind it (and l, r) once
                # per SEGMENT via the single-element-array walk, so
                # each candidate evaluates 2 cost reads instead of 3
                # and the unrolled expression tree shrinks ~1/3
                # (planning time is a real fraction of this query)
                return F.flatten(
                    F.transform(
                        F.array(
                            F.struct(
                                _cost(l, r).alias("c"),
                                l.alias("l"),
                                r.alias("r"),
                            )
                        ),
                        lambda seg: F.transform(
                            ks,
                            lambda k: F.struct(
                                (
                                    -(
                                        seg["c"]
                                        - _cost(seg["l"], k)
                                        - _cost(k + 1, seg["r"])
                                    )
                                ).alias("g"),
                                k.alias("k"),
                            ),
                        ),
                    )
                )

            cands = F.flatten(
                F.transform(F.sequence(F.lit(1), nb - 1), _seg_cands)
            )
            # array_min(cands) is referenced three times (null test, gain
            # test, winning k) — let-bind it or the whole candidate scan
            # re-runs per reference (the same re-inline class as P/Q)
            return F.element_at(
                F.transform(
                    F.array(F.array_min(cands)),
                    lambda best: F.when(
                        best.isNotNull() & ((-best["g"]) > thr),
                        F.sort_array(F.concat(acc, F.array(best["k"]))),
                    ).otherwise(acc),
                ),
                1,
            )

        return F.aggregate(
            F.sequence(F.lit(1), F.lit(int(max_cps))),
            F.array().cast("array<long>"),
            _round,
        )

    # the recursion result feeds ONE generator (an empty cut array explodes
    # to zero rows, so no pre-filter re-references the fold — the burst_spans
    # single-consumer lesson); (cp, turn_idx) pairs build inside the same
    # let-bound walk
    def _rows_of(cuts: Column) -> Column:
        return F.transform(
            cuts,
            lambda cp: F.struct(
                cp.alias("cp"),
                F.element_at(F.col("_idxs"), (cp + 1).cast("int")).alias("ti"),
            ),
        )

    rows = F.flatten(F.transform(F.transform(pq_arr, _cuts_of), _rows_of))
    return staged.select(conv_col, F.explode(rows).alias("_r")).select(
        conv_col,
        F.col("_r.cp").cast("long").alias("cp_pos"),
        F.col("_r.ti").cast("int").alias("turn_idx"),
    )


_CHANGEPOINTS_SQL_TEMPLATE = """
capped AS (
  SELECT conv_id, turn_idx, v FROM (
    SELECT conv_id, turn_idx,
      CAST(len(string_split(text, ' ')) AS BIGINT) AS v,
      row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS rn
    FROM TABLE_NAME
  ) WHERE rn <= MAX_TURNS
),
series AS (
  SELECT conv_id,
    list(turn_idx ORDER BY turn_idx) AS idxs,
    list(v ORDER BY turn_idx) AS xs
  FROM capped GROUP BY conv_id HAVING count(*) >= 2
),
prefixed AS (
  SELECT conv_id, idxs, len(xs) AS n,
    list_reduce(list_prepend(CAST([0] AS BIGINT[]),
      list_transform(xs, x -> CAST([x] AS BIGINT[]))),
      (A, X) -> A || [A[-1] + X[1]]) AS P,
    list_reduce(list_prepend(CAST([0] AS BIGINT[]),
      list_transform(xs, x -> CAST([x] AS BIGINT[]))),
      (A, X) -> A || [A[-1] + X[1] * X[1]]) AS Q
  FROM series
),
thresholded AS (
  SELECT conv_id, idxs, n, P, Q,
    PENALTY * (((CAST(Q[CAST(n + 1 AS INT)] - Q[CAST(1 AS INT)] AS DOUBLE)) - (CAST(P[CAST(n + 1 AS INT)] - P[CAST(1 AS INT)] AS DOUBLE) * CAST(P[CAST(n + 1 AS INT)] - P[CAST(1 AS INT)] AS DOUBLE)) / CAST(n - 1 + 1 AS DOUBLE)) / CAST(n AS DOUBLE)) AS thr
  FROM prefixed
),
cut AS (
  SELECT conv_id, idxs,
    list_reduce(
      list_prepend(CAST([] AS BIGINT[]),
        list_transform(range(1, MAX_CPS + 1), z -> CAST([z] AS BIGINT[]))),
      (A, X) -> (
        CASE WHEN len(flatten(list_transform(range(1, len((CAST([0] AS BIGINT[]) || A || [CAST(n AS BIGINT)]))), i -> list_transform(range(((CAST([0] AS BIGINT[]) || A || [CAST(n AS BIGINT)])[CAST(i AS INT)] + 1), (CAST([0] AS BIGINT[]) || A || [CAST(n AS BIGINT)])[CAST(i + 1 AS INT)]), k -> {'g': -(((CAST(Q[CAST((CAST([0] AS BIGINT[]) || A || [CAST(n AS BIGINT)])[CAST(i + 1 AS INT)] + 1 AS INT)] - Q[CAST(((CAST([0] AS BIGINT[]) || A || [CAST(n AS BIGINT)])[CAST(i AS INT)] + 1) AS INT)] AS DOUBLE)) - (CAST(P[CAST((CAST([0] AS BIGINT[]) || A || [CAST(n AS BIGINT)])[CAST(i + 1 AS INT)] + 1 AS INT)] - P[CAST(((CAST([0] AS BIGINT[]) || A || [CAST(n AS BIGINT)])[CAST(i AS INT)] + 1) AS INT)] AS DOUBLE) * CAST(P[CAST((CAST([0] AS BIGINT[]) || A || [CAST(n AS BIGINT)])[CAST(i + 1 AS INT)] + 1 AS INT)] - P[CAST(((CAST([0] AS BIGINT[]) || A || [CAST(n AS BIGINT)])[CAST(i AS INT)] + 1) AS INT)] AS DOUBLE)) / CAST((CAST([0] AS BIGINT[]) || A || [CAST(n AS BIGINT)])[CAST(i + 1 AS INT)] - ((CAST([0] AS BIGINT[]) || A || [CAST(n AS BIGINT)])[CAST(i AS INT)] + 1) + 1 AS DOUBLE)) - ((CAST(Q[CAST(k + 1 AS INT)] - Q[CAST(((CAST([0] AS BIGINT[]) || A || [CAST(n AS BIGINT)])[CAST(i AS INT)] + 1) AS INT)] AS DOUBLE)) - (CAST(P[CAST(k + 1 AS INT)] - P[CAST(((CAST([0] AS BIGINT[]) || A || [CAST(n AS BIGINT)])[CAST(i AS INT)] + 1) AS INT)] AS DOUBLE) * CAST(P[CAST(k + 1 AS INT)] - P[CAST(((CAST([0] AS BIGINT[]) || A || [CAST(n AS BIGINT)])[CAST(i AS INT)] + 1) AS INT)] AS DOUBLE)) / CAST(k - ((CAST([0] AS BIGINT[]) || A || [CAST(n AS BIGINT)])[CAST(i AS INT)] + 1) + 1 AS DOUBLE)) - ((CAST(Q[CAST((CAST([0] AS BIGINT[]) || A || [CAST(n AS BIGINT)])[CAST(i + 1 AS INT)] + 1 AS INT)] - Q[CAST((k + 1) AS INT)] AS DOUBLE)) - (CAST(P[CAST((CAST([0] AS BIGINT[]) || A || [CAST(n AS BIGINT)])[CAST(i + 1 AS INT)] + 1 AS INT)] - P[CAST((k + 1) AS INT)] AS DOUBLE) * CAST(P[CAST((CAST([0] AS BIGINT[]) || A || [CAST(n AS BIGINT)])[CAST(i + 1 AS INT)] + 1 AS INT)] - P[CAST((k + 1) AS INT)] AS DOUBLE)) / CAST((CAST([0] AS BIGINT[]) || A || [CAST(n AS BIGINT)])[CAST(i + 1 AS INT)] - (k + 1) + 1 AS DOUBLE))), 'k': k})))) >= 1
              AND (-(list_sort(flatten(list_transform(range(1, len((CAST([0] AS BIGINT[]) || A || [CAST(n AS BIGINT)]))), i -> list_transform(range(((CAST([0] AS BIGINT[]) || A || [CAST(n AS BIGINT)])[CAST(i AS INT)] + 1), (CAST([0] AS BIGINT[]) || A || [CAST(n AS BIGINT)])[CAST(i + 1 AS INT)]), k -> {'g': -(((CAST(Q[CAST((CAST([0] AS BIGINT[]) || A || [CAST(n AS BIGINT)])[CAST(i + 1 AS INT)] + 1 AS INT)] - Q[CAST(((CAST([0] AS BIGINT[]) || A || [CAST(n AS BIGINT)])[CAST(i AS INT)] + 1) AS INT)] AS DOUBLE)) - (CAST(P[CAST((CAST([0] AS BIGINT[]) || A || [CAST(n AS BIGINT)])[CAST(i + 1 AS INT)] + 1 AS INT)] - P[CAST(((CAST([0] AS BIGINT[]) || A || [CAST(n AS BIGINT)])[CAST(i AS INT)] + 1) AS INT)] AS DOUBLE) * CAST(P[CAST((CAST([0] AS BIGINT[]) || A || [CAST(n AS BIGINT)])[CAST(i + 1 AS INT)] + 1 AS INT)] - P[CAST(((CAST([0] AS BIGINT[]) || A || [CAST(n AS BIGINT)])[CAST(i AS INT)] + 1) AS INT)] AS DOUBLE)) / CAST((CAST([0] AS BIGINT[]) || A || [CAST(n AS BIGINT)])[CAST(i + 1 AS INT)] - ((CAST([0] AS BIGINT[]) || A || [CAST(n AS BIGINT)])[CAST(i AS INT)] + 1) + 1 AS DOUBLE)) - ((CAST(Q[CAST(k + 1 AS INT)] - Q[CAST(((CAST([0] AS BIGINT[]) || A || [CAST(n AS BIGINT)])[CAST(i AS INT)] + 1) AS INT)] AS DOUBLE)) - (CAST(P[CAST(k + 1 AS INT)] - P[CAST(((CAST([0] AS BIGINT[]) || A || [CAST(n AS BIGINT)])[CAST(i AS INT)] + 1) AS INT)] AS DOUBLE) * CAST(P[CAST(k + 1 AS INT)] - P[CAST(((CAST([0] AS BIGINT[]) || A || [CAST(n AS BIGINT)])[CAST(i AS INT)] + 1) AS INT)] AS DOUBLE)) / CAST(k - ((CAST([0] AS BIGINT[]) || A || [CAST(n AS BIGINT)])[CAST(i AS INT)] + 1) + 1 AS DOUBLE)) - ((CAST(Q[CAST((CAST([0] AS BIGINT[]) || A || [CAST(n AS BIGINT)])[CAST(i + 1 AS INT)] + 1 AS INT)] - Q[CAST((k + 1) AS INT)] AS DOUBLE)) - (CAST(P[CAST((CAST([0] AS BIGINT[]) || A || [CAST(n AS BIGINT)])[CAST(i + 1 AS INT)] + 1 AS INT)] - P[CAST((k + 1) AS INT)] AS DOUBLE) * CAST(P[CAST((CAST([0] AS BIGINT[]) || A || [CAST(n AS BIGINT)])[CAST(i + 1 AS INT)] + 1 AS INT)] - P[CAST((k + 1) AS INT)] AS DOUBLE)) / CAST((CAST([0] AS BIGINT[]) || A || [CAST(n AS BIGINT)])[CAST(i + 1 AS INT)] - (k + 1) + 1 AS DOUBLE))), 'k': k}))))[1].g)) > thr
             THEN list_sort(list_append(A, list_sort(flatten(list_transform(range(1, len((CAST([0] AS BIGINT[]) || A || [CAST(n AS BIGINT)]))), i -> list_transform(range(((CAST([0] AS BIGINT[]) || A || [CAST(n AS BIGINT)])[CAST(i AS INT)] + 1), (CAST([0] AS BIGINT[]) || A || [CAST(n AS BIGINT)])[CAST(i + 1 AS INT)]), k -> {'g': -(((CAST(Q[CAST((CAST([0] AS BIGINT[]) || A || [CAST(n AS BIGINT)])[CAST(i + 1 AS INT)] + 1 AS INT)] - Q[CAST(((CAST([0] AS BIGINT[]) || A || [CAST(n AS BIGINT)])[CAST(i AS INT)] + 1) AS INT)] AS DOUBLE)) - (CAST(P[CAST((CAST([0] AS BIGINT[]) || A || [CAST(n AS BIGINT)])[CAST(i + 1 AS INT)] + 1 AS INT)] - P[CAST(((CAST([0] AS BIGINT[]) || A || [CAST(n AS BIGINT)])[CAST(i AS INT)] + 1) AS INT)] AS DOUBLE) * CAST(P[CAST((CAST([0] AS BIGINT[]) || A || [CAST(n AS BIGINT)])[CAST(i + 1 AS INT)] + 1 AS INT)] - P[CAST(((CAST([0] AS BIGINT[]) || A || [CAST(n AS BIGINT)])[CAST(i AS INT)] + 1) AS INT)] AS DOUBLE)) / CAST((CAST([0] AS BIGINT[]) || A || [CAST(n AS BIGINT)])[CAST(i + 1 AS INT)] - ((CAST([0] AS BIGINT[]) || A || [CAST(n AS BIGINT)])[CAST(i AS INT)] + 1) + 1 AS DOUBLE)) - ((CAST(Q[CAST(k + 1 AS INT)] - Q[CAST(((CAST([0] AS BIGINT[]) || A || [CAST(n AS BIGINT)])[CAST(i AS INT)] + 1) AS INT)] AS DOUBLE)) - (CAST(P[CAST(k + 1 AS INT)] - P[CAST(((CAST([0] AS BIGINT[]) || A || [CAST(n AS BIGINT)])[CAST(i AS INT)] + 1) AS INT)] AS DOUBLE) * CAST(P[CAST(k + 1 AS INT)] - P[CAST(((CAST([0] AS BIGINT[]) || A || [CAST(n AS BIGINT)])[CAST(i AS INT)] + 1) AS INT)] AS DOUBLE)) / CAST(k - ((CAST([0] AS BIGINT[]) || A || [CAST(n AS BIGINT)])[CAST(i AS INT)] + 1) + 1 AS DOUBLE)) - ((CAST(Q[CAST((CAST([0] AS BIGINT[]) || A || [CAST(n AS BIGINT)])[CAST(i + 1 AS INT)] + 1 AS INT)] - Q[CAST((k + 1) AS INT)] AS DOUBLE)) - (CAST(P[CAST((CAST([0] AS BIGINT[]) || A || [CAST(n AS BIGINT)])[CAST(i + 1 AS INT)] + 1 AS INT)] - P[CAST((k + 1) AS INT)] AS DOUBLE) * CAST(P[CAST((CAST([0] AS BIGINT[]) || A || [CAST(n AS BIGINT)])[CAST(i + 1 AS INT)] + 1 AS INT)] - P[CAST((k + 1) AS INT)] AS DOUBLE)) / CAST((CAST([0] AS BIGINT[]) || A || [CAST(n AS BIGINT)])[CAST(i + 1 AS INT)] - (k + 1) + 1 AS DOUBLE))), 'k': k}))))[1].k))
             ELSE A END
      )
    ) AS cuts
  FROM thresholded
),
exploded AS (
  SELECT conv_id, t.cp AS cp_pos, idxs[CAST(t.cp + 1 AS INT)] AS turn_idx
  FROM cut, unnest(cuts) AS t(cp)
  WHERE len(cuts) >= 1
)
SELECT conv_id, CAST(cp_pos AS BIGINT) AS cp_pos, CAST(turn_idx AS INT) AS turn_idx
FROM exploded
"""


def changepoints_sql(
    table: str,
    penalty: float = 8.0,
    max_cps: int = 3,
    max_turns: int = 64,
) -> str:
    """DuckDB replay of :func:`changepoints`: prefix sums as bare-list
    folds, the greedy recursion as one list_reduce over
    range(1, max_cps + 1) carrying the flat BIGINT[] cut array (bare
    lists carry correctly across iterations — the burst_spans
    DuckDB-1.0 lesson; the bounds/candidate expressions are fully
    inlined since SQL lambdas cannot let-bind), identical cost
    parenthesization, and the min(struct(−gain, k)) argmax realized as
    list_sort(...)[1]."""
    return (
        _CHANGEPOINTS_SQL_TEMPLATE.replace("TABLE_NAME", table)
        .replace("MAX_TURNS", str(int(max_turns)))
        .replace("MAX_CPS", str(int(max_cps)))
        .replace("PENALTY", repr(float(penalty)))
    )


def transition_entropy(
    turns: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    state_col: str = "role",
    quant: int = 10**9,
) -> DataFrame:
    """Per-conversation transition-entropy predictability score: the
    Shannon entropy of the conversation's (state → state) transition
    distribution — the scripted-bot signal: a human dialogue wanders
    (high entropy), a replay/automation loop cycles through the same
    role/tool transitions deterministically (entropy near 0), and
    neither a rate gate nor a repetition n-gram catches a bot that
    paces itself but never varies its loop.

    ``H = ln(n) − (Σ_pair c·ln c)/n`` over the conversation's
    transition-pair counts (the algebraic identity avoids per-pair
    probabilities entirely); ``evenness = H / ln(k)`` normalizes by
    the observed pair vocabulary (1 = uniform over its own
    transitions, 0 = fully deterministic; NULL when k = 1, where H is
    exactly 0).

    Shape: one conv-partitioned lag window + TWO conv-keyed hash
    aggregates on the same shuffle key — no self-joins, state bounded
    by the (state × state) vocabulary. Exactness: ``c·ln c``
    quantizes to BIGINT before the per-conversation sum
    (order-independent longs; ln on identical integer-derived doubles
    is engine-deterministic — the collocations precedent), and H /
    evenness are fixed-shape combinations. Output:
    ``(conv_id, n_transitions, n_pairs, entropy, evenness)``.
    """
    w = Window.partitionBy("_cv").orderBy("_o")
    pairs = (
        turns.select(
            F.col(conv_col).alias("_cv"),
            F.col(order_col).alias("_o"),
            F.col(state_col).alias("_s"),
        )
        .select(
            "_cv", F.lag("_s").over(w).alias("_p"), F.col("_s")
        )
        .filter(F.col("_p").isNotNull())
    )
    cnts = pairs.groupBy("_cv", "_p", "_s").agg(
        F.count(F.lit(1)).cast("long").alias("_c")
    )
    qf = float(quant)
    qcl = F.round(
        (F.col("_c").cast("double") * F.log(F.col("_c").cast("double")))
        * F.lit(qf),
        0,
    ).cast("long")
    agg = cnts.groupBy("_cv").agg(
        F.sum("_c").cast("long").alias("n_transitions"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(qcl).cast("long").alias("_sq"),
    )
    nd = F.col("n_transitions").cast("double")
    h = F.log(nd) - F.col("_sq").cast("double") / (F.lit(qf) * nd)
    even = F.when(
        F.col("n_pairs") >= 2, h / F.log(F.col("n_pairs").cast("double"))
    )
    return agg.select(
        F.col("_cv").alias(conv_col),
        "n_transitions",
        "n_pairs",
        F.round(h, 6).alias("entropy"),
        F.round(even, 6).alias("evenness"),
    ).orderBy(conv_col)


def transition_entropy_sql(
    table: str, state_col: str = "role", quant: int = 10**9
) -> str:
    """DuckDB replay of :func:`transition_entropy`."""
    qf = repr(float(quant))
    return f"""
tepairs AS (
  SELECT conv_id AS cv,
    lag({state_col}) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS p,
    {state_col} AS s
  FROM {table}
),
tecnts AS (
  SELECT cv, p, s, CAST(count(*) AS BIGINT) AS c
  FROM tepairs WHERE p IS NOT NULL GROUP BY cv, p, s
),
teagg AS (
  SELECT cv, CAST(sum(c) AS BIGINT) AS n_transitions,
    CAST(count(*) AS BIGINT) AS n_pairs,
    CAST(sum(CAST(round((CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) * {qf}, 0)
             AS BIGINT)) AS BIGINT) AS sq
  FROM tecnts GROUP BY cv
)
SELECT cv AS conv_id, n_transitions, n_pairs,
  round(ln(CAST(n_transitions AS DOUBLE))
        - CAST(sq AS DOUBLE) / ({qf} * CAST(n_transitions AS DOUBLE)), 6) AS entropy,
  round(CASE WHEN n_pairs >= 2
    THEN (ln(CAST(n_transitions AS DOUBLE))
          - CAST(sq AS DOUBLE) / ({qf} * CAST(n_transitions AS DOUBLE)))
         / ln(CAST(n_pairs AS DOUBLE)) END, 6) AS evenness
FROM teagg
"""


def top_paths(
    turns: DataFrame,
    depth: int = 5,
    k: int = 20,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    state_col: str = "role",
) -> DataFrame:
    """Top-k conversation journey prefixes: each conversation's first
    ``depth`` states join into a path string and the most common
    paths rank with their share of all conversations — the product
    "top user journeys" report, and in safety clothing the dominant
    automation templates (a bot farm's conversations all open with
    the same path).

    Shape: one conv-keyed hash aggregate building the ordered prefix
    (sort_array over (order, state) structs — deterministic under any
    partitioning), one path-keyed count, a 1-row total broadcast for
    the share (the decay_score allowlisted class), and a bounded
    top-k TakeOrdered on (count desc, path).

    Output: ``(path, n_convs, share)`` — share of ALL conversations,
    so the top-k shares sum to ≤ 1 and "how concentrated are
    journeys" reads directly off the frame.
    """
    if int(depth) < 1 or int(k) < 1:
        raise ValueError("top_paths: depth and k must be >= 1")
    paths = (
        turns.filter(F.col(order_col) < int(depth))
        .groupBy(conv_col)
        .agg(
            F.concat_ws(
                ">",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(F.col(order_col), F.col(state_col))
                        )
                    ),
                    lambda e: e[state_col],
                ),
            ).alias("_path")
        )
    )
    cnts = paths.groupBy("_path").agg(
        F.count(F.lit(1)).cast("long").alias("n_convs")
    )
    tot = paths.agg(F.count(F.lit(1)).cast("long").alias("_tot"))
    return (
        cnts.join(F.broadcast(tot))
        .select(
            F.col("_path").alias("path"),
            "n_convs",
            F.round(
                F.col("n_convs").cast("double") / F.col("_tot").cast("double"),
                6,
            ).alias("share"),
        )
        .orderBy(F.desc("n_convs"), "path")
        .limit(int(k))
    )


def top_paths_sql(
    table: str, depth: int = 5, k: int = 20, state_col: str = "role"
) -> str:
    """DuckDB replay of :func:`top_paths`."""
    return f"""
tppaths AS (
  SELECT conv_id,
    array_to_string(list({state_col} ORDER BY turn_idx), '>') AS path
  FROM {table} WHERE turn_idx < {int(depth)} GROUP BY conv_id
),
tpcnts AS (
  SELECT path, CAST(count(*) AS BIGINT) AS n_convs FROM tppaths GROUP BY path
)
SELECT path, n_convs,
  round(CAST(n_convs AS DOUBLE)
        / CAST((SELECT count(*) FROM tppaths) AS DOUBLE), 6) AS share
FROM tpcnts ORDER BY n_convs DESC, path LIMIT {int(k)}
"""


def markov_stationary(
    counts: DataFrame,
    rounds: int = 8,
    scale: int = 10**12,
) -> DataFrame:
    """Stationary distribution of the first-order state chain by
    integer power iteration over :func:`transition_counts` output —
    "where does a conversation SPEND its time in the long run?": the
    equilibrium share of each state under the observed transition
    kernel, which weighting raw state frequencies cannot give when
    chains differ in length (the stationary π is the left
    eigenvector of the row-stochastic P, not the empirical mix). A
    drift of π toward a tool state between releases is the
    'conversations now loop in tool X' alarm.

    Integer-exact discipline (the eigencentrality family): π lives
    in micro-units of 1/scale; each round routes
    ``π(a)·n(a,b) DIV out_total(a)`` through DECIMAL(38) (DuckDB
    HUGEINT — π·n overflows BIGINT once counts pass ~10^6), then one
    dst-keyed integer sum. Row-stochastic P keeps Σπ ≈ scale (floor
    loss only), so NO renormalization round is needed — each round
    references its predecessor ONCE, so no localCheckpoint either
    (the pagerank shape, not the eigencentrality one). Dangling
    states (no outgoing transition) get a self-loop so their mass
    doesn't evaporate (the PageRank dangling fix, chosen over
    teleport to keep the kernel exactly the observed one).

    The frame is |alphabet|-sized — dimension-table class — but the
    identical joins-and-aggregates shape runs unchanged when states
    are (role, tool, verdict) triples at cardinality 10^5. Returns
    ``(state, pi, share)``: pi the exact integer mass, share one
    fixed division by the 1-row total broadcast, rounded 6. States
    whose mass reaches exactly 0 drop out of the frame (the dst-sum
    emits no row for them) — transient sources vanish rather than
    reporting pi=0, identically in the oracle.
    """
    if int(rounds) < 1:
        raise ValueError("markov_stationary: rounds must be >= 1")
    states = (
        counts.select(F.col("src").alias("state"))
        .union(counts.select(F.col("dst").alias("state")))
        .distinct()
    )
    dangling = states.join(
        counts.select(F.col("src").alias("state")).distinct(),
        "state",
        "left_anti",
    ).select(
        F.col("state").alias("src"),
        F.col("state").alias("dst"),
        F.lit(1).cast("long").alias("n"),
        F.lit(1).cast("long").alias("out_total"),
    )
    e = counts.select("src", "dst", "n", "out_total").unionByName(
        dangling
    ).persist()
    pi = states.select(
        "state", F.lit(int(scale)).cast("long").alias("pi")
    )
    for _ in range(rounds):
        pi = (
            e.join(pi, e.src == pi.state)
            .select(
                F.col("dst").alias("s2"),
                F.expr(
                    "CAST((CAST(pi AS DECIMAL(38,0)) * n)"
                    " DIV CAST(out_total AS DECIMAL(38,0)) AS BIGINT)"
                ).alias("c"),
            )
            .groupBy("s2")
            .agg(F.sum("c").cast("long").alias("pi"))
            .select(F.col("s2").alias("state"), "pi")
        )
    tot = pi.agg(F.sum("pi").cast("long").alias("_t"))
    out = (
        pi.join(F.broadcast(tot))
        .select(
            "state",
            "pi",
            F.round(
                F.col("pi").cast("double") / F.col("_t").cast("double"), 6
            ).alias("share"),
        )
        .orderBy(F.desc("pi"), "state")
    )
    out.unpersist_base = lambda: e.unpersist(blocking=True)
    return out


def markov_stationary_sql(
    counts_cte: str, rounds: int = 8, scale: int = 10**12
) -> str:
    """DuckDB replay of :func:`markov_stationary` — statically
    unrolled rounds over MATERIALIZED CTEs, HUGEINT floor division
    matching Spark's DECIMAL(38) DIV."""
    parts = [
        f"mkc AS MATERIALIZED ({counts_cte})",
        """mkstates AS MATERIALIZED (
  SELECT src AS state FROM mkc UNION SELECT dst FROM mkc
)""",
        """mke AS MATERIALIZED (
  SELECT src, dst, n, out_total FROM mkc
  UNION ALL
  SELECT state, state, CAST(1 AS BIGINT), CAST(1 AS BIGINT)
  FROM mkstates
  WHERE state NOT IN (SELECT src FROM mkc)
)""",
        f"""mkr0 AS MATERIALIZED (
  SELECT state, CAST({int(scale)} AS BIGINT) AS pi FROM mkstates
)""",
    ]
    prev = "mkr0"
    for t in range(1, int(rounds) + 1):
        parts.append(
            f"""mkr{t} AS MATERIALIZED (
  SELECT e.dst AS state,
    CAST(sum((CAST(r.pi AS HUGEINT) * e.n) // e.out_total) AS BIGINT) AS pi
  FROM mke e JOIN {prev} r ON e.src = r.state GROUP BY e.dst
)"""
        )
        prev = f"mkr{t}"
    parts.append(f"mkt AS (SELECT CAST(sum(pi) AS BIGINT) AS t FROM {prev})")
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT state, pi,
  round(CAST(pi AS DOUBLE) / CAST(t AS DOUBLE), 6) AS share
FROM {prev}, mkt ORDER BY pi DESC, state"""
    )


def burrows_delta(
    turns: DataFrame,
    author_col: str = "conv_id",
    text_col: str = "text",
    top_words: int = 50,
    n_authors: int = 30,
    k: int = 20,
    quant: int = 10**9,
    zquant: int = 10**6,
) -> DataFrame:
    """Burrows' Delta authorship distance (Burrows 2002) — the
    classic stylometric 'same hand?' statistic: z-score each
    author's relative use of the corpus's top function words against
    the author population, then Delta(a,b) = mean |z_a − z_b|. LOW
    delta pairs write alike — the sockpuppet/ghost-account candidate
    list content matching misses entirely (different topics, same
    style: the most-frequent words ARE the style, not the topic).

    Engine shape, all bounded after the first aggregate: one corpus
    token aggregate → TakeOrdered top-``top_words`` function words;
    one (author, word) count + author totals → TakeOrdered
    top-``n_authors`` by volume; everything after lives on the
    A×W frame. Exactness discipline: relative frequencies quantize
    to integer units via ``(c · quant) DIV total`` BEFORE any sum
    (per-word mean/std come from exact BIGINT moments over authors),
    z-scores are fixed-parenthesization doubles then quantize to
    ``zquant`` units, so the per-pair |Δz| sum is an exact integer
    and Delta is ONE final division. Author pairs join word-wise
    (A²·W rows, capped by ``n_authors``) — never a row-scale cross
    product. Output: top-``k`` most-similar pairs
    ``(author_a, author_b, n_words, delta)``.
    """
    if int(top_words) < 5:
        raise ValueError("burrows_delta: top_words must be >= 5")
    if int(n_authors) < 3:
        raise ValueError("burrows_delta: n_authors must be >= 3")
    toks = turns.select(
        F.col(author_col).alias("_a"),
        F.explode(
            F.regexp_extract_all(
                F.lower(F.col(text_col)), F.lit("[a-z]+"), F.lit(0)
            )
        ).alias("_w"),
    )
    vocab = toks.groupBy("_w").agg(F.count(F.lit(1)).cast("long").alias("_c"))
    head = vocab.orderBy(F.desc("_c"), "_w").limit(int(top_words)).select("_w")
    atot = toks.groupBy("_a").agg(F.count(F.lit(1)).cast("long").alias("_t"))
    akeep = atot.orderBy(F.desc("_t"), "_a").limit(int(n_authors))
    aw = (
        toks.join(F.broadcast(head), "_w")
        .groupBy("_a", "_w")
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
    )
    # dense A x W grid (missing counts are real zeros in the z-space)
    grid = akeep.select("_a", "_t").crossJoin(F.broadcast(head))
    relq = F.expr(f"(coalesce(_c, 0) * CAST({int(quant)} AS BIGINT)) DIV _t")
    rel = (
        grid.join(aw, ["_a", "_w"], "left")
        .select("_a", "_w", relq.cast("long").alias("_rq"))
    )
    stats = rel.groupBy("_w").agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        F.sum("_rq").cast("long").alias("_s"),
        F.sum(F.col("_rq") * F.col("_rq")).cast("long").alias("_q"),
    )
    nd = F.col("_n").cast("double")
    mu = F.col("_s").cast("double") / nd
    sd = F.sqrt(
        F.greatest(
            F.lit(0.0), F.col("_q").cast("double") / nd - mu * mu
        )
    )
    z = F.when(sd > 0, (F.col("_rq").cast("double") - mu) / sd).otherwise(
        F.lit(0.0)
    )
    zq = rel.join(F.broadcast(stats), "_w").select(
        "_a",
        "_w",
        F.round(z * F.lit(float(zquant)), 0).cast("long").alias("_zq"),
    )
    a1 = zq.select(
        F.col("_a").alias("author_a"), "_w", F.col("_zq").alias("_z1")
    )
    a2 = zq.select(
        F.col("_a").alias("author_b"), "_w", F.col("_zq").alias("_z2")
    )
    pairs = (
        a1.join(a2, "_w")
        .filter(F.col("author_a") < F.col("author_b"))
        .groupBy("author_a", "author_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum(F.abs(F.col("_z1") - F.col("_z2"))).cast("long").alias("_d"),
        )
    )
    delta = F.col("_d").cast("double") / (
        F.col("n_words").cast("double") * F.lit(float(zquant))
    )
    return (
        pairs.select(
            "author_a", "author_b", "n_words", F.round(delta, 6).alias("delta")
        )
        .orderBy("delta", "author_a", "author_b")
        .limit(int(k))
    )


def burrows_delta_sql(
    table: str,
    author_col: str = "conv_id",
    text_col: str = "text",
    top_words: int = 50,
    n_authors: int = 30,
    k: int = 20,
    quant: int = 10**9,
    zquant: int = 10**6,
) -> str:
    """DuckDB replay of :func:`burrows_delta` — same bounded heads,
    same integer quantizations, same fixed-order z algebra."""
    mu = "CAST(s AS DOUBLE) / CAST(n AS DOUBLE)"
    sd = (
        f"sqrt(greatest(CAST(0 AS DOUBLE),"
        f" CAST(q AS DOUBLE) / CAST(n AS DOUBLE) - ({mu}) * ({mu})))"
    )
    return f"""bdtoks AS (
  SELECT {author_col} AS a, t.w AS w
  FROM {table},
    unnest(regexp_extract_all(lower({text_col}), '[a-z]+')) AS t(w)
),
bdhead AS (
  SELECT w FROM (
    SELECT w, CAST(count(*) AS BIGINT) AS c FROM bdtoks GROUP BY w
  ) ORDER BY c DESC, w LIMIT {int(top_words)}
),
bdatot AS (
  SELECT a, CAST(count(*) AS BIGINT) AS tt FROM bdtoks GROUP BY a
),
bdakeep AS (
  SELECT a, tt FROM bdatot ORDER BY tt DESC, a LIMIT {int(n_authors)}
),
bdaw AS (
  SELECT a, w, CAST(count(*) AS BIGINT) AS c
  FROM bdtoks JOIN bdhead USING (w) GROUP BY a, w
),
bdrel AS (
  SELECT g.a, g.w,
    (coalesce(x.c, 0) * CAST({int(quant)} AS BIGINT)) // g.tt AS rq
  FROM (SELECT k2.a, k2.tt, h.w FROM bdakeep k2, bdhead h) g
  LEFT JOIN bdaw x ON g.a = x.a AND g.w = x.w
),
bdstats AS (
  SELECT w, CAST(count(*) AS BIGINT) AS n, CAST(sum(rq) AS BIGINT) AS s,
    CAST(sum(rq * rq) AS BIGINT) AS q
  FROM bdrel GROUP BY w
),
bdz AS (
  SELECT r.a, r.w,
    CAST(round(CASE WHEN {sd} > 0
         THEN ((CAST(r.rq AS DOUBLE) - ({mu})) / ({sd})) ELSE CAST(0 AS DOUBLE)
         END * {float(zquant)!r}, 0) AS BIGINT) AS zq
  FROM bdrel r JOIN bdstats st ON r.w = st.w
),
bdpairs AS (
  SELECT x.a AS author_a, y.a AS author_b,
    CAST(count(*) AS BIGINT) AS n_words,
    CAST(sum(abs(x.zq - y.zq)) AS BIGINT) AS d
  FROM bdz x JOIN bdz y ON x.w = y.w AND x.a < y.a
  GROUP BY 1, 2
)
SELECT author_a, author_b, n_words,
  round(CAST(d AS DOUBLE) / (CAST(n_words AS DOUBLE) * {float(zquant)!r}), 6)
    AS delta
FROM bdpairs ORDER BY delta, author_a, author_b LIMIT {int(k)}"""
