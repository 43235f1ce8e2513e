"""Plan-time choice of the stateful-op key-coalescing bucket count.

Every keyed state operator in this engine (compiler window counters /
caches, CEP, streaming as-of join, conversation state, transcript
folds) groups by ``pmod(xxhash64(key), N_BUCKETS)`` and keeps a
per-bucket ``{key: state}`` map instead of one state-store group per
key — ``applyInPandasWithState``'s fixed per-group Arrow + Python
dispatch cost dominates at real key cardinality, so coalescing keys
into buckets amortizes it (round-3 design; ref survey §1.5).

Rounds 1-4 hard-coded 1024 buckets.  That is the right constant for
the 32-core bench host (32 buckets/core) but wrong at both ends of
the scale the engine targets: a 4000-core cluster would cap stateful
parallelism at 1024 tasks, and an 8-core dev box pays 128 bucket
dispatches per core per micro-batch.  This module resolves the count
at plan time instead:

    buckets = max(BUCKETS_PER_CORE * cores, ceil(n_keys / TARGET_KEYS_PER_BUCKET))

- ``BUCKETS_PER_CORE`` (32) keeps ~32 buckets per task slot: enough
  granularity for AQE/speculation to balance, small enough that the
  per-bucket fixed cost stays amortized (the round-5 sweep in
  BASELINE.md measures the flat region this sits in).
- The ``n_keys`` term (callers that know their key cardinality, e.g.
  batch replays over a profiled table) caps per-bucket map size so a
  bucket's JSON state stays executor-memory-bounded at 100-TB key
  counts.
- ``OSPREY_WC_STATE_BUCKETS`` overrides everything — the bench pin
  and the production-restart pin (below).

CHECKPOINT STABILITY: the bucket id is the state-store key, so the
count must not change across restarts of the same checkpointed query
— a remap would strand every key's state in its old bucket (Spark
itself pins ``spark.sql.shuffle.partitions`` for stateful queries for
the same reason).  Restarting on a resized cluster therefore requires
pinning ``OSPREY_WC_STATE_BUCKETS`` to the original value; same-
process restarts (same session, same cores) resolve identically by
construction.  ``record_layout`` / ``recorded_layout`` persist the
resolved ``BucketLayout`` as a sidecar next to a checkpoint
(``state_buckets.json``), and ``StreamingRuleEngine`` resolves it once
and hands it to ``CompiledRuleset.apply()``, so no op re-resolves the
count at plan time.

The layout is the count plus a LABEL RULE (sidecar field
``bucket_labels``): bucket ``b`` groups in the state store under the
int ``label[b]``.

- ``identity``: ``label[b] = b``.  Checkpoints recorded before the
  field existed (a sidecar without it, or a checkpoint that ran before
  there was a sidecar) keep it, and so do direct ``apply()`` callers
  that pass no layout.  Only the compiler's streaming state pass
  (``_join_fused_state``, which cross-keyed CacheGets take too) takes
  the engine's layout; everything else stays on identity labels: the other
  ``run_keyed_state`` callers (conversation state, streaming as-of,
  CEP sequence match, the transcript repetition fold; the label store
  groups by entity, not by bucket), CEP response-absence (its own
  bucket column), the four ops that default to 1024 buckets
  (``stream_transition_counts``, ``stream_near_dup_bands``,
  ``stream_latest_snapshot``, ``stream_decay_counters``) and the batch
  RateLimit resolver (no checkpoint).
- ``balanced`` (every checkpoint recorded since): ``label[b]`` is the
  first int ``c >= 0`` with ``pmod(murmur3_x86_32(c, seed 42), n) ==
  b``.  Spark places a group on state partition ``pmod(hash(label),
  P)`` (``HashPartitioning``), and when ``P`` divides ``n`` that is
  ``pmod(hash(label), n) mod P = b mod P``: each of the ``P`` state
  tasks gets exactly ``n / P`` buckets.  Identity labels hash-
  partition unevenly (25/29/33/41 of 128 buckets over 4 tasks), and
  the largest task sets the micro-batch's pace.  Balanced labels also
  keep each sink bucket in one task: the sink's ``_bucket =
  pmod(xxhash64(conv_id), B)`` is ``b mod B`` when ``B`` divides
  ``n`` and the state key is ``conv_id``, so with ``P | B`` every sink
  bucket's rows leave one state task, and a sink that skips its
  pre-write shuffle (``repartition_buckets=False``) writes one file
  per sink bucket.

The label table is part of the checkpoint format: ``murmur3_int`` must
stay Spark's ``hash()`` of an int, and ``bucket_labels(n)`` must stay
the same table (``tests/test_buckets.py`` pins both).
"""

from __future__ import annotations

import functools
import json
import os
from dataclasses import dataclass
from typing import Optional

BUCKETS_PER_CORE = 32
TARGET_KEYS_PER_BUCKET = 4096
_FALLBACK_BUCKETS = 1024  # no env, no active session: rounds 1-4 constant

_SIDECAR = "state_buckets.json"


def state_bucket_count(n_keys: Optional[int] = None) -> int:
    """Resolve the key-coalescing bucket count for a stateful op.

    Precedence: ``OSPREY_WC_STATE_BUCKETS`` env (explicit pin) >
    ``max(32 * cores, ceil(n_keys / 4096))`` from the active session's
    default parallelism > the historical 1024 constant.
    """
    env = os.environ.get("OSPREY_WC_STATE_BUCKETS")
    if env:
        return int(env)
    cores = None
    try:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is not None:
            cores = spark.sparkContext.defaultParallelism
    except Exception:
        cores = None
    floor = BUCKETS_PER_CORE * cores if cores else _FALLBACK_BUCKETS
    if n_keys:
        return max(floor, -(-int(n_keys) // TARGET_KEYS_PER_BUCKET))
    return floor


IDENTITY = "identity"
BALANCED = "balanced"

_M32 = 0xFFFFFFFF


def _rotl32(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def murmur3_int(v: int, seed: int = 42) -> int:
    """Spark's ``hash()`` of an int column (``Murmur3_x86_32.hashInt``),
    the hash ``HashPartitioning`` places a group by."""
    k = ((v & _M32) * 0xCC9E2D51) & _M32
    k = (_rotl32(k, 15) * 0x1B873593) & _M32
    h = (_rotl32(seed ^ k, 13) * 5 + 0xE6546B64) & _M32
    h ^= 4  # fmix: the input length in bytes
    h = ((h ^ (h >> 16)) * 0x85EBCA6B) & _M32
    h = ((h ^ (h >> 13)) * 0xC2B2AE35) & _M32
    h ^= h >> 16
    return h - (1 << 32) if h >> 31 else h


@functools.lru_cache(maxsize=None)
def bucket_labels(n: int) -> tuple[int, ...]:
    """The balanced label of each of ``n`` buckets: ``label[b]`` is the
    first int ``c >= 0`` with ``pmod(murmur3_int(c), n) == b``."""
    labels = [-1] * n
    left, c = n, 0
    while left:
        b = murmur3_int(c) % n
        if labels[b] < 0:
            labels[b] = c
            left -= 1
        c += 1
    return tuple(labels)


@dataclass(frozen=True)
class BucketLayout:
    """How a key-coalesced state op groups: ``n`` hash buckets, each
    under its label (``IDENTITY`` or ``BALANCED``, see the module
    docstring)."""

    n: int
    labels: str = IDENTITY

    def __post_init__(self):
        if self.labels not in (IDENTITY, BALANCED):
            raise ValueError(f"unknown state-bucket label rule {self.labels!r}")

    def table(self) -> Optional[tuple[int, ...]]:
        """The bucket → label table, or None for identity labels."""
        return bucket_labels(self.n) if self.labels == BALANCED else None


def record_layout(checkpoint_dir: str, n: Optional[int] = None) -> BucketLayout:
    """Persist the layout next to ``checkpoint_dir`` (first call wins
    — later calls return the recorded layout, so a restart on a resized
    cluster keeps the original bucketing). A new checkpoint records
    ``n`` (default: the current resolution) with balanced labels.

    A checkpoint that has already run (``offsets/`` or ``commits/``)
    but has no sidecar predates it: its state was bucketed by the
    rounds 1-4 rule, the env pin or 1024, under identity labels, so
    that is what gets recorded rather than the current resolution."""
    existing = recorded_layout(checkpoint_dir)
    if existing is not None:
        return existing
    ran = any(os.path.isdir(os.path.join(checkpoint_dir, d)) for d in ("offsets", "commits"))
    if n is None:
        n = (
            int(os.environ.get("OSPREY_WC_STATE_BUCKETS") or _FALLBACK_BUCKETS)
            if ran
            else state_bucket_count()
        )
    layout = BucketLayout(int(n), IDENTITY if ran else BALANCED)
    os.makedirs(checkpoint_dir, exist_ok=True)
    path = os.path.join(checkpoint_dir, _SIDECAR)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"state_buckets": layout.n, "bucket_labels": layout.labels}, f)
    os.replace(tmp, path)
    return layout


def recorded_layout(checkpoint_dir: str) -> Optional[BucketLayout]:
    """The sidecar's layout; a sidecar without ``bucket_labels``
    predates the field and reads as identity labels."""
    path = os.path.join(checkpoint_dir, _SIDECAR)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        rec = json.load(f)
    return BucketLayout(int(rec["state_buckets"]), rec.get("bucket_labels", IDENTITY))
