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
construction.  ``record_bucket_count`` / ``recorded_bucket_count``
persist the resolved value as a sidecar next to a checkpoint so
engines can re-pin automatically.
"""

from __future__ import annotations

import json
import os
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


def record_bucket_count(checkpoint_dir: str, n: Optional[int] = None) -> int:
    """Persist the resolved count next to ``checkpoint_dir`` (first
    call wins — later calls return the recorded value, so a restart on
    a resized cluster keeps the original bucketing).

    A checkpoint that has already run (``offsets/`` or ``commits/``)
    but has no sidecar predates it: its state was bucketed by the
    rounds 1-4 rule, the env pin or 1024, so that is what gets
    recorded rather than the current resolution."""
    existing = recorded_bucket_count(checkpoint_dir)
    if existing is not None:
        return existing
    if n is None:
        if any(os.path.isdir(os.path.join(checkpoint_dir, d)) for d in ("offsets", "commits")):
            n = int(os.environ.get("OSPREY_WC_STATE_BUCKETS") or _FALLBACK_BUCKETS)
        else:
            n = state_bucket_count()
    os.makedirs(checkpoint_dir, exist_ok=True)
    path = os.path.join(checkpoint_dir, _SIDECAR)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"state_buckets": int(n)}, f)
    os.replace(tmp, path)
    return int(n)


def recorded_bucket_count(checkpoint_dir: str) -> Optional[int]:
    path = os.path.join(checkpoint_dir, _SIDECAR)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return int(json.load(f)["state_buckets"])
