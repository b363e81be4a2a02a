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

STATE LAYOUT: the sidecar also records ``STATE_LAYOUT``, the version
of the state-store layout the compiled state ops write (bucket column
and state schema).  Spark does not detect a resumed checkpoint whose
state was written under another layout — the first batch dies inside
a Python worker — so ``check_checkpoint`` refuses one up front, as it
refuses a checkpoint with Spark progress but no sidecar (its bucket
count and layout are unknown).
"""

from __future__ import annotations

import json
import os
from typing import Optional

BUCKETS_PER_CORE = 32
TARGET_KEYS_PER_BUCKET = 4096
_FALLBACK_BUCKETS = 1024  # no env, no active session: rounds 1-4 constant

_SIDECAR = "state_buckets.json"

# Bump on any change that makes existing state unreadable. Layout 1:
# every streaming state op but a lone Cache folds in the fused pass
# (``states_json`` under ``__fs_bkt``).
STATE_LAYOUT = 1


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
    a resized cluster keeps the original bucketing)."""
    existing = recorded_bucket_count(checkpoint_dir)
    if existing is not None:
        return existing
    n = n if n is not None else state_bucket_count()
    os.makedirs(checkpoint_dir, exist_ok=True)
    path = os.path.join(checkpoint_dir, _SIDECAR)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"state_buckets": int(n), "state_layout": STATE_LAYOUT}, f)
    os.replace(tmp, path)
    return int(n)


def _sidecar(checkpoint_dir: str) -> Optional[dict]:
    path = os.path.join(checkpoint_dir, _SIDECAR)
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def recorded_bucket_count(checkpoint_dir: str) -> Optional[int]:
    rec = _sidecar(checkpoint_dir)
    return None if rec is None else int(rec["state_buckets"])


def check_checkpoint(checkpoint_dir: str) -> None:
    """Record the sidecar on a fresh checkpoint; raise ValueError when
    an existing one cannot be resumed safely: Spark progress (``offsets/`` or ``commits/``)
    but no sidecar, a state layout other than ``STATE_LAYOUT`` (or
    none recorded), or a recorded bucket count this session does not
    resolve."""
    rec = _sidecar(checkpoint_dir)
    if rec is None and any(
        os.path.isdir(os.path.join(checkpoint_dir, d)) for d in ("offsets", "commits")
    ):
        raise ValueError(
            f"checkpoint {checkpoint_dir} has Spark progress but no {_SIDECAR} "
            "(written by an older engine): its state bucket count and layout "
            "are unknown, so it cannot be resumed; start a new checkpoint"
        )
    if rec is not None and rec.get("state_layout") != STATE_LAYOUT:
        raise ValueError(
            f"checkpoint {checkpoint_dir} was written with state layout "
            f"{rec.get('state_layout')} but this engine uses {STATE_LAYOUT}; "
            "its state cannot be read, so start a new checkpoint"
        )
    recorded = record_bucket_count(checkpoint_dir)
    current = state_bucket_count()
    if recorded != current:
        raise ValueError(
            f"checkpoint {checkpoint_dir} was created with "
            f"{recorded} state buckets but this session resolves "
            f"{current} (cores or env changed); set "
            f"OSPREY_WC_STATE_BUCKETS={recorded} to resume safely"
        )
