"""Watermarked streaming window aggregations.

Event-time parity for the reference's Redis window counters
(ref: example_plugins/src/udfs/cache.py:333-347). Late data beyond the
watermark is dropped (append mode) — the policy the tests pin down.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def streaming_tumbling_counts(
    stream: DataFrame,
    ts_col: str,
    keys: Sequence[str],
    size_seconds: int,
    watermark: str = "10 minutes",
) -> DataFrame:
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), f"{size_seconds} seconds").alias("w"), *keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").cast("long").alias("window_start"), *keys, "n")
    )


def join_verdicts_to_turns(
    turns: DataFrame,
    verdicts: DataFrame,
    watermark: str = "10 minutes",
    join_window_seconds: int = 600,
    how: str = "inner",
) -> DataFrame:
    """Stateful stream-stream join of verdicts back to the turn stream
    on (conv_id, turn_idx) within watermark bounds (north rule). The
    time-range condition lets Spark evict join state; output preserves
    the turn's text for the per-turn equality invariant.

    ``how='left_outer'`` keeps every turn: a turn no verdict matched
    is held in join state until the event-time watermark clears its
    join window, then emitted with NULL verdicts — the audit-trail
    shape ("every turn landed, evaluated or not") that an inner join
    silently drops. Spark requires the outer side to be
    watermark-bounded for state eviction, which the time-range
    condition already provides; completeness of the null rows is
    therefore watermark-delayed, not instant (tested by advancing the
    watermark with a later batch)."""
    if how not in ("inner", "left_outer"):
        raise ValueError(f"unsupported join type: {how!r}")
    t = turns.select(
        F.col("conv_id"),
        F.col("turn_idx"),
        F.col("text"),
        F.col("ts"),
    ).withWatermark("ts", watermark)
    v = verdicts.select(
        F.col("conv_id").alias("v_conv_id"),
        F.col("turn_idx").alias("v_turn_idx"),
        F.col("verdicts"),
        F.col("v_ts"),
    ).withWatermark("v_ts", watermark)
    cond = (
        (F.col("conv_id") == F.col("v_conv_id"))
        & (F.col("turn_idx") == F.col("v_turn_idx"))
        & (F.col("v_ts") >= F.col("ts"))
        & (F.col("v_ts") <= F.col("ts") + F.expr(f"INTERVAL {join_window_seconds} SECONDS"))
    )
    return t.join(v, cond, how).select(
        "conv_id", "turn_idx", "text", "ts", "verdicts"
    )


def stream_windowed_topn(
    stream: DataFrame,
    dim_col: str,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Finalized tumbling-window counts per dim value, append mode:
    a (window, dim) group emits exactly once, when the event-time
    watermark passes its window end. Pair with :func:`rank_topn` in
    a foreachBatch sink for streaming trending top-N: because the
    watermark is a global per-trigger frontier, EVERY group of a
    closing window finalizes in the same micro-batch, so ranking
    within the batch sees each window complete — the per-window
    top-k equals the batch `windowed_topn` over the same rows
    (equivalence-tested).

    Scale shape: identical to the batch plan — one time-bucketed
    hash aggregate with map-side partials; streaming adds only the
    (window, dim)-cardinality state store, never row-cardinality."""
    # no cast on the window's time column: a cast builds a fresh
    # expression that loses the watermark tag and Spark then rejects
    # append mode as "aggregation without watermark"
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(
            F.window(F.col(ts_col), window).alias("w"),
            F.col(dim_col),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), dim_col, "n")
    )


def rank_topn(counts: DataFrame, dim_col: str, k: int = 3) -> DataFrame:
    """Rank finalized window counts to per-window top-k (shared by
    the streaming foreachBatch sink and the batch oracle): rank
    partitions are (window, dim) cardinality, never row
    cardinality."""
    from pyspark.sql import Window as W

    rk = W.partitionBy("window_start").orderBy(F.desc("n"), dim_col)
    return (
        counts.withColumn("rank", F.row_number().over(rk).cast("int"))
        .filter(F.col("rank") <= k)
        .select(
            "window_start", "rank", dim_col, F.col("n").cast("long").alias("n")
        )
    )
