"""Window operators — batch forms.

Parity targets: the reference's Redis sliding-window counters
(``IncrementWindow``/``GetWindowCount``,
ref: example_plugins/src/udfs/cache.py:161-227,333-347) become
event-time window aggregations; sessions are the north-rule addition
(the reference has none). Streaming forms (watermarked) live in
``osprey_spark.streaming``; these batch forms share semantics and are
oracle-checkable.

Window starts are epoch-aligned (multiples of the slide), matching
Spark's ``F.window``. Outputs use epoch seconds (bigint) so results
compare exactly across engines.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .timeutil import epoch_seconds


def tumbling_counts(
    df: DataFrame, ts_col: str, keys: Sequence[str], size_seconds: int
) -> DataFrame:
    """Events per key per tumbling window. One shuffle on
    (window, keys); partial aggregation map-side."""
    w = F.window(F.col(ts_col).cast("timestamp"), f"{size_seconds} seconds")
    out = (
        df.groupBy(w.alias("w"), *keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").cast("long").alias("window_start"),
            *keys,
            F.col("n"),
        )
    )
    return out.orderBy("window_start", *keys)


def sliding_counts(
    df: DataFrame, ts_col: str, keys: Sequence[str], size_seconds: int, slide_seconds: int
) -> DataFrame:
    """Sliding-window counts (``GetWindowCount`` parity). Spark
    expands each row into size/slide windows before the shuffle —
    the row-amplification factor is the knob to watch at scale."""
    w = F.window(F.col(ts_col).cast("timestamp"), f"{size_seconds} seconds", f"{slide_seconds} seconds")
    out = (
        df.groupBy(w.alias("w"), *keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").cast("long").alias("window_start"),
            *keys,
            F.col("n"),
        )
    )
    return out.orderBy("window_start", *keys)


def sessionize(
    df: DataFrame,
    ts_col: str,
    key: str,
    gap_seconds: int,
    count_col: str = "n_turns",
) -> DataFrame:
    """Batch sessionization: lag + gap-flag + running-sum session ids,
    then per-session aggregates. Two shuffles on `key` reuse the same
    hash partitioning (Exchange reuse), so it scales as one
    repartition + local sorts.

    The streaming equivalent is ``F.session_window`` with a watermark
    (osprey_spark.streaming.windows).
    """
    byk = Window.partitionBy(key).orderBy(ts_col)
    sec = epoch_seconds(F.col(ts_col))
    new_sess = (
        F.when(F.lag(sec).over(byk).isNull(), 1)
        .when(sec - F.lag(sec).over(byk) > gap_seconds, 1)
        .otherwise(0)
    )
    with_sess = df.withColumn("_sess", F.sum(new_sess).over(byk))
    out = (
        with_sess.groupBy(key, "_sess")
        .agg(
            F.floor(F.min(sec)).cast("long").alias("session_start"),
            F.floor(F.max(sec)).cast("long").alias("session_end"),
            F.count(F.lit(1)).alias(count_col),
        )
        .drop("_sess")
    )
    return out.orderBy(key, "session_start")


def rate_rule_counts(
    df: DataFrame,
    ts_col: str,
    key: str,
    window_seconds: int,
    threshold: int,
) -> DataFrame:
    """Rate-style rule: keys whose tumbling-window count exceeds a
    threshold (turns-per-conv-per-minute, BASELINE north_star)."""
    counts = tumbling_counts(df, ts_col, [key], window_seconds)
    return counts.filter(F.col("n") >= threshold).orderBy("window_start", key)


def interval_concurrency(
    df: DataFrame,
    key_col: str = "conv_id",
    ts_col: str = "ts",
    bucket_s: int = 3600,
) -> DataFrame:
    """Sweep-line interval concurrency: how many conversations are
    OPEN at once, per time bucket — the live-load curve behind
    capacity planning and the 'simultaneous-session' abuse signal
    (one operator driving 500 concurrent conversations is a fleet,
    whatever each conversation's individual rate looks like).

    The classic sweep line (+1 at each key's first event, −1 one
    second after its last) needs a GLOBAL running sum — the naive
    form is a single-partition window over every event, the
    scale-killer. Implemented instead as the distributed TWO-PHASE
    PREFIX SUM: (1) collapse deltas to distinct seconds (hash
    aggregate), (2) per-bucket partial sums roll up to a cumulative
    base over the bounded bucket frame (span/bucket rows — the
    hist_quantiles class), (3) the within-bucket running sum runs
    partitioned BY bucket, so no partition ever exceeds one bucket's
    distinct seconds. base(bucket) + running(sec) is exactly the
    global prefix sum, all integers.

    Output per observed bucket: ``(bucket_start, max_concurrent,
    end_concurrent)`` — the bucket's peak and its closing value
    (the next bucket's base). Buckets with no events are absent
    (concurrency is unchanged there; read it off the previous
    bucket's end_concurrent).
    """
    if int(bucket_s) < 1:
        raise ValueError("interval_concurrency: bucket_s must be >= 1")
    from .timeutil import epoch_long

    sec = epoch_long(F.col(ts_col))
    iv = df.groupBy(key_col).agg(
        F.min(sec).cast("long").alias("_s"),
        (F.max(sec) + 1).cast("long").alias("_e"),
    )
    deltas = iv.select(
        F.explode(
            F.array(
                F.struct(F.col("_s").alias("t"), F.lit(1).alias("d")),
                F.struct(F.col("_e").alias("t"), F.lit(-1).alias("d")),
            )
        ).alias("_ev")
    ).select(F.col("_ev.t").alias("_t"), F.col("_ev.d").alias("_d"))
    per_sec = deltas.groupBy("_t").agg(F.sum("_d").cast("long").alias("_nd"))
    # integer DIV, not a double floor: epoch/3600 in float would be
    # correct here but the integer form matches DuckDB's // exactly
    # by construction
    bkt = F.expr(f"(_t DIV {int(bucket_s)}) * {int(bucket_s)}").cast("long")
    staged = per_sec.select(bkt.alias("_b"), "_t", "_nd")
    # bounded frame: one row per observed bucket
    per_bkt = staged.groupBy("_b").agg(F.sum("_nd").cast("long").alias("_bd"))
    w_base = Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, 0)
    bases = per_bkt.select(
        "_b",
        (F.sum("_bd").over(w_base) - F.col("_bd")).cast("long").alias("_base"),
        F.sum("_bd").over(w_base).cast("long").alias("_end"),
    )
    w_run = (
        Window.partitionBy("_b")
        .orderBy("_t")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run = staged.select(
        "_b", "_t", F.sum("_nd").over(w_run).cast("long").alias("_run")
    )
    return (
        run.join(bases, "_b")
        .groupBy("_b")
        .agg(
            # peak = greatest of the carried-in level (the concurrency
            # held from bucket start until the first delta — a bucket
            # whose only deltas are closings peaks AT that carry-in)
            # and the post-delta running levels
            F.greatest(
                F.max("_base"), F.max(F.col("_base") + F.col("_run"))
            )
            .cast("long")
            .alias("max_concurrent"),
            F.max("_end").cast("long").alias("end_concurrent"),
        )
        .select(
            F.col("_b").alias("bucket_start"),
            "max_concurrent",
            "end_concurrent",
        )
        .orderBy("bucket_start")
    )


def interval_concurrency_sql(
    table: str, key_col: str = "conv_id", bucket_s: int = 3600
) -> str:
    """DuckDB replay of :func:`interval_concurrency` — same sweep
    deltas, same two-phase integer prefix sum."""
    return f"""iciv AS (
  SELECT {key_col} AS k,
    CAST(floor(epoch(min(ts))) AS BIGINT) AS s,
    CAST(floor(epoch(max(ts))) + 1 AS BIGINT) AS e
  FROM {table} GROUP BY {key_col}
),
icdelta AS (
  SELECT s AS t, 1 AS d FROM iciv
  UNION ALL
  SELECT e AS t, -1 AS d FROM iciv
),
icsec AS (
  SELECT t, CAST(sum(d) AS BIGINT) AS nd FROM icdelta GROUP BY t
),
icstaged AS (
  SELECT CAST((t // {int(bucket_s)}) * {int(bucket_s)} AS BIGINT) AS b, t, nd
  FROM icsec
),
icbase AS (
  SELECT b,
    CAST(sum(bd) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) - bd AS BIGINT) AS base,
    CAST(sum(bd) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS BIGINT) AS "end"
  FROM (SELECT b, CAST(sum(nd) AS BIGINT) AS bd FROM icstaged GROUP BY b)
),
icrun AS (
  SELECT b, t,
    CAST(sum(nd) OVER (PARTITION BY b ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         AS BIGINT) AS run
  FROM icstaged
)
SELECT r.b AS bucket_start,
  CAST(greatest(max(s.base), max(s.base + r.run)) AS BIGINT) AS max_concurrent,
  CAST(max(s."end") AS BIGINT) AS end_concurrent
FROM icrun r JOIN icbase s ON r.b = s.b
GROUP BY r.b ORDER BY bucket_start"""
