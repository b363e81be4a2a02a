"""Offline state-store introspection of a streaming checkpoint.

The north rule requires the job to be "resumable from checkpoint with
per-partition lineage and metrics (rows processed, state size,
watermark lag)". The metrics listener covers the RUNNING job; this
module covers the STOPPED one: given only a checkpoint directory, read
what the state store holds — which operators, how many keys, how the
state skews across partitions, and (for this engine's own stateful
rule ops) the per-key state entries themselves — without replaying a
single input row. At 10^12 turns this is the difference between
"restart the job with debug logging and wait" and "point a reader at
the checkpoint and find the hot conversation".

Built on Spark 4's state data sources (public API):

- ``spark.read.format("state-metadata").load(ckpt)`` — the operator
  catalog (ids, names, store names, partition counts, batch range);
- ``spark.read.format("statestore").load(ckpt)`` — the keys/values of
  one operator's store, optionally pinned to a past ``batchId`` (the
  state's own time travel, complementing the sink's
  ``read_snapshot``).

The engine's stateful ops (window counters, caches, CEP, the fused
multi-mechanism pass, streaming sketches) all keep state as ONE
string column holding a JSON dict keyed by the real entity (the group
key is a hash BUCKET — the key-coalescing trade documented in
compile.py). :func:`decode_json_dict_state` re-exposes those
per-entity entries as rows, so "list every conversation's carried
state" is a query, not a debugger session.

No reference counterpart: roostorg/osprey's state lives in external
Redis/BigTable and is inspected with external tooling; here the state
store is Spark's own, and so is the reader.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def state_metadata(spark: SparkSession, checkpoint: str) -> DataFrame:
    """Operator catalog of a checkpoint: one row per stateful operator
    (operatorId, operatorName, stateStoreName, numPartitions,
    minBatchId, maxBatchId)."""
    return spark.read.format("state-metadata").load(checkpoint)


def read_state(
    spark: SparkSession,
    checkpoint: str,
    operator_id: int | None = None,
    store_name: str | None = None,
    batch_id: int | None = None,
    join_side: str | None = None,
) -> DataFrame:
    """Raw state rows of one operator's store: ``key`` (struct),
    ``value`` (struct), ``partition_id``. ``batch_id`` pins a PAST
    micro-batch's state (state time travel); ``join_side``
    ('left'/'right') selects a stream-stream join's side."""
    r = spark.read.format("statestore")
    if operator_id is not None:
        r = r.option("operatorId", int(operator_id))
    if store_name is not None:
        r = r.option("storeName", store_name)
    if batch_id is not None:
        r = r.option("batchId", int(batch_id))
    if join_side is not None:
        r = r.option("joinSide", join_side)
    return r.load(checkpoint)


def state_summary(spark: SparkSession, checkpoint: str) -> DataFrame:
    """Per-operator state census: key count and the per-partition
    skew profile (partitions touched, max/mean keys per touched
    partition) — the first thing to look at when a checkpoint grows
    or one task lags on restore. One metadata read + one grouped
    count per operator; nothing row-scale leaves the executors."""
    ops = state_metadata(spark, checkpoint).select(
        "operatorId", "operatorName", "numPartitions"
    ).collect()
    frames = []
    for op in ops:
        per_part = (
            read_state(spark, checkpoint, operator_id=op["operatorId"])
            .groupBy("partition_id")
            .agg(F.count(F.lit(1)).alias("_n"))
        )
        frames.append(
            per_part.agg(
                F.lit(int(op["operatorId"])).alias("operator_id"),
                F.lit(op["operatorName"]).alias("operator_name"),
                F.sum("_n").cast("long").alias("n_keys"),
                F.count(F.lit(1)).cast("long").alias("partitions_used"),
                F.lit(int(op["numPartitions"])).cast("long").alias("partitions_total"),
                F.max("_n").cast("long").alias("max_keys_per_partition"),
                F.round(
                    F.sum("_n").cast("double") / F.count(F.lit(1)).cast("double"), 6
                ).alias("mean_keys_per_partition"),
            )
        )
    if not frames:
        raise ValueError(f"no stateful operators found in {checkpoint!r}")
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.orderBy("operator_id")


def decode_json_dict_state(state_df: DataFrame) -> DataFrame:
    """Explode this engine's key-coalesced state rows — one string
    column holding a JSON dict per hash bucket — into one row per
    REAL entity: ``bucket_key`` (the group key struct as JSON),
    ``partition_id``, ``entry_key``, ``entry_json`` (nested
    lists/objects kept as their JSON text), ``entry_bytes``.

    Works for every single-string-column state this engine writes
    (states_json / entries_json / mins_json / latest_json /
    bins_json ...). Raises on multi-column or
    non-string state — those are not the coalesced-dict shape.
    """
    vfields = state_df.schema["value"].dataType.fields
    prefix = "value"
    # applyInPandasWithState stores wrap the user state one level
    # deeper: value.groupState.<col>
    if (
        len(vfields) == 1
        and vfields[0].name == "groupState"
        and vfields[0].dataType.typeName() == "struct"
    ):
        prefix = "value.groupState"
        vfields = vfields[0].dataType.fields
    if len(vfields) != 1 or vfields[0].dataType.typeName() != "string":
        raise ValueError(
            "decode_json_dict_state expects a single string state column, got "
            + str([(f.name, f.dataType.simpleString()) for f in vfields])
        )
    vcol = f"{prefix}.{vfields[0].name}"
    return state_df.select(
        F.to_json(F.col("key")).alias("bucket_key"),
        "partition_id",
        F.explode(F.from_json(F.col(vcol), "map<string,string>")).alias(
            "entry_key", "entry_json"
        ),
    ).withColumn("entry_bytes", F.length("entry_json").cast("long"))
