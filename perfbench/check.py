"""Output checks. None of this runs inside a timed section.

Drains: the committed rows equal the distinct input turns, no
``(conv_id, turn_idx)`` is committed twice, and an order-independent
fingerprint of every output column equals the one of batch
``CompiledRuleset.apply`` over the same input (the stream == batch
contract). Analyst queries: every answer equals DuckDB's over the committed
parquet files (``queries.check_answer``).
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

KEYS = ("conv_id", "turn_idx")
PASSTHROUGH = ["conv_id", "turn_idx", "ts"]


def fingerprint(df, columns) -> tuple:
    """(rows, distinct keys, sum of per-row hashes) over ``columns``."""
    row = df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.count_distinct(*[F.col(k) for k in KEYS]).alias("keys"),
        F.sum(F.xxhash64(*[F.col(c) for c in columns]).cast("decimal(38,0)")).alias("h"),
    ).first()
    return int(row["rows"]), int(row["keys"]), str(row["h"])


def batch_reference(spark, rs, files, state_features) -> tuple[list[str], tuple]:
    """Fingerprint of batch apply over the distinct turns of ``files``:
    keys, verdicts, label mutations and the stateful features."""
    from osprey_spark.turns import with_envelope

    turns = spark.read.parquet(*files).dropDuplicates(list(KEYS))
    ref = rs.apply(with_envelope(turns), passthrough=PASSTHROUGH)
    columns = [*PASSTHROUGH, "__verdicts", "__entity_label_mutations"]
    columns += [c for c in state_features if c in ref.columns]
    return columns, fingerprint(ref, columns)


def check_stream_output(results_df, columns, reference: tuple, expected_rows: int) -> list[str]:
    """Problems found in one run's committed output (empty when correct)."""
    rows, keys, h = fingerprint(results_df, columns)
    problems = []
    if rows != expected_rows:
        problems.append(f"committed {rows} rows, expected {expected_rows}")
    if keys != rows:
        problems.append(f"{rows - keys} (conv_id, turn_idx) committed more than once")
    if (rows, keys, h) != reference:
        problems.append(f"fingerprint {(rows, keys, h)} != batch apply {reference}")
    return problems


def committed_files(sink) -> list[str]:
    files = []
    for b in sink.committed_batches():
        files += glob.glob(os.path.join(sink.data_dir, f"_batch_id={b}", "**", "*.parquet"), recursive=True)
    return sorted(files)


def duckdb_table(sink):
    """A DuckDB connection with the committed results as view ``t``."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    files = ", ".join(f"'{p}'" for p in committed_files(sink))
    con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet([{files}], hive_partitioning=true)")
    return con
