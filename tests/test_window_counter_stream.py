"""A lone streaming IncrementWindow: it folds in the fused state pass
like every stateful family, and must equal the batch range-window
count and carry its in-window deque across a checkpoint restart.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from osprey_spark.compiler import compile_ruleset
from osprey_spark.streaming.pipeline import StreamingRuleEngine
from osprey_spark.turns import TURN_BINDINGS, with_envelope

SML = """
K: str = JsonData(path='$.conv_id')
N = IncrementWindow(key=K, window_seconds=3600.0)
"""

SCHEMA = "conv_id string, turn_idx int, role string, text string, tool string, ts_str string"

ROWS1 = [
    ("c1", 0, "user", "a", None, "2024-01-01 10:00:00"),
    ("c1", 1, "user", "b", None, "2024-01-01 10:05:00"),
    ("c2", 0, "user", "e", None, "2024-01-01 10:06:00"),
]
ROWS2 = [
    ("c1", 2, "user", "c", None, "2024-01-01 10:10:00"),
    ("c2", 1, "user", "d", None, "2024-01-01 10:11:00"),
]


def _write(spark, in_dir, rows):
    (
        spark.createDataFrame(rows, SCHEMA)
        .select(
            "conv_id",
            "turn_idx",
            "role",
            "text",
            "tool",
            F.to_timestamp("ts_str").alias("ts"),
        )
        .coalesce(1)
        .write.mode("append")
        .parquet(in_dir)
    )


def test_stream_equals_batch(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    _write(spark, in_dir, ROWS1 + ROWS2)
    rs = compile_ruleset({"main.sml": SML}, bindings=TURN_BINDINGS)
    eng = StreamingRuleEngine(
        spark, rs, in_dir, str(tmp_path / "out"), passthrough=("conv_id", "turn_idx")
    )
    eng.run_to_completion()
    streamed = {
        (r["conv_id"], r["turn_idx"]): r["N"] for r in eng.results().collect()
    }
    batch_in = spark.read.parquet(in_dir)
    batch = {
        (r["conv_id"], r["turn_idx"]): r["N"]
        for r in rs.apply(
            with_envelope(batch_in), passthrough=["conv_id", "turn_idx", "ts"]
        ).collect()
    }
    assert streamed == batch
    assert streamed[("c1", 2)] == 3  # counts actually accumulated


def test_state_survives_checkpoint_restart(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    os.makedirs(in_dir)

    def run():
        eng = StreamingRuleEngine(
            spark,
            compile_ruleset({"main.sml": SML}, bindings=TURN_BINDINGS),
            in_dir,
            out_dir,
            passthrough=("conv_id", "turn_idx"),
        )
        eng.run_to_completion()
        return eng

    _write(spark, in_dir, ROWS1)
    run()
    _write(spark, in_dir, ROWS2)
    eng = run()  # fresh engine object, same checkpoint + state store
    got = {(r["conv_id"], r["turn_idx"]): r["N"] for r in eng.results().collect()}
    assert got == {
        ("c1", 0): 1,
        ("c1", 1): 2,
        ("c1", 2): 3,
        ("c2", 0): 1,
        ("c2", 1): 2,
    }
