"""Seeded input generator for the benchmark.

Produces the transcripts ("turns") table the engine reads, in the shape of
``osprey_spark.turns.generate_turns``: Zipf-hot conversations (the first
``HOT_CONVS`` conversations carry ``HOT_MULTIPLIER`` times the turns), a late
fraction, and a text-length knob (``text_repeat`` pads each text with word
pairs). It is a separate implementation so that a change to the program's
own generator cannot change the workload.

Arrival model. Every turn has an event time ``ts`` and an arrival time. A
``late_fraction`` of turns is delivered up to ``MAX_LATE_S`` after its event
time; a late turn holds back the later turns of its conversation, as one
ordered channel per conversation would. Lateness therefore never reorders a
conversation, which keeps the stream == batch contract exact for the stateful
families, and stays below the engine's dedup watermark, so no turn is dropped
as late. A ``dup_fraction`` of turns is delivered a second time shortly after
the first copy (an at-least-once upstream); watermark dedup must drop those.
Files are consecutive arrival-time slices.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_EPOCH = 1704067200  # 2024-01-01 UTC
SPAN_S = 6 * 3600  # conversations start across this span of event time
HOT_CONVS = 10
HOT_MULTIPLIER = 10
MAX_LATE_S = 480  # below the engine's 10-minute dedup watermark

SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)

ROLES = np.array(["user", "assistant", "system", "tool"], dtype=object)
TOOLS = np.array(["search", "exec", "browse", "fetch", "calc"], dtype=object)
WORDS = np.array(
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet".split(), dtype=object
)
# planted trigger phrases, one per rule family of the bench rulesets
TRIGGERS = (
    (7, " hello world"),
    (11, " see https://spam.example.com/x"),
    (13, " reach me at test@evil.example or +1 555 123 4567"),
    (17, " FREE MONEY crypto giveaway https://bit.ly/x"),
)


def make_turns(
    seed: int,
    n_convs: int,
    turns_per_conv: int,
    text_repeat: int = 1,
    late_fraction: float = 0.02,
    dup_fraction: float = 0.0,
) -> dict:
    """Generate one turns table; returns numpy columns sorted by arrival.

    ``unique`` marks the first delivery of each turn (redeliveries are
    ``False``).
    """
    rng = np.random.default_rng(seed)
    lens = np.full(n_convs, turns_per_conv, dtype=np.int64)
    lens[:HOT_CONVS] *= HOT_MULTIPLIER
    conv = np.repeat(np.arange(n_convs, dtype=np.int64), lens)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    turn = np.arange(len(conv), dtype=np.int64) - np.repeat(starts, lens)
    n = len(conv)
    h = rng.integers(0, 2**62, size=n, dtype=np.int64)

    role = ROLES[h % 4]
    tool = np.where(role == "tool", TOOLS[h % 5], None)
    parts = [
        np.full(n, "turn ", dtype=object),
        WORDS[h % 10],
        np.full(n, " ", dtype=object),
        WORDS[(h // 10) % 10],
    ]
    for i in range(1, text_repeat):
        parts += [" " + WORDS[(h // (10 * i)) % 10], " " + WORDS[(h // (7 * i)) % 10]]
    for mod, phrase in TRIGGERS:
        parts.append(np.where(h % mod == 0, phrase, ""))
    parts.append(" n=" + (h % 100).astype(str).astype(object))
    text = parts[0]
    for p in parts[1:]:
        text = text + p

    # event time: conversations start across the span, turns 60 s apart
    conv_start = rng.integers(0, SPAN_S, size=n_convs)
    ts = BASE_EPOCH + conv_start[conv] + turn * 60 + (h >> 20) % 30
    delay = np.where(
        rng.random(n) < late_fraction, rng.integers(1, MAX_LATE_S + 1, size=n), 0
    )
    # a late turn holds back the rest of its conversation: running max of
    # (ts + delay) within each conversation (rows are grouped by conv)
    arrival = ts + delay
    arrival = _running_max_by_group(arrival, starts, lens)

    unique = np.ones(n, dtype=bool)
    dup = np.nonzero(rng.random(n) < dup_fraction)[0]
    if len(dup):
        idx = np.concatenate((np.arange(n), dup))
        arrival = np.concatenate((arrival, arrival[dup] + rng.integers(1, 60, size=len(dup))))
        unique = np.concatenate((unique, np.zeros(len(dup), dtype=bool)))
    else:
        idx = np.arange(n)
    order = np.lexsort((idx, arrival))
    idx = idx[order]
    return {
        "conv_id": np.array([f"conv_{c:08d}" for c in conv], dtype=object)[idx],
        "turn_idx": turn[idx].astype(np.int32),
        "role": role[idx],
        "text": text[idx],
        "tool": tool[idx],
        "ts": ts[idx],
        "arrival": arrival[order],
        "unique": unique[order],
    }


def _running_max_by_group(x: np.ndarray, starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    # offset each group by a large constant so one global cumulative max
    # never carries across a group boundary
    group = np.repeat(np.arange(len(lens)), lens)
    shift = (x.max() - x.min() + 1) * group
    return np.maximum.accumulate(x - x.min() + shift) - shift + x.min()


def table(cols: dict, lo: int = 0, hi: int | None = None) -> pa.Table:
    hi = len(cols["ts"]) if hi is None else hi
    return pa.table(
        {
            "conv_id": pa.array(cols["conv_id"][lo:hi], pa.string()),
            "turn_idx": pa.array(cols["turn_idx"][lo:hi], pa.int32()),
            "role": pa.array(cols["role"][lo:hi], pa.string()),
            "text": pa.array(cols["text"][lo:hi], pa.string()),
            "tool": pa.array(cols["tool"][lo:hi], pa.string()),
            "ts": pa.array(cols["ts"][lo:hi] * 1_000_000, pa.timestamp("us", tz="UTC")),
        },
        schema=SCHEMA,
    )


def write_files(cols: dict, out_dir: str, edges: list[int]) -> list[str]:
    """Write the rows as consecutive arrival-order slices, file ``k``
    holding rows ``edges[k]`` to ``edges[k + 1]``."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for k, (lo, hi) in enumerate(zip(edges[:-1], edges[1:])):
        paths.append(os.path.join(out_dir, f"part-{k:05d}.parquet"))
        pq.write_table(table(cols, lo, hi), paths[-1])
    return paths
