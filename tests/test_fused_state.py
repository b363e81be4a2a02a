"""The fused state pass: every streaming state op resolves through
``_join_fused_state``. A run of consecutive ops that share one key
expression folds in a SINGLE applyInPandasWithState (one exchange +
one state-store round-trip for N mechanisms), and a lone op takes the
same path. Only a lone Cache keeps its union resolver, the one path
that routes Set writes keyed differently from the Get.

Contract: streaming output equals the batch plans, fused or alone;
fusion must NOT engage across a key change or a dependency on a fused
op's output.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from osprey_spark.compiler import compile_ruleset
from osprey_spark.streaming.pipeline import StreamingRuleEngine
from osprey_spark.turns import TURN_BINDINGS, generate_turns, with_envelope


def _n_state_nodes(df) -> int:
    plan = df._jdf.queryExecution().analyzed().toString()
    return plan.count("FlatMapGroupsInPandasWithState")


def _stream_vs_batch(spark, tmp_path, sml, feature_cols):
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    os.makedirs(in_dir)
    t = generate_turns(spark, n_convs=8, turns_per_conv=10, hot_convs=0, late_fraction=0.0)
    t.filter(F.col("turn_idx") < 5).coalesce(1).write.mode("append").parquet(in_dir)
    t.filter(F.col("turn_idx") >= 5).coalesce(1).write.mode("append").parquet(in_dir)

    def rs():
        return compile_ruleset({"main.sml": sml}, bindings=TURN_BINDINGS)

    eng = StreamingRuleEngine(
        spark, rs(), in_dir, out_dir,
        passthrough=("conv_id", "turn_idx"), max_files_per_trigger=1,
    )
    eng.run_to_completion()
    assert len(eng.sink.committed_batches()) >= 2
    got = {
        (r["conv_id"], r["turn_idx"]): tuple(r[c] for c in feature_cols)
        for r in eng.results().collect()
    }
    batch = rs().apply(
        with_envelope(spark.read.parquet(in_dir)),
        passthrough=["conv_id", "turn_idx"],
    )
    want = {
        (r["conv_id"], r["turn_idx"]): tuple(r[c] for c in feature_cols)
        for r in batch.collect()
    }
    assert got == want and len(want) == 80
    return rs, in_dir


FUSED_SML = """
K: str = JsonData(path='$.conv_id')
Role: str = JsonData(path='$.role')
Ti: int = JsonData(path='$.turn_idx')
IsUser = Role == 'user'
NShort = IncrementWindow(key=K, window_seconds=120.0, when_all=[IsUser])
NLong = IncrementWindow(key=K, window_seconds=3600.0)
ToolSeq = SequenceMatches(key=K, symbol=Role, pattern='at', last_k=4, order=Ti)
Bursty = NShort >= 2
"""


def test_fused_run_single_state_pass(spark, tmp_path):
    """Two window counters + one CEP pattern on the same key: ONE
    FlatMapGroupsInPandasWithState in the streaming plan, outputs
    equal to batch for every mechanism."""
    rs, in_dir = _stream_vs_batch(
        spark, tmp_path, FUSED_SML, ["NShort", "NLong", "ToolSeq", "Bursty"]
    )
    stream = spark.readStream.schema(
        spark.read.parquet(in_dir).schema
    ).parquet(in_dir)
    out = rs().apply(with_envelope(stream), passthrough=["conv_id", "turn_idx"])
    assert _n_state_nodes(out) == 1


DEP_SML = """
K: str = JsonData(path='$.conv_id')
Role: str = JsonData(path='$.role')
N1 = IncrementWindow(key=K, window_seconds=3600.0)
N2 = IncrementWindow(key=K, window_seconds=3600.0, when_all=[N1 >= 2])
"""


def test_fusion_breaks_on_dependency(spark, tmp_path):
    """The second counter's gate reads the first counter's output, so
    the ops cannot share a pass — and Spark supports only ONE
    applyInPandasWithState per streaming query: apply() must raise
    the engine's actionable error (naming both groups) instead of
    failing deep inside Spark at query start. Batch is unaffected."""
    import pytest

    rs = compile_ruleset({"main.sml": DEP_SML}, bindings=TURN_BINDINGS)
    t = generate_turns(spark, n_convs=2, turns_per_conv=6, hot_convs=0)
    batch = rs.apply(with_envelope(t), passthrough=["conv_id", "turn_idx"])
    rows = batch.select("N1", "N2").collect()
    assert len(rows) == 12 and all(r.N1 >= r.N2 for r in rows)

    in_dir = str(tmp_path / "in")
    t.coalesce(1).write.parquet(in_dir)
    stream = spark.readStream.schema(t.schema).parquet(in_dir)
    with pytest.raises(ValueError, match="N1.*N2|2 stateful passes"):
        rs.apply(with_envelope(stream), passthrough=["conv_id", "turn_idx"])


KEYS_SML = """
K: str = JsonData(path='$.conv_id')
R: str = JsonData(path='$.role')
NConv = IncrementWindow(key=K, window_seconds=3600.0)
NRole = IncrementWindow(key=R, window_seconds=3600.0)
"""


def test_fusion_breaks_on_key_change(spark, tmp_path):
    """Different key expressions cannot share a grouping, which in
    streaming means an unrunnable 2-pass plan: apply() raises the
    engine error up front. Batch evaluates both counters fine."""
    import pytest

    rs = compile_ruleset({"main.sml": KEYS_SML}, bindings=TURN_BINDINGS)
    t = generate_turns(spark, n_convs=2, turns_per_conv=6, hot_convs=0)
    batch = rs.apply(with_envelope(t), passthrough=["conv_id", "turn_idx"])
    rows = batch.select("NConv", "NRole").collect()
    assert len(rows) == 12 and all(r.NRole >= 1 and r.NConv >= 1 for r in rows)

    in_dir = str(tmp_path / "in")
    t.coalesce(1).write.parquet(in_dir)
    stream = spark.readStream.schema(t.schema).parquet(in_dir)
    with pytest.raises(ValueError, match="stateful passes"):
        rs.apply(with_envelope(stream), passthrough=["conv_id", "turn_idx"])


def test_fused_state_survives_restart(spark, tmp_path):
    """Kill after batch 1, restart on the same checkpoint: the fused
    composite state (both counters + the suffix) resumes and the
    final outputs still match batch."""
    sml = FUSED_SML
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    os.makedirs(in_dir)
    t = generate_turns(spark, n_convs=4, turns_per_conv=8, hot_convs=0, late_fraction=0.0)

    def rs():
        return compile_ruleset({"main.sml": sml}, bindings=TURN_BINDINGS)

    t.filter(F.col("turn_idx") < 4).coalesce(1).write.mode("append").parquet(in_dir)
    eng = StreamingRuleEngine(
        spark, rs(), in_dir, out_dir, passthrough=("conv_id", "turn_idx")
    )
    eng.run_to_completion()
    t.filter(F.col("turn_idx") >= 4).coalesce(1).write.mode("append").parquet(in_dir)
    eng2 = StreamingRuleEngine(
        spark, rs(), in_dir, out_dir, passthrough=("conv_id", "turn_idx")
    )
    eng2.run_to_completion()
    got = {
        (r["conv_id"], r["turn_idx"]): (r["NShort"], r["NLong"], r["ToolSeq"])
        for r in eng2.results().collect()
    }
    batch = rs().apply(
        with_envelope(spark.read.parquet(in_dir)),
        passthrough=["conv_id", "turn_idx"],
    )
    want = {
        (r["conv_id"], r["turn_idx"]): (r["NShort"], r["NLong"], r["ToolSeq"])
        for r in batch.collect()
    }
    assert got == want and len(want) == 32


CACHE_FUSED_SML = """
K: str = JsonData(path='$.conv_id')
Role: str = JsonData(path='$.role')
Text: str = JsonData(path='$.text')
Ti: int = JsonData(path='$.turn_idx')
IsUser = Role == 'user'
N = IncrementWindow(key=K, window_seconds=600.0, when_all=[IsUser])
CacheSetStr(key=K, value=Text, when_all=[IsUser], ttl_seconds=3600.0)
LastUserText = CacheGetStr(key=K, default='none')
ToolSeq = SequenceMatches(key=K, symbol=Role, pattern='at', last_k=4, order=Ti)
"""


def test_cache_fuses_with_other_state_ops(spark, tmp_path):
    """All THREE state-op families on one key — counter, Redis-style
    cache pairing, CEP suffix — stream through a single
    applyInPandasWithState and match batch exactly (incl. the cache's
    zadd-then-read write/probe ordering across micro-batches)."""
    rs, in_dir = _stream_vs_batch(
        spark, tmp_path, CACHE_FUSED_SML, ["N", "LastUserText", "ToolSeq"]
    )
    stream = spark.readStream.schema(
        spark.read.parquet(in_dir).schema
    ).parquet(in_dir)
    out = rs().apply(with_envelope(stream), passthrough=["conv_id", "turn_idx"])
    assert _n_state_nodes(out) == 1


CACHE_ALONE_SML = """
K: str = JsonData(path='$.conv_id')
Text: str = JsonData(path='$.text')
IsUser = JsonData(path='$.role') == 'user'
CacheSetStr(key=K, value=Text, when_all=[IsUser], ttl_seconds=3600.0)
LastUserText = CacheGetStr(key=K, default='none')
"""


def test_single_cache_still_uses_standalone_resolver(spark, tmp_path):
    """A lone cache op keeps the vectorized union resolver (no fused
    wrapper) and still matches batch."""
    rs, in_dir = _stream_vs_batch(spark, tmp_path, CACHE_ALONE_SML, ["LastUserText"])
    stream = spark.readStream.schema(
        spark.read.parquet(in_dir).schema
    ).parquet(in_dir)
    out = rs().apply(with_envelope(stream), passthrough=["conv_id", "turn_idx"])
    assert _n_state_nodes(out) == 1


CACHE_CROSS_KEY_SML = """
K: str = JsonData(path='$.conv_id')
R: str = JsonData(path='$.role')
Text: str = JsonData(path='$.text')
CacheSetStr(key=R, value=Text, ttl_seconds=3600.0)
LastByRole = CacheGetStr(key=K, default='none')
N = IncrementWindow(key=K, window_seconds=600.0)
"""


def test_cross_key_cache_cannot_fuse(spark, tmp_path):
    """A cache whose writes key differently from its reads can only
    use the union resolver; combined with another state op that makes
    two passes -> the engine's actionable error."""
    import pytest

    rs = compile_ruleset({"main.sml": CACHE_CROSS_KEY_SML}, bindings=TURN_BINDINGS)
    t = generate_turns(spark, n_convs=2, turns_per_conv=6, hot_convs=0)
    in_dir = str(tmp_path / "in")
    t.coalesce(1).write.parquet(in_dir)
    stream = spark.readStream.schema(t.schema).parquet(in_dir)
    with pytest.raises(ValueError, match="stateful passes"):
        rs.apply(with_envelope(stream), passthrough=["conv_id", "turn_idx"])


CACHE_CROSS_KEY_ALONE_SML = """
K: str = JsonData(path='$.conv_id')
R: str = JsonData(path='$.role')
K2: str = JsonData(path='$.conv_id')
Text: str = JsonData(path='$.text')
CacheSetStr(key=K, value=Text, ttl_seconds=3600.0)
LastText = CacheGetStr(key={get_key}, default='none')
"""


@pytest.mark.parametrize("get_key", ["R", "K2"])
def test_cross_key_cache_alone_matches_batch(spark, tmp_path, get_key):
    """A lone Cache whose Set writes key differently from its Get is
    the one streaming state op outside the fused pass: the union
    resolver routes it, in one state pass, equal to batch. ``R`` (the
    role) never equals a written conv_id, so every probe misses;
    ``K2`` is a second feature with the conv_id values, so probes hit
    writes made under another key expression."""
    sml = CACHE_CROSS_KEY_ALONE_SML.replace("{get_key}", get_key)
    rs, in_dir = _stream_vs_batch(spark, tmp_path, sml, ["LastText"])
    stream = spark.readStream.schema(
        spark.read.parquet(in_dir).schema
    ).parquet(in_dir)
    out = rs().apply(with_envelope(stream), passthrough=["conv_id", "turn_idx"])
    assert _n_state_nodes(out) == 1
    hits = rs().apply(
        with_envelope(spark.read.parquet(in_dir)), passthrough=["conv_id"]
    ).filter(F.col("LastText") != "none").count()
    assert (hits > 0) == (get_key == "K2")


NEW_FAMILIES_SML = """
K: str = JsonData(path='$.conv_id')
Tool: str = JsonData(path='$.tool')
T: str = JsonData(path='$.text')
L: int = StringLength(s=T)
NTools = GetUniqueCount(key=K, value=Tool, cap=3)
MaxLen = GetWindowMax(key=K, value=L, window_seconds=600.0)
MinLen = GetWindowMin(key=K, value=L, window_seconds=600.0)
Rpt = SeenBefore(key=K, value=Tool)
N = IncrementWindow(key=K, window_seconds=600.0)
Heat = GetDecayScore(key=K, halflife_seconds=600.0)
"""

_NEW_COLS = ["NTools", "MaxLen", "MinLen", "Rpt", "N", "Heat"]


def test_new_families_fuse_into_one_pass(spark, tmp_path):
    """unique + max + min + seen-before + counter + decay on one
    key: SIX mechanisms, ONE FlatMapGroupsInPandasWithState, outputs equal to
    batch for every mechanism."""
    rs, in_dir = _stream_vs_batch(spark, tmp_path, NEW_FAMILIES_SML, _NEW_COLS)
    stream = spark.readStream.schema(
        spark.read.parquet(in_dir).schema
    ).parquet(in_dir)
    out = rs().apply(with_envelope(stream), passthrough=["conv_id", "turn_idx"])
    assert _n_state_nodes(out) == 1


def test_new_families_survive_restart(spark, tmp_path):
    """Kill after batch 1, restart on the same checkpoint: the
    composite state (first-seen map, in-window entries, two-smallest
    pairs, counter deque, decay amounts) resumes and final outputs match batch."""
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    os.makedirs(in_dir)
    t = generate_turns(
        spark, n_convs=4, turns_per_conv=8, hot_convs=0, late_fraction=0.0
    )

    def rs():
        return compile_ruleset(
            {"main.sml": NEW_FAMILIES_SML}, bindings=TURN_BINDINGS
        )

    t.filter(F.col("turn_idx") < 4).coalesce(1).write.mode("append").parquet(in_dir)
    eng = StreamingRuleEngine(
        spark, rs(), in_dir, out_dir, passthrough=("conv_id", "turn_idx")
    )
    eng.run_to_completion()
    t.filter(F.col("turn_idx") >= 4).coalesce(1).write.mode("append").parquet(in_dir)
    eng2 = StreamingRuleEngine(
        spark, rs(), in_dir, out_dir, passthrough=("conv_id", "turn_idx")
    )
    eng2.run_to_completion()
    got = {
        (r["conv_id"], r["turn_idx"]): tuple(r[c] for c in _NEW_COLS)
        for r in eng2.results().collect()
    }
    batch = rs().apply(
        with_envelope(spark.read.parquet(in_dir)),
        passthrough=["conv_id", "turn_idx"],
    )
    want = {
        (r["conv_id"], r["turn_idx"]): tuple(r[c] for c in _NEW_COLS)
        for r in batch.collect()
    }
    assert got == want and len(want) == 32


# --------------------------------------------------------------------------
# fifteenth family: GetBurstiness
# --------------------------------------------------------------------------

BURST_SML = """
K: str = JsonData(path='$.conv_id')
ConvB = GetBurstiness(key=K)
N = IncrementWindow(key=K, window_seconds=3600.0)
Metronome = ConvB < -0.9
"""


def test_burstiness_batch_known_answer(spark):
    """Per-event B over a hand series matches a python replica of the
    running gap moments, including the 0.0 cold default, the
    metronome -1 limit, and tie-group sharing."""
    import datetime as dt
    import json
    import math

    t0 = dt.datetime(2025, 1, 1)
    # conv a: events at 0,10,20,30 (metronome); conv b: 0,0,5 (tie)
    rows = []
    for cid, offs in [("a", [0, 10, 20, 30]), ("b", [0, 0, 5])]:
        for i, off in enumerate(offs):
            rows.append(
                (cid, i, "user", "x", None, t0 + dt.timedelta(seconds=off))
            )
    del json  # envelope is derived by with_envelope, not hand-built
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx long, role string, text string,"
        " tool string, ts timestamp",
    )
    rs = compile_ruleset({"main.sml": BURST_SML}, bindings=TURN_BINDINGS)
    out = rs.apply(with_envelope(df), passthrough=["conv_id", "turn_idx"])
    got = {
        (r["conv_id"], r["turn_idx"]): r["ConvB"] for r in out.collect()
    }

    def replica(gaps):
        if not gaps:
            return 0.0
        n = len(gaps)
        mu = sum(gaps) / n
        var = max(0.0, sum(g * g for g in gaps) / n - mu * mu)
        sig = math.sqrt(var)
        return round((sig - mu) / (sig + mu), 6) if sig + mu > 0 else 0.0

    assert got[("a", 0)] == 0.0
    assert got[("a", 1)] == replica([10]) == -1.0
    assert got[("a", 3)] == replica([10, 10, 10]) == -1.0
    # conv b: ties at sec 0 share one value (one zero gap), then gap 5
    assert got[("b", 0)] == got[("b", 1)] == replica([0]) == 0.0
    assert got[("b", 2)] == replica([0, 5])


def test_burstiness_fuses_and_matches_batch(spark, tmp_path):
    """GetBurstiness + IncrementWindow on one key: ONE state pass,
    streaming outputs equal to batch for every event."""
    rs, in_dir = _stream_vs_batch(
        spark, tmp_path, BURST_SML, ["ConvB", "N", "Metronome"]
    )
    stream = spark.readStream.schema(
        spark.read.parquet(in_dir).schema
    ).parquet(in_dir)
    out = rs().apply(with_envelope(stream), passthrough=["conv_id", "turn_idx"])
    assert _n_state_nodes(out) == 1


def test_burstiness_survives_restart(spark, tmp_path):
    """Kill after batch 1, restart a NEW engine on the same
    checkpoint: the four-int gap-moment state resumes and every
    post-restart B equals the batch value."""
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    os.makedirs(in_dir)
    t = generate_turns(
        spark, n_convs=4, turns_per_conv=8, hot_convs=0, late_fraction=0.0
    )

    def rs():
        return compile_ruleset({"main.sml": BURST_SML}, bindings=TURN_BINDINGS)

    t.filter(F.col("turn_idx") < 4).coalesce(1).write.mode("append").parquet(in_dir)
    eng = StreamingRuleEngine(
        spark, rs(), in_dir, out_dir, passthrough=("conv_id", "turn_idx")
    )
    eng.run_to_completion()
    t.filter(F.col("turn_idx") >= 4).coalesce(1).write.mode("append").parquet(in_dir)
    eng2 = StreamingRuleEngine(
        spark, rs(), in_dir, out_dir, passthrough=("conv_id", "turn_idx")
    )
    eng2.run_to_completion()
    got = {
        (r["conv_id"], r["turn_idx"]): (r["ConvB"], r["N"], r["Metronome"])
        for r in eng2.results().collect()
    }
    batch = rs().apply(
        with_envelope(spark.read.parquet(in_dir)),
        passthrough=["conv_id", "turn_idx"],
    )
    want = {
        (r["conv_id"], r["turn_idx"]): (r["ConvB"], r["N"], r["Metronome"])
        for r in batch.collect()
    }
    assert got == want and len(want) == 32
