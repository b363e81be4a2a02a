"""Adaptive state-bucket resolution (round-5: the 1024 constant becomes
plan-time ``max(32*cores, ceil(n_keys/4096))`` with env pin and a
checkpoint-stability guard — streaming/buckets.py)."""

import json
import os
import re

import pytest

from osprey_spark.streaming.buckets import (
    BUCKETS_PER_CORE,
    STATE_LAYOUT,
    record_bucket_count,
    recorded_bucket_count,
    state_bucket_count,
)


def test_env_pin_wins(monkeypatch):
    monkeypatch.setenv("OSPREY_WC_STATE_BUCKETS", "77")
    assert state_bucket_count() == 77
    assert state_bucket_count(n_keys=10**9) == 77


def test_scales_with_session_cores(spark, monkeypatch):
    monkeypatch.delenv("OSPREY_WC_STATE_BUCKETS", raising=False)
    cores = spark.sparkContext.defaultParallelism
    assert state_bucket_count() == BUCKETS_PER_CORE * cores


def test_key_cardinality_raises_floor(spark, monkeypatch):
    monkeypatch.delenv("OSPREY_WC_STATE_BUCKETS", raising=False)
    floor = BUCKETS_PER_CORE * spark.sparkContext.defaultParallelism
    assert state_bucket_count(n_keys=1) == floor
    # 100M keys need > floor buckets to keep per-bucket maps bounded
    assert state_bucket_count(n_keys=100_000_000) == max(floor, 24415)


def test_sidecar_records_once(tmp_path):
    ck = str(tmp_path / "ckpt")
    assert recorded_bucket_count(ck) is None
    first = record_bucket_count(ck, 512)
    assert first == 512
    # later calls (even with a different resolution) return the record
    assert record_bucket_count(ck, 2048) == 512
    assert recorded_bucket_count(ck) == 512


_SML = (
    "TurnText: str = JsonData(path='$.text', required=False)\n"
    "R = Rule(when_all=[StringContains(s=TurnText, phrase='x')], description='d')\n"
    "WhenRules(rules_any=[R], then=[DeclareVerdict(verdict='v')])\n"
)


def _engine(spark, out):
    from osprey_spark.compiler import compile_ruleset
    from osprey_spark.streaming.pipeline import StreamingRuleEngine
    from osprey_spark.turns import TURN_BINDINGS

    rs = compile_ruleset({"main.sml": _SML}, bindings=TURN_BINDINGS)
    return StreamingRuleEngine(spark, rs, input_dir="unused", output_dir=out)


def test_engine_refuses_resized_restart(spark, tmp_path, monkeypatch):
    """Resuming a checkpoint under a different resolved bucket count
    must fail loudly, not silently strand state."""
    monkeypatch.setenv("OSPREY_WC_STATE_BUCKETS", "64")
    out = str(tmp_path / "out")
    eng = _engine(spark, out)
    assert recorded_bucket_count(eng.checkpoint_dir) == 64
    monkeypatch.setenv("OSPREY_WC_STATE_BUCKETS", "128")
    with pytest.raises(ValueError, match="64"):
        _engine(spark, out)


def test_engine_refuses_other_state_layout(spark, tmp_path, monkeypatch):
    """A checkpoint whose sidecar records no state layout (written
    before layouts were versioned) or another layout holds state the
    compiled ops cannot read: the engine must refuse to resume it."""
    monkeypatch.setenv("OSPREY_WC_STATE_BUCKETS", "64")
    out = str(tmp_path / "out")
    ck = _engine(spark, out).checkpoint_dir
    sidecar = os.path.join(ck, "state_buckets.json")
    with open(sidecar) as f:
        assert json.load(f) == {"state_buckets": 64, "state_layout": STATE_LAYOUT}
    _engine(spark, out)  # same layout resumes
    for rec in ({"state_buckets": 64}, {"state_buckets": 64, "state_layout": STATE_LAYOUT + 1}):
        with open(sidecar, "w") as f:
            json.dump(rec, f)
        with pytest.raises(ValueError, match=f"checkpoint {re.escape(ck)} .*state layout"):
            _engine(spark, out)


def test_engine_refuses_progress_without_sidecar(spark, tmp_path, monkeypatch):
    """Spark progress (offsets/ or commits/) but no sidecar: the bucket
    count and layout the state was written with are unknown, so the
    engine refuses rather than adopting the current ones."""
    monkeypatch.setenv("OSPREY_WC_STATE_BUCKETS", "64")
    for sub in ("offsets", "commits"):
        out = str(tmp_path / sub)
        ck = os.path.join(out, "_checkpoint")
        os.makedirs(os.path.join(ck, sub))
        with pytest.raises(ValueError, match=f"checkpoint {re.escape(ck)} has Spark progress"):
            _engine(spark, out)
        assert recorded_bucket_count(ck) is None  # refusal records nothing
