"""Tracing from the benchmark's side of the program's public API.

Spans are kept in memory (name, start, end, parent) and written out at the
end. Nothing here reaches inside ``osprey_spark``: spans wrap the calls the
benchmark makes, and the engine's sink methods are wrapped on the sink
instance the benchmark created. Spark's own per-batch timings come from a
``StreamingQueryListener``, executor counters from a Spark event log that
is attached to the running session only while tracing is on.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    enabled = True

    def __init__(self):
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._ids = 0

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            self._ids += 1
            sid = self._ids
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            stack.pop()
            rec = {"id": sid, "name": name, "start": start, "end": end, "parent": parent}
            with self._lock:
                self.spans.append(rec)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def call(self, name: str, fn, *args, **kwargs):
        with self.span(name):
            return fn(*args, **kwargs)

    def durations(self, name: str, since: float = 0.0) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["start"] >= since]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: each span's duration minus the
        part of it its child spans cover."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, last = 0.0, s["start"]
            for c in sorted(children.get(s["id"], ()), key=lambda c: c["start"]):
                lo, hi = max(c["start"], last), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    last = hi
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - covered)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


class NullTracer:
    """Tracing off: calls go straight through."""

    enabled = False

    def span(self, name: str):
        return contextlib.nullcontext()

    def wrap(self, name: str, fn):
        return fn

    def call(self, name: str, fn, *args, **kwargs):
        return fn(*args, **kwargs)


class ProgressRecorder(StreamingQueryListener):
    """Keeps every micro-batch's progress (durations, state operators) in
    memory, keyed by query run id."""

    def __init__(self):
        self.progress: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        rec = {
            "run_id": str(p.runId),
            "batch_id": p.batchId,
            "start": _iso_to_unix(p.timestamp),
            "rows": p.numInputRows,
            "durations": dict(p.durationMs or {}),
            "state": [
                {
                    "commit_ms": so.commitTimeMs,
                    "update_ms": so.allUpdatesTimeMs,
                    "rows": so.numRowsTotal,
                    "bytes": so.memoryUsedBytes,
                }
                for so in (p.stateOperators or [])
            ],
        }
        with self._lock:
            self.progress.append(rec)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def for_runs(self, run_ids, min_batches: int = 0, timeout: float = 10.0) -> list[dict]:
        """Progress of the given runs' data batches; waits (the listener
        bus is asynchronous) until ``min_batches`` have arrived."""
        run_ids = set(run_ids)
        deadline = time.time() + timeout
        while True:
            with self._lock:
                got = [p for p in self.progress if p["run_id"] in run_ids and p["rows"]]
            if len(got) >= min_batches or time.time() > deadline:
                return got
            time.sleep(0.1)


def _iso_to_unix(ts: str) -> float:
    from datetime import datetime, timezone

    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


class EventLog:
    """A Spark event log written to ``directory`` from ``attach()`` to
    ``detach()``. Spark's own ``spark.eventLog.enabled`` can only be set
    when the session starts; attaching the listener to the running session
    keeps the untraced part of a run free of its cost."""

    def __init__(self, spark, directory: str):
        sc = spark.sparkContext._jsc.sc()
        jvm = spark.sparkContext._jvm
        os.makedirs(directory, exist_ok=True)
        conf = sc.conf().clone().set("spark.eventLog.compress", "false")
        self._bus = sc.listenerBus()
        self._listener = jvm.org.apache.spark.scheduler.EventLoggingListener(
            sc.applicationId(), jvm.scala.Option.apply(None), jvm.java.net.URI("file://" + directory),
            conf, sc.hadoopConfiguration(),
        )

    def attach(self) -> "EventLog":
        self._listener.start()
        self._bus.addToEventLogQueue(self._listener)
        return self

    def detach(self) -> None:
        """Flush the events posted so far, then close the log."""
        self._bus.waitUntilEmpty(60_000)
        self._bus.removeListener(self._listener)
        self._listener.stop()


def executor_counters(eventlog_dir: str, job_groups) -> dict:
    """Executor counters of the tasks of jobs in ``job_groups``, from the
    Spark event log (complete once it is detached)."""
    job_groups = set(job_groups)
    stages: set[int] = set()
    tasks: list[tuple[int, float, dict]] = []
    for path in sorted(glob.glob(eventlog_dir + "/**/*", recursive=True)):
        if os.path.isdir(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    if (ev.get("Properties") or {}).get("spark.jobGroup.id") in job_groups:
                        stages.update(ev.get("Stage IDs", ()))
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    tasks.append((ev["Stage ID"], info["Finish Time"] - info["Launch Time"], m))
    out = {"shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "input_bytes": 0, "executor_cpu_s": 0.0, "gc_s": 0.0}
    by_stage: dict[int, list[float]] = {}
    for stage, dur, m in tasks:
        if stage not in stages:
            continue
        by_stage.setdefault(stage, []).append(float(dur))
        sw, sr = m.get("Shuffle Write Metrics") or {}, m.get("Shuffle Read Metrics") or {}
        out["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
        out["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        out["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        out["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        out["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    # skew of a stage = its longest task over its median task, weighted by
    # the stage's task time so it speaks for the stages the time goes to
    num = den = 0.0
    for durs in by_stage.values():
        med = statistics.median(durs)
        if len(durs) > 1 and med > 0:
            num += max(durs) / med * sum(durs)
            den += sum(durs)
    out["task_skew"] = num / den if den else 1.0
    out["tasks"] = sum(len(d) for d in by_stage.values())
    return out
