"""The workloads: drains of a queued backlog through the streaming engine.

``drain_rules``  long-text turns through the 40-feature ``BENCH_SML``
                 ruleset and the exactly-once sink, no stateful family.
                 Rule projection and the sink write do most of the work; the
                 state layer does none. Its traced run also sends an
                 analyst's queries (``queries.py``) to the table it wrote.
``drain_state``  short-text turns (Zipf-hot conversations, a late fraction,
                 redeliveries) through a thin stateless ruleset plus the
                 fused stateful families and watermark ingest dedup. The
                 fused state pass (with its state store) and the sink
                 write are the largest layers; rule projection is nearly
                 free.

The backlog is queued as files, one micro-batch each: ``WARM_FILES`` small
ones, then files of ``file_rows`` turns, large enough that per-turn work and
not the fixed cost of a micro-batch dominates. The engine streams the
backlog with an ``availableNow`` trigger. The small batches warm up; the
measurement window starts at the last warm-up commit and ends with the
first commit ``--seconds`` later, where the query is stopped. Over the
batches committed in the window:

``turns_per_s``      distinct turns committed per second; the CPU seconds of
                     the driver JVM and its Python workers over the same
                     window are in the detail line.
``batch_p50_s``      median commit-to-commit interval of a micro-batch.
``peak_rss_mb``      peak memory of the driver JVM, its Python workers and
                     the driver process during a micro-batch, the median
                     over the window's batches: now and then one batch's
                     peak is over 1 GB above the others. The peak over the
                     whole stream is in the detail line.
``setup_s``          median CPU seconds of the driver process to compile the
                     ruleset and construct the engine, in the warmed-up
                     process; the median wall time and the CPU time of the
                     whole process tree are in the detail line.

A traced run (``trace_drain``) measures per-layer numbers instead.
"""

from __future__ import annotations

import collections
import contextlib
import gc
import math
import os
import shutil
import statistics
import threading
import time
from dataclasses import dataclass, field

import check
import gen
import harness
import rulesets
from harness import median, percentile
from tracing import NullTracer

DEDUP = {"dedup_ids": ("conv_id", "turn_idx"), "dedup_watermark": "10 minutes"}
SETUP_WARM = 2
SETUP_REPS = 9
# analyst query rounds (one of each kind) in a traced drain_rules run
TRACE_QUERY_ROUNDS = 1


@dataclass
class Result:
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    detail: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)
    warm_dir: str = ""
    trace_dir: str = ""
    tracer: object = None


class Bench:
    """What one run shares: the session, its scratch directory, the seed,
    the measurement window, the tracer and the batch-apply references the
    output checks compare with."""

    def __init__(self, spark, work, seed, seconds, references=None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = NullTracer()
        self.references = {} if references is None else references
        self.phases: dict[str, float] = {}
        self._n = 0

    @contextlib.contextmanager
    def phase(self, name: str):
        """Wall time of one phase of the run, reported with the result."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = self.phases.get(name, 0.0) + time.perf_counter() - t0

    def dir(self, tag: str) -> str:
        self._n += 1
        return os.path.join(self.work, f"{tag}-{self._n}")

    def compile(self, sml: str):
        from osprey_spark.compiler import compile_ruleset
        from osprey_spark.turns import TURN_BINDINGS

        return self.tracer.call(
            "compiler.compile_ruleset", compile_ruleset, {"main.sml": sml}, bindings=TURN_BINDINGS
        )

    def engine(self, rs, in_dir: str, **opts):
        """A ``StreamingRuleEngine`` taking one input file per micro-batch,
        whose sink counts the writes of every batch id and, when tracing,
        records spans around ``write_batch``, ``write_data`` and
        ``mark_commit``."""
        from osprey_spark.streaming.pipeline import StreamingRuleEngine

        eng = StreamingRuleEngine(self.spark, rs, in_dir, self.dir("out"), max_files_per_trigger=1, **opts)
        sink, t = eng.sink, self.tracer
        eng.writes = collections.Counter()
        eng.in_flight = threading.Semaphore(1)
        sink.write_data = t.wrap("sink.write_data", sink.write_data)
        sink.mark_commit = t.wrap("sink.mark_commit", sink.mark_commit)
        write_batch = sink.write_batch

        def counted(df, batch_id):
            eng.writes[batch_id] += 1
            with eng.in_flight, t.span("sink.write_batch"):
                write_batch(df, batch_id)

        sink.write_batch = counted
        return eng

    def setup(self, sml: str, in_dir: str, opts: dict) -> dict:
        """Set up the engine (compile the ruleset and construct the engine
        on it) in the warmed-up process, as a service does when it reloads
        its rules: ``SETUP_WARM`` untimed times, then ``SETUP_REPS`` timed
        ones. Returns the medians of one set-up's CPU seconds in the driver
        process (``cpu_s``), in the whole process tree (``tree_cpu_s``,
        which also catches the JVM's background threads) and its wall time
        (``wall_s``, mostly scheduling delay on a shared host)."""
        times = collections.defaultdict(list)
        for _ in range(SETUP_WARM + SETUP_REPS):
            gc.collect()  # so that no set-up pays for the garbage of the one before
            c0, tc0, t0 = time.process_time(), harness.tree_cpu_s(), time.perf_counter()
            eng = self.engine(self.compile(sml), in_dir, **opts)
            times["wall_s"].append(time.perf_counter() - t0)
            times["cpu_s"].append(time.process_time() - c0)
            times["tree_cpu_s"].append(harness.tree_cpu_s() - tc0)
            shutil.rmtree(eng.checkpoint_dir, ignore_errors=True)
        return {k: median(v[SETUP_WARM:]) for k, v in times.items()}


# ---------------------------------------------------------------------------
# drains


@dataclass
class DrainSpec:
    sml: str
    stateless_sml: str
    turns: dict
    file_rows: int  # rows of each input file after the warm-up files
    opts: dict


# Backlogs last beyond the warm-up batches and the measurement window of a
# 10 s run on a host twice as fast as the one they were tuned on.
DRAIN_RULES = DrainSpec(
    sml=rulesets.BENCH_SML,
    stateless_sml=rulesets.BENCH_SML,
    turns=dict(n_convs=10250, turns_per_conv=30, text_repeat=8, late_fraction=0.02),
    file_rows=60000,
    opts={},
)
DRAIN_STATE = DrainSpec(
    sml=rulesets.THIN_SML + rulesets.STATE_SML,
    stateless_sml=rulesets.THIN_SML,
    turns=dict(n_convs=20200, turns_per_conv=30, text_repeat=1, late_fraction=0.05, dup_fraction=0.01),
    file_rows=100000,
    opts=DEDUP,
)
# small batches before the measurement window: the first pays code
# generation, JIT and the Python workers
WARM_FILES = 2
WARM_ROWS = 5000
# large input files a traced run drains (untraced, traced, up the ladder
# and at local[1])
TRACE_FILES = 1


def write_input(seed: int, spec: DrainSpec, out_dir: str) -> dict:
    """Generate the seeded turns, write them as arrival-ordered files
    (``WARM_FILES`` of ``WARM_ROWS``, then files of ``file_rows``) with
    strictly increasing modification times (the file source orders by
    them), and describe the input."""
    cols = gen.make_turns(seed, **spec.turns)
    n = len(cols["ts"])
    edges = [k * WARM_ROWS for k in range(WARM_FILES)]
    edges += [*range(WARM_FILES * WARM_ROWS, n, spec.file_rows), n]
    paths = gen.write_files(cols, out_dir, edges)
    base = time.time() - len(paths)
    for k, p in enumerate(paths):
        os.utime(p, (base + k, base + k))
    out = {"turns": int(cols["unique"].sum()), "rows": n, "files": len(paths)}
    del cols  # large object arrays would slow every later garbage collection
    gc.collect()
    return out


def link_files(b: Bench, in_dir: str, names: list[str], tag: str) -> str:
    """A new input directory holding hard links to ``names`` of ``in_dir``."""
    out = b.dir(tag)
    os.makedirs(out)
    for f in names:
        os.link(os.path.join(in_dir, f), os.path.join(out, f))
    return out


def run_stream(b: Bench, rs, in_dir: str, opts: dict, seconds: float | None = None) -> dict:
    """Run the engine over the queued backlog in ``in_dir`` with an
    ``availableNow`` trigger. With ``seconds``, the first ``WARM_FILES``
    batches warm up, the window starts at the last warm-up commit and ends
    with the first commit ``seconds`` later, where the query is stopped;
    without, the backlog is drained and timed from the start of the query.
    The CPU time of the process tree and the peak memory since the
    previous commit are read as each commit appears."""
    eng = b.engine(rs, in_dir, **opts)
    warm = WARM_FILES if seconds is not None else 0
    t_start = time.time()
    cpu_at = {-1: harness.tree_cpu_s()}
    rss_at = {}  # batch id -> peak memory since the previous commit seen
    with harness.PeakRss() as rss:
        q = eng.start(available_now=True)
        t0 = t_start if warm == 0 else None
        while q.isActive:
            new = [i for i in eng.sink.committed_batches() if i not in cpu_at]
            if new:
                cpu, mb = harness.tree_cpu_s(), rss.take_mb()
                cpu_at.update((i, cpu) for i in new)
                rss_at.update((i, mb) for i in new)
            if t0 is None and warm - 1 in cpu_at:
                t0 = eng.sink.format.commit_metadata(warm - 1)["committed_at_unix"]
            if new and seconds is not None and t0 is not None and time.time() >= t0 + seconds:
                q.stop()  # right after a commit, so the next batch has barely begun
            time.sleep(0.05)
    error = None
    try:
        q.awaitTermination()
    except Exception as e:  # noqa: BLE001 - a failed stream is counted, not fatal
        error = repr(e)
    # a batch cut off by stop() may still be inside foreachBatch here
    if eng.in_flight.acquire(timeout=60):
        eng.in_flight.release()
    wait_idle(b.spark)
    commits = harness.commit_markers(eng.sink)
    cpu_at.update((i, harness.tree_cpu_s()) for i in commits if i not in cpu_at)
    # the window ends with the first commit at or after t0 + seconds
    end = t0 + seconds if seconds is not None and t0 is not None else math.inf
    window = []
    for i in sorted(commits):
        if i >= warm and (not window or commits[window[-1]]["committed_at_unix"] < end):
            window.append(i)
    commit_at = {i: c["committed_at_unix"] for i, c in commits.items()}
    commit_at[-1] = t_start
    last = window[-1] if window else warm - 1
    t0 = t_start if t0 is None else t0
    return {
        "engine": eng,
        "in_dir": in_dir,
        "run_id": str(q.runId),
        "t0": t0,
        "turns": sum(commits[i]["rows"] for i in window),
        "wall": commit_at.get(last, t_start) - t0,
        "cpu": cpu_at.get(last, 0.0) - cpu_at.get(warm - 1, 0.0),
        "batch_s": [commit_at[i] - commit_at[i - 1] for i in window if i - 1 in commit_at],
        "window": window,
        "rewritten": sum(n - 1 for n in eng.writes.values() if n > 1),
        "commits": commits,
        "consumed": harness.source_log(eng.checkpoint_dir),
        "batch_rss_mb": [rss_at[i] for i in window if i in rss_at],
        "peak_rss_mb": rss.peak_mb,
        "error": error,
    }


def rate(run: dict) -> float:
    return run["turns"] / run["wall"] if run["wall"] > 0 else 0.0


def wait_idle(spark, timeout: float = 30.0) -> None:
    """Wait until no Spark task runs: tasks of a batch interrupted by
    ``stop()`` end on their own time and would slow what is measured next."""
    tracker = spark.sparkContext._jsc.sc().statusTracker()
    deadline = time.time() + timeout
    while time.time() < deadline:
        if not any(e.numRunningTasks() for e in tracker.getExecutorInfos()):
            return
        time.sleep(0.05)


def check_runs(b: Bench, rs, runs: list[dict], res: Result) -> None:
    """Count each run's batches and failures, and compare its committed
    output with batch apply over exactly the input files its committed
    batches consumed. Runs over the same files share one reference."""
    for run in runs:
        res.attempted += len(run["commits"]) + (run["error"] is not None)
        res.failed += run["rewritten"] + (run["error"] is not None)
        if run["error"] is not None:
            res.problems.append(f"stream failed: {run['error']}")
            continue
        names = sorted(f for f, i in run["consumed"].items() if i in run["commits"])
        if not names:
            res.problems.append("no batch committed")
            continue
        if tuple(names) not in b.references:
            files = [os.path.join(run["in_dir"], f) for f in names]
            b.references[tuple(names)] = check.batch_reference(b.spark, rs, files, rulesets.STATE_FEATURES)
        columns, reference = b.references[tuple(names)]
        res.problems += check.check_stream_output(run["engine"].results(), columns, reference, reference[0])


def measure_drain(b: Bench, spec: DrainSpec) -> Result:
    """Stream the queued backlog for the measurement window (after the
    warm-up batches), set up the engine ``SETUP_REPS`` times for
    ``setup_s``, then check the committed output."""
    res = Result()
    in_dir = b.dir("input")
    with b.phase("input"):
        res.detail["input"] = write_input(b.seed, spec, in_dir)
    rs = b.compile(spec.sml)
    with b.phase("measure"):
        run = run_stream(b, rs, in_dir, spec.opts, b.seconds)
    if not run["window"] or run["wall"] <= 0:
        res.problems.append("no batch committed in the measurement window")
    else:
        res.e2e["turns_per_s"] = rate(run)
        res.e2e["batch_p50_s"] = percentile(run["batch_s"], 50)
    res.e2e["peak_rss_mb"] = median(run["batch_rss_mb"])
    res.detail["window"] = {"batches": len(run["window"]), "turns": run["turns"], "wall_s": run["wall"], "cpu_s": run["cpu"]}
    res.detail["batch_s"] = harness.summary(run["batch_s"])
    res.detail["rss_mb"] = {"batches": run["batch_rss_mb"], "stream_peak": run["peak_rss_mb"]}
    with b.phase("setup"):
        setup = b.setup(spec.sml, in_dir, spec.opts)
    res.e2e["setup_s"] = setup["cpu_s"]
    res.detail["setup"] = setup
    with b.phase("check"):
        check_runs(b, rs, [run], res)
    return res


# ---------------------------------------------------------------------------
# the traced run


def trace_drain(b: Bench, spec: DrainSpec, analyst: bool) -> Result:
    """Per-layer numbers of a drain. After a warm-up drain of the small
    files and the first large one (a session's first large batch runs
    slower than later ones), the next ``TRACE_FILES`` large files are
    drained three times: untraced; with spans, a streaming query listener
    and the Spark event log turned on; and untraced again. The drains are timed alike, from the start of the
    query to its last commit; ``trace.overhead_frac`` is the mean untraced
    throughput over the traced one, minus 1, and
    ``trace.overhead_cpu_frac`` the same for turns per CPU second. The
    traced drain gives the per-batch layer numbers and, with ``analyst``,
    the table an analyst's queries run over; the set-ups before it give
    ``compiler.compile_s``.
    The attribution ladder runs over the same files at the end."""
    from tracing import EventLog, ProgressRecorder, Tracer, executor_counters

    res = Result()
    in_dir = b.dir("input")
    with b.phase("input"):
        res.detail["input"] = write_input(b.seed, spec, in_dir)
    files = sorted(os.listdir(in_dir))
    res.warm_dir = link_files(b, in_dir, files[: WARM_FILES + 1], "warm-input")
    res.trace_dir = link_files(b, in_dir, files[WARM_FILES + 1 : WARM_FILES + 1 + TRACE_FILES], "trace-input")
    rs = b.compile(spec.sml)
    with b.phase("warm"):
        warm = run_stream(b, rs, res.warm_dir, spec.opts)
    with b.phase("untraced"):
        plain = [run_stream(b, rs, res.trace_dir, spec.opts)]

    recorder = ProgressRecorder()
    b.spark.streams.addListener(recorder)
    events = EventLog(b.spark, os.path.join(b.work, "eventlog")).attach()
    t = res.tracer = b.tracer = Tracer()
    with b.phase("setup"):
        b.setup(spec.sml, res.trace_dir, spec.opts)
    with b.phase("traced"):
        since = time.time()
        traced = run_stream(b, rs, res.trace_dir, spec.opts)
    L = res.layers
    stream_layers(b, recorder, traced, res, since)
    L["state.max_keys_per_partition"] = max_keys_per_partition(b, traced)
    queried = None
    if analyst:
        with b.phase("queries"):
            queried = query_layers(b, traced["engine"].sink, res)
    events.detach()
    b.spark.streams.removeListener(recorder)
    b.tracer = NullTracer()

    with b.phase("untraced"):
        plain.append(run_stream(b, rs, res.trace_dir, spec.opts))
    untraced = statistics.mean(rate(r) for r in plain)
    res.detail["untraced_turns_per_s"] = [rate(r) for r in plain]
    res.detail["traced_turns_per_s"] = rate(traced)
    if rate(traced) > 0:
        L["trace.overhead_frac"] = untraced / rate(traced) - 1.0
    # the same per CPU second, which the host's other tenants move less
    per_cpu = [r["turns"] / r["cpu"] if r["cpu"] > 0 else 0.0 for r in (*plain, traced)]
    if per_cpu[-1] > 0:
        L["trace.overhead_cpu_frac"] = statistics.mean(per_cpu[:-1]) / per_cpu[-1] - 1.0
    with b.phase("ladder"):
        L.update(run_ladder(b, spec, rs, res.trace_dir))

    L["compiler.compile_s"] = median(t.durations("compiler.compile_ruleset"))
    L["trace.spans"] = float(len(t.spans))
    counters = executor_counters(os.path.join(b.work, "eventlog"), [traced["run_id"]])
    for k in ("shuffle_write_bytes", "shuffle_read_bytes", "input_bytes", "executor_cpu_s", "gc_s", "task_skew"):
        L[f"spark.{k}"] = float(counters[k])
    res.detail["self_time_s"] = t.self_times()
    res.detail["untraced_mean_turns_per_s"] = untraced
    with b.phase("check"):
        check_runs(b, rs, [warm, *plain, traced], res)
        if queried is not None:
            res.attempted += len(queried.answers) + len(queried.errors)
            res.failed += len(queried.errors)
            res.problems += queried.problems()
    return res


def stream_layers(b: Bench, recorder, run: dict, res: Result, since: float) -> None:
    """Per-batch layer numbers of a traced drain: Spark's own per-batch
    durations and state-operator metrics, the sink spans and commit
    markers, and the split of each file's time to verdict into queue wait
    (queued to batch start) and processing (batch start to commit)."""
    progress = recorder.for_runs([run["run_id"]], min_batches=len(run["commits"]))
    L = res.layers

    def per_batch(value):
        return median([value(p) for p in progress])

    def state(p, key):
        return sum(s[key] or 0 for s in p["state"])

    d = "durations"
    L["compiler.plan_ms"] = per_batch(lambda p: p[d].get("queryPlanning", 0))
    L["sources.list_ms"] = per_batch(lambda p: p[d].get("latestOffset", 0) + p[d].get("getBatch", 0))
    L["streaming.add_batch_ms"] = per_batch(lambda p: p[d].get("addBatch", 0))
    L["streaming.wal_commit_ms"] = per_batch(lambda p: p[d].get("walCommit", 0))
    L["streaming.commit_offsets_ms"] = per_batch(lambda p: p[d].get("commitOffsets", 0))
    L["streaming.batch_p50_s"] = per_batch(lambda p: p[d].get("triggerExecution", 0)) / 1e3
    L["state.commit_ms"] = per_batch(lambda p: state(p, "commit_ms"))
    L["state.update_ms"] = per_batch(lambda p: state(p, "update_ms"))
    if progress:
        last = max(progress, key=lambda p: p["batch_id"])
        L["state.rows"] = float(state(last, "rows"))
        L["state.bytes"] = float(state(last, "bytes"))
    rows_in = sum(p["rows"] for p in progress)
    rows_out = sum(c.get("rows", 0) for c in run["commits"].values())
    L["dedup.dropped_rows"] = float(rows_in - rows_out)
    L["dedup.kept_ratio"] = rows_out / rows_in if rows_in else 0.0
    parts = [c.get("partitions", {}).values() for c in run["commits"].values()]
    L["sink.files"] = median([sum(p["files"] for p in ps) for ps in parts])
    L["sink.bytes"] = median([sum(p["bytes"] for p in ps) for ps in parts])
    commits = b.tracer.durations("sink.mark_commit", since)
    writes = b.tracer.durations("sink.write_data", since)
    L["sink.commit_s"] = median(commits)
    L["sink.writes_per_commit"] = len(commits) / len(writes) if writes else 0.0
    start = {p["batch_id"]: p["start"] for p in progress}
    wait, proc = [], []
    for f, i in run["consumed"].items():
        if i in start and i in run["commits"]:
            wait.append(start[i] - run["t0"])
            proc.append(run["commits"][i]["committed_at_unix"] - start[i])
    L["streaming.queue_wait_s"] = median(wait)
    L["streaming.process_s"] = median(proc)


def query_layers(b: Bench, sink, res: Result):
    """Per-layer times of an analyst's closed loop over ``sink``'s table:
    one warm-up round, then ``TRACE_QUERY_ROUNDS`` traced rounds."""
    from queries import KINDS, METRICS, Analyst

    analyst = Analyst(b.spark, sink, b.seed, b.tracer)
    analyst.rounds(1)
    since = time.time()
    analyst.rounds(TRACE_QUERY_ROUNDS)
    t = b.tracer
    for kind, metric in zip(KINDS, METRICS):
        res.layers[f"analytics.{metric}"] = median(t.durations(f"analytics.{kind}", since))
    res.layers["compiler.query_filter_s"] = median(t.durations("compiler.query_filter", since))
    res.layers["sink.read_s"] = median(t.durations("sink.read_committed", since))
    return analyst


def max_keys_per_partition(b: Bench, run: dict) -> float:
    from osprey_spark.streaming.inspect import state_summary

    try:
        rows = state_summary(b.spark, run["engine"].checkpoint_dir).collect()
    except ValueError:  # no stateful operator in this query
        return 0.0
    return float(max(r["max_keys_per_partition"] for r in rows))


def run_ladder(b: Bench, spec: DrainSpec, rs, in_dir: str) -> dict:
    """Attribute a drain's time to layers by difference: the same input up
    a ladder of streaming queries, each adding one layer to the one below
    (read -> +dedup -> +envelope -> +stateless rules -> +fused state ->
    +sink write_data -> +mark_commit). A layer the workload does not have
    gets no rung and reports 0."""
    from osprey_spark.sources import read_turns
    from osprey_spark.turns import with_envelope

    stateless = b.compile(spec.stateless_sml)
    dedup_ids = spec.opts.get("dedup_ids")

    def source(dedup: bool = True):
        s = read_turns(b.spark, in_dir, streaming=True, maxFilesPerTrigger="1")
        if dedup_ids:
            s = s.withWatermark("ts", spec.opts["dedup_watermark"])
            if dedup:
                s = s.dropDuplicatesWithinWatermark(list(dedup_ids))
        return s

    def noop(df):
        t0 = time.perf_counter()
        (
            df.writeStream.foreachBatch(lambda d, _: d.write.format("noop").mode("overwrite").save())
            .option("checkpointLocation", b.dir("ladder-ckpt"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        return time.perf_counter() - t0

    def engine(commit: bool):
        eng = b.engine(rs, in_dir, **spec.opts)
        if not commit:
            eng.sink.write_batch = eng.sink.write_data
        t0 = time.perf_counter()
        eng.start(available_now=True).awaitTermination()
        return time.perf_counter() - t0

    pt = check.PASSTHROUGH
    rungs = [
        ("sources.read_s", lambda: noop(source(dedup=False))),
        ("dedup.pass_s", (lambda: noop(source())) if dedup_ids else None),
        ("turns.envelope_s", lambda: noop(with_envelope(source()))),
        ("compiler.rules_s", lambda: noop(stateless.apply(with_envelope(source()), passthrough=pt))),
        ("state.pass_s", (lambda: noop(rs.apply(with_envelope(source()), passthrough=pt))) if spec.sml != spec.stateless_sml else None),
        ("sink.write_s", lambda: engine(commit=False)),
        ("sink.mark_commit_s", lambda: engine(commit=True)),
    ]
    out, below = {}, 0.0
    for name, run in rungs:
        if run is None:
            out[name] = 0.0
            continue
        t = run()
        out[name], below = t - below, t
    out["ladder.total_s"] = below
    return out
