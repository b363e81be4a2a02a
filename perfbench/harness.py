"""Shared machinery: the Spark session, the engine under test, peak memory,
the checkpoint source log, commit markers and percentile summaries."""

from __future__ import annotations

import glob
import json
import os
import signal
import statistics
import subprocess
import threading
import time

import numpy as np


def cores() -> int:
    """The real core count this process may use (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def versions() -> dict:
    import pandas
    import pyarrow
    import pyspark

    return {
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
    }


def build_spark(work: str, master: str):
    """A session on ``master`` whose scratch and temp files all stay under
    ``work``: the environment this process passes to the JVMs
    it launches points their temp files there and turns off the JVM's
    performance-data file, which would go to the system temp directory."""
    from osprey_spark.session import build_session

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    conf = {
        "spark.driver.memory": "1g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.streaming.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    return build_session("perfbench", master=master, extra_conf=conf)


def stop_jvm(timeout: float = 60.0) -> None:
    """End the driver JVM this process launched and wait until it and
    every process it started (the Python workers) have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    descendants = _descendants(proc.pid)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + timeout
    for pid in descendants:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, signal.SIGKILL)


class PeakRss:
    """Samples the resident memory of this process and all its descendants
    (the driver JVM, its only child, and the Python workers the JVM forks)
    and keeps the peak. Forked Python workers count their proportional set
    size, so the pages they share are counted once, not once per worker.
    The JVM and this process share nothing with the others and count their
    resident set size, which is far cheaper to read: the kernel computes a
    process's proportional set size by walking its page tables, which for
    the driver JVM costs about as much CPU as the rest of a sample
    together."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_kb = 0
        self._period_kb = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            children = _processes()[0]
            kb = _rss_kb(me)
            for jvm in children.get(me, ()):
                kb += _rss_kb(jvm) + sum(_pss_kb(p) for p in _descendants(jvm, children))
            with self._lock:
                self.peak_kb = max(self.peak_kb, kb)
                self._period_kb = max(self._period_kb, kb)
            self._stop.wait(self.interval)

    def take_mb(self) -> float:
        """The peak since the previous call (or the start), in MB."""
        with self._lock:
            kb, self._period_kb = self._period_kb, 0
        return kb / 1024.0

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") // 1024
    except OSError:  # the process has exited
        return 0


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:  # the process has exited
        pass
    return 0


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants,
    including descendants that have already exited and been reaped."""
    children, cpu = _processes()
    return sum(cpu.get(p, 0.0) for p in [os.getpid(), *_descendants(os.getpid(), children)])


def _processes() -> tuple[dict[int, list[int]], dict[int, float]]:
    """Children of every process, and every process's CPU seconds (its
    own and its reaped children's)."""
    children: dict[int, list[int]] = {}
    cpu: dict[int, float] = {}
    tick = os.sysconf("SC_CLK_TCK")
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(stat.split("/")[2])
        children.setdefault(int(fields[1]), []).append(pid)
        cpu[pid] = sum(int(x) for x in fields[11:15]) / tick
    return children, cpu


def _descendants(root: int, children: dict[int, list[int]] | None = None) -> list[int]:
    if children is None:
        children = _processes()[0]
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def source_log(checkpoint: str) -> dict[str, int]:
    """File name -> the micro-batch that consumed it, from the file
    source's log in the checkpoint (``sources/0/<batchId>``, and the
    ``<batchId>.compact`` files that fold earlier batches' entries in)."""
    out: dict[str, int] = {}
    for p in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        name = os.path.basename(p)
        if not (name.isdigit() or name.endswith(".compact")):
            continue
        with open(p) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    entry = json.loads(line)
                    out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def commit_markers(sink) -> dict[int, dict]:
    """Batch id -> commit marker of every committed batch of ``sink``."""
    return {b: sink.format.commit_metadata(b) for b in sink.committed_batches()}


def percentile(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q))


def summary(values) -> dict:
    """Median, p90, the highest percentile with at least ten samples
    beyond it, and the sample count."""
    vals = [float(v) for v in values]
    n = len(vals)
    out = {"n": n}
    if not n:
        return out
    out["p50"] = percentile(vals, 50)
    out["p90"] = percentile(vals, 90)
    supported = [q for q in (50, 90, 95, 99, 99.9) if n * (1 - q / 100.0) >= 10]
    if supported:
        out["highest_supported"] = f"p{supported[-1]:g}"
        out[out["highest_supported"]] = percentile(vals, supported[-1])
    return out


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0
