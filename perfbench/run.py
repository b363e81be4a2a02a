"""Benchmark of the osprey_spark streaming rule engine and its analytics.

Run from the root of a checkout:

    python3 perfbench/run.py --workload drain_rules --seed 1 --seconds 10 --trace 0

The workloads and metrics are declared in ``BENCHMARK.json`` at the root;
``workloads.py`` says what each workload does and why. The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (every end-to-end metric with ``--trace 0``, every per-layer
metric with ``--trace 1``). The line before it describes the host (core
count, Spark, pyarrow and pandas versions) and the run's distributions,
with sample counts.

A traced run warms up and drains a fixed slice of the input three times:
untraced, with spans around the benchmark's calls into the program, a
streaming query listener and the Spark event log turned on, and untraced
again; the relative difference of the throughputs is
``trace.overhead_frac``. On ``drain_rules`` an analyst's queries run over
the table the traced drain wrote. Then the attribution ladder runs over the
slice and, on ``drain_rules``, a ``local[1]`` drain of it gives
``scaling.efficiency``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    try:
        import osprey_spark  # the program under test, from this checkout
    except ImportError as e:
        print(f"cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(osprey_spark.__file__).startswith(ROOT + os.sep):
        print(f"osprey_spark imported from outside {ROOT}", file=sys.stderr)
        return 2
    os.environ["TZ"] = "UTC"
    time.tzset()

    import harness
    import workloads

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run(args, work, harness, workloads)
    finally:
        harness.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = res.layers if args.trace else res.e2e
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted}
    for p in res.problems:
        print(f"check failed: {p}", file=sys.stderr)
    print(json.dumps({"host": {"nproc": harness.cores(), **harness.versions()}, "workload": args.workload,
                      "seed": args.seed, "trace": args.trace, "detail": res.detail}, default=str))
    print(json.dumps({"correct": not res.problems, "attempted": max(res.attempted, 1),
                      "failed": res.failed, "metrics": metrics}))
    return 0


def run(args, work, harness, workloads):
    n = harness.cores()
    t0 = time.perf_counter()
    spark = harness.build_spark(work, f"local[{n}]")
    session_s = time.perf_counter() - t0
    b = workloads.Bench(spark, work, args.seed, args.seconds)
    spec = workloads.DRAIN_RULES if args.workload == "drain_rules" else workloads.DRAIN_STATE
    try:
        if args.trace:
            res = workloads.trace_drain(b, spec, analyst=args.workload == "drain_rules")
        else:
            res = workloads.measure_drain(b, spec)
    finally:
        spark.stop()
    res.detail["phase_s"] = {"session": session_s, **b.phases}
    if not args.trace:
        return res
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    res.tracer.dump(os.path.join(out, f"spans-{args.workload}-{args.seed}.jsonl"))
    if args.workload == "drain_rules":
        res.layers["scaling.efficiency"] = scaling(args, work, harness, workloads, b, res, n)
    return res


def scaling(args, work, harness, workloads, b, res, n: int) -> float:
    """Turns/s at local[n] over n times turns/s at local[1]. The local[n]
    side is the traced run's untraced drains; the local[1] side drains the
    same files in the same JVM after the same warm-up batches, so the
    generated code and the JIT are equally warm."""
    t0 = time.perf_counter()
    spark = harness.build_spark(work, "local[1]")
    spec = workloads.DRAIN_RULES
    try:
        one = workloads.Bench(spark, work, args.seed, args.seconds, b.references)
        rs = one.compile(spec.sml)
        runs = [workloads.run_stream(one, rs, d, spec.opts) for d in (res.warm_dir, res.trace_dir)]
        workloads.check_runs(one, rs, runs, res)
    finally:
        spark.stop()
    res.detail["phase_s"]["local1"] = time.perf_counter() - t0
    rate = workloads.rate(runs[1])
    if rate <= 0:
        return 0.0
    res.detail["turns_per_s_local1"] = rate
    return res.detail["untraced_mean_turns_per_s"] / (n * rate)


if __name__ == "__main__":
    sys.exit(main())
