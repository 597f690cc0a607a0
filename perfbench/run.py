"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root.  ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` reports the per-layer metrics of a traced pass and
writes its spans under ``.perfbench/spans/``.  The exit code is 0 only if
every output check passed.  ``--tiny`` shrinks the inputs for the
self-tests.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

CHECKOUT = os.getcwd()
sys.path.insert(0, CHECKOUT)

from perfbench import harness  # noqa: E402
from perfbench.layers import LAYERS, PER_LAYER  # noqa: E402

SETUPS = 5

END_TO_END = ("setup_s", "run_s", "items_per_s", "peak_rss_mb")


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _metric(value, unit):
    return {"value": value, "unit": unit}


def run_untraced(w, seconds: float) -> dict:
    off = harness.Tracer(w.spark, enabled=False)
    prepare_s, _ = harness.timed(w.prepare)
    setup = []
    for i in range(SETUPS):
        dt, _ = harness.timed(w.setup, i)
        setup.append(dt)
    warm_s = sum(harness.timed(w.run_pass, off)[0] for _ in range(w.warm_passes))
    gc0 = harness.gc_seconds(w.spark)
    times, items = [], 0
    t_end = time.perf_counter() + seconds
    while len(times) < w.timed_passes or time.perf_counter() < t_end:
        dt, n = harness.timed(w.run_pass, off)
        times.append(dt)
        items += n
    gc_s = harness.gc_seconds(w.spark) - gc0
    rss = harness.peak_rss_mb(w.spark)
    log(f"inputs {prepare_s:.2f} setup {setup} warm-up {warm_s:.2f} passes {times} gc {gc_s:.2f} peak rss MiB {rss}")
    return {
        "setup_s": _metric(statistics.median(setup), "s"),
        "run_s": _metric(statistics.median(times), "s"),
        "items_per_s": _metric(items / sum(times), "1/s"),
        "peak_rss_mb": _metric(rss["driver"] + rss["workers"], "MiB"),
    }


def run_traced(w) -> dict:
    """Same protocol as the untraced run, one pass, with spans, job-range
    counts and the idle poller on; then the workload's decomposition."""
    from datalake2anomali_spark.plans.protocol_queries import CACHE_COUNTERS

    cache0 = dict(CACHE_COUNTERS)
    w.prepare()
    w.setup(0)
    for _ in range(w.warm_passes):
        w.run_pass(harness.Tracer(w.spark, enabled=False))
    tr = harness.Tracer(w.spark, enabled=True)
    cpu0, gc0 = harness.cpu_seconds(w.spark), harness.gc_seconds(w.spark)
    with harness.IdlePoller(w.spark) as poller, tr.span("pass"):
        w.run_pass(tr)
    cpu_s = harness.cpu_seconds(w.spark) - cpu0
    gc_s = harness.gc_seconds(w.spark) - gc0
    pass_span = tr.find("pass")[0]
    pass_s = pass_span["end"] - pass_span["start"]
    layers = w.layers(tr)
    reached = {name for name, *_, wls in LAYERS if set(wls) & set(w.components)}
    spark_counts = tr.jobs_in("pass")
    layers.update(
        {
            "spark.jobs": spark_counts["jobs"],
            "spark.stages": spark_counts["stages"],
            "spark.tasks": spark_counts["tasks"],
            "spark.idle_frac": poller.idle_frac,
            "spark.cpu_s": cpu_s,
            "spark.gc_s": gc_s,
            "plans.fixture_cache_hits": CACHE_COUNTERS["hits"] - cache0["hits"],
            "plans.fixture_cache_builds": CACHE_COUNTERS["builds"] - cache0["builds"],
            **{f"spark.{k}_rss_mb": v for k, v in harness.peak_rss_mb(w.spark).items()},
            "trace.pass_s": pass_s,
            "trace.overhead_frac": (tr.cost_s + poller.cost_s) / pass_s,
            "trace.spans": len(tr.spans),
        }
    )
    if set(layers) != reached:
        raise RuntimeError(
            f"{w.name} reported layer metrics {sorted(set(layers) - reached)} it does "
            f"not reach and lacks {sorted(reached - set(layers))} (perfbench/layers.py)"
        )
    path = os.path.join(
        CHECKOUT, harness.RUN_DIRNAME, "spans", f"{w.name}-seed{w.seed}-{tr.run_id}.jsonl"
    )
    tr.write(path)
    log(f"spans written to {path}")
    return layers


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true")
    p.add_argument("--drop-one", action="store_true", help=argparse.SUPPRESS)
    args = p.parse_args(argv)

    scratch = harness.confine(CHECKOUT)
    try:
        import datalake2anomali_spark  # noqa: F401
        from perfbench.workloads import WORKLOADS, load
    except ImportError as e:
        log(f"cannot import the program: {e}")
        return 2
    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}")
        return 2

    dt, spark = harness.timed(harness.start_spark)
    log(f"session start {dt:.2f}")
    try:
        w = load(args.workload)(spark, scratch, args.seed, tiny=args.tiny)
        w.drop_one = args.drop_one
        if args.trace:
            values = run_traced(w)
            # a layer the workload does not reach reads 0 (checked in run_traced)
            metrics = {name: _metric(values.get(name, 0), unit) for name, unit in PER_LAYER}
        else:
            values = run_untraced(w, args.seconds)
            metrics = {name: values[name] for name in END_TO_END}
        dt, (attempted, failed, msgs) = harness.timed(w.verify)
        log(f"verify {dt:.2f}")
    finally:
        dt, _ = harness.timed(harness.stop_spark, spark)
        log(f"session stop {dt:.2f}")
    for m in msgs:
        log(f"MISMATCH {m}")
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
