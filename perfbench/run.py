"""Benchmark of the dedup engine: one command for every workload.

    python3 perfbench/run.py --workload dedup_bulk --seed 1 --seconds 20 --trace 0

Workloads: dedup_bulk, dedup_clustered and stream_claims (see
workloads.py for why BENCHMARK.json lists only the first two).

Works from any directory; it finds the package next to its own
directory. ``--trace 0`` measures the end-to-end metrics untraced;
``--trace 1`` runs the program layer by layer under spans, reports the
per-layer metrics and writes the spans to ``.perfbench/``. Metric names,
units and the reason for each workload are in BENCHMARK.json. The last
line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``; ``failed / attempted`` is the error rate.
Earlier lines starting with ``#`` are details for a reader, including the
cause of every failure and the CPU probe that brackets the run.

Seeds: 1 is the default seed for development; 7919 is held out, for
checking a claimed gain on inputs the change was not tuned on.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

from host import become_subreaper, reap_descendants

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    section = spec["per_layer"] if args.trace else spec["end_to_end"]
    units = {m["name"]: m["unit"] for m in section}

    # Python workers inherit the environment: they need the package too,
    # whatever directory the benchmark was started from.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    import workloads  # imports the package under test: fails here without it
    from host import RssSampler, cpu_probe

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    wl = workloads.WORKLOADS[args.workload]()
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"])

    probe_before = cpu_probe()
    fails = workloads.Failures()
    spark = None
    try:
        wl.prepare(work, args.seed, args.seconds)
        if args.trace:
            _, spark = workloads.timed_setups(work, wl.warm, 1)
            metrics = wl.traced(spark, fails)
            trace_path = os.path.join(ROOT, ".perfbench", f"trace-{args.workload}-{args.seed}.json")
            wl.tracer.write(trace_path)
            print(f"# spans written to {os.path.relpath(trace_path, ROOT)}")
        else:
            setups, spark = workloads.timed_setups(work, wl.warm, workloads.SETUPS)
            with RssSampler() as rss:
                metrics = wl.measure(spark, fails)
            print(f"# set-ups: {[round(s, 3) for s in setups]}")
            metrics["setup_s"] = statistics.median(setups)
            metrics["peak_rss_mb"] = rss.peak_mb
    finally:
        if spark is not None:
            workloads.stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
    probe_after = cpu_probe()

    failed = fails.failed
    print(f"# host cpu probe (loops in 0.3 s on 4 processes): before {probe_before}, after {probe_after}")
    print(f"# error_rate: {failed}/{fails.attempted} = {failed / max(fails.attempted, 1):.4f}")
    if metrics.get("pair_recall", 1.0) < 0.99:
        print(f"# finding: pair_recall {metrics['pair_recall']:.4f} is below 0.99")
    for cause in fails.causes:
        print(f"# FAILED: {cause}")
        print(f"FAILED: {cause}", file=sys.stderr)
    if args.trace:
        # A layer the workload does not go through did no work.
        values = {name: metrics.get(name, 0.0) for name in units}
    else:
        values = {name: metrics[name] for name in units}
    result = {
        "correct": not fails.causes,
        "attempted": fails.attempted,
        "failed": failed,
        "metrics": {
            name: {"value": float(values[name]), "unit": unit} for name, unit in units.items()
        },
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    t0 = time.time()
    become_subreaper()
    try:
        rc = main()
    finally:
        # Whatever path led out, nothing the run started outlives it.
        left = reap_descendants()
        if left:
            print(f"# stopped {left} process(es) still running at exit", file=sys.stderr)
    print(f"# total {time.time() - t0:.1f} s", file=sys.stderr)
    sys.exit(rc)
