"""Benchmark entry point.

    python3 perfbench/run.py --workload {incremental,dedup} \
        --seed N --seconds S --trace {0,1} [--cores C] [--skip-checks]

Run from the repository root. Builds nothing; all scratch data lives
under ``.perfbench/`` in the repository (ignored by git) and the
per-run part of it is deleted on exit. The first run in a checkout,
whatever its workload, also builds the incremental history into
``.perfbench/cache`` before anything is timed.

Each run times one operation (see workloads.py). At the sizes used it
lasts longer than the ``--seconds`` the runs are given (10), so that
argument does not change what is measured. The last stdout line is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(names and units as in BENCHMARK.json). The line before it holds
ungated context figures. ``--trace 0`` reports the end-to-end metrics.
``--trace 1`` first makes the untraced child runs the per-layer
numbers are compared with, then times the operation with spans, job
groups and Spark's event log on, and reports the per-layer metrics.
``--cores`` sets ``local[C]`` (the traced runs use it for the
single-core baseline) and ``--skip-checks`` leaves out the checks (the
traced run's child runs use it). See README.md in this directory for
what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

import sparkenv


def metric_units() -> tuple[dict, dict]:
    """End-to-end and per-layer metric units, from BENCHMARK.json."""
    with open(os.path.join(sparkenv.REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def end_to_end(run, setup_s: float) -> dict:
    return {"setup_s": setup_s, "op_wall_s": run.op_s, "op_cpu_s": run.op_cpu_s}


def per_layer(run, log_dir: str, trace_file: str) -> dict:
    """Per-layer metrics of the traced operation; layers the workload
    does not exercise read 0."""
    import tracing

    out = {name: 0 for name in metric_units()[1]}
    out.update(run.layers)
    tr = run.tracer
    op_id = run.op_span_id
    op = next(s for s in tr.spans if s.span_id == op_id)
    ids = tr.subtree(op_id)
    log = tracing.read_event_log(log_dir)
    out.update(
        tracing.spark_metrics(log, {f"span-{i}" for i in ids}, (op.start, op.end))
    )
    detail = {}
    for name in sorted({s.name for s in tr.spans}):
        spans = [s for s in tr.spans if s.name == name]
        groups = {f"span-{s.span_id}" for s in spans}
        m = tracing.spark_metrics(log, groups, (0.0, 0.0))
        detail[name] = {
            "calls": len(spans),
            "seconds": sum(s.seconds for s in spans),
            **{k: v for k, v in m.items() if k != "driver.idle_ms"},
        }
    with open(trace_file, "w") as f:
        json.dump(
            {
                "spans": [vars(s) for s in tr.spans],
                "per_span_name": detail,
            },
            f,
            indent=1,
        )
    for name, d in detail.items():
        print(
            f"trace {name}: calls={d['calls']} s={d['seconds']:.3f} "
            f"jobs={d['spark.jobs']} tasks={d['spark.tasks']} "
            f"run_ms={d['spark.executor_run_ms']} shuffle_w={d['spark.shuffle_write_bytes']}"
        )
    return out


def measure(args, cores: int, work: str, base: str, hist: dict, children: list[dict]):
    """Start the session, run the workload, stop the session and turn
    the run into metrics; ``(None, None, None, None)`` if the timed
    operation failed."""
    import tracing
    import workloads

    t_setup = time.perf_counter()
    log_dir = os.path.join(work, "eventlog") if args.trace else None
    spark = sparkenv.start(work, cores, log_dir)
    try:
        sampler = tracing.RssSampler(sparkenv.jvm_pid(spark))
        marks = {}

        def setup_done():
            marks["setup_s"] = time.perf_counter() - t_setup

        run = workloads.Run(
            spark,
            tracing.Tracer(spark, f"{args.workload}-{args.seed}", enabled=False),
            work,
            hist,
            args.seed,
            cores,
            sampler.stop,
        )
        run.children = children
        run.skip_checks = args.skip_checks
        for child in children:
            run.attempted += child["attempted"]
            run.failed += child["failed"]
        try:
            workloads.WORKLOADS[args.workload](run, bool(args.trace), setup_done)
        finally:
            run.con.close()
            sampler.stop()
    finally:
        sparkenv.stop(spark)
    run.note("session stopped")
    if run.op_s is None:
        print("perfbench: the timed operation failed", file=sys.stderr)
        return None, None, None, None
    context = {"op_steal_s": run.op_steal_s, "peak_rss_mb": sampler.peak / 1e6}
    if args.trace:
        os.makedirs(os.path.join(base, "traces"), exist_ok=True)
        trace_file = os.path.join(base, "traces", f"{args.workload}-seed{args.seed}.json")
        return run, context, per_layer(run, log_dir, trace_file), metric_units()[1]
    return run, context, end_to_end(run, marks["setup_s"]), metric_units()[0]


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("incremental", "dedup"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=None, help="local[C]; default nproc")
    p.add_argument(
        "--skip-checks", action="store_true",
        help="for the untraced twin of a traced run, which checks the same outputs itself",
    )
    args = p.parse_args(argv)
    cores = args.cores or sparkenv.nproc()

    if not os.path.isdir(os.path.join(sparkenv.REPO, "enhydris_autoprocess_spark")):
        print(
            f"perfbench: no enhydris_autoprocess_spark package in {sparkenv.REPO}",
            file=sys.stderr,
        )
        return 2
    base = os.path.join(sparkenv.REPO, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    sparkenv.confine(work)
    sys.path.insert(0, sparkenv.REPO)

    import workloads

    try:
        hist = workloads.history(os.path.join(base, "cache"))
        # before this process starts its own JVM, so they never overlap
        children = [
            workloads.child_run(args.workload, args.seed, c or cores)
            for c in (workloads.TRACE_CHILD_CORES[args.workload] if args.trace else ())
        ]
        run, context, metrics, units = measure(args, cores, work, base, hist, children)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if run is None:
        return 1
    # ungated figures, for reading next to the metrics (see README.md)
    print("perfbench context " + json.dumps(context))
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
