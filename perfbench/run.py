"""The repository benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload bulk_clean --seed 1 --seconds 16 --trace 0

Run it from the root of a checkout. It starts the engine's Spark session
sized to the machine, builds the workload's inputs from ``--seed``,
measures for about ``--seconds`` seconds, checks the engine's output
against a reference, and prints, as the last line of standard output, one
JSON object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` they
are the per-layer ones, and the spans of the run are written to
``.perfbench_out/``. The line before it carries the machine's sizing and
the workload's details. Every file the run writes stays inside the
checkout, under ``.perfbench_work/`` while it runs.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)


WORKLOADS = ("bulk_clean", "trickle_dirty")  # functions of perfbench.streams


def _metric_line(result: dict, traced: bool, tracer, wall_s: float) -> dict:
    from perfbench.metrics import END_TO_END, PER_LAYER, UNITS

    if traced:
        values = dict(result["layers"])
        values["trace.overhead_frac"] = tracer.bookkeeping_s / wall_s
        values["error_rate"] = result["failed"] / result["attempted"]
        # a layer this workload does not run did no work: it reads 0
        return {n: {"value": values.get(n, 0), "unit": UNITS[n]} for n, _, _ in PER_LAYER}
    return {n: {"value": result["e2e"][n], "unit": UNITS[n]} for n, _, _ in END_TO_END}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import pyspark  # noqa: F401

        import distributed_classification_system_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    from perfbench import streams
    from perfbench.box import Box, cpu_probe_s
    from perfbench.trace import Tracer

    run_workload = getattr(streams, args.workload)
    traced = bool(args.trace)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    box = Box(ROOT, work)
    tracer = Tracer(enabled=traced)
    probe = [cpu_probe_s()]
    t0 = time.perf_counter()
    try:
        with tracer.span("session.start", **box.describe()):
            box.session_s = box.start_spark()
        with tracer.span(f"workload.{args.workload}", seed=args.seed):
            result = run_workload(box, tracer, args.seed, args.seconds, traced)
    finally:
        box.shutdown()
        box.cleanup()
    wall = time.perf_counter() - t0
    probe.append(cpu_probe_s())

    metrics = _metric_line(result, traced, tracer, wall)
    print(json.dumps({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "box": box.describe(), "wall_s": wall, "cpu_probe_s": probe, "problems": result["problems"],
        "details": result["details"],
    }, default=str))
    if traced:
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"))
    print(json.dumps({
        "correct": not result["problems"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
