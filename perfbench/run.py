"""Benchmark entry point.

    python3 perfbench/run.py --workload docs_pipeline --seed 1 --seconds 10 --trace 0

Runs one workload against the ``geodistpy_spark`` package in the
checkout this file sits in, checks every output against a brute-force
reference, and prints as its last stdout line one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` prints
the end-to-end metrics, ``--trace 1`` the per-layer metrics (spans are
also written to ``.perfbench_work/traces/``). The line before it is
``meta: {...}`` with host load, CPU steal, failed_frac, sample counts
and the tail percentiles.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402

E2E_UNITS = {"setup_s": "s", "items_per_s": "items/s", "peak_rss_mb": "MB"}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["docs_pipeline", "geodesic_pairs", "text_dedup"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["default", "tiny"], default="default",
                    help="tiny: self-test inputs")
    ap.add_argument("--corrupt", action="store_true",
                    help="damage the first measured output (self-test of the oracles)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(harness.ROOT, "geodistpy_spark", "__init__.py")):
        print(f"perfbench: no geodistpy_spark package under {harness.ROOT}", file=sys.stderr)
        return 2
    harness.configure_env()
    sys.path.insert(0, harness.ROOT)

    import workloads

    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
    tracer = harness.Tracer(run_id) if args.trace else harness.NullTracer()
    ctx = workloads.Ctx(args.workload, args.seed, args.seconds, tracer, args.size, args.corrupt)
    host = harness.HostMeta()
    t0 = time.perf_counter()
    with harness.RssSampler() as rss:
        try:
            workloads.WORKLOADS[args.workload](ctx)
        finally:
            ctx.close()
    ctx.e2e["peak_rss_mb"] = rss.peak_mb

    if args.trace:
        tracer.write(os.path.join(harness.WORK, "traces", f"{run_id}.jsonl"))
        metrics = {k: {"value": float(ctx.layer[k]), "unit": u}
                   for k, u in workloads.PER_LAYER.items()}
    else:
        missing = [k for k in E2E_UNITS if k not in ctx.e2e]
        if missing:
            print(f"perfbench: no measurement for {missing}", file=sys.stderr)
            return 1
        metrics = {k: {"value": float(ctx.e2e[k]), "unit": u} for k, u in E2E_UNITS.items()}
    meta = dict(ctx.meta, **host.finish(), workload=args.workload, seed=args.seed,
                wall_s=round(time.perf_counter() - t0, 3),
                failed_frac=ctx.failed / max(ctx.attempted, 1))
    print("meta: " + json.dumps(meta, default=str))
    print(json.dumps({"correct": ctx.failed == 0 and ctx.attempted > 0,
                      "attempted": max(ctx.attempted, 1),
                      "failed": ctx.failed if ctx.attempted else 1,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
