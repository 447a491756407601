#!/usr/bin/env python3
"""ccspark crawl-engine benchmark.

    python3 crawlbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a ccspark checkout.  Workloads: crawl_recrawl and
corpus_queries (see crawlbench/README.md).
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer ledger (``--trace 1``).
Inputs and oracle digests are cached per seed under ``.crawlbench/``;
everything else a run writes lives in a per-run directory there and is
removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "3g"  # well below a small machine's RAM; session.py defaults to 48g


def _environment(run_dir: str) -> None:
    """Process environment for the driver and the Spark Python workers
    it forks: workers import ccspark from the checkout whatever the
    working directory, and all scratch stays inside the run directory."""
    paths = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    sys.path[:0] = [ROOT, HERE]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    for need in ("ccspark", "__spark_entry__.py", os.path.join("tests", "frontier_oracle.py")):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"crawlbench: {need} not found under {ROOT}; run from a ccspark checkout", file=sys.stderr)
            return 2

    scratch = os.path.join(ROOT, ".crawlbench")
    run_dir = os.path.join(scratch, f"run-{os.getpid()}")
    _environment(run_dir)

    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"crawlbench: unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        shutil.rmtree(run_dir)
        return 2
    ctx = workloads.Ctx(
        root=ROOT,
        run_dir=run_dir,
        cache_dir=os.path.join(scratch, "cache"),
        seed=args.seed,
        seconds=args.seconds,
        trace=bool(args.trace),
    )
    spark = None
    try:
        spark, setup_s = workloads.setup(ctx)
        tracer = workloads.Tracer(spark, ctx.trace)
        out = workloads.WORKLOADS[args.workload](ctx, spark, tracer)
        workloads.log("workload done")
        if ctx.trace:
            import layers

            values = layers.ledger(spark, out.state, tracer.spans, tracer.store, workloads.NPROC)
            metrics = {k: {"value": v, "unit": layers.PER_LAYER[k][0]} for k, v in values.items()}
            ledger_path = os.path.join(scratch, "out", f"{args.workload}-s{args.seed}-trace.json")
            os.makedirs(os.path.dirname(ledger_path), exist_ok=True)
            with open(ledger_path, "w") as fh:
                json.dump({"workload": args.workload, "seed": args.seed, "metrics": values,
                           "spans": tracer.spans, "setup_s": setup_s, "op_s": out.op_s}, fh, indent=1)
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in workloads.end_to_end(setup_s, out).items()}
    finally:
        if spark is not None:
            workloads.shutdown(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        workloads.log("stopped")
    for err in out.errors:
        print(f"crawlbench: check failed: {err}", file=sys.stderr)
    print(json.dumps({"correct": out.failed == 0, "attempted": out.attempted, "failed": out.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
