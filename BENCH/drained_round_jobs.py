#!/usr/bin/env python3
"""Spark jobs and wall time per drained crawl round, parent vs change.

    python BENCH/drained_round_jobs.py --parent <checkout> --change <checkout> \\
        [--rounds 4] [--runs 3] --out BENCH/<name>.json

Every run is a fresh process inside one checkout (``--worker``).  It
starts a local[4] session and crawls a 2k-page universe on 4 partitions
with ``links_per_fetch=0``, a budget of 500 and an empty robots table:
round 1 schedules every seed and leaves the frontier empty, so rounds
2..``--rounds`` are drained (no frontier, no revisit).  Per round it
records the Spark jobs launched (read from the status store), the
``run_round`` wall time, the metrics counts and the tables the round's
manifest lists.  Runs alternate sides, the parent first in
even-numbered runs; the summary gives each side's median jobs and wall
over its drained rounds.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def worker(rounds: int) -> dict:
    import tempfile

    from ccspark import synth
    from ccspark.frontier import CrawlFrontier, FrontierConfig
    from ccspark.session import build_session

    spark = build_session(app_name="drained-round-jobs", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    jsc = spark.sparkContext._jsc.sc()
    store, bus = jsc.statusStore(), jsc.listenerBus()

    def last_job_id() -> int:
        bus.waitUntilEmpty()
        it = store.jobsList(None).iterator()
        top = -1
        while it.hasNext():
            top = max(top, it.next().jobId())
        return top

    cfg = FrontierConfig(
        num_partitions=4, universe_n=2000, n_hosts=50, seed=42, links_per_fetch=0, default_budget=500, n_salts=4
    )
    robots = spark.createDataFrame(
        [], "host string, disallow_prefixes array<string>, crawl_delay_ms long, max_fetches_per_round int"
    )
    out = []
    with tempfile.TemporaryDirectory() as tmp:
        fr = CrawlFrontier(spark, os.path.join(tmp, "ckpt"), cfg, robots_df=robots)
        fr.bootstrap(synth.gen_seeds(spark, cfg.universe_n, cfg.n_hosts, cfg.seed))
        for r in range(1, rounds + 1):
            j0, t0 = last_job_id(), time.perf_counter()
            m = fr.run_round(r)
            wall = round(time.perf_counter() - t0, 3)
            out.append(
                {
                    "round": r,
                    "jobs": last_job_id() - j0,
                    "wall_s": wall,
                    "candidates": m["candidates"],
                    "scheduled": m["scheduled"],
                    "frontier_size": m["frontier_size"],
                    "tables": sorted(fr.ckpt.read_manifest()["tables"]),
                }
            )
    spark.stop()
    return {"rounds": out}


def run_side(root: str, rounds: int) -> dict:
    env = dict(os.environ, PYTHONPATH=root)
    res = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--worker", "--rounds", str(rounds)],
        cwd=root, env=env, capture_output=True, text=True, check=True,
    )
    return json.loads(res.stdout.strip().splitlines()[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--parent")
    ap.add_argument("--change")
    ap.add_argument("--rounds", type=int, default=4)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--out")
    ap.add_argument("--worker", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.worker:
        print(json.dumps(worker(args.rounds)))
        return 0
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    runs = []
    for i in range(args.runs):
        for s in (("parent", "change") if i % 2 == 0 else ("change", "parent")):
            row = {"side": s, "run": i, **run_side(sides[s], args.rounds)}
            print(json.dumps(row), file=sys.stderr, flush=True)
            runs.append(row)
    summary = {}
    for s in sides:
        drained = [r for row in runs if row["side"] == s for r in row["rounds"] if r["round"] >= 2]
        summary[s] = {
            "drained_rounds": len(drained),
            "jobs_median": statistics.median(r["jobs"] for r in drained),
            "wall_s_median": statistics.median(r["wall_s"] for r in drained),
            "tables": sorted({t for r in drained for t in r["tables"]}),
        }
    res = {"config": {"rounds": args.rounds, "runs": args.runs}, "summary": summary, "runs": runs}
    print(json.dumps(summary, indent=1))
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(res, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
