#!/usr/bin/env python3
"""bench.py's frontier, parent vs change, on a warm session: a fresh
process per run, interleaved pairs.

    python BENCH/frontier_warm_ab.py --parent <checkout> --change <checkout> \\
        [--universe 4000000] [--rounds 3] [--pairs 3] [--driver-mem 6g] --out BENCH/<name>.json

Every run is a fresh process inside one checkout (``--worker``): a
local[4] session (``ccspark.session.build_session``, 4 shuffle
partitions, ``SPARK_GRAFT_DRIVER_MEM=--driver-mem``), one warm-up job
that starts every Python worker and imports ccspark (identify a 20k-URL
universe into a noop sink), then ``bench.run_frontier_inproc(spark)``
with ``CCSPARK_BENCH_UNIVERSE=--universe`` and
``CCSPARK_BENCH_ROUNDS=--rounds`` (32 partitions, budget 50, 8 salts).
So start-up lands in the warm-up, not in ``bootstrap_s``, as in
bench.py, whose corpus queries warm the session first.  The worker
also keeps each round's ``phase_s`` and wall.  Pair i runs the parent
first when i is even and the change first when i is odd.  The summary
holds each side's medians of ``urls_per_sec``, ``urls_per_sec_rounds``,
``rounds_wall_s`` and the per-round phase walls, plus the change's
relative ``rounds_wall_s`` delta in every pair.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

KEYS = ("urls_per_sec", "urls_per_sec_rounds", "rounds_wall_s", "bootstrap_s", "wall_s")


def worker() -> dict:
    from ccspark import pipeline
    from ccspark.frontier import CrawlFrontier
    from ccspark.session import build_session

    spark = build_session("frontier-warm-ab", master="local[4]", shuffle_partitions=4)
    t0 = time.perf_counter()
    pipeline.identified_candidates(spark, 20_000).write.format("noop").mode("overwrite").save()
    warm_s = time.perf_counter() - t0

    rounds = []
    real_run_round = CrawlFrontier.run_round

    def _run_round(self, round_no):
        t = time.perf_counter()
        m = real_run_round(self, round_no)
        rounds.append({"round": round_no, "wall_s": round(time.perf_counter() - t, 3), "phase_s": m["phase_s"]})
        return m

    CrawlFrontier.run_round = _run_round
    import bench

    res = bench.run_frontier_inproc(spark)
    spark.stop()
    return {"warm_s": round(warm_s, 2), **res, "rounds": rounds}


def run_side(root: str, args) -> dict:
    env = dict(
        os.environ,
        PYTHONPATH=root,
        SPARK_GRAFT_CPUS="4",
        SPARK_GRAFT_DRIVER_MEM=args.driver_mem,
        CCSPARK_BENCH_UNIVERSE=str(args.universe),
        CCSPARK_BENCH_ROUNDS=str(args.rounds),
    )
    res = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--worker"],
        cwd=root, env=env, capture_output=True, text=True, check=True,
    )
    return json.loads(res.stdout.strip().splitlines()[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--parent")
    ap.add_argument("--change")
    ap.add_argument("--universe", type=int, default=4_000_000)
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--pairs", type=int, default=3)
    ap.add_argument("--driver-mem", default="6g")
    ap.add_argument("--out")
    ap.add_argument("--worker", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.worker:
        print(json.dumps(worker()))
        return 0
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    runs = []
    for i in range(args.pairs):
        for s in (("parent", "change") if i % 2 == 0 else ("change", "parent")):
            row = {"side": s, "pair": i, **run_side(sides[s], args)}
            print(json.dumps({k: v for k, v in row.items() if k != "rounds"}), file=sys.stderr, flush=True)
            runs.append(row)
    summary = {}
    for s in sides:
        mine = [r for r in runs if r["side"] == s]
        summary[s] = {f"{k}_median": statistics.median(r[k] for r in mine) for k in KEYS}
        phases = sorted({p for r in mine for rd in r["rounds"] for p in rd["phase_s"]})
        summary[s]["phase_s_median_per_round"] = [
            {p: statistics.median(r["rounds"][j]["phase_s"].get(p, 0.0) for r in mine) for p in phases}
            for j in range(args.rounds)
        ]
        summary[s]["scheduled"] = sorted({r["scheduled"] for r in mine})
    by_pair = {(r["pair"], r["side"]): r for r in runs}
    summary["rounds_wall_s_delta_per_pair"] = [
        round(by_pair[(i, "change")]["rounds_wall_s"] / by_pair[(i, "parent")]["rounds_wall_s"] - 1, 4)
        for i in range(args.pairs)
    ]
    summary["change_faster_pairs"] = sum(d < 0 for d in summary["rounds_wall_s_delta_per_pair"])
    record = {
        "config": {"universe": args.universe, "rounds": args.rounds, "pairs": args.pairs,
                   "driver_mem": args.driver_mem, "partitions": 32, "budget": 50, "salts": 8,
                   "master": "local[4]", "host_cpus": os.cpu_count()},
        "runs": runs,
        "summary": summary,
    }
    text = json.dumps(record, indent=1)
    if args.out:
        with open(args.out, "w") as fh:
            fh.write(text + "\n")
    print(text)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
