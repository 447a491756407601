#!/usr/bin/env python3
"""Interleaved A/B of the per-task Python-worker tax: two ccspark checkouts.

    python BENCH/worker_tax_ab.py --parent <checkout> --change <checkout> \\
        --seeds 701 702 703 --out BENCH/worker_tax_ab.json

The interleaved crawlbench pairs and their summary come from
``ab_pairs.py``.  Before and after those runs it times, in each checkout, a
10-row ``mapInPandas`` job on a warm session whose UDF imports ccspark:
``job_s`` is launch to result, ``udf_start_s`` is launch to the UDF's
first line, both medians over REPS jobs on the same worker processes.

``--micro <checkout>`` runs only the microbenchmark and prints its JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

import ab_pairs

REPS = 15


def micro() -> dict:
    import time

    import pandas as pd

    from ccspark.session import build_session

    spark = build_session("worker-tax", master="local[4]", shuffle_partitions=4,
                          extra_conf={"spark.driver.memory": "1g"})

    def udf(batches):
        started = time.time()
        import ccspark  # noqa: F401 — what every ccspark UDF does

        for _ in batches:
            pass
        yield pd.DataFrame({"pid": [os.getpid()], "started": [started]})

    df = spark.range(0, 10, 1, 1)
    jobs, starts, pids = [], [], set()
    for i in range(REPS + 3):  # 3 warm-up jobs fork and warm the worker
        t0 = time.time()
        row = df.mapInPandas(udf, "pid long, started double").collect()[0]
        t1 = time.time()
        if i >= 3:
            jobs.append(t1 - t0)
            starts.append(row["started"] - t0)
            pids.add(row["pid"])
    spark.stop()
    return {
        "job_s": round(statistics.median(jobs), 4),
        "udf_start_s": round(statistics.median(starts), 4),
        "job_s_all": [round(t, 4) for t in jobs],
        "worker_pids": len(pids),
    }


def _micro_in(root: str) -> dict:
    env = dict(os.environ, PYTHONPATH=root)
    res = subprocess.run([sys.executable, os.path.abspath(__file__), "--micro", root],
                         cwd=root, env=env, capture_output=True, text=True, check=True)
    return json.loads(res.stdout.strip().splitlines()[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--micro")
    ap.add_argument("--parent")
    ap.add_argument("--change")
    ap.add_argument("--seeds", type=int, nargs="+", default=[701, 702, 703])
    ap.add_argument("--out")
    args = ap.parse_args()
    if args.micro:
        sys.path.insert(0, args.micro)
        print(json.dumps(micro()))
        return 0
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    record = {"micro": {s: [_micro_in(r)] for s, r in sides.items()}}
    record["runs"] = ab_pairs.run_pairs(sides, args.seeds)
    for s in ("change", "parent"):
        record["micro"][s].append(_micro_in(sides[s]))
    record["summary"] = ab_pairs.summary(record["runs"])
    text = json.dumps(record, indent=1)
    if args.out:
        with open(args.out, "w") as fh:
            fh.write(text + "\n")
    print(text)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
