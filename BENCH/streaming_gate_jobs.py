#!/usr/bin/env python3
"""Spark jobs and wall time per streaming-frontier micro-batch, parent
vs change, over the same candidate drops.

    python BENCH/streaming_gate_jobs.py --parent <checkout> --change <checkout> \\
        [--batches 8] [--urls 3000] [--hosts 40] [--runs 2] --out BENCH/streaming_gate_jobs.json

Every run is a fresh process inside one checkout (``--worker``).  It
starts a local[4] session and feeds that checkout's per-batch entry
point, ``streaming.frontier_process_batch``, ``--batches`` micro-batches
read from parquet drops: ``--urls`` synthetic candidate URLs on
``--hosts`` hosts each, half of them repeats of the previous batch,
under the synthetic robots table.  Per batch it records the Spark jobs
launched (read from the status store) and the wall time.  It also
records a sha256 digest of the scheduled ``(canonical_url, batch
index)`` set, read from the ``processed`` rows that carry a host rank.
A checkout may commit batch b as any round b + offset (the offset is
the last committed round minus the last batch index), so the digest
does not depend on the round numbering.  Runs alternate sides, the
parent first in even-numbered runs.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys
import tempfile
import time


def worker(batches: int, urls: int, hosts: int) -> dict:
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from ccspark import streaming, synth
    from ccspark.catalog import make_checkpoint
    from ccspark.session import build_session

    spark = build_session(app_name="streaming-gate-jobs", master="local[4]", shuffle_partitions=4)
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

    robots = synth.gen_robots(spark, hosts, seed=42)
    ts = pd.Timestamp("2024-01-01")
    jobs, wall = [], []
    with tempfile.TemporaryDirectory() as tmp:
        out = os.path.join(tmp, "out")
        drops = []
        for b in range(batches):
            ids = np.arange(b * urls // 2, b * urls // 2 + urls, dtype=np.int64)
            u, _ = synth.gen_urls_pdf(ids, hosts, seed=42)
            pdf = pd.DataFrame({"url": u.to_numpy(), "priority": (ids * 7919 % 1000) / 1000.0, "ts": ts})
            path = os.path.join(tmp, f"drop{b}")
            spark.createDataFrame(pdf, streaming.CANDIDATES_SCHEMA).coalesce(1).write.parquet(path)
            drops.append(path)
        for b, path in enumerate(drops):
            batch = spark.read.schema(streaming.CANDIDATES_SCHEMA).parquet(path)
            j0, t0 = last_job_id(), time.perf_counter()
            streaming.frontier_process_batch(batch, b, robots, out, default_budget=10, n_salts=8)
            wall.append(round(time.perf_counter() - t0, 3))
            jobs.append(last_job_id() - j0)
        ckpt = make_checkpoint(spark, out)
        offset = ckpt.last_committed_round() - (batches - 1)
        pairs = []
        for b in range(batches):
            rows = ckpt.read(spark, "processed", b + offset).filter(F.col("host_rank").isNotNull())
            pairs += [f"{r['canonical_url']}\t{b}" for r in rows.select("canonical_url").collect()]
    spark.stop()
    return {
        "jobs": jobs,
        "wall_s": wall,
        "scheduled_rows": len(pairs),
        "scheduled_distinct": len(set(pairs)),
        "digest": hashlib.sha256("\n".join(sorted(pairs)).encode()).hexdigest(),
    }


def run_side(root: str, args) -> dict:
    env = dict(os.environ, PYTHONPATH=root)
    res = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--worker", "--batches", str(args.batches),
         "--urls", str(args.urls), "--hosts", str(args.hosts)],
        cwd=root, env=env, capture_output=True, text=True, check=True,
    )
    return json.loads(res.stdout.strip().splitlines()[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--parent")
    ap.add_argument("--change")
    ap.add_argument("--batches", type=int, default=8)
    ap.add_argument("--urls", type=int, default=3000)
    ap.add_argument("--hosts", type=int, default=40)
    ap.add_argument("--runs", type=int, default=2, help="runs per side")
    ap.add_argument("--out")
    ap.add_argument("--worker", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.worker:
        print(json.dumps(worker(args.batches, args.urls, args.hosts)))
        return 0
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    runs = []
    for i in range(args.runs):
        for s in (("parent", "change") if i % 2 == 0 else ("change", "parent")):
            row = {"side": s, "run": i, **run_side(sides[s], args)}
            print(json.dumps(row), file=sys.stderr, flush=True)
            runs.append(row)
    summary = {}
    for s in sides:
        mine = [r for r in runs if r["side"] == s]
        summary[s] = {
            "jobs_per_batch": [statistics.median(c) for c in zip(*(r["jobs"] for r in mine))],
            "wall_s_per_batch_median": [round(statistics.median(c), 3) for c in zip(*(r["wall_s"] for r in mine))],
            "digests": sorted({r["digest"] for r in mine}),
        }
    summary["same_scheduled_set"] = len({r["digest"] for r in runs}) == 1
    record = {
        "config": {"batches": args.batches, "urls": args.urls, "hosts": args.hosts, "runs": args.runs},
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
