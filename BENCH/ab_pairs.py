#!/usr/bin/env python3
"""Interleaved parent/change A/B of the crawlbench end-to-end metrics.

    python BENCH/ab_pairs.py --parent <checkout> --change <checkout> \\
        --seeds 701 702 ... 710 [--trace-seed 42] --out BENCH/<name>.json

For every seed and workload it runs ``crawlbench/run.py --trace 0`` once
in each checkout; even-indexed seeds run the parent first, odd-indexed
seeds the change first, so drift on a shared host hits both sides
alike.  The workloads and the end-to-end metrics with their "better"
direction come from ``BENCHMARK.json``.  Per workload and metric the
summary holds both medians, the parent's IQR, the change's relative
delta in every pair and how many pairs the change won.

``--trace-seed N`` adds one ``crawl_recrawl --trace 1`` run per side
and records its ``frontier.round.*`` per-layer values.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), os.pardir, "BENCHMARK.json")) as _fh:
    _BENCH = json.load(_fh)
WORKLOADS = tuple(w["name"] for w in _BENCH["workloads"])
BETTER = {m["name"]: m["better"] for m in _BENCH["end_to_end"]}
TRACE_WORKLOAD, TRACE_PREFIX = "crawl_recrawl", "frontier.round."


def bench_in(root: str, workload: str, seed: int, trace: int = 0) -> dict:
    """One crawlbench run in checkout ``root``; returns its JSON result."""
    res = subprocess.run([sys.executable, "crawlbench/run.py", "--workload", workload, "--seed", str(seed),
                          "--seconds", "10", "--trace", str(trace)],
                         cwd=root, capture_output=True, text=True, check=True)
    return json.loads(res.stdout.strip().splitlines()[-1])


def run_pairs(sides: dict[str, str], seeds: list[int]) -> list[dict]:
    """Interleaved runs, one row per (seed, workload, side)."""
    runs = []
    for i, seed in enumerate(seeds):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for wl in WORKLOADS:
            for s in order:
                out = bench_in(sides[s], wl, seed)
                row = {"side": s, "workload": wl, "seed": seed, "first": order[0],
                       **{k: out[k] for k in ("correct", "attempted", "failed")},
                       **{m: round(out["metrics"][m]["value"], 4) for m in BETTER}}
                print(json.dumps(row), file=sys.stderr, flush=True)
                runs.append(row)
    return runs


def summary(runs: list[dict]) -> dict:
    out = {}
    for wl in WORKLOADS:
        by_seed = {s: {r["seed"]: r for r in runs if r["workload"] == wl and r["side"] == s}
                   for s in ("parent", "change")}
        seeds = sorted(by_seed["parent"])
        for m, better in BETTER.items():
            p = [by_seed["parent"][s][m] for s in seeds]
            c = [by_seed["change"][s][m] for s in seeds]
            rel = [cv / pv - 1 for pv, cv in zip(p, c)]
            wins = sum(r < 0 if better == "lower" else r > 0 for r in rel)
            q = statistics.quantiles(p, n=4) if len(p) > 1 else [p[0]] * 3
            pm, cm = statistics.median(p), statistics.median(c)
            out[f"{wl}.{m}"] = {"parent_median": round(pm, 4), "change_median": round(cm, 4),
                                "rel": round(cm / pm - 1, 4), "parent_iqr": round(q[2] - q[0], 4),
                                "change_wins": wins, "pairs": len(seeds),
                                "rel_per_pair": [round(r, 4) for r in rel]}
        out[f"{wl}.failed"] = {s: sum(r["failed"] for r in by_seed[s].values()) for s in by_seed}
    return out


def traced(sides: dict[str, str], seed: int) -> dict:
    """One traced crawl_recrawl run per side: its frontier.round.* values."""
    out = {}
    for s, root in sides.items():
        led = bench_in(root, TRACE_WORKLOAD, seed, trace=1)["metrics"]
        out[s] = {k: v["value"] for k, v in sorted(led.items()) if k.startswith(TRACE_PREFIX)}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", default=list(range(701, 711)))
    ap.add_argument("--trace-seed", type=int)
    ap.add_argument("--out")
    args = ap.parse_args()
    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    record = {"seeds": args.seeds, "runs": run_pairs(sides, args.seeds)}
    record["summary"] = summary(record["runs"])
    if args.trace_seed is not None:
        record["traced"] = {"workload": TRACE_WORKLOAD, "seed": args.trace_seed, **traced(sides, args.trace_seed)}
    text = json.dumps(record, indent=1)
    if args.out:
        with open(args.out, "w") as fh:
            fh.write(text + "\n")
    print(text)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
