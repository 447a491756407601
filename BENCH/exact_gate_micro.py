#!/usr/bin/env python3
"""Links-gate microbenchmark: bloom probe + exact confirm against an
exact lookup of every key, for one (batch, partition).

    cd <checkout> && PYTHONPATH=. python BENCH/exact_gate_micro.py \\
        [--batch 10000] [--seen-frac 0.38] [--reps 7] --out BENCH/exact_gate_micro.json

numpy only, one thread, no Spark.  For each seen-set size (1k, 10k,
125k and 1M keys per partition) it builds the sorted seen arrays and a
bloom filter over them (10 bits per key, sized to the seen count; the
build is not timed, so the comparison favours the filter), then a
``--batch``-key query batch of which ``--seen-frac`` is truly seen.
Each rep times, interleaved:

* ``probe_confirm``: ``seenset.bloom_probe`` over the batch, then
  ``seenstore.contains`` over the suspects (what the filtered gate did);
* ``exact``: ``seenstore.contains`` over every key (what the gate does).

Both must return the same keep mask.  The record holds the median and
the min/max of the reps per size, the suspect fraction and the ratio
probe_confirm / exact (above 1: the exact gate is faster).
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import time

import numpy as np

from ccspark import seenset, seenstore

SIZES = (1_000, 10_000, 125_000, 1_000_000)


def _cpu_model() -> str:
    try:
        with open("/proc/cpuinfo") as fh:
            for line in fh:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.processor()


def one_size(n_seen: int, batch: int, seen_frac: float, reps: int, rng: np.random.RandomState) -> dict:
    url = rng.randint(-(2**63), 2**63 - 1, size=n_seen, dtype=np.int64)
    dom = rng.randint(-(2**63), 2**63 - 1, size=n_seen, dtype=np.int64)
    order = np.argsort(url, kind="stable")
    u_s, d_s = url[order], dom[order]
    k, m, bits = seenset.bloom_build(u_s, 10)

    n_hit = int(round(batch * seen_frac))
    pick = rng.randint(0, n_seen, size=n_hit)
    q_url = np.concatenate([url[pick], rng.randint(-(2**63), 2**63 - 1, size=batch - n_hit, dtype=np.int64)])
    q_dom = np.concatenate([dom[pick], rng.randint(-(2**63), 2**63 - 1, size=batch - n_hit, dtype=np.int64)])
    perm = rng.permutation(batch)
    q_url, q_dom = q_url[perm], q_dom[perm]

    def probe_confirm() -> np.ndarray:
        keep = np.ones(batch, dtype=bool)
        maybe = seenset.bloom_probe(q_url, k, m, bits)
        sus = np.flatnonzero(maybe)
        keep[sus[seenstore.contains(u_s, d_s, q_url[sus], q_dom[sus])]] = False
        return keep

    def exact() -> np.ndarray:
        return ~seenstore.contains(u_s, d_s, q_url, q_dom)

    assert np.array_equal(probe_confirm(), exact())  # also warms both paths
    t = {"probe_confirm": [], "exact": []}
    for _ in range(reps):
        for name, fn in (("probe_confirm", probe_confirm), ("exact", exact)):
            t0 = time.perf_counter()
            fn()
            t[name].append(time.perf_counter() - t0)
    sus_frac = float(seenset.bloom_probe(q_url, k, m, bits).mean())
    med = {name: statistics.median(v) for name, v in t.items()}
    return {
        "seen_keys": n_seen,
        "batch_keys": batch,
        "truly_seen_frac": n_hit / batch,
        "suspect_frac": round(sus_frac, 4),
        **{
            f"{name}_ms": {
                "median": round(med[name] * 1e3, 3),
                "min": round(min(v) * 1e3, 3),
                "max": round(max(v) * 1e3, 3),
            }
            for name, v in t.items()
        },
        "probe_confirm_over_exact": round(med["probe_confirm"] / med["exact"], 3),
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--batch", type=int, default=10_000)
    ap.add_argument("--seen-frac", type=float, default=0.38)
    ap.add_argument("--reps", type=int, default=7)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    rng = np.random.RandomState(args.seed)
    points = [one_size(n, args.batch, args.seen_frac, args.reps, rng) for n in SIZES]
    for p in points:
        print(json.dumps(p))
    rec = {
        "what": "one (batch, partition) of the links gate: bloom_probe + contains over the suspects "
        "vs contains over every key; numpy only, one thread, filter build untimed",
        "made_by": "PYTHONPATH=. python BENCH/exact_gate_micro.py "
        f"--batch {args.batch} --seen-frac {args.seen_frac} --reps {args.reps} --seed {args.seed}",
        "host": {"cpus": os.cpu_count(), "cpu": _cpu_model(), "numpy": np.__version__},
        "reps": args.reps,
        "points": points,
    }
    with open(args.out, "w") as fh:
        json.dump(rec, fh, indent=1)
        fh.write("\n")


if __name__ == "__main__":
    main()
