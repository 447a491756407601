#!/usr/bin/env python3
"""Dump what a crawl_recrawl-config crawl commits, for a parent/change
behaviour comparison.

    cd <checkout> && PYTHONPATH=. python <this file> OUT.json

Runs bootstrap + 6 rounds of the crawlbench ``crawl_recrawl`` config
(20k-page universe, 4 partitions, budget 10, 8 salts, revisit_after=3,
seed 42) on a local[4] session in the checkout it is started from,
calling ``run_round`` per round.  Writes the per-round metrics (with
``phase_s`` kept apart, since it is a wall time), the lineage rows,
sha256 digests of the scheduled trace, the seen set, every committed
frontier and every committed processed round, and the last manifest
without its timestamp.  Two dumps from two checkouts compare with
``==`` on every key but ``phase_s``.
"""

import glob
import hashlib
import json
import sys
import tempfile

import numpy as np
import pandas as pd

from ccspark import synth
from ccspark.frontier import CrawlFrontier, FrontierConfig
from ccspark.session import build_session

ROUNDS = 6


def _sha(x) -> str:
    return hashlib.sha256(json.dumps(x, default=str).encode()).hexdigest()


def main(out_path: str) -> None:
    spark = build_session("crawl-equiv", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    cfg = FrontierConfig(
        num_partitions=4, universe_n=20_000, seed=42, default_budget=10, n_salts=8, revisit_after=3
    )
    # the crawlbench seed list: every 23rd page of the universe
    ids = np.arange(0, cfg.universe_n, 23, dtype=np.int64)
    urls, _ = synth.gen_urls_pdf(ids, cfg.n_hosts, cfg.seed)
    pri = (synth._rand(ids, 9, cfg.seed) % np.uint64(1000)).astype(np.float64) / 1000.0
    seeds = spark.createDataFrame(pd.DataFrame({"url": urls.to_numpy(dtype=object), "priority": pri}))
    ckpt = tempfile.mkdtemp(prefix="crawl-equiv-")
    fr = CrawlFrontier(spark, ckpt, cfg)
    fr.bootstrap(seeds)
    metrics = [fr.run_round(r) for r in range(1, ROUNDS + 1)]

    lineage = (
        fr.ckpt.read_all_rounds(spark, "lineage", ROUNDS).toPandas().sort_values(["round", "partition_id"])
    )
    trace = sorted(
        (r["round"], r["host"], r["host_rank"], r["canonical_url"]) for r in fr.read_trace(ROUNDS).collect()
    )
    seen = sorted((r["domain_hash"], r["url_hash"]) for r in fr.read_seen(ROUNDS).collect())
    frontiers = {
        k: _sha(sorted(
            tuple(x)
            for x in fr.ckpt.read(spark, "frontier", k)
            .select("canonical_url", "priority", "discovered_round")
            .collect()
        ))
        for k in range(ROUNDS + 1)
        if glob.glob(f"{ckpt}/frontier/round={k}/**/*.parquet", recursive=True)
    }
    processed = {
        k: _sha(sorted(
            (tuple(x) for x in fr.ckpt.read(spark, "processed", k)
             .select("round", "host", "host_rank", "canonical_url", "domain_hash", "url_hash", "priority",
                     "partition_id")
             .collect()),
            key=repr,  # host_rank is NULL on robots-retired rows
        ))
        for k in range(1, ROUNDS + 1)
    }
    manifest = fr.ckpt.read_manifest()
    manifest.pop("committed_at", None)
    res = {
        "metrics": [{k: v for k, v in m.items() if k != "phase_s"} for m in metrics],
        "phase_s": [m.get("phase_s") for m in metrics],
        "lineage": lineage.to_dict(orient="records"),
        "trace_n": len(trace),
        "trace_sha": _sha(trace),
        "seen_n": len(seen),
        "seen_sha": _sha(seen),
        "frontier_sha": frontiers,
        "processed_sha": processed,
        "manifest": manifest,
    }
    with open(out_path, "w") as fh:
        json.dump(res, fh, indent=1, default=str)
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1])
