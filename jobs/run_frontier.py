#!/usr/bin/env python
"""Crawl-frontier job entry point.

Usage (local or cluster — the module is self-contained for --py-files):

    spark-submit --py-files ccspark.zip jobs/run_frontier.py \
        --ckpt /data/crawl_ckpt --universe 10000000 --rounds 5 \
        --partitions 256 --budget 10

Resumes automatically from the last committed round in --ckpt; a killed
job re-runs only its uncommitted round (idempotent writes + atomic
manifest commit).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# prefer an installed / --py-files ccspark; fall back to the repo layout
try:
    import ccspark  # noqa: F401
except ImportError:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser(description="ccspark crawl frontier")
    ap.add_argument("--ckpt", required=True, help="checkpoint directory")
    ap.add_argument("--universe", type=int, default=100_000, help="synthetic url universe size")
    ap.add_argument("--hosts", type=int, default=None, help="number of hosts (default universe/100)")
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--partitions", type=int, default=32)
    ap.add_argument("--budget", type=int, default=10, help="default per-host fetches per round")
    ap.add_argument("--round-ms", type=int, default=60_000)
    ap.add_argument("--links", type=int, default=3, help="links discovered per fetch")
    ap.add_argument("--salts", type=int, default=16)
    ap.add_argument("--max-per-host", type=int, default=None,
                    help="frontier cap per host (priority eviction)")
    ap.add_argument("--revisit-after", type=int, default=None,
                    help="recrawl scheduled URLs after this many rounds")
    ap.add_argument("--revisit-decay", type=float, default=0.5)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--master", default=None)
    ap.add_argument(
        "--stub-catalog",
        metavar="WAREHOUSE_DIR",
        default=None,
        help="route an iceberg:<cat>.<ns> --ckpt through the functional "
        "stub catalog (tests/iceberg_stub.py) with data files under "
        "WAREHOUSE_DIR — sandbox evidence path for environments without "
        "Iceberg jars; a real cluster omits this and configures "
        "spark.sql.catalog.<cat> (see ARCHITECTURE.md §6)",
    )
    args = ap.parse_args()

    from ccspark.frontier import CrawlFrontier, FrontierConfig
    from ccspark.session import build_session
    from ccspark import synth

    spark = build_session("ccspark-frontier", master=args.master, shuffle_partitions=args.partitions)
    if args.stub_catalog is not None:
        if not args.ckpt.startswith("iceberg:"):
            ap.error("--stub-catalog requires an iceberg:<catalog>.<ns> --ckpt")
        sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"))
        try:
            from iceberg_stub import install
        except ModuleNotFoundError as e:  # ADVICE r5: clear failure mode
            ap.error(
                "--stub-catalog needs tests/iceberg_stub.py, i.e. a full repo "
                "checkout (it is a sandbox-only evidence path, not part of an "
                f"installed/submitted package): {e}"
            )

        class _SetattrShim:  # install() only needs the 3-arg setattr form
            @staticmethod
            def setattr(target, name, value):
                setattr(target, name, value)

        cat_name = args.ckpt[len("iceberg:") :].partition(".")[0]
        os.makedirs(args.stub_catalog, exist_ok=True)
        install(_SetattrShim(), spark, cat_name, args.stub_catalog)
    cfg = FrontierConfig(
        num_partitions=args.partitions,
        universe_n=args.universe,
        n_hosts=args.hosts,
        seed=args.seed,
        links_per_fetch=args.links,
        default_budget=args.budget,
        round_duration_ms=args.round_ms,
        n_salts=args.salts,
        max_frontier_per_host=args.max_per_host,
        revisit_after=args.revisit_after,
        revisit_decay=args.revisit_decay,
    )
    fr = CrawlFrontier(spark, args.ckpt, cfg)
    resumed = fr.ckpt.last_committed_round()
    seeds = None if resumed is not None else synth.gen_seeds(spark, args.universe, cfg.n_hosts, args.seed)
    if resumed is not None:
        print(f"resuming after committed round {resumed}", file=sys.stderr)

    def _live(m):
        print(json.dumps(m), file=sys.stderr)  # live per-round record

    # run() owns bootstrap/resume/termination (incl. revisit idling);
    # the job only adds timing and live output
    t0 = time.time()
    metrics = fr.run(seeds, args.rounds, on_round=_live)
    wall = time.time() - t0
    t_boot = max(0.0, wall - sum(m.get("wall_s", 0.0) for m in metrics))
    total_scheduled = sum(m["scheduled"] for m in metrics)
    total_candidates = sum(m["candidates"] for m in metrics)
    out = {
        "rounds": [m["round"] for m in metrics],
        "scheduled_total": total_scheduled,
        "candidates_total": total_candidates,
        "bootstrap_s": round(t_boot, 2),
        "urls_per_sec": round(total_scheduled / wall, 1) if wall > 0 else None,
        "candidates_per_sec": round(total_candidates / wall, 1) if wall > 0 else None,
        "wall_s": round(wall, 2),
        "metrics": metrics,
    }
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
