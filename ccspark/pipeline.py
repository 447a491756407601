"""Crawl-scheduling pipeline — the scaling benchmark unit.

The per-URL work of a crawl round in two timed Spark actions, built
from the round's own pieces:

    raw urls → canonicalize + URLFPV2 fingerprints (one fused kernel pass)
             → identified-candidates parquet (frontier-shaped rows)
    stored   → frontier.dedup_by_identity (one Exchange, by partition_id)
             → seenset.gate_new_storage against a pre-seeded crawl state
               (exact seen-array lookup, worker-side)
             → politeness.process_round (robots gate + crawl-delay
               budget + salted per-host priority rank)
             → scheduled parquet

The schedule plan runs under ``frontier.adaptive_off``, as a round's
plans do, so it is the same plan shape the loop runs: the loop's links
gate is dedup → gate, its processed phase is process_round.  What the
unit leaves out is the loop's per-round bookkeeping (link expansion,
lineage, manifest), so its wall time is dominated by the
per-URL compute at any scale; the scaling criterion (N → 4N executors
at ≥0.8 efficiency) is evidenced on it.
"""

from __future__ import annotations

import shutil
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import politeness, seenset, synth
from .checkpoint import Checkpoint
from .frontier import _pid_col, adaptive_off, dedup_by_identity

_IDENT_SCHEMA = (
    "url string, canonical_url string, domain_hash long, url_hash long, "
    "root_domain_hash long, priority double, url_valid boolean"
)
_SCHEDULE_COLS = ["host", "host_rank", "url", "canonical_url", "domain_hash", "url_hash", "priority"]


def _identified(ids: DataFrame, n_hosts: int, seed: int) -> DataFrame:
    """Identified rows for the universe ids in ``ids`` (a range frame)."""
    from . import urls as urls_mod

    def _gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            u, _ = synth.gen_urls_pdf(ids, n_hosts, seed)
            pri = (synth._rand(ids, 9, seed) % np.uint64(1000)).astype(np.float64) / 1000.0
            canon, hosts = urls_mod.canonicalize_batch_with_host(u)
            fp = urls_mod.urlfp_batch(canon, hosts=hosts)
            yield pd.DataFrame(
                {
                    "url": u.to_numpy(),
                    "canonical_url": canon.to_numpy(),
                    "domain_hash": fp["domain_hash"].astype("int64"),
                    "url_hash": fp["url_hash"].astype("int64"),
                    "root_domain_hash": fp["root_domain_hash"].astype("int64"),
                    "priority": pri,
                    "url_valid": fp["valid"],
                }
            )

    return ids.mapInPandas(_gen, schema=_IDENT_SCHEMA)


def identified_candidates(spark: SparkSession, universe_n: int, n_hosts: int | None = None, seed: int = 42) -> DataFrame:
    """Generation + canonicalize + URLFPV2 fused into ONE python pass —
    the bench generator (a real deployment reads raw urls from a table
    and uses functions.with_canonical_urlfp, the same fused kernel).
    Rows are frontier-shaped (``FRONTIER_COLS`` less
    ``discovered_round``) plus ``url_valid``."""
    return _identified(spark.range(universe_n), n_hosts or synth.default_n_hosts(universe_n), seed)


def _seed_state(spark: SparkSession, state: str, universe_n: int, n_hosts: int, seed: int, num_partitions: int) -> None:
    """A crawl state at ``state`` whose round 1 disposed of every 10th id
    of the universe: their identities as ``processed/round=1``, laid out
    as the round's processed write lays them out."""
    seen = (
        _identified(spark.range(0, universe_n, 10), n_hosts, seed)
        .filter("url_valid")
        .select("domain_hash", "url_hash")
        .withColumn("partition_id", _pid_col(num_partitions))
        .repartition(num_partitions, "partition_id")
    )
    Checkpoint(state).write(seen, "processed", 1, partition_by=["partition_id"])


def run_schedule_bench(
    spark: SparkSession,
    universe_n: int,
    out_path: str,
    num_partitions: int = 32,
    seed: int = 42,
    with_seen_filter: bool = True,
) -> dict:
    """Generate → schedule → write, timed end to end.

    Identification is written to an intermediate columnar table first
    (the shape of a stored frontier), then scheduling runs over it —
    both actions timed.  ``with_seen_filter`` gates the candidates
    against a crawl state seeded (untimed) with every 10th id."""
    n_hosts = synth.default_n_hosts(universe_n)
    robots = synth.gen_robots(spark, n_hosts, seed)
    state = out_path + "_state"
    if with_seen_filter:
        _seed_state(spark, state, universe_n, n_hosts, seed, num_partitions)
    cands = identified_candidates(spark, universe_n, n_hosts, seed)
    ident_path = out_path + "_ident"
    t0 = time.time()
    cands.write.mode("overwrite").parquet(ident_path)
    with adaptive_off(spark):
        cand = dedup_by_identity(
            spark.read.schema(_IDENT_SCHEMA)
            .parquet(ident_path)
            .filter("url_valid")
            .withColumn("discovered_round", F.lit(1)),
            num_partitions,
        )
        if with_seen_filter:
            cand = seenset.gate_new_storage(cand, state, 1, num_partitions)
        politeness.process_round(
            cand, robots, default_budget=50, n_salts=8, layout_partitions=num_partitions
        ).filter(F.col("host_rank").isNotNull()).select(*_SCHEDULE_COLS).write.mode(
            "overwrite"
        ).parquet(out_path)
    wall = time.time() - t0
    shutil.rmtree(ident_path, ignore_errors=True)
    shutil.rmtree(state, ignore_errors=True)
    n = spark.read.parquet(out_path).count()
    return {
        "universe": universe_n,
        "scheduled": n,
        "wall_s": round(wall, 2),
        "urls_per_sec": round(universe_n / wall, 1),
    }
