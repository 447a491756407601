"""Scaling-unit tests: the stored schedule equals process_round over the
deduplicated candidates, less the seeded identities when the seen gate
runs; budget conformance."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ccspark import pipeline, politeness, synth
from ccspark import urls as urls_mod

UNIVERSE = 100_000
OUT_COLS = ["host", "host_rank", "url", "canonical_url", "domain_hash", "url_hash", "priority"]


def _oracle(spark, universe, exclude=None):
    """process_round's scheduled rows over the deduplicated identified
    candidates, less the identities in ``exclude``."""
    n_hosts = synth.default_n_hosts(universe)
    cands = (
        pipeline.identified_candidates(spark, universe, n_hosts, 42)
        .filter("url_valid")
        .groupBy("domain_hash", "url_hash")
        .agg(
            F.min("url").alias("url"),
            F.min("canonical_url").alias("canonical_url"),
            F.max("priority").alias("priority"),
        )
    )
    if exclude is not None:
        cands = cands.join(exclude, ["domain_hash", "url_hash"], "left_anti")
    proc = politeness.process_round(
        cands, synth.gen_robots(spark, n_hosts, 42), default_budget=50, n_salts=8
    )
    return proc.filter(F.col("host_rank").isNotNull()).select(*OUT_COLS)


def _same_rows(spark, out_path, oracle):
    """The stored schedule and the oracle, both sorted by (host, rank)."""
    pa = spark.read.parquet(out_path).select(*OUT_COLS).toPandas()
    pb = oracle.toPandas().astype(pa.dtypes.to_dict())
    pa = pa.sort_values(["host", "host_rank"]).reset_index(drop=True)
    pb = pb.sort_values(["host", "host_rank"]).reset_index(drop=True)
    return pa, pb


def _seeded_identities(spark, universe):
    """The identities the unit's seen state holds: every 10th id of the
    universe, identified driver-side with the URL kernel."""
    u, _ = synth.gen_urls_pdf(np.arange(0, universe, 10), synth.default_n_hosts(universe), 42)
    canon, hosts = urls_mod.canonicalize_batch_with_host(u)
    fp = urls_mod.urlfp_batch(canon, hosts=hosts)
    ok = fp["valid"].to_numpy(dtype=bool)
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "domain_hash": fp["domain_hash"].to_numpy(dtype=np.int64)[ok],
                "url_hash": fp["url_hash"].to_numpy(dtype=np.int64)[ok],
            }
        )
    )


@pytest.fixture(scope="module")
def outputs(spark, tmp_path_factory):
    """The stored bench schedule (a) and process_round's scheduled rows
    over the same deduplicated identified candidates (b), no seen gate
    on either side."""
    d = tmp_path_factory.mktemp("pipe")
    a = pipeline.run_schedule_bench(
        spark, UNIVERSE, str(d / "a"), num_partitions=16, with_seen_filter=False
    )
    pa, pb = _same_rows(spark, str(d / "a"), _oracle(spark, UNIVERSE))
    return a, {"scheduled": len(pb)}, pa, pb


def test_two_phase_equals_single_phase(outputs):
    """The two-phase bench (identify → store → schedule) schedules
    exactly what process_round schedules in one plan."""
    a, b, pa, pb = outputs
    assert a["scheduled"] == b["scheduled"] > 0
    assert pa.equals(pb)


def test_budget_and_ranks(outputs):
    _, _, pa, _ = outputs
    robots = synth.gen_robots_pdf(synth.default_n_hosts(100_000), 42).set_index("host")
    for host, grp in pa.groupby("host"):
        assert sorted(grp["host_rank"]) == list(range(1, len(grp) + 1))
        if host in robots.index:
            b = int(robots.loc[host, "max_fetches_per_round"])
            d = robots.loc[host, "crawl_delay_ms"]
            if pd.notna(d) and d > 0:
                b = min(b, max(1, int(60_000 / d)))
        else:
            b = 50
        assert len(grp) <= b


def test_seen_filter_excludes(spark, tmp_path):
    """With the seen gate, the unit schedules exactly what process_round
    schedules over the deduplicated candidates less the seeded
    identities, and the gate drops rows."""
    n = 50_000
    stats = pipeline.run_schedule_bench(
        spark, n, str(tmp_path / "w"), num_partitions=8, with_seen_filter=True
    )
    pa, pb = _same_rows(spark, str(tmp_path / "w"), _oracle(spark, n, _seeded_identities(spark, n)))
    assert stats["scheduled"] == len(pb) > 0
    assert pa.equals(pb)
    assert stats["scheduled"] < _oracle(spark, n).count()
