"""Schedule pipeline tests: equivalence with process_round, budget
conformance, determinism."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ccspark import pipeline, politeness, synth

UNIVERSE = 100_000
OUT_COLS = ["host", "host_rank", "url", "canonical_url", "domain_hash", "url_hash", "priority"]


@pytest.fixture(scope="module")
def outputs(spark, tmp_path_factory):
    """The stored bench schedule (a) and process_round's scheduled rows
    over the same deduplicated identified candidates (b), no seen filter
    on either side."""
    d = tmp_path_factory.mktemp("pipe")
    a = pipeline.run_schedule_bench(
        spark, UNIVERSE, str(d / "a"), num_partitions=16, with_seen_filter=False
    )
    n_hosts = synth.default_n_hosts(UNIVERSE)
    cands = (
        pipeline.identified_candidates(spark, UNIVERSE, n_hosts, 42)
        .filter("url_valid")
        .groupBy("domain_hash", "url_hash")
        .agg(
            F.min("url").alias("url"),
            F.min("canonical_url").alias("canonical_url"),
            F.max("priority").alias("priority"),
        )
    )
    proc = politeness.process_round(
        cands, synth.gen_robots(spark, n_hosts, 42), default_budget=50, n_salts=8
    )
    sched = proc.filter(F.col("host_rank").isNotNull()).select(*OUT_COLS)
    pa = spark.read.parquet(str(d / "a")).select(*OUT_COLS).toPandas()
    pb = sched.toPandas().astype(pa.dtypes.to_dict())
    b = {"scheduled": len(pb)}
    pa = pa.sort_values(["host", "host_rank"]).reset_index(drop=True)
    pb = pb.sort_values(["host", "host_rank"]).reset_index(drop=True)
    return a, b, pa, pb


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
    stats_with = pipeline.run_schedule_bench(
        spark, 50_000, str(tmp_path / "w"), num_partitions=8, with_seen_filter=True
    )
    stats_without = pipeline.run_schedule_bench(
        spark, 50_000, str(tmp_path / "wo"), num_partitions=8, with_seen_filter=False
    )
    # the pre-seeded filter removes some candidates (or at worst none)
    assert stats_with["scheduled"] <= stats_without["scheduled"]
