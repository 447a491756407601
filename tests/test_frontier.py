"""Frontier loop tests: distributed-vs-oracle replay equality, lineage
consistency, and deterministic kill/resume."""

import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from ccspark import synth
from ccspark.frontier import CrawlFrontier, FrontierConfig

from frontier_oracle import replay

UNIVERSE = 2000
N_HOSTS = 50
SEED = 42
ROUNDS = 3
BUDGET = 5
ROUND_MS = 60_000
LINKS = 3


def _cfg(num_partitions=8):
    return FrontierConfig(
        num_partitions=num_partitions,
        universe_n=UNIVERSE,
        n_hosts=N_HOSTS,
        seed=SEED,
        links_per_fetch=LINKS,
        default_budget=BUDGET,
        round_duration_ms=ROUND_MS,
        n_salts=4,
    )


def _spark_trace(spark, ckpt_dir, upto_round):
    fr = CrawlFrontier(spark, ckpt_dir)
    rows = fr.read_trace(upto_round).collect()
    trace = {(r["round"], r["host"], r["host_rank"], r["canonical_url"]) for r in rows}
    seen_rows = fr.read_seen(upto_round).collect()
    seen = {(r["domain_hash"], r["url_hash"]) for r in seen_rows}
    return trace, seen


@pytest.fixture(scope="module")
def crawl(spark, tmp_path_factory):
    ckpt = str(tmp_path_factory.mktemp("ckpt"))
    fr = CrawlFrontier(spark, ckpt, _cfg())
    seeds = synth.gen_seeds(spark, UNIVERSE, N_HOSTS, SEED)
    metrics = fr.run(seeds, ROUNDS)
    return ckpt, metrics


def test_rounds_progress(crawl):
    _, metrics = crawl
    assert len(metrics) == ROUNDS
    assert all(m["scheduled"] > 0 for m in metrics)
    assert metrics[0]["candidates"] > 0


def test_trace_matches_pure_python_oracle(spark, crawl):
    ckpt, _ = crawl
    got_trace, got_seen = _spark_trace(spark, ckpt, ROUNDS)
    exp_trace, exp_seen = replay(UNIVERSE, N_HOSTS, SEED, ROUNDS, BUDGET, ROUND_MS, LINKS)
    assert got_seen == exp_seen
    missing = exp_trace - got_trace
    extra = got_trace - exp_trace
    assert not missing and not extra, (
        f"{len(missing)} missing, {len(extra)} extra; "
        f"e.g. missing={sorted(missing)[:3]} extra={sorted(extra)[:3]}"
    )


def test_lineage_consistency(spark, crawl):
    ckpt, metrics = crawl
    fr = CrawlFrontier(spark, ckpt)
    for m in metrics:
        lineage = fr.ckpt.read(spark, "lineage", m["round"])
        agg = lineage.agg(
            F.sum("urls_emitted").alias("e"), F.sum("fetch_budget_consumed").alias("b")
        ).collect()[0]
        assert agg["e"] == m["scheduled"]
        assert agg["b"] == m["scheduled"]


@pytest.mark.parametrize("backend", ["parquet", "iceberg_stub"])
def test_lineage_matches_processed_rows(spark, tmp_path, monkeypatch, backend):
    """The lineage read off the processed files' footers holds one row per
    partition with scheduled rows; its hash range is the min/max
    domain_hash of that partition's processed rows (scheduled and
    robots-retired) and both counts are its scheduled rows."""
    if backend == "iceberg_stub":
        from iceberg_stub import install

        install(monkeypatch, spark, "stubcat")
        where = "iceberg:stubcat.lineage"
    else:
        where = str(tmp_path / "lineage")
    fr = CrawlFrontier(spark, where, _cfg())
    metrics = fr.run(synth.gen_seeds(spark, UNIVERSE, N_HOSTS, SEED), ROUNDS)
    for m in metrics:
        k = m["round"]
        proc = fr.ckpt.read(spark, "processed", k).toPandas()
        assert proc["host_rank"].isna().any()  # robots-retired rows are in the range
        per = proc.assign(sched=proc["host_rank"].notna()).groupby("partition_id")
        exp = {
            (int(pid), int(g["domain_hash"].min()), int(g["domain_hash"].max()), n, 0, n)
            for pid, g in per
            if (n := int(g["sched"].sum()))
        }
        got = {
            tuple(int(x) for x in r)
            for r in fr.ckpt.read(spark, "lineage", k)
            .select(
                "partition_id", "hash_range_start", "hash_range_end",
                "urls_emitted", "urls_deduped", "fetch_budget_consumed",
            )
            .collect()
        }
        assert got == exp
        assert sum(e[3] for e in exp) == m["scheduled"]


def test_lineage_without_footer_statistics_raises(tmp_path):
    """A processed file whose footer carries no statistics fails the
    lineage read with an error naming the file, instead of a guess."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ccspark.frontier import _scheduled_by_partition

    d = tmp_path / "processed" / "round=1" / "partition_id=3"
    d.mkdir(parents=True)
    table = pa.table({"host_rank": pa.array([1, None], pa.int32()), "domain_hash": pa.array([7, 3], pa.int64())})
    pq.write_table(table, d / "part-00000.parquet")
    assert _scheduled_by_partition(str(tmp_path), 1, 4) == {3: (1, 3, 7)}
    pq.write_table(table, d / "part-00000.parquet", write_statistics=False)
    with pytest.raises(ValueError, match="part-00000.parquet"):
        _scheduled_by_partition(str(tmp_path), 1, 4)


def test_budget_respected(spark, crawl):
    ckpt, _ = crawl
    fr = CrawlFrontier(spark, ckpt)
    robots = synth.gen_robots_pdf(N_HOSTS, SEED).set_index("host")
    sched = fr.read_trace(ROUNDS).toPandas()
    per = sched.groupby(["round", "host"]).size()
    for (rnd, host), cnt in per.items():
        if host in robots.index:
            row = robots.loc[host]
            budget = int(row["max_fetches_per_round"])
            import pandas as pd

            if not pd.isna(row["crawl_delay_ms"]) and row["crawl_delay_ms"] > 0:
                budget = min(budget, max(1, int(ROUND_MS / row["crawl_delay_ms"])))
        else:
            budget = BUDGET
        assert cnt <= budget, f"{host} round {rnd}: {cnt} > {budget}"


def test_no_disallowed_scheduled(spark, crawl):
    ckpt, _ = crawl
    fr = CrawlFrontier(spark, ckpt)
    robots = synth.gen_robots_pdf(N_HOSTS, SEED)
    sched = fr.read_trace(ROUNDS).toPandas()
    ruled = set(robots["host"])
    for _, row in sched.iterrows():
        if row["host"] in ruled:
            assert "/private" not in row["canonical_url"]


def test_resume_equals_straight_run(spark, tmp_path, crawl):
    """Run 2 rounds, 'kill', resume for 1 more → identical to the 3-round
    trace from the uninterrupted run (crawl fixture)."""
    ckpt_b = str(tmp_path / "ckpt_b")
    fr1 = CrawlFrontier(spark, ckpt_b, _cfg())
    seeds = synth.gen_seeds(spark, UNIVERSE, N_HOSTS, SEED)
    fr1.run(seeds, 2)
    # simulate crash debris: a partially-written, uncommitted round
    import os

    debris = os.path.join(ckpt_b, "processed", "round=3")
    os.makedirs(debris, exist_ok=True)
    open(os.path.join(debris, "part-junk.parquet"), "wb").write(b"garbage")
    # resume in a NEW driver object
    fr2 = CrawlFrontier(spark, ckpt_b, _cfg())
    fr2.run(None, 1)
    trace_b, seen_b = _spark_trace(spark, ckpt_b, ROUNDS)
    ckpt_a, _ = crawl
    trace_a, seen_a = _spark_trace(spark, ckpt_a, ROUNDS)
    assert trace_a == trace_b
    assert seen_a == seen_b


def test_partition_count_invariance(spark, tmp_path, crawl):
    """Different parallelism must give the identical trace (north_rule
    determinism under N vs 4N executors)."""
    ckpt_c = str(tmp_path / "ckpt_c")
    fr = CrawlFrontier(spark, ckpt_c, _cfg(num_partitions=2))
    seeds = synth.gen_seeds(spark, UNIVERSE, N_HOSTS, SEED)
    fr.run(seeds, ROUNDS)
    trace_c, seen_c = _spark_trace(spark, ckpt_c, ROUNDS)
    ckpt_a, _ = crawl
    trace_a, seen_a = _spark_trace(spark, ckpt_a, ROUNDS)
    assert trace_a == trace_c
    assert seen_a == seen_c


def test_checkpoint_factory_and_iceberg_gate(spark, tmp_path):
    """make_checkpoint: paths -> parquet emulation; iceberg: locations
    require a configured catalog with loadable jars."""
    from ccspark.catalog import iceberg_available, make_checkpoint
    from ccspark.checkpoint import Checkpoint

    ck = make_checkpoint(spark, str(tmp_path / "ck"))
    assert isinstance(ck, Checkpoint)
    assert not iceberg_available(spark, "nosuchcat")
    with pytest.raises(RuntimeError):
        make_checkpoint(spark, "iceberg:nosuchcat.crawl")
    with pytest.raises(ValueError):
        make_checkpoint(spark, "iceberg:missing_namespace")


def test_frontier_against_iceberg_catalog(tmp_path):
    """Full kill/resume against the REAL Iceberg backend.  Runs only
    when this Spark ships Iceberg jars + a configured catalog (this
    sandbox does not — the parquet emulation covers the protocol; the
    backend's SQL surface is exercised wherever jars exist)."""
    from ccspark.session import build_session

    probe = build_session("iceberg-probe", master="local[2]", shuffle_partitions=2)
    try:
        from ccspark.catalog import iceberg_available

        probe.conf.set(
            "spark.sql.catalog.ccspark_it", "org.apache.iceberg.spark.SparkCatalog"
        )
        if not iceberg_available(probe, "ccspark_it"):
            pytest.skip("no Iceberg jars in this environment")
        probe.conf.set("spark.sql.catalog.ccspark_it.type", "hadoop")
        probe.conf.set(
            "spark.sql.catalog.ccspark_it.warehouse", str(tmp_path / "wh")
        )
        fr = CrawlFrontier(probe, "iceberg:ccspark_it.crawl", _cfg(num_partitions=4))
        seeds = synth.gen_seeds(probe, UNIVERSE, N_HOSTS, SEED)
        fr.run(seeds, 2)
        fr2 = CrawlFrontier(probe, "iceberg:ccspark_it.crawl", _cfg(num_partitions=4))
        fr2.run(None, 1)
        trace = {
            (r["round"], r["host"], r["host_rank"], r["canonical_url"])
            for r in fr2.read_trace(ROUNDS).collect()
        }
        exp_trace, _ = replay(UNIVERSE, N_HOSTS, SEED, ROUNDS, BUDGET, ROUND_MS, LINKS)
        assert trace == exp_trace
    finally:
        pass  # session shared-ish; leave running


# the round phases in call order (CrawlFrontier methods)
_PHASES = (
    "_candidates",
    "_write_processed",
    "_expand_dedup",
    "_write_frontier",
    "_write_lineage",
    "_commit",
)


def _fail_next(monkeypatch, phase) -> list:
    """Make the next call of round phase ``phase`` raise before it runs
    (a failure at the boundary just before that phase); later calls
    pass.  Returns a list that is non-empty once the failure fired."""
    real = getattr(CrawlFrontier, phase)
    failed = []

    def _fail_once(*args, **kwargs):
        if not failed:
            failed.append(True)
            raise RuntimeError(f"injected {phase} failure")
        return real(*args, **kwargs)

    monkeypatch.setattr(CrawlFrontier, phase, _fail_once)
    return failed


def _fail_next_frontier_write(monkeypatch, fr) -> list:
    """Make the next frontier write raise inside the write itself (after
    the round's processed write); returns the threads it failed on."""
    import threading

    real_write = fr.ckpt.write
    failed_on = []

    def _write(df, name, round_no, partition_by=None):
        if name == "frontier" and not failed_on:
            failed_on.append(threading.current_thread())
            raise RuntimeError("injected frontier_write failure")
        return real_write(df, name, round_no, partition_by)

    monkeypatch.setattr(fr.ckpt, "write", _write)
    return failed_on


def test_revisit_scheduling(spark, tmp_path):
    """Recrawl: with revisit_after=2, every URL scheduled in round r is
    re-offered (and, with generous budgets, re-scheduled) in round r+2
    at decayed priority; robots-retired URLs are never revisited; the
    discovery trace of rounds without a due cycle is unchanged."""
    cfg = FrontierConfig(
        num_partitions=8,
        universe_n=UNIVERSE,
        n_hosts=N_HOSTS,
        seed=SEED,
        links_per_fetch=LINKS,
        default_budget=500,  # budgets never bind → revisit set is exact
        round_duration_ms=ROUND_MS,
        n_salts=4,
        revisit_after=2,
    )
    # empty robots: no crawl-delay/caps, so every due revisit schedules
    empty_robots = spark.createDataFrame(
        [],
        "host string, disallow_prefixes array<string>, crawl_delay_ms long, "
        "max_fetches_per_round int",
    )
    ckpt = str(tmp_path / "ckpt_revisit")
    fr = CrawlFrontier(spark, ckpt, cfg, robots_df=empty_robots)
    fr.run(synth.gen_seeds(spark, UNIVERSE, N_HOSTS, SEED), 4)
    rows = fr.read_trace(4).collect()
    by_round = {}
    for r in rows:
        by_round.setdefault(r["round"], set()).add(r["canonical_url"])
    # rounds 3 and 4 re-schedule EVERYTHING from rounds 1 and 2
    assert by_round[1] <= by_round[3]
    assert by_round[2] <= by_round[4]
    # a revisited row carries decayed priority
    p1 = {r["canonical_url"]: r["priority"] for r in rows if r["round"] == 1}
    p3 = {r["canonical_url"]: r["priority"] for r in rows if r["round"] == 3}
    assert set(p1) <= set(p3)
    assert all(abs(p3[u] - p1[u] * 0.5) < 1e-12 for u in p1)


def test_revisit_trace_matches_oracle(spark, tmp_path):
    """Revisit scheduling under FULL politeness (robots, crawl-delay
    budgets, caps) equals the pure-Python replay oracle's recrawl
    semantics — budget-squeezed revisits and all."""
    cfg = _cfg()
    cfg.revisit_after = 2
    ckpt = str(tmp_path / "ckpt_rv_oracle")
    fr = CrawlFrontier(spark, ckpt, cfg)
    fr.run(synth.gen_seeds(spark, UNIVERSE, N_HOSTS, SEED), 4)
    rows = fr.read_trace(4).collect()
    got = {(r["round"], r["host"], r["host_rank"], r["canonical_url"]) for r in rows}
    exp, _ = replay(
        UNIVERSE, N_HOSTS, SEED, 4, BUDGET, ROUND_MS, LINKS, revisit_after=2
    )
    missing = exp - got
    extra = got - exp
    assert not missing and not extra, (
        f"{len(missing)} missing, {len(extra)} extra; "
        f"e.g. missing={sorted(missing)[:3]} extra={sorted(extra)[:3]}"
    )


def test_revisit_source_read_error_fails_the_round(spark, tmp_path, monkeypatch):
    """A due revisit round whose processed source exists but cannot be
    read must raise and commit nothing, not run without its revisits."""
    cfg = _cfg()
    cfg.revisit_after = 2
    fr = CrawlFrontier(spark, str(tmp_path / "ckpt_rv_err"), cfg)
    fr.run(synth.gen_seeds(spark, UNIVERSE, N_HOSTS, SEED), 2)

    real_read = fr.ckpt.read

    def _read(spark_, name, round_no, schema=None):
        if name == "processed":
            raise OSError(f"injected read failure: processed round {round_no}")
        return real_read(spark_, name, round_no, schema)

    monkeypatch.setattr(fr.ckpt, "read", _read)
    with pytest.raises(OSError, match="processed round 1"):
        fr.run(None, 1)
    assert fr.ckpt.last_committed_round() == 2


def test_revisit_source_without_root_domain_hash_fails_the_round(spark, tmp_path):
    """A revisit source missing a frontier column must fail the round,
    not run it without its revisits."""
    from pyspark.errors import AnalysisException

    cfg = _cfg()
    cfg.revisit_after = 2
    fr = CrawlFrontier(spark, str(tmp_path / "ckpt_rv_cols"), cfg)
    fr.run(synth.gen_seeds(spark, UNIVERSE, N_HOSTS, SEED), 2)
    src = fr.ckpt.table_dir("processed", 1)
    stripped = str(tmp_path / "processed_r1")
    spark.read.parquet(src).drop("root_domain_hash").write.partitionBy("partition_id").parquet(stripped)
    shutil.rmtree(src)
    shutil.move(stripped, src)
    with pytest.raises(AnalysisException, match="root_domain_hash"):
        fr.run(None, 1)
    assert fr.ckpt.last_committed_round() == 2


def test_run_round_out_of_order_raises(spark, tmp_path):
    """run_round(k) must follow committed round k-1: it reads that
    round's frontier size from the manifest.  A skipped round raises
    before anything is written."""
    import os

    ckpt = str(tmp_path / "ckpt_order")
    fr = CrawlFrontier(spark, ckpt, _cfg())
    fr.run(synth.gen_seeds(spark, UNIVERSE, N_HOSTS, SEED), 1)
    before = sorted(os.listdir(ckpt)), fr.ckpt.read_manifest()
    with pytest.raises(ValueError, match="round 3 cannot follow committed round 1; expected round 2"):
        fr.run_round(3)
    assert (sorted(os.listdir(ckpt)), fr.ckpt.read_manifest()) == before
    assert not any(os.path.exists(fr.ckpt.table_dir(t, 3)) for t in os.listdir(ckpt))
    with pytest.raises(ValueError, match="round 1 cannot follow an empty checkpoint"):
        CrawlFrontier(spark, str(tmp_path / "ckpt_empty"), _cfg()).run_round(1)


@pytest.mark.parametrize("backend", ["parquet", "iceberg_stub"])
def test_resume_with_other_partition_count_raises(spark, tmp_path, monkeypatch, backend):
    """The state tables and the links gate's partition pruning are laid
    out by pmod(domain_hash, P), so a crawl resumed with another P would
    look seen URLs up in the wrong partitions and schedule them again.
    The manifest records P; the resumed round raises ValueError naming
    both counts before it writes anything, and the crawl resumes with
    its own P."""
    if backend == "iceberg_stub":
        from iceberg_stub import install

        install(monkeypatch, spark, "stubcat")
        where = "iceberg:stubcat.repartition"
    else:
        where = str(tmp_path / "repartition")
    seeds = synth.gen_seeds(spark, UNIVERSE, N_HOSTS, SEED)
    CrawlFrontier(spark, where, _cfg(num_partitions=4)).run(seeds, 2)
    other = CrawlFrontier(spark, where, _cfg(num_partitions=3))
    before = other.ckpt.read_manifest()

    def no_write(*a, **k):
        raise AssertionError("the resumed round wrote before its partition-count check")

    for method in ("write", "write_pdf", "commit_round"):
        monkeypatch.setattr(other.ckpt, method, no_write)
    with pytest.raises(ValueError, match="num_partitions=3.*num_partitions=4"):
        other.run(None, 2)
    assert other.ckpt.read_manifest() == before and before["num_partitions"] == 4
    fr = CrawlFrontier(spark, where, _cfg(num_partitions=4))
    fr.run(None, 1)
    trace = fr.read_trace(ROUNDS).select("domain_hash", "url_hash")
    assert trace.count() == trace.distinct().count()


def test_drained_frontier_recrawl_matches_oracle(spark, tmp_path):
    """links_per_fetch=0 drains the frontier after round 1; with
    revisit_after=2 the engine idles through the gap round and re-runs
    the recrawl cycle — the replay oracle must agree round for round,
    including the recrawl-only rounds (empty frontier, revisit-only
    candidates)."""
    cfg = FrontierConfig(
        num_partitions=8,
        universe_n=UNIVERSE,
        n_hosts=N_HOSTS,
        seed=SEED,
        links_per_fetch=0,
        default_budget=500,  # schedule every seed in round 1 → clean drain
        round_duration_ms=ROUND_MS,
        n_salts=4,
        revisit_after=2,
    )
    empty_robots = spark.createDataFrame(
        [],
        "host string, disallow_prefixes array<string>, crawl_delay_ms long, "
        "max_fetches_per_round int",
    )
    fr = CrawlFrontier(spark, str(tmp_path / "ckpt_drain"), cfg, robots_df=empty_robots)
    metrics = fr.run(synth.gen_seeds(spark, UNIVERSE, N_HOSTS, SEED), 6)
    sched = [m["scheduled"] for m in metrics]
    # drain at round 2, recrawl at round 3, and so on in a 2-cycle
    assert [s > 0 for s in sched] == [True, False, True, False, True, False]
    rows = fr.read_trace(len(metrics)).collect()
    got = {(r["round"], r["host"], r["host_rank"], r["canonical_url"]) for r in rows}
    exp, _ = replay(
        UNIVERSE, N_HOSTS, SEED, len(metrics), 500, ROUND_MS, 0,
        revisit_after=2, robots={},
    )
    assert got == exp


def test_frontier_per_host_cap(spark, tmp_path):
    """max_frontier_per_host priority-evicts hot hosts' queues every
    round; the cap holds in every checkpointed frontier and the run is
    partition-count invariant like the uncapped loop."""
    from pyspark.sql import functions as F

    def run(ckpt, parts):
        cfg = FrontierConfig(
            num_partitions=parts,
            universe_n=UNIVERSE,
            n_hosts=N_HOSTS,
            seed=SEED,
            links_per_fetch=LINKS,
            default_budget=BUDGET,
            round_duration_ms=ROUND_MS,
            n_salts=4,
            max_frontier_per_host=5,
        )
        fr = CrawlFrontier(spark, ckpt, cfg)
        seeds = synth.gen_seeds(spark, UNIVERSE, N_HOSTS, SEED)
        fr.run(seeds, 2)
        return fr

    fr = run(str(tmp_path / "capped_a"), 8)
    for r in (1, 2):
        frontier = fr.ckpt.read(spark, "frontier", r)
        over = (
            frontier.groupBy("domain_hash")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > 5)
            .count()
        )
        assert over == 0, f"round {r}: host queue exceeds cap"
    fr_b = run(str(tmp_path / "capped_b"), 2)
    ta = {
        (r["round"], r["host"], r["host_rank"], r["canonical_url"])
        for r in fr.read_trace(2).collect()
    }
    tb = {
        (r["round"], r["host"], r["host_rank"], r["canonical_url"])
        for r in fr_b.read_trace(2).collect()
    }
    assert ta == tb and len(ta) > 0


def test_frontier_with_real_link_extraction(spark, tmp_path):
    """expand_fn plugs a REAL render→extract→resolve pipeline into the
    crawl loop: each scheduled URL 'fetches' a synthesized HTML page
    whose hrefs are real anchors, links.page_links extracts + resolves
    them, and the frontier grows with their canonical identities."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    from ccspark import links

    def expand(scheduled):
        def _render(url):
            out = []
            for u in url:
                # two deterministic out-links per fetched page
                h = (
                    f'<html><a href="child/1">a</a>'
                    f"<a href='child/2?x=1&amp;y=2'>b</a></html>"
                )
                out.append(h)
            return pd.Series(out, index=url.index)

        render = pandas_udf(_render, "string")
        pages = scheduled.select("url", render(F.col("url")).alias("html"))
        return links.page_links(pages, "url", "html").select(
            "link", F.lit(0.4).alias("priority")
        ).withColumnRenamed("link", "url")

    cfg = FrontierConfig(
        num_partitions=4,
        universe_n=UNIVERSE,
        n_hosts=N_HOSTS,
        seed=SEED,
        default_budget=BUDGET,
        n_salts=4,
    )
    fr = CrawlFrontier(spark, str(tmp_path / "real"), cfg, expand_fn=expand)
    seeds = synth.gen_seeds(spark, 500, N_HOSTS, SEED)
    metrics = fr.run(seeds, 2)
    assert all(m["scheduled"] > 0 for m in metrics)
    # round-2 scheduled must include child links of round-1 fetches
    r2 = fr.read_trace(2).filter("round = 2").toPandas()
    assert (r2["canonical_url"].str.contains("/child/", regex=False)).any()
    # and the children resolved RELATIVE to their parent pages
    child = r2[r2["canonical_url"].str.contains("/child/2", regex=False)].iloc[0]
    assert child["canonical_url"].endswith("child/2?x=1&y=2")


_EMPTY_ROBOTS = (
    "host string, disallow_prefixes array<string>, crawl_delay_ms long, "
    "max_fetches_per_round int"
)

# name → (FrontierConfig overrides, rounds, run with an empty robots table)
_GATE_ONCE_CASES = {
    "bootstrap": ({}, 0, False),
    "bloom": ({}, ROUNDS, False),  # the default config
    "per_host_cap": ({"max_frontier_per_host": 5}, ROUNDS, False),
    "revisit": ({"revisit_after": 2}, 4, False),
    # links_per_fetch=0 drains after round 1: rounds 2 and 4 are drained
    # (the round phases over empty frames), rounds 3 and 5 recrawl-only
    "drained_recrawl": (
        {"revisit_after": 2, "links_per_fetch": 0, "default_budget": 500}, 5, True
    ),
    # every round injects rows (a streaming micro-batch's shape): seeds,
    # seen after round 1, and new pages
    "injected": ({}, ROUNDS, False),
}


def _injected_pdf(k):
    import pandas as pd

    ids = np.concatenate([np.arange(0, UNIVERSE, 92), np.arange(k, UNIVERSE, 97)])
    ids = np.concatenate([ids, ids[:3]])  # repeats within the batch
    urls, _ = synth.gen_urls_pdf(ids, N_HOSTS, SEED)
    pri = np.arange(len(ids)) % 10 / 10.0
    return pd.DataFrame({"url": urls.to_numpy(dtype=object), "priority": pri})


# fault-injection resume matrix: round 2 fails at each phase boundary, or
# inside the frontier write; the crawl then resumes
_FAIL_CASES = {"fail_at_" + p.lstrip("_"): p for p in _PHASES}
_FAIL_CASES["fail_in_frontier_write"] = "frontier_write"
_GATE_ONCE_CASES.update({case: ({}, ROUNDS, False) for case in _FAIL_CASES})


@pytest.mark.parametrize("backend", ["parquet", "iceberg_stub"])
@pytest.mark.parametrize("case", sorted(_GATE_ONCE_CASES))
def test_committed_frontier_passes_its_own_gate(spark, tmp_path, monkeypatch, spark_state, case, backend):
    """The gate-once invariant: every committed frontier/round=k already
    excludes the seen set through k, so re-gating it (what a round-start novelty gate would do at
    round k+1) keeps every row.  Holds for the three ways a frontier
    table is written: bootstrap, the links gate and the optional
    per-host cap after it, which only evicts; a drained round writes
    through the links gate too, and so does a round with injected rows,
    which are gated at k-1 as candidates.  Revisits join after the gate
    and never land in the frontier.  The crawl must also equal the replay oracle,
    which computes novelty on its own.  A failed round raises on the
    calling thread and leaves the live threads, the session's AQE
    setting, cache and persistent RDDs as they were before it."""
    from ccspark import seenset

    overrides, rounds, empty_robots = _GATE_ONCE_CASES[case]
    cfg = _cfg()
    for k, v in overrides.items():
        setattr(cfg, k, v)
    if backend == "iceberg_stub":
        from iceberg_stub import install

        install(monkeypatch, spark, "stubcat")
        where = f"iceberg:stubcat.gate_once_{case}"
    else:
        where = str(tmp_path / case)
    robots = spark.createDataFrame([], _EMPTY_ROBOTS) if empty_robots else None
    fr = CrawlFrontier(spark, where, cfg, robots_df=robots)
    sizes = {}

    def on_round(m):
        sizes[m["round"]] = m["frontier_size"]

    seeds = synth.gen_seeds(spark, UNIVERSE, N_HOSTS, SEED)
    if case in _FAIL_CASES:
        import threading

        phase = _FAIL_CASES[case]
        fr.run(seeds, 1, on_round=on_round)
        state, threads = spark_state(), set(threading.enumerate())
        if phase == "frontier_write":
            failed = _fail_next_frontier_write(monkeypatch, fr)
        else:
            failed = _fail_next(monkeypatch, phase)
        with pytest.raises(RuntimeError, match=f"injected {phase} failure"):
            fr.run(None, rounds - 1, on_round=on_round)
        assert failed
        if phase == "frontier_write":
            assert failed == [threading.current_thread()]  # raised on the calling thread
        assert fr.ckpt.last_committed_round() == 1
        assert set(threading.enumerate()) == threads
        assert spark_state() == state
        fr.run(None, rounds - 1, on_round=on_round)
    elif case == "injected":
        fr.bootstrap(seeds)
        for k in range(1, rounds + 1):
            on_round(fr.run_round(k, injected=spark.createDataFrame(_injected_pdf(k))))
    else:
        fr.run(seeds, rounds, on_round=on_round)

    upto = fr.ckpt.last_committed_round()
    assert upto == rounds
    loc = fr.ckpt.state_location()
    for k in range(upto + 1):
        if k > 0 and sizes[k] == 0:
            continue  # a drained frontier has no rows (nor files) to re-gate
        frame = fr.ckpt.read(spark, "frontier", k)
        n = frame.count()
        assert n > 0
        kept = seenset.gate_new_storage(frame, loc, k, cfg.num_partitions).count()
        assert kept == n, f"round {k}: re-gating dropped {n - kept} of {n} frontier rows"

    injected = {k: _injected_pdf(k) for k in range(1, upto + 1)} if case == "injected" else {}
    exp_trace, exp_seen = replay(
        UNIVERSE, N_HOSTS, SEED, upto, cfg.default_budget, ROUND_MS, cfg.links_per_fetch,
        revisit_after=cfg.revisit_after,
        robots={} if empty_robots else None,
        max_frontier_per_host=cfg.max_frontier_per_host,
        injected={k: (pdf["url"].tolist(), pdf["priority"].tolist()) for k, pdf in injected.items()},
    )
    if upto == 0:
        assert not exp_trace and not exp_seen
        return
    got_trace = {
        (r["round"], r["host"], r["host_rank"], r["canonical_url"])
        for r in fr.read_trace(upto).collect()
    }
    got_seen = {(r["domain_hash"], r["url_hash"]) for r in fr.read_seen(upto).collect()}
    assert got_trace == exp_trace
    assert got_seen == exp_seen


def test_one_gate_call_per_round(spark, tmp_path, monkeypatch):
    """Each URL identity is gated once: every round runs the
    storage gate exactly once (the links gate), never again over the
    frontier it reads."""
    from ccspark import seenset

    real_gate = seenset.gate_new_storage
    calls = []

    def _counting_gate(*args, **kwargs):
        calls.append(args[2])  # seen_upto
        return real_gate(*args, **kwargs)

    monkeypatch.setattr(seenset, "gate_new_storage", _counting_gate)
    per_round = []
    fr = CrawlFrontier(spark, str(tmp_path / "gate_calls"), _cfg())
    metrics = fr.run(
        synth.gen_seeds(spark, UNIVERSE, N_HOSTS, SEED),
        2,
        on_round=lambda m: per_round.append(list(calls)),
    )
    assert all(m["candidates"] > 0 for m in metrics)
    assert per_round == [[1], [1, 2]]
    assert all("novel" not in m for m in metrics)


def test_round_job_budget(spark, tmp_path, last_job_id, spark_state):
    """A steady round (2) and a revisit round (4, revisit_after=3) each
    run three Spark jobs on the parquet backend, read from the status
    store: the robots broadcast, the processed write and the frontier
    write (ARCHITECTURE §1).  The lineage and the
    revisit probe read Parquet footers and launch none.  Every round
    leaves the session's AQE setting and cache as it found them."""
    cfg = _cfg()
    cfg.revisit_after = 3
    fr = CrawlFrontier(spark, str(tmp_path / "budget"), cfg)
    fr.bootstrap(synth.gen_seeds(spark, UNIVERSE, N_HOSTS, SEED))
    jobs = {}
    for r in range(1, 5):
        state, j0 = spark_state(), last_job_id()
        fr.run_round(r)
        jobs[r] = last_job_id() - j0
        assert spark_state() == state
    assert (jobs[2], jobs[4]) == (3, 3), jobs


def test_drained_round_runs_three_phases(spark, tmp_path, last_job_id, spark_state):
    """A drained round (no frontier, no due revisit) takes the one round
    path: three Spark jobs on the parquet backend, the three phase walls,
    and a manifest listing all three tables.  links_per_fetch=0 with a
    budget above the seed count drains the frontier after round 1."""
    cfg = _cfg()
    cfg.links_per_fetch = 0
    cfg.default_budget = 500
    fr = CrawlFrontier(spark, str(tmp_path / "drained"), cfg, robots_df=spark.createDataFrame([], _EMPTY_ROBOTS))
    fr.bootstrap(synth.gen_seeds(spark, UNIVERSE, N_HOSTS, SEED))
    assert fr.run_round(1)["frontier_size"] == 0
    state, j0 = spark_state(), last_job_id()
    m = fr.run_round(2)
    assert last_job_id() - j0 == 3
    assert spark_state() == state
    assert (m["candidates"], m["scheduled"], m["frontier_size"]) == (0, 0, 0)
    assert set(m["phase_s"]) == {"processed_write", "frontier_write", "lineage_write"}
    assert fr.ckpt.read_manifest()["tables"] == {
        t: "round=2" for t in ("frontier", "processed", "lineage")
    }
    assert fr.ckpt.read(spark, "lineage", 2).count() == 0


def test_bootstrap_runs_one_job(spark, tmp_path, last_job_id, spark_state):
    """Bootstrap is one Spark job, the identified-seeds write (its plan
    runs with AQE off), and leaves the session's AQE setting and cache
    as it found them."""
    fr = CrawlFrontier(spark, str(tmp_path / "boot"), _cfg())
    seeds = synth.gen_seeds(spark, UNIVERSE, N_HOSTS, SEED)
    state, j0 = spark_state(), last_job_id()
    fr.bootstrap(seeds)
    assert last_job_id() - j0 == 1
    assert spark_state() == state


def test_read_trace_launches_no_job(spark, crawl, last_job_id):
    """Every round of the trace and the seen set is read with the
    processed table's fixed schema: no job runs before an action."""
    ckpt, _ = crawl
    fr = CrawlFrontier(spark, ckpt)
    j0 = last_job_id()
    trace, seen = fr.read_trace(ROUNDS), fr.read_seen(ROUNDS)
    assert last_job_id() == j0
    assert trace.count() > 0 and seen.count() >= trace.count()
