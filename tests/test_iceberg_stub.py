"""IcebergCheckpoint semantics against the functional stub catalog
(tests/iceberg_stub.py).

The sandbox ships no Iceberg jars and has no network to fetch them, so
the real backend cannot execute (tests/test_frontier.py gates on
iceberg_available and skips).  These tests close the semantic gap: the
ENTIRE crawl-frontier loop runs over IcebergCheckpoint with the catalog
surface emulated — writerV2 create/overwrite/append as snapshot
commits, the DELETE / SHOW TABLES statements, table reads — and the
results must be identical to the parquet-emulation backend on the same
seeds.  Snapshot history makes time-travel
assertions possible: an overwritten round's previous state remains
readable at the prior snapshot.
"""

import json

import numpy as np
import pytest
from pyspark.sql import functions as F

from ccspark import synth
from ccspark.catalog import IcebergCheckpoint, make_checkpoint
from ccspark.frontier import CrawlFrontier, FrontierConfig

from iceberg_stub import install

UNIVERSE = 2000
N_HOSTS = 50
SEED = 42
BUDGET = 5
ROUND_MS = 60_000
LINKS = 3


def _cfg():
    return FrontierConfig(
        num_partitions=8,
        universe_n=UNIVERSE,
        n_hosts=N_HOSTS,
        seed=SEED,
        links_per_fetch=LINKS,
        default_budget=BUDGET,
        round_duration_ms=ROUND_MS,
        n_salts=4,
    )


def _trace_seen(fr, upto):
    rows = fr.read_trace(upto).collect()
    trace = {(r["round"], r["host"], r["host_rank"], r["canonical_url"]) for r in rows}
    seen = {(r["domain_hash"], r["url_hash"]) for r in fr.read_seen(upto).collect()}
    return trace, seen


def test_frontier_over_stub_catalog_matches_parquet(spark, tmp_path, monkeypatch):
    install(monkeypatch, spark, "stubcat")
    seeds = synth.gen_seeds(spark, UNIVERSE, N_HOSTS, SEED)

    fr_ice = CrawlFrontier(spark, "iceberg:stubcat.crawl", _cfg())
    m_ice = fr_ice.run(seeds, 3)
    assert isinstance(fr_ice.ckpt, IcebergCheckpoint)
    t_ice, s_ice = _trace_seen(fr_ice, 3)

    fr_pq = CrawlFrontier(spark, str(tmp_path / "pq"), _cfg())
    m_pq = fr_pq.run(seeds, 3)
    t_pq, s_pq = _trace_seen(fr_pq, 3)

    assert t_ice == t_pq
    assert s_ice == s_pq
    assert [m["scheduled"] for m in m_ice] == [m["scheduled"] for m in m_pq]


def test_resume_deletes_crash_debris(spark, monkeypatch):
    cat = install(monkeypatch, spark, "stubcat")
    seeds = synth.gen_seeds(spark, UNIVERSE, N_HOSTS, SEED)

    fr = CrawlFrontier(spark, "iceberg:stubcat.crawl2", _cfg())
    fr.run(seeds, 2)

    # crash mid-round-3: schema-compatible partial tables written, but
    # the manifest was never committed
    fr.ckpt.write(fr.ckpt.read(spark, "frontier", 2).limit(5), "frontier", 3)
    fr.ckpt.write(fr.ckpt.read(spark, "processed", 2).limit(5), "processed", 3)
    assert fr.ckpt.last_committed_round() == 2
    assert fr.ckpt.read(spark, "processed", 3).count() == 5

    # resume: drop_rounds_after(2) row-level DELETE must erase round 3
    fr2 = CrawlFrontier(spark, "iceberg:stubcat.crawl2", _cfg())
    fr2.ckpt.drop_rounds_after(2)
    assert fr2.ckpt.read(spark, "processed", 3).count() == 0
    assert fr2.ckpt.read(spark, "frontier", 3).count() == 0
    m3 = fr2.run(None, 1)
    assert m3[0]["round"] == 3
    assert m3[0]["scheduled"] > 0
    assert fr2.ckpt.last_committed_round() == 3


def test_drained_recrawl_over_stub_catalog(spark, monkeypatch):
    """The recrawl-only round (empty frontier + due revisit) on the
    CATALOG backend runs over empty relations — the path where a pruned
    CollectMetrics would hang Observation.get if the gate were
    observed.  links_per_fetch=0 drains after the seed crawl; cycles
    must keep scheduling."""
    cat = install(monkeypatch, spark, "stubcat")
    cfg = _cfg()
    cfg.links_per_fetch = 0
    cfg.default_budget = 500
    cfg.revisit_after = 2
    empty_robots = spark.createDataFrame(
        [],
        "host string, disallow_prefixes array<string>, crawl_delay_ms long, "
        "max_fetches_per_round int",
    )
    fr = CrawlFrontier(
        spark, "iceberg:stubcat.recrawl", cfg, robots_df=empty_robots
    )
    metrics = fr.run(synth.gen_seeds(spark, UNIVERSE, N_HOSTS, SEED), 5)
    sched = [m["scheduled"] for m in metrics]
    assert sched[0] > 0 and sched[1] == 0  # drained after the full seed round
    assert sched[2] == sched[0]  # recrawl cycle re-schedules the full set
    assert sched[3] == 0 and sched[4] == sched[0]
    # every committed round k >= 1, the drained ones included, lists all
    # three tables
    commits = cat.tables["stubcat.recrawl._manifest"].current.to_pylist()
    assert sorted(c["round"] for c in commits) == [0, 1, 2, 3, 4, 5]
    for c in commits:
        want = ("frontier", "processed", "lineage") if c["round"] else ("frontier",)
        assert json.loads(c["tables"]) == {t: f"round={c['round']}" for t in want}


def test_snapshot_time_travel_on_round_overwrite(spark, monkeypatch):
    cat = install(monkeypatch, spark, "stubcat")
    ck = make_checkpoint(spark, "iceberg:stubcat.tt")
    df1 = spark.range(10).select(
        F.col("id").alias("k"), F.lit("v1").alias("v")
    )
    ck.write(df1, "t", 1)
    df2 = spark.range(3).select(F.col("id").alias("k"), F.lit("v2").alias("v"))
    ck.write(df2, "t", 1)  # deterministic re-run overwrites round 1

    st = cat.tables["stubcat.tt.t"]
    assert len(st.snapshots) == 2
    # current snapshot: only the re-run rows
    cur = st.current.to_pandas()
    assert sorted(cur["v"].unique()) == ["v2"] and len(cur) == 3
    # time travel to the previous snapshot: the original rows still there
    prev = st.snapshots[-2].to_pandas()
    assert sorted(prev["v"].unique()) == ["v1"] and len(prev) == 10


def test_commit_round_manifest(spark, monkeypatch):
    install(monkeypatch, spark, "stubcat")
    ck = make_checkpoint(spark, "iceberg:stubcat.cp")
    # commit twice; latest round wins on read-back
    ck.commit_round(2, {"t": "r2"}, extra={"frontier_size": 7})
    ck.commit_round(3, {"t": "r3"}, extra={"frontier_size": 9})
    m = ck.read_manifest()
    assert m["round"] == 3 and m["frontier_size"] == 9
    assert ck.last_committed_round() == 3


def test_write_pdf_pins_physical_types(spark, monkeypatch):
    """Driver-built tables (the lineage rows) must read back with the
    same physical types as Spark-written rounds (int32 stays int)."""
    import pandas as pd

    from ccspark.frontier import _lineage_arrow_schema

    install(monkeypatch, spark, "stubcat")
    ck = make_checkpoint(spark, "iceberg:stubcat.ty")
    schema = _lineage_arrow_schema()
    pdf = pd.DataFrame([dict.fromkeys(schema.names, 1)], columns=schema.names)
    ck.write_pdf(pdf, "lineage", 1, arrow_schema=schema)
    types = dict(ck.read(spark, "lineage", 1).dtypes)
    assert types["round"] == "int"
    assert types["partition_id"] == "int"
    assert types["hash_range_start"] == "bigint"
    assert types["urls_emitted"] == "bigint"


def test_legacy_layout_state_table_raises(spark, monkeypatch):
    """A state table without the partition_id partition transform gives
    the storage gate nothing to prune on: state_location() must fail
    with a fix-it error naming the table, not degrade silently."""
    install(monkeypatch, spark, "stubcat")
    ck = make_checkpoint(spark, "iceberg:stubcat.legacy")
    ck.write(spark.range(4).select(F.col("id").cast("int").alias("partition_id")), "processed", 1)
    with pytest.raises(ValueError, match=r'stubcat\.legacy\.processed.*partition_by=\["partition_id"\]'):
        ck.state_location()


def test_catalog_backend_takes_storage_gate(spark, monkeypatch):
    """The catalog backend must run the ZERO-EXCHANGE storage gate: the
    O(history) Spark-side gate no longer exists to fall back to, and
    state_location() must enumerate per-(round, partition) data files
    from catalog metadata."""
    import ccspark.seenset as seenset
    from ccspark.seenstore import ManifestLocation

    install(monkeypatch, spark, "stubcat")
    # the storage gate is the only novelty gate left to take
    assert {n for n in vars(seenset) if "new" in n} == {"gate_new_storage"}

    fr = CrawlFrontier(spark, "iceberg:stubcat.zx", _cfg())
    metrics = fr.run(synth.gen_seeds(spark, UNIVERSE, N_HOSTS, SEED), 2)
    assert all(m["scheduled"] > 0 for m in metrics)

    loc = fr.ckpt.state_location()
    assert isinstance(loc, ManifestLocation)
    assert loc.key == "iceberg:stubcat.zx"
    # every committed round of the state table is enumerated, with
    # per-partition file lists carrying (path, size) signatures
    assert set(loc.rounds) == {"processed"}
    assert set(loc.rounds["processed"]) == {1, 2}
    sig = loc.sig("processed", 2, 0)
    assert sig and all(sz > 0 for _, sz, _ in sig)


def test_state_location_incremental_and_resume_invalidation(spark, monkeypatch):
    """The .files metadata cache must refresh incrementally (new rounds
    only) and invalidate rewritten rounds on resume (drop + re-run)."""
    install(monkeypatch, spark, "stubcat")
    fr = CrawlFrontier(spark, "iceberg:stubcat.inc", _cfg())
    fr.run(synth.gen_seeds(spark, UNIVERSE, N_HOSTS, SEED), 2)
    loc2 = fr.ckpt.state_location()
    sig_r1 = loc2.sig("processed", 1, 0)

    # crash debris: uncommitted round 3, then resume from round 2
    fr.ckpt.write(fr.ckpt.read(spark, "processed", 2), "processed", 3)
    loc3 = fr.ckpt.state_location()
    assert 3 in loc3.rounds["processed"]
    fr.ckpt.drop_rounds_after(2)
    loc4 = fr.ckpt.state_location()
    assert 3 not in loc4.rounds["processed"]
    # unchanged rounds keep identical signatures (worker caches stay warm)
    assert loc4.sig("processed", 1, 0) == sig_r1

    # a deterministic re-run of round 2 rewrites its files → new sigs
    old_sig = loc4.sig("processed", 2, 0)
    fr.ckpt.write(fr.ckpt.read(spark, "processed", 2), "processed", 2)
    loc5 = fr.ckpt.state_location()
    new_sig = loc5.sig("processed", 2, 0)
    assert new_sig and new_sig != old_sig


def test_cross_process_resume_via_warehouse_rehydration(spark, tmp_path):
    """A FRESH StubCatalog over an existing warehouse rehydrates every
    table's current snapshot from its persisted _meta.json + live data
    files — the cross-process resume story: process 1 runs rounds 1-2
    and dies; process 2 (fresh catalog object, fresh monkeypatch
    context) resumes and runs round 3; the final trace and seen set
    must equal an uninterrupted 3-round run."""
    wh = str(tmp_path / "wh")
    seeds_args = (UNIVERSE, N_HOSTS, SEED)

    # "process 1": rounds 1-2
    with pytest.MonkeyPatch.context() as mp1:
        install(mp1, spark, "stubcat", wh)
        fr1 = CrawlFrontier(spark, "iceberg:stubcat.xproc", _cfg())
        fr1.run(synth.gen_seeds(spark, *seeds_args), 2)
        assert fr1.ckpt.last_committed_round() == 2

    # "process 2": brand-new stub over the same warehouse; nothing of
    # process 1's in-memory state survives
    with pytest.MonkeyPatch.context() as mp2:
        cat2 = install(mp2, spark, "stubcat", wh)
        assert "stubcat.xproc.frontier" in cat2.tables  # rehydrated
        fr2 = CrawlFrontier(spark, "iceberg:stubcat.xproc", _cfg())
        assert fr2.ckpt.last_committed_round() == 2  # resumes, not restarts
        fr2.run(None, 3)
        t_resumed, s_resumed = _trace_seen(fr2, 3)

    # uninterrupted control run
    with pytest.MonkeyPatch.context() as mp3:
        install(mp3, spark, "stubcat")
        fr3 = CrawlFrontier(spark, "iceberg:stubcat.ctrl", _cfg())
        fr3.run(synth.gen_seeds(spark, *seeds_args), 3)
        t_ctrl, s_ctrl = _trace_seen(fr3, 3)
        # control trace uses its own table names; compare content only
    assert t_resumed == t_ctrl
    assert s_resumed == s_ctrl
