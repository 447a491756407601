"""Structured Streaming tests: streaming dedup idempotence, windowed
counts, stateful budget operator across micro-batches, and the
streaming frontier (micro-batch b = crawl round b+1 with the batch's
rows injected)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from ccspark import streaming, synth
from ccspark.checkpoint import Checkpoint


@pytest.fixture(scope="module")
def staged_pages(spark, tmp_path_factory):
    """Two parquet drops with overlapping ids (batch 2 re-discovers
    half of batch 1) — late/duplicate arrivals."""
    d = tmp_path_factory.mktemp("stream_in")
    p1 = synth.gen_pages_pdf(np.arange(0, 200), n_hosts=30, seed=42)
    p2 = synth.gen_pages_pdf(np.arange(100, 300), n_hosts=30, seed=42)
    spark.createDataFrame(p1).coalesce(1).write.parquet(str(d / "b1"))
    spark.createDataFrame(p2).coalesce(1).write.parquet(str(d / "b2"))
    return str(d / "*")


def _drain(q):
    q.processAllAvailable()
    q.stop()


def test_streaming_dedup(spark, staged_pages):
    pages = streaming.stream_pages(spark, staged_pages)
    assert pages.isStreaming
    deduped = streaming.dedup_urls_stream(pages)
    q = streaming.run_to_memory(deduped, "dedup_t")
    _drain(q)
    out = spark.sql("SELECT domain_hash, url_hash FROM dedup_t").toPandas()
    assert len(out) == len(out.drop_duplicates())  # no dup identities emitted
    # batch semantics agree: same distinct identity count as the pandas
    # batch path (canonicalize_batch + urlfp_batch, not the fused UDF)
    from ccspark import urls

    batch = spark.read.parquet(staged_pages).select("url").toPandas()
    fp = urls.urlfp_batch(urls.canonicalize_batch(batch["url"]))
    bd = len(fp.loc[fp["valid"], ["domain_hash", "url_hash"]].drop_duplicates())
    assert len(out) == bd


def test_windowed_counts(spark, staged_pages):
    pages = streaming.stream_pages(spark, staged_pages)
    agg = streaming.urls_per_host_windowed(streaming.dedup_urls_stream(pages), window="5 minutes")
    q = streaming.run_to_memory(agg, "win_t", output_mode="append")
    _drain(q)
    out = spark.sql("SELECT * FROM win_t").toPandas()
    # watermark append-mode may withhold the final open window; rows that
    # did emit must be positive counts with window structs
    assert (out["n_urls"] > 0).all() if len(out) else True


def test_stateful_budget(spark, staged_pages):
    pages = streaming.stream_pages(spark, staged_pages, max_files_per_trigger=1)
    ded = streaming.dedup_urls_stream(pages)
    flagged = streaming.host_budget_stateful(ded, budget_per_host=10)
    q = streaming.run_to_memory(flagged, "budget_t", output_mode="update")
    _drain(q)
    out = spark.sql("SELECT * FROM budget_t").toPandas()
    assert len(out) > 0
    # cumulative counter never decreases per host
    for host, grp in out.groupby("host"):
        used = grp["used_total"].tolist()
        assert used == sorted(used)
    # hot hosts exceed the tiny budget
    assert out["over_budget"].any()


def _scheduled(spark, out, upto):
    """Scheduled rows of batches 0..upto (rounds 1..upto+1): the
    scheduled half of the processed table, the batch loop's read_trace
    surface."""
    proc = Checkpoint(str(out)).read_all_rounds(spark, "processed", upto + 1)
    return proc.filter(F.col("host_rank").isNotNull())


def _scheduled_at(spark, ckpt, b):
    """Scheduled rows of batch b, processed in round b+1."""
    return ckpt.read(spark, "processed", b + 1).filter(F.col("host_rank").isNotNull())


_ROBOTS_SCHEMA = (
    "host string, disallow_prefixes array<string>, crawl_delay_ms long, max_fetches_per_round int"
)


def _drop(spark, tmp_path, src, name, rows):
    """Write one candidates drop: via Spark (Spark-compatible
    timestamps), then move the single part file into the flat
    stream-source directory."""
    import glob
    import shutil

    stage = tmp_path / ("stage_" + name)
    spark.createDataFrame(rows, "url string, priority double, ts timestamp") \
        .coalesce(1).write.mode("overwrite").parquet(str(stage))
    part = glob.glob(str(stage / "part-*.parquet"))[0]
    shutil.copy(part, src / (name + ".parquet"))


def test_streaming_frontier_end_to_end(spark, tmp_path):
    """Micro-batch scheduler: cross-batch dedup via the storage gate,
    robots gating, per-host budget — equals the batch semantics."""
    import pandas as pd

    from ccspark import streaming as ST

    src = tmp_path / "drops"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    src.mkdir()

    robots = spark.createDataFrame(
        [("a.com", ["/private"], None, None), ("b.com", [], None, None)], _ROBOTS_SCHEMA
    )
    ts = pd.Timestamp("2024-01-01").to_pydatetime()
    _drop(spark, tmp_path, src, "d1", [
        ("http://a.com/x", 0.9, ts),
        ("http://a.com/private/no", 0.8, ts),
        ("http://b.com/y", 0.7, ts),
    ])

    cands = ST.stream_candidates(spark, str(src), max_files_per_trigger=1)
    q = ST.streaming_frontier(
        cands, robots, str(out), default_budget=5, n_salts=2, checkpoint_dir=str(ckpt)
    )
    try:
        q.processAllAvailable()
        # second drop: one repeat (must be suppressed), one new
        _drop(spark, tmp_path, src, "d2", [
            ("http://a.com/x", 0.95, ts),       # already seen
            ("http://a.com/private/no", 0.9, ts),  # already retired
            ("http://b.com/z", 0.6, ts),
        ])
        q.processAllAvailable()
    finally:
        q.stop()

    got = {(r["canonical_url"], r["round"]) for r in _scheduled(spark, out, 1).collect()}
    urls = {u for u, _ in got}
    assert urls == {"http://a.com/x", "http://b.com/y", "http://b.com/z"}
    # the repeat was NOT rescheduled in the second batch (round 2)
    assert ("http://a.com/x", 2) not in got
    seen = Checkpoint(str(out)).read_all_rounds(spark, "processed", 2)
    # scheduled (3) + robots-retired (1)
    assert seen.select("domain_hash", "url_hash").distinct().count() == 4
    # the stream commits the batch loop's rounds: batch 1 is round 2
    m = Checkpoint(str(out)).read_manifest()
    assert m["round"] == 2 and set(m["tables"]) == {"frontier", "processed", "lineage"}


def test_streaming_frontier_restart_on_checkpoint_dir(spark, tmp_path):
    """A query stopped and restarted on the same checkpoint_dir resumes
    its batch numbering: a drop that lands between the runs is
    scheduled, and every dropped URL is scheduled exactly once.  (On a
    temporary query checkpoint the restart would redeliver everything
    as batch 0, which the exactly-once skip drops.)"""
    import pandas as pd

    from ccspark import streaming as ST

    src = tmp_path / "drops"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    src.mkdir()
    robots = spark.createDataFrame([("a.com", [], None, None)], _ROBOTS_SCHEMA)
    ts = pd.Timestamp("2024-01-01").to_pydatetime()
    _drop(spark, tmp_path, src, "d1", [("http://a.com/x", 0.9, ts), ("http://b.com/y", 0.8, ts)])
    _drop(spark, tmp_path, src, "d2", [("http://a.com/x", 0.7, ts), ("http://b.com/w", 0.6, ts)])

    def run():
        cands = ST.stream_candidates(spark, str(src), max_files_per_trigger=8)
        q = ST.streaming_frontier(
            cands, robots, str(out), default_budget=5, n_salts=2, checkpoint_dir=str(ckpt)
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    with pytest.raises(TypeError, match="checkpoint_dir"):
        ST.streaming_frontier(ST.stream_candidates(spark, str(src)), robots, str(out))
    run()
    assert Checkpoint(str(out)).last_committed_round() == 1
    _drop(spark, tmp_path, src, "d3", [("http://a.com/z", 0.5, ts), ("http://b.com/y", 0.4, ts)])
    run()
    assert Checkpoint(str(out)).last_committed_round() == 2
    got = sorted(r["canonical_url"] for r in _scheduled(spark, out, 1).collect())
    assert got == ["http://a.com/x", "http://a.com/z", "http://b.com/w", "http://b.com/y"]


def _mk_batch(spark, rows):
    return spark.createDataFrame(rows, "url string, priority double, ts timestamp")


def test_streaming_frontier_overbudget_carryover(spark, tmp_path):
    """Allowed-but-over-budget novel rows stay in the round's frontier
    table and re-enter the next trigger instead of being silently
    dropped (budget binds on host a.com)."""
    import pandas as pd

    from ccspark import streaming as ST

    out = tmp_path / "out"
    ckpt = Checkpoint(str(out))
    robots = spark.createDataFrame([("a.com", [], None, None)], _ROBOTS_SCHEMA)
    ts = pd.Timestamp("2024-01-01").to_pydatetime()
    # 5 URLs on one host, budget 2 → 2 scheduled, 3 carried over
    b0 = _mk_batch(spark, [(f"http://a.com/p{i}", 0.9 - i * 0.1, ts) for i in range(5)])
    ST.frontier_process_batch(b0, 0, robots, str(out), default_budget=2, n_salts=2)
    assert _scheduled_at(spark, ckpt, 0).count() == 2
    carry0 = ckpt.read(spark, "frontier", 1)
    assert carry0.count() == 3
    # next trigger brings ONE new URL; the 3 carried rows re-enter and
    # compete: 2 scheduled again (highest priority of the 4)
    b1 = _mk_batch(spark, [("http://a.com/new", 0.95, ts)])
    ST.frontier_process_batch(b1, 1, robots, str(out), default_budget=2, n_salts=2)
    got1 = {r["canonical_url"] for r in _scheduled_at(spark, ckpt, 1).collect()}
    # priorities: new=0.95, p2=0.7, p3=0.6, p4=0.5 → top-2
    assert got1 == {"http://a.com/new", "http://a.com/p2"}
    carry1 = ckpt.read(spark, "frontier", 2)
    assert {r["canonical_url"] for r in carry1.collect()} == {
        "http://a.com/p3",
        "http://a.com/p4",
    }
    # nothing was ever lost: scheduled ∪ backlog covers every input URL
    assert _scheduled(spark, out, 1).count() + carry1.count() == 6


def test_streaming_frontier_exactly_once(spark, tmp_path, monkeypatch, spark_state):
    """Kill mid-batch (before its round's commit marker), re-run →
    scheduled output byte-identical; re-run of a COMMITTED batch is a
    no-op.  The killed batch leaves the session's AQE setting and cache
    as it found them."""
    import pandas as pd

    from ccspark import streaming as ST

    out = tmp_path / "out"
    robots = spark.createDataFrame([("a.com", [], None, None)], _ROBOTS_SCHEMA)
    ts = pd.Timestamp("2024-01-01").to_pydatetime()

    b0 = _mk_batch(spark, [(f"http://a.com/p{i}", 0.5, ts) for i in range(4)])
    # first attempt dies after the round's data writes but before its
    # commit (the empty round-0 bootstrap commits)
    real_commit = Checkpoint.commit_round
    killed = []

    def _commit_once(self, round_no, *args, **kwargs):
        if round_no == 1 and not killed:
            killed.append(True)
            raise RuntimeError("simulated kill before commit marker")
        return real_commit(self, round_no, *args, **kwargs)

    monkeypatch.setattr(Checkpoint, "commit_round", _commit_once)
    state = spark_state()
    with pytest.raises(RuntimeError, match="simulated kill"):
        ST.frontier_process_batch(b0, 0, robots, str(out), default_budget=10)
    assert Checkpoint(str(out)).last_committed_round() == 0
    assert spark_state() == state

    def read_bytes(p):
        import glob

        files = sorted(glob.glob(str(p / "**" / "part-*.parquet"), recursive=True))
        assert files
        return b"".join(open(f, "rb").read() for f in files)

    partial = read_bytes(out / "processed" / "round=1")
    # retry overwrites its own partial output deterministically
    ST.frontier_process_batch(b0, 0, robots, str(out), default_budget=10)
    assert Checkpoint(str(out)).last_committed_round() == 1
    committed = read_bytes(out / "processed" / "round=1")
    assert committed == partial  # byte-identical re-run
    assert _scheduled(spark, out, 0).count() == 4
    # spurious redelivery of the committed batch: skipped entirely
    before = read_bytes(out / "processed" / "round=1")
    ST.frontier_process_batch(b0, 0, robots, str(out), default_budget=10)
    assert read_bytes(out / "processed" / "round=1") == before
    assert _scheduled(spark, out, 0).count() == 4


def test_streaming_frontier_batch_id_guard(spark, tmp_path):
    """Batch ids must run 0, 1, 2, ... (batch b is round b+1, which
    reads the frontier and the seen set of round b): a gap raises and
    writes nothing (no bootstrap runs before a rejected first batch), a
    redelivered committed batch is a no-op, and an empty batch still
    commits."""
    import os

    import pandas as pd

    from ccspark import streaming as ST

    out = tmp_path / "out"
    robots = spark.createDataFrame([("a.com", [], None, None)], _ROBOTS_SCHEMA)
    ts = pd.Timestamp("2024-01-01").to_pydatetime()
    b = _mk_batch(spark, [("http://a.com/x", 0.5, ts)])
    with pytest.raises(ValueError, match="round 2 cannot follow an empty checkpoint; expected a bootstrap"):
        ST.frontier_process_batch(b, 1, robots, str(out))
    assert Checkpoint(str(out)).last_committed_round() is None
    assert os.listdir(out) == []
    ST.frontier_process_batch(b, 0, robots, str(out))
    m0 = Checkpoint(str(out)).read_manifest()
    tables = sorted(os.listdir(out / "processed"))
    with pytest.raises(ValueError, match="round 3 cannot follow committed round 1; expected round 2"):
        ST.frontier_process_batch(b, 2, robots, str(out))
    assert Checkpoint(str(out)).read_manifest() == m0
    assert sorted(os.listdir(out / "processed")) == tables
    ST.frontier_process_batch(b, 0, robots, str(out))  # redelivery: skipped
    assert Checkpoint(str(out)).read_manifest() == m0
    ST.frontier_process_batch(_mk_batch(spark, []), 1, robots, str(out))
    m1 = Checkpoint(str(out)).read_manifest()
    assert (m1["round"], m1["scheduled"]) == (2, 0)
    assert m1["num_partitions"] == m0["num_partitions"] == spark.sparkContext.defaultParallelism
    assert _scheduled(spark, out, 1).count() == 1


def test_streaming_frontier_repeats_scheduled_once(spark, tmp_path):
    """Five batches, each repeating a URL of the previous one: every
    URL is scheduled exactly once, and each batch's lineage rows sum to
    its scheduled count."""
    import pandas as pd

    from ccspark import streaming as ST

    out = tmp_path / "out"
    robots = spark.createDataFrame([("a.com", [], None, None)], _ROBOTS_SCHEMA)
    ts = pd.Timestamp("2024-01-01").to_pydatetime()
    for b in range(5):
        rows = [(f"http://a.com/b{b}p{i}", 0.5, ts) for i in range(3)]
        if b > 0:  # one repeat from the previous batch, must stay deduped
            rows.append((f"http://a.com/b{b-1}p0", 0.9, ts))
        ST.frontier_process_batch(
            _mk_batch(spark, rows), b, robots, str(out), default_budget=10, n_salts=2
        )
        m = Checkpoint(str(out)).read_manifest()
        lineage = Checkpoint(str(out)).read(spark, "lineage", b + 1)
        assert m["round"] == b + 1 and m["scheduled"] == 3
        assert lineage.agg(F.sum("urls_emitted")).first()[0] == m["scheduled"]
    sched = _scheduled(spark, out, 4)
    # 15 unique URLs scheduled exactly once each (repeats suppressed)
    assert sched.count() == 15
    assert sched.select("domain_hash", "url_hash").distinct().count() == 15


def test_streaming_frontier_constant_jobs_per_batch(spark, tmp_path, monkeypatch, last_job_id, spark_state):
    """A micro-batch runs a round's Spark jobs: batches 2-5 each run the
    three of test_round_job_budget (read from the status store) at any
    stream age.  Batch b calls the storage gate twice, at seen-through
    b (the injected candidates) and b+1 (the links gate); it never reads
    a table's whole history, and it leaves the session's AQE setting and
    cache as it found them."""
    import pandas as pd

    from ccspark import seenset
    from ccspark import streaming as ST

    def no_history(*a, **k):
        raise AssertionError("a micro-batch read a table's whole history")

    monkeypatch.setattr(Checkpoint, "read_all_rounds", no_history)
    gate_calls = []
    real_gate = seenset.gate_new_storage

    def counting_gate(*a, **k):
        gate_calls.append(a[2])  # seen_upto
        return real_gate(*a, **k)

    monkeypatch.setattr(seenset, "gate_new_storage", counting_gate)

    out = tmp_path / "out"
    robots = spark.createDataFrame([("h0.com", ["/p1"], None, None)], _ROBOTS_SCHEMA)
    ts = pd.Timestamp("2024-01-01").to_pydatetime()
    jobs = []
    for b in range(5):
        # 200 URLs on 20 hosts, half of them repeats of the previous batch
        rows = [(f"http://h{i % 20}.com/p{i}", 0.5, ts) for i in range(100 * b, 100 * b + 200)]
        batch = _mk_batch(spark, rows)
        state, j0 = spark_state(), last_job_id()
        ST.frontier_process_batch(batch, b, robots, str(out), default_budget=5, n_salts=2)
        jobs.append(last_job_id() - j0)
        assert spark_state() == state
    assert jobs[1:] == [3, 3, 3, 3], jobs
    assert gate_calls == [s for b in range(5) for s in (b, b + 1)]


def test_streaming_frontier_over_iceberg_stub(spark, tmp_path, monkeypatch):
    """The streaming path rides the same backend factory as the batch
    loop: micro-batches over an Iceberg catalog (stubbed) schedule the
    same URLs as the parquet emulation."""
    import pandas as pd

    from ccspark import streaming as ST
    from iceberg_stub import install

    install(monkeypatch, spark, "stubcat")
    robots = spark.createDataFrame([("a.com", [], None, None)], _ROBOTS_SCHEMA)
    ts = pd.Timestamp("2024-01-01").to_pydatetime()
    batches = [
        [("http://a.com/x", 0.9, ts), ("http://a.com/y", 0.8, ts)],
        [("http://a.com/x", 0.95, ts), ("http://a.com/z", 0.7, ts)],  # x repeats
    ]
    for loc in ("iceberg:stubcat.stream", str(tmp_path / "pq")):
        for b, rows in enumerate(batches):
            ST.frontier_process_batch(
                _mk_batch(spark, rows), b, robots, loc, default_budget=10, n_salts=2
            )
    from ccspark.catalog import make_checkpoint

    ice = make_checkpoint(spark, "iceberg:stubcat.stream")
    pq = make_checkpoint(spark, str(tmp_path / "pq"))
    for b in range(2):
        gi = {r["canonical_url"] for r in _scheduled_at(spark, ice, b).collect()}
        gp = {r["canonical_url"] for r in _scheduled_at(spark, pq, b).collect()}
        assert gi == gp
    assert ice.last_committed_round() == 2
