"""Storage-partitioned seen-set machinery: gate_new_storage semantics
over Hive-partitioned state dirs, and seenstore's incremental cache
(signature invalidation on overwrite)."""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from ccspark import seenset, seenstore
from ccspark.checkpoint import Checkpoint

P = 4


def _identity_pdf(ids):
    """Deterministic (url, identity) rows; ids drive both hashes."""
    ids = np.asarray(ids, dtype=np.int64)
    return pd.DataFrame(
        {
            "url": [f"http://h{i % 7}.com/p{i}" for i in ids],
            "domain_hash": (ids * 1_000_003 + 17),
            "url_hash": (ids * 2_654_435_761 + 3),
        }
    )


def _write_round(spark, ckpt, pdf, round_no):
    df = spark.createDataFrame(pdf).withColumn(
        "partition_id", F.pmod(F.col("domain_hash"), F.lit(P)).cast("int")
    )
    ckpt.write(
        df.repartition(P, "partition_id"), "processed", round_no, partition_by=["partition_id"]
    )


@pytest.fixture()
def state(spark, tmp_path):
    """3 rounds of processed identities."""
    seenstore.clear_caches()
    ckpt = Checkpoint(str(tmp_path))
    rounds = {1: range(0, 50), 2: range(50, 90), 3: range(90, 120)}
    for r, ids in rounds.items():
        _write_round(spark, ckpt, _identity_pdf(ids), r)
    return str(tmp_path)


def test_gate_matches_exact_set_difference(spark, state):
    seen = _identity_pdf(range(0, 120))
    cand = _identity_pdf(range(100, 160))  # 20 seen, 40 new
    cdf = spark.createDataFrame(cand)
    got = seenset.gate_new_storage(cdf, state, 3, P).toPandas()
    seen_keys = set(zip(seen["domain_hash"], seen["url_hash"]))
    exp = {
        (d, u) for d, u in zip(cand["domain_hash"], cand["url_hash"])
    } - seen_keys
    assert set(zip(got["domain_hash"], got["url_hash"])) == exp
    assert len(got) == 40


def test_gate_at_earlier_round_sees_less_history(spark, state):
    cand = _identity_pdf(range(60, 100))  # rounds 2/3 territory
    cdf = spark.createDataFrame(cand)
    # at round horizon 1, only ids 0..49 are seen → everything here is new
    got1 = seenset.gate_new_storage(cdf, state, 1, P).toPandas()
    assert len(got1) == 40
    # at horizon 2, ids 60..89 are seen
    got2 = seenset.gate_new_storage(cdf, state, 2, P).toPandas()
    assert len(got2) == 10


def test_cache_invalidation_on_round_overwrite(spark, state):
    cand = _identity_pdf(range(90, 130))
    cdf = spark.createDataFrame(cand)
    before = seenset.gate_new_storage(cdf, state, 3, P).toPandas()
    assert len(before) == 10  # 90..119 seen
    # deterministic re-run rewrote round 3 with a DIFFERENT id set
    ckpt = Checkpoint(state)
    _write_round(spark, ckpt, _identity_pdf(range(200, 230)), 3)
    after = seenset.gate_new_storage(cdf, state, 3, P).toPandas()
    assert len(after) == 40  # 90..119 no longer in history


def test_seen_cache_lru_eviction_under_budget(spark, state, monkeypatch):
    """A 1-byte CCSPARK_SEEN_CACHE_BYTES budget keeps only the most
    recently loaded partition in the seen cache: querying 3 partitions
    evicts the older two, and re-querying an evicted partition equals a
    cold read.  The storage gate's results are unchanged when its
    workers run under the same budget."""
    from pyspark.sql.functions import pandas_udf

    cold = {}
    for pid in range(3):
        seenstore.clear_caches()
        cold[pid] = seenstore.seen_arrays(state, pid, 3)
        assert len(cold[pid][0]) > 0
    cand = spark.createDataFrame(_identity_pdf(range(100, 160)))
    unbounded = seenset.gate_new_storage(cand, state, 3, P).toPandas()

    seenstore.clear_caches()
    monkeypatch.setenv("CCSPARK_SEEN_CACHE_BYTES", "1")
    for pid in range(3):
        seenstore.seen_arrays(state, pid, 3)
    assert [key[2] for key in seenstore._SEEN_CACHE] == [2]
    for pid in (0, 1):  # evicted: a re-query reads the partition again
        url, dom = seenstore.seen_arrays(state, pid, 3)
        assert [key[2] for key in seenstore._SEEN_CACHE] == [pid]
        np.testing.assert_array_equal(url, cold[pid][0])
        np.testing.assert_array_equal(dom, cold[pid][1])

    # Python workers take their environment from the SparkContext's
    monkeypatch.setitem(spark.sparkContext.environment, "CCSPARK_SEEN_CACHE_BYTES", "1")

    @pandas_udf("long")
    def _worker_budget(x: pd.Series) -> pd.Series:
        return pd.Series([seenstore._cache_budget()] * len(x))

    assert spark.range(1).select(_worker_budget("id")).first()[0] == 1
    bounded = seenset.gate_new_storage(cand, state, 3, P).toPandas()
    key = ["domain_hash", "url_hash"]
    assert len(bounded) == len(unbounded) == 40
    pd.testing.assert_frame_equal(
        bounded.sort_values(key).reset_index(drop=True),
        unbounded.sort_values(key).reset_index(drop=True),
    )


def test_contains_handles_url_hash_collisions():
    url = np.array([5, 5, 9], dtype=np.int64)
    dom = np.array([1, 2, 3], dtype=np.int64)
    order = np.argsort(url, kind="stable")
    q_url = np.array([5, 5, 9, 9, 7], dtype=np.int64)
    q_dom = np.array([2, 4, 3, 1, 1], dtype=np.int64)
    got = seenstore.contains(url[order], dom[order], q_url, q_dom)
    assert got.tolist() == [True, False, True, False, False]


def test_round_pairs_and_missing_partition(tmp_path):
    seenstore.clear_caches()
    assert seenstore.filter_blob(str(tmp_path), 0, 0) is None
    u, d = seenstore.round_pairs(str(tmp_path), 0, 1)
    assert len(u) == 0 and len(d) == 0


# -- state locations: explicit manifests ---------------------------------------


def test_manifest_location_matches_str_root(spark, state):
    """An explicit file manifest (the catalog-metadata path) over the
    same files gates and reads identically, whether it lists absolute
    paths or ``file://`` URIs (pyarrow resolves the URI's filesystem
    itself).  Caches are cleared per case so every read hits the files."""
    import pathlib

    cand = spark.createDataFrame(_identity_pdf(range(100, 160)))
    want = seenset.gate_new_storage(cand, state, 3, P).toPandas()
    for to_entry in (str, lambda p: pathlib.Path(p).as_uri()):
        files = {}
        for r in seenstore._present_rounds(state, "processed", 3):
            for pid in range(P):
                sig = seenstore._sig_of(state, "processed", r, pid)
                if sig:
                    files[("processed", r, pid)] = tuple((to_entry(p), sz, mt) for p, sz, mt in sig)
        loc = seenstore.ManifestLocation("manifest:" + state, files)
        assert loc.rounds == {"processed": (1, 2, 3)}
        seenstore.clear_caches()
        got = seenset.gate_new_storage(cand, loc, 3, P).toPandas()
        assert len(got) == 40
        assert set(zip(got["domain_hash"], got["url_hash"])) == set(
            zip(want["domain_hash"], want["url_hash"])
        )
        for pid in range(P):  # driver-side reads equal the plain-path reads
            seenstore.clear_caches()
            m_url, m_dom = seenstore.seen_arrays(loc, pid, 3)
            seenstore.clear_caches()
            p_url, p_dom = seenstore.seen_arrays(state, pid, 3)
            np.testing.assert_array_equal(m_url, p_url)
            np.testing.assert_array_equal(m_dom, p_dom)


def test_filter_blob_merges_multi_file_partitions(tmp_path):
    """A partition split across multiple data files (legal on a catalog
    backend) must be read COMPLETELY — bloom rows of one geometry are
    OR-merged; silently reading one file would break the
    no-false-negative invariant (ADVICE r4)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ccspark import hashing

    seenstore.clear_caches()
    d = tmp_path / "filters" / "round=1" / "partition_id=0"
    d.mkdir(parents=True)
    k, m = 7, 1024
    keys_a = np.arange(0, 50, dtype=np.int64)
    keys_b = np.arange(50, 100, dtype=np.int64)
    for name, keys in (("a.parquet", keys_a), ("b.parquet", keys_b)):
        words = np.zeros(m // 64, dtype=np.uint64)
        idx = hashing.bloom_buckets_long(keys, k, m).ravel()
        np.bitwise_or.at(words, idx >> 6, np.uint64(1) << (idx & 63).astype(np.uint64))
        t = pa.table(
            {
                "kind": ["bloom"],
                "hash_count": pa.array([k], type=pa.int32()),
                "num_buckets": [m],
                "n_keys": [len(keys)],
                "bits": [words.tobytes()],
            }
        )
        pq.write_table(t, str(d / name))
    blob = seenstore.filter_blob(str(tmp_path), 0, 1)
    kind, kk, mm, nk, bits = blob
    assert (kind, kk, mm, nk) == ("bloom", k, m, 100)
    # the merged filter must contain BOTH files' keys (no false negatives)
    probe = seenset.bloom_probe(np.arange(0, 100, dtype=np.int64), kk, mm, bits)
    assert probe.all()
    # mismatched geometry is a layout violation, not silently merged
    words = np.zeros(2048 // 64, dtype=np.uint64)
    t = pa.table(
        {
            "kind": ["bloom"],
            "hash_count": pa.array([k], type=pa.int32()),
            "num_buckets": [2048],
            "n_keys": [1],
            "bits": [words.tobytes()],
        }
    )
    pq.write_table(t, str(d / "c.parquet"))
    with pytest.raises(AssertionError, match="unmergeable"):
        seenstore.filter_blob(str(tmp_path), 0, 1)
