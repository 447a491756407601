"""Tests of the benchmark's own machinery.

    python3 -m pytest crawlbench/test_crawlbench.py -q -p no:cacheprovider

Run from the checkout root; they start one small local Spark session.
"""

from __future__ import annotations

import json
import os
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import checks  # noqa: E402
import layers  # noqa: E402
import sparkstats  # noqa: E402


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from ccspark.session import build_session

    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")])
    s = build_session(
        "crawlbench-tests",
        master="local[2]",
        shuffle_partitions=2,
        extra_conf={"spark.local.dir": str(tmp_path_factory.mktemp("spark-local"))},
    )
    yield s
    s.stop()


def test_window_attributes_jobs_by_id_range(spark):
    """Jobs run on a pool thread (which does not inherit a job group)
    are attributed to the window; a job before the window is not;
    skipped stages are not counted; busy + gap is the wall time."""
    from operator import add

    sc = spark.sparkContext
    store = sparkstats.StatusStore(spark)
    pairs = sc.parallelize(range(100), 3).map(lambda x: (x % 5, 1)).reduceByKey(add, 2)
    pairs.count()  # outside the window: map stage (3 tasks) + reduce stage (2 tasks)
    with sparkstats.Window(store) as w:
        with ThreadPoolExecutor(max_workers=1) as pool:
            pool.submit(sc.parallelize(range(8), 4).count).result()  # 1 stage, 4 tasks
        time.sleep(0.3)  # a driver-side gap
        pairs.count()  # map stage skipped (shuffle reused): 1 stage, 2 tasks
    m = w.metrics
    assert (m["jobs"], m["stages"], m["tasks"]) == (2, 2, 6)
    assert m["exec_run_s"] > 0
    assert m["driver_gap_s"] >= 0.25
    assert m["job_busy_s"] > 0
    assert m["job_busy_s"] + m["driver_gap_s"] == pytest.approx(w.wall_s, abs=1e-9)
    assert 0 < m["slot_util"] <= 1


def test_window_sees_no_jobs_when_none_run(spark):
    store = sparkstats.StatusStore(spark)
    with sparkstats.Window(store) as w:
        time.sleep(0.05)
    assert w.metrics["jobs"] == 0 and w.metrics["tasks"] == 0
    assert w.metrics["driver_gap_s"] == pytest.approx(w.wall_s)


def test_batched_replay_equals_plain_replay():
    """The replay oracle with its batch URL stand-ins gives the very
    trace and seen set of the plain per-page oracle."""
    from ccspark.frontier import FrontierConfig

    cfg = FrontierConfig(num_partitions=4, universe_n=1500, seed=3, default_budget=10, revisit_after=2)
    args = checks.replay_args(cfg, 4)
    assert checks.replay(ROOT, args, memo=True) == checks.replay(ROOT, args, memo=False)


def test_query_mismatch_tolerates_last_digit_rounding():
    import pandas as pd

    a = pd.DataFrame({"k": ["x", "y"], "v": [12345678901.1, 0.1235]})
    b = pd.DataFrame({"v": [0.1234, 12345678901.2], "k": ["y", "x"]})
    assert checks.query_mismatch(a, b) is None
    c = pd.DataFrame({"k": ["x", "y"], "v": [12345678901.1, 0.2]})
    assert checks.query_mismatch(c, b) is not None


def test_benchmark_json_lists_the_ledger():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = {m["name"]: m for m in bench["per_layer"]}
    assert set(names) == set(layers.PER_LAYER)
    for name, (unit, better) in layers.PER_LAYER.items():
        assert (names[name]["unit"], names[name]["better"]) == (unit, better)
