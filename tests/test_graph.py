"""Connected components (large-star/small-star) + cluster dedup.

The Spark implementation is checked against a pure-Python union-find
oracle on randomized graphs, plus adversarial shapes (chains — worst
case for label propagation —, cycles, stars, merged components) and
partition-count invariance.
"""

import random

import pytest
from pyspark.sql import functions as F

from ccspark.dedup import dedup_clusters
from ccspark.graph import connected_components


def _uf_components(edges):
    """Union-find oracle: {node: min id of its component}."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _cc(spark, edges, partitions=4):
    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "src long, dst long"
    ).repartition(partitions)
    out = connected_components(df, "src", "dst")
    return {r["node"]: r["component"] for r in out.collect()}


def test_chain_collapses_to_min(spark):
    # a path graph is the adversarial case: naive propagation needs n
    # rounds; large-star/small-star needs O(log n)
    n = 33
    edges = [(i, i + 1) for i in range(n - 1)]
    got = _cc(spark, edges)
    assert got == {i: 0 for i in range(n)}


def test_cycle_and_star_and_disjoint(spark):
    edges = (
        [(i, (i + 1) % 7) for i in range(7)]  # cycle on 0..6
        + [(100, x) for x in (101, 102, 103)]  # star at 100
        + [(200, 201)]  # pair
    )
    got = _cc(spark, edges)
    assert {got[i] for i in range(7)} == {0}
    assert {got[x] for x in (100, 101, 102, 103)} == {100}
    assert got[200] == got[201] == 200


def test_duplicate_reversed_and_self_edges(spark):
    edges = [(5, 3), (3, 5), (5, 3), (7, 7), (3, 1)]
    got = _cc(spark, edges)
    assert got == {1: 1, 3: 1, 5: 1, 7: 7}


def test_empty_edges(spark):
    df = spark.createDataFrame([], "src long, dst long")
    assert connected_components(df, "src", "dst").count() == 0


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_random_vs_union_find(spark, seed):
    rng = random.Random(seed)
    nodes = rng.sample(range(10_000_000), 300)
    edges = [
        (rng.choice(nodes), rng.choice(nodes))
        for _ in range(rng.randint(150, 400))
    ]
    want = _uf_components(edges)
    got = _cc(spark, edges)
    assert got == want


def test_partition_invariance(spark):
    rng = random.Random(99)
    edges = [(rng.randrange(500), rng.randrange(500)) for _ in range(600)]
    assert _cc(spark, edges, partitions=2) == _cc(spark, edges, partitions=8)


def test_two_components_merge_via_bridge(spark):
    left = [(i, i + 1) for i in range(0, 9)]
    right = [(i, i + 1) for i in range(20, 29)]
    got = _cc(spark, left + right)
    assert {got[i] for i in range(10)} == {0}
    assert {got[i] for i in range(20, 30)} == {20}
    got2 = _cc(spark, left + right + [(9, 20)])
    assert {got2[i] for i in list(range(10)) + list(range(20, 30))} == {0}


# ---------------------------------------------------------------------------
# dedup_clusters
# ---------------------------------------------------------------------------


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dedup_clusters_exact_triples(spark):
    base = [
        (i, f"document number {i} with some distinctive filler content words {i * 17}")
        for i in range(6)
    ]
    copies = [(i + 100, t) for i, t in base[:3]] + [(i + 200, t) for i, t in base[:3]]
    out = dedup_clusters(_docs(spark, base + copies), "doc_id", "text").collect()
    by_id = {r["doc_id"]: r for r in out}
    assert len(by_id) == 12
    for i in range(3):
        for member in (i, i + 100, i + 200):
            r = by_id[member]
            assert r["cluster_id"] == i
            assert r["cluster_size"] == 3
            assert r["is_rep"] == (member == i)
    for i in range(3, 6):
        r = by_id[i]
        assert r["cluster_id"] == i and r["cluster_size"] == 1 and r["is_rep"]


def test_dedup_clusters_transitive_chain_estimate_mode(spark):
    # A~B and B~C are near-dups (one token changed each step); the
    # cluster must contain all three even if the A~C pair never
    # surfaced as a direct candidate — the non-transitivity case that
    # pairwise near-dup output cannot answer
    words = ["w%d" % i for i in range(80)]
    t0 = " ".join(words)
    t1 = " ".join(["XX" if i == 10 else w for i, w in enumerate(words)])
    t2 = " ".join(
        ["XX" if i == 10 else ("YY" if i == 50 else w) for i, w in enumerate(words)]
    )
    other = "completely different text about unrelated matters entirely " * 3
    df = _docs(spark, [(1, t0), (2, t1), (3, t2), (9, other)])
    out = dedup_clusters(df, "doc_id", "text", min_est_jaccard=0.7, verify="estimate")
    by_id = {r["doc_id"]: r for r in out.collect()}
    assert by_id[1]["cluster_id"] == by_id[2]["cluster_id"] == by_id[3]["cluster_id"] == 1
    assert by_id[1]["cluster_size"] == 3
    assert by_id[9]["cluster_size"] == 1
    assert [r for r in by_id.values() if r["is_rep"]] and by_id[1]["is_rep"]


def test_dedup_clusters_all_rows_partitioned_counts(spark):
    # every input row appears exactly once; sum of cluster sizes == n
    base = [(i, f"text body {i} padded with shared vocabulary tokens") for i in range(10)]
    dup = [(50 + i, base[i][1]) for i in range(4)]
    out = dedup_clusters(_docs(spark, base + dup), "doc_id", "text")
    rows = out.collect()
    assert len(rows) == 14
    assert sum(1 for r in rows if r["is_rep"]) == 10  # 10 distinct texts
    sizes = out.select("cluster_id", "cluster_size").dropDuplicates().agg(
        F.sum("cluster_size")
    ).collect()[0][0]
    assert sizes == 14


# ---------------------------------------------------------------------------
# pagerank
# ---------------------------------------------------------------------------


def _ref_pagerank(edges, iters=3, d=0.85):
    """Pure-Python reference implementation (dangling redistribution)."""
    from collections import Counter, defaultdict

    nodes = sorted({u for e in edges for u in e})
    n = len(nodes)
    out = Counter(u for u, _ in edges)
    r = {v: 1.0 / n for v in nodes}
    for _ in range(iters):
        dm = sum(r[v] for v in nodes if out[v] == 0)
        inflow = defaultdict(float)
        for u, v in edges:
            inflow[v] += r[u] / out[u]
        r = {v: (1.0 - d) / n + d * (inflow[v] + dm / n) for v in nodes}
    return r


def _pr(spark, edges, iters=3):
    from ccspark.graph import pagerank

    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "src long, dst long"
    ).repartition(4)
    return {r["node"]: r["rank"] for r in pagerank(df, iters=iters).collect()}


@pytest.mark.parametrize("seed", [7, 8])
def test_pagerank_vs_reference(spark, seed):
    rng = random.Random(seed)
    nodes = list(range(60))
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(200)]
    # force some dangling nodes: 55-59 receive edges but never emit
    edges = [(a, b) for a, b in edges if a < 55] + [(1, 57), (2, 58)]
    want = _ref_pagerank(edges)
    got = _pr(spark, edges)
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-9, v


def test_pagerank_mass_conserved_and_partition_invariant(spark):
    rng = random.Random(3)
    edges = [(rng.randrange(40), rng.randrange(40)) for _ in range(120)]
    got4 = _pr(spark, edges)
    assert abs(sum(got4.values()) - 1.0) < 1e-8
    from ccspark.graph import pagerank

    df1 = spark.createDataFrame(edges, "src long, dst long").repartition(1)
    got1 = {r["node"]: r["rank"] for r in pagerank(df1).collect()}
    assert got1 == got4  # rounded to 10dp: exact equality across layouts


def test_pagerank_empty(spark):
    from ccspark.graph import pagerank

    df = spark.createDataFrame([], "src long, dst long")
    assert pagerank(df).count() == 0


def _new_persistent_rdds(spark, op):
    """Runs ``op()``; returns its result and how many of the persistent
    RDDs it created are still persisted when it returns."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    out = op()
    return out, len(set(jsc.getPersistentRDDs().keySet()) - before)


def test_pagerank_releases_superseded_checkpoints(spark):
    """pagerank leaves only the checkpoint its result reads, whatever
    the iteration count, and the result stays readable."""
    from ccspark.graph import pagerank

    edges = [(i, (i * 7 + 3) % 30) for i in range(30)] + [(1, 31)]
    df = spark.createDataFrame(edges, "src long, dst long")
    left = {}
    for iters in (1, 5):
        out, left[iters] = _new_persistent_rdds(spark, lambda: pagerank(df, iters=iters))
        assert abs(sum(r["rank"] for r in out.collect()) - 1.0) < 1e-8
    assert left[1] == left[5] == 1, left


def test_connected_components_releases_superseded_checkpoints(spark):
    """Inputs of different diameter take different iteration counts and
    leave the same persistent RDDs (the node set and the final edges)."""
    left, iters = {}, {}
    for n in (3, 65):
        edges = [(i, i + 1) for i in range(n - 1)]
        df = spark.createDataFrame(edges, "src long, dst long")
        stats = {}
        out, left[n] = _new_persistent_rdds(
            spark, lambda: connected_components(df, "src", "dst", stats=stats)
        )
        iters[n] = stats["iterations"]
        assert {r["node"]: r["component"] for r in out.collect()} == {i: 0 for i in range(n)}
    assert iters[3] < iters[65], iters
    assert left[3] == left[65] == 2, left
