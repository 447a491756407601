"""Distributed connected components for dedup clustering.

Fuzzy dedup at corpus scale needs more than pairwise candidates: near-dup
similarity is not transitive, so the standard pipeline (MinHashLSH →
verify → *cluster* → keep one representative per cluster) requires a
connected-components pass over the verified-pair edge list.  A 100 TB
corpus yields billions of edges, so the CC algorithm itself has to be a
bounded number of shuffle rounds, not a sequential union-find.

This module implements the alternating **large-star / small-star**
algorithm (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii,
"Connected Components in MapReduce and Beyond", SoCC 2014): every
iteration is a bounded handful of equi-shuffles on node id / edge key
(min-aggregation, join-back, dedup — all linear in |E|, no all-pairs
step), and the edge set provably
converges in O(log² n) rounds (O(log n) in practice) to a star graph
where every node points at its component's minimum id.  Each step, on
the undirected edge set E:

* large-star: for each u over both orientations of E,
  m = min(N(u) ∪ {u}); emit (v, m) for v ∈ N(u), v > u
* small-star: orient E high→low, so N(u) is u's smaller neighbors;
  m = min(N(u) ∪ {u}) = min(N(u)); emit (v, m) for
  v ∈ N(u) ∪ {u}, v ≠ m

Both are a min-aggregation joined back to the edge list — plain
equi-shuffles on int64 node ids (uniform when ids are hashes; AQE's
skew-join split handles the hot-component groupBy tail).  The iteration
materializes each round via localCheckpoint so the plan does not grow
with the round count (lineage depth, not data, is the local hazard; on
a cluster a checkpoint dir gives the fault-tolerant variant).  A
checkpoint's RDD is released as soon as its successor is materialized,
so a call leaves only the RDDs its result reads, however many rounds
it ran.

Reference scope note: the reference engine deduplicates URLs by exact
fingerprint only (URLFPV2, Query.java's uniqueValues path) — document
CLUSTER dedup is part of this repo's training-data-pipeline extension
surface, not a reference port.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _fingerprint(edges: DataFrame) -> tuple[int, int]:
    """Order-independent digest of a canonical (a, b) edge set:
    (count, xor-of-hashes) — xor is commutative and cannot overflow
    under ANSI mode, and the edge set is deduplicated so pairwise
    cancellation cannot occur.  One tiny aggregate per iteration; a
    collision would need two DIFFERENT edge sets with equal count AND
    equal 64-bit hash xor at adjacent iterations of a monotone
    process — vanishingly unlikely."""
    row = edges.select(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("a", "b")), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _release(*dfs: DataFrame) -> None:
    """Unpersist the localCheckpoint RDDs behind ``dfs``; nothing reads
    them once their successors are materialized."""
    for df in dfs:
        df._jdf.queryExecution().logical().rdd().unpersist(False)


def _canon(edges: DataFrame) -> DataFrame:
    """high→low orientation, self-loops dropped, deduped."""
    return (
        edges.select(F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b"))
        .where(F.col("a") != F.col("b"))
        .dropDuplicates()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """edges: canonical undirected set.  Emit (v, m) for every neighbor
    v > u over both orientations, m = min(N(u) ∪ {u})."""
    both = edges.unionByName(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
    mins = both.groupBy("a").agg(F.min("b").alias("mb"))
    mins = mins.select("a", F.least("mb", "a").alias("m"))
    return _canon(
        both.join(mins, "a")
        .where(F.col("b") > F.col("a"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """edges: canonical (already high→low).  m = min of u's smaller
    neighborhood; emit (v, m) for v ∈ N(u) ∪ {u}, v ≠ m."""
    mins = edges.groupBy("a").agg(F.min("b").alias("m"))
    nbr = (
        edges.join(mins, "a")
        .where(F.col("b") != F.col("m"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
    )
    self_edge = mins.select("a", F.col("m").alias("b"))
    return _canon(nbr.unionByName(self_edge))


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """Component label (= minimum member id) for every node that appears
    in ``edges``.

    Input: a DataFrame with two integer-typed columns ``src``/``dst``
    (undirected; orientation, duplicates and self-loops are all fine).
    Output: ``(node, component)`` — one row per distinct node.

    Cost shape: every iteration is a fixed number of equi-shuffles
    keyed on node id / edge pair (each linear in the edge count) plus
    one 16-byte aggregate for the convergence probe; iteration count is
    O(log n) in component diameter, independent of cluster size — the
    property that makes this runnable over billions of verified
    near-dup pairs (measured: 2M dedup-shaped edges → 966k components
    in 5 alternations, BENCH/cc_scale_r5.json).
    """
    raw = (
        edges.select(
            F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
        )
        .where(F.col(src).isNotNull() & F.col(dst).isNotNull())
        # materialized once — consumed by both the canonical edge set
        # and the node universe; the upstream plan may be expensive
        .localCheckpoint(eager=True)
    )
    cur = _canon(raw).localCheckpoint(eager=True)
    # nodes from the RAW edges: a node whose only mention is a
    # self-loop is still present (as its own singleton component)
    nodes = (
        raw.select(F.col("a").alias("node"))
        .unionByName(raw.select(F.col("b").alias("node")))
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    _release(raw)

    prev_fp = _fingerprint(cur)
    converged = prev_fp[0] == 0
    iters = 0
    for _ in range(max_iter):
        if converged:
            break
        nxt = _small_star(_large_star(cur)).localCheckpoint(eager=True)
        fp = _fingerprint(nxt)
        _release(cur)
        cur = nxt
        iters += 1
        if fp == prev_fp:
            converged = True
        prev_fp = fp
    if not converged:
        raise RuntimeError(f"connected_components did not converge in {max_iter} iterations")
    if stats is not None:
        stats["iterations"] = iters

    # at the fixpoint the canonical edge set is a star per component:
    # every node's minimum neighbor IS the component minimum
    labels = cur.groupBy(F.col("a").alias("node")).agg(F.min("b").alias("component"))
    return nodes.join(labels, "node", "left").select(
        "node", F.coalesce("component", "node").alias("component")
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list — the classic
    crawl-frontier prioritization signal (authority-ordered fetch, the
    OPIC/PageRank ordering family): feed the result in as the
    ``priority`` column of the politeness scheduler to fetch
    high-authority hosts first.

    Exact semantics (mirrored by the SQL oracle):
    nodes = distinct(src ∪ dst); rank₀ = 1/N;
    rankᵢ₊₁(v) = (1-d)/N + d·(Σ_{u→v} rankᵢ(u)/outdeg(u) + D/N)
    where D = Σ rankᵢ(u) over dangling nodes (outdeg 0) — dangling mass
    is redistributed uniformly, so Σ rank = 1 at every iteration.

    A fixed ``iters`` (not convergence-driven) keeps the operator a
    deterministic, oracle-checkable plan: per iteration one shuffle on
    ``src`` (rank→edge join), one on ``dst`` (contribution groupBy),
    and a broadcast-sized 1-row dangling aggregate.  Parallel edges
    are counted per-copy (multigraph semantics); self-loops count like
    any edge.

    Returns ``(node, rank)`` with rank rounded to 10 decimal places
    (stabilizes float association order across partitionings).
    """
    e = (
        edges.select(
            F.col(src).cast("long").alias("s"), F.col(dst).cast("long").alias("d")
        )
        .where(F.col(src).isNotNull() & F.col(dst).isNotNull())
        # materialized once: the edge list is re-joined every iteration,
        # and its upstream plan (e.g. verified LSH pairs) may be expensive
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("s").alias("node"))
        .unionByName(e.select(F.col("d").alias("node")))
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    if n == 0:
        _release(e)
        return nodes.select("node", F.lit(0.0).alias("rank"))
    outdeg = e.groupBy(F.col("s").alias("node")).agg(F.count(F.lit(1)).alias("outdeg"))
    # static per-node frame: (node, outdeg) — outdeg 0 marks dangling
    base = nodes.join(outdeg, "node", "left").select(
        "node", F.coalesce("outdeg", F.lit(0)).alias("outdeg")
    ).localCheckpoint(eager=True)
    _release(nodes)

    ranks = base.select("node", "outdeg", F.lit(1.0 / n).alias("rank"))
    for i in range(iters):
        dangling = (
            ranks.where(F.col("outdeg") == 0)
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dmass"))
        )
        contribs = (
            e.join(
                ranks.where(F.col("outdeg") > 0).select(
                    F.col("node").alias("s"), (F.col("rank") / F.col("outdeg")).alias("c")
                ),
                "s",
            )
            .groupBy(F.col("d").alias("node"))
            .agg(F.sum("c").alias("inflow"))
        )
        nxt = (
            base.join(contribs, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                "outdeg",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping)
                    * (F.coalesce("inflow", F.lit(0.0)) + F.col("dmass") / n)
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
        if i:  # iteration 0 replaces base's projection, not a checkpoint
            _release(ranks)
        ranks = nxt
    # the result reads the last ranks alone, or base when iters is 0
    _release(e)
    if iters:
        _release(base)
    return ranks.select("node", F.round("rank", 10).alias("rank"))
