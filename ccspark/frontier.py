"""The crawl frontier loop: iterative batch rounds over checkpointed
tables with per-partition lineage and deterministic resume.

Round shape (north_rule; SURVEY.md §7 step 7):

    frontier (∪ due revisits) ──robots + crawl-delay budget + salted
              rank──▶ processed
              (= scheduled rows ∪ robots-retired rows; host_rank NULL
               marks retirement — ONE table, so the seen delta is just
               its identity columns and needs no write of its own)
    scheduled ──deterministic fetch simulation──▶ discovered links
    seen     = processed identities across rounds (derived, not stored)
    frontier' = gate_new_storage(dedup(frontier ∪ links)) against the
               seen set through this round (exact sorted-array lookup),
               max-priority merge, optional per-host cap
    lineage  += per-partition row (emitted / budget), read off the
               processed files' Parquet footers and written with pyarrow
    checkpoint all tables, commit manifest atomically

Gate once: the links gate is the only gate.  It writes frontier/round=k
against the seen set through k — a pure function of identity and the
seen set — and round k+1 reads that table as its candidates without
re-gating them: they are novel by construction (ARCHITECTURE §1 lists
the write paths).

Determinism: every ordering is total — (priority DESC, domain_hash,
url_hash) — so the scheduled trace is invariant to partition count and
executor count; re-running any round reproduces identical bytes.  That
is what makes kill-and-resume exact (tests/test_frontier.py) and the
reference-oracle replay comparable (same seeds + budgets → same trace,
BASELINE.json north_star).

Scale notes: per-host ranks come from the two-stage salted window
(politeness.salted_topk) — no global window; link expansion is a
mapInPandas over scheduled rows — no driver participation.  Priorities
decay per hop (0.8) so the frontier drains.

Fixed cost: each Spark job is a driver round trip, so a round runs
three, in order on the calling thread (ARCHITECTURE §1 names them;
test_round_job_budget pins the count).  Its plans run with AQE off
(``adaptive_off``: AQE would submit every shuffle and broadcast stage
as a job of its own and buys these plans nothing), and every checkpoint read passes its table's fixed schema
(no schema-inference job).

STORAGE-PARTITIONED STATE (the 100×-scale design): every state table
(frontier, processed) is written Hive-partitioned by
``partition_id = pmod(domain_hash, P)`` — one file per partition per
round — and the links gate reads the seen set WORKER-SIDE with
partition pruning (seenstore.py).  The crawl history therefore never
enters a Spark Exchange: per round the only shuffles are delta-sized
(politeness windows, the next-frontier identity dedup, the optional
per-host cap).  The r3
design re-shuffled the full seen set into the gate every round (cogroup
state side + the links anti-join) — at 10^10 URLs that one
history-sized shuffle per round dominates everything; here it is gone,
and the per-round seen-set I/O is O(delta) thanks to seenstore's
incremental per-worker cache.
Reference analog: shard-stable part files keyed by shard id
(Query.java:1080-1082).
"""

from __future__ import annotations

import contextlib
import functools
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from . import politeness, seenset, seenstore, synth
from . import functions as CF

# Fixed table schemas (DDL).  The checkpoint reads of a round pass them,
# so none of them launches a schema-inference job.
FRONTIER_SCHEMA = (
    "url string, canonical_url string, domain_hash long, url_hash long, "
    "root_domain_hash long, priority double, discovered_round int"
)
# the processed table (scheduled ∪ robots-retired rows) of a round;
# root_domain_hash keeps its rows frontier-shaped (the revisit source)
PROCESSED_SCHEMA = (
    "round int, host string, host_rank int, url string, canonical_url string, "
    "domain_hash long, url_hash long, root_domain_hash long, priority double"
)
# the layout column of the partitionBy("partition_id") tables
_PID_SCHEMA = ", partition_id int"


def _cols(ddl: str) -> list[str]:
    return [field.split()[0] for field in ddl.split(", ")]


FRONTIER_COLS = _cols(FRONTIER_SCHEMA)
FRONTIER_COLS_PID = FRONTIER_COLS + ["partition_id"]
PROCESSED_COLS = _cols(PROCESSED_SCHEMA)

LINK_DECAY = 0.8

_AQE = "spark.sql.adaptive.enabled"


@contextlib.contextmanager
def adaptive_off(spark: SparkSession):
    """Run the block with AQE off on ``spark``; the caller's setting is
    restored on every exit path.  A round's plans gain nothing from AQE:
    the one join (robots) carries a broadcast hint, per-host skew is
    salted, and every layout exchange is an explicit repartition(P),
    which AQE does not coalesce.  With AQE on, each shuffle and
    broadcast stage runs as a Spark job of its own and the plan is
    re-optimized after it (ARCHITECTURE §2)."""
    prev = spark.conf.get(_AQE)
    spark.conf.set(_AQE, "false")
    try:
        yield
    finally:
        spark.conf.set(_AQE, prev)


def _pid_col(num_partitions: int):
    return F.pmod(F.col("domain_hash"), F.lit(num_partitions)).cast("int")


def dedup_by_identity(df: DataFrame, num_partitions: int) -> DataFrame:
    """Max-priority identity dedup that LANDS partition-clustered, fully
    JVM-side, with exactly ONE Exchange: repartition by partition_id
    (instead of by (domain_hash, url_hash)), then groupBy
    (partition_id, domain_hash, url_hash) — HashPartitioning on
    partition_id is a subset of the group keys, so Catalyst's
    ClusteredDistribution is already satisfied and the aggregate adds NO
    second Exchange (partition_id = pmod(domain_hash, P) is functionally
    dependent on domain_hash, so the extra key never changes groups).
    The output feeds a partitionBy("partition_id") write directly: one
    file per partition per round, which is what makes the worker-side
    storage gate (seenstore) partition-prunable."""
    return (
        df.select(*FRONTIER_COLS)
        .withColumn("partition_id", _pid_col(num_partitions))
        .repartition(num_partitions, "partition_id")
        .groupBy("partition_id", "domain_hash", "url_hash")
        .agg(
            F.min("url").alias("url"),
            F.min("canonical_url").alias("canonical_url"),
            F.min("root_domain_hash").alias("root_domain_hash"),
            F.max("priority").alias("priority"),
            F.min("discovered_round").alias("discovered_round"),
        )
        .select(*FRONTIER_COLS_PID)
    )


def _lineage_arrow_schema():
    """One row per partition with scheduled rows; its hash range spans
    the partition's processed rows (scheduled and robots-retired), the
    range its footers record.  ``urls_deduped`` is written as 0: the
    round's candidates are never re-gated (they passed the previous
    round's links gate), and the column is reserved for the links gate's
    per-partition drop count."""
    import pyarrow as pa

    return pa.schema(
        [
            ("round", pa.int32()),
            ("partition_id", pa.int32()),
            ("hash_range_start", pa.int64()),
            ("hash_range_end", pa.int64()),
            ("urls_emitted", pa.int64()),
            ("urls_deduped", pa.int64()),
            ("fetch_budget_consumed", pa.int64()),
        ]
    )


def _scheduled_by_partition(loc, round_no: int, num_partitions: int) -> dict[int, tuple[int, int, int]]:
    """``pid → (scheduled rows, min domain_hash, max domain_hash)`` of
    processed/round=<round_no>, for the partitions with scheduled rows,
    read driver-side from the Parquet footers of the files ``loc`` lists
    for each partition id (no Spark job).  Scheduled rows are the rows
    minus the host_rank nulls (robots-retired rows); the hash range spans
    every processed row.  A file whose footer lacks one of these
    statistics raises ValueError naming it."""
    import pyarrow.parquet as pq

    out = {}
    for pid in range(num_partitions):
        n, lo, hi = 0, [], []
        for path, _, _ in seenstore._sig_of(loc, "processed", round_no, pid):
            md = pq.read_metadata(path)
            names = md.schema.names
            for rg in map(md.row_group, range(md.num_row_groups)):
                if not rg.num_rows:
                    continue
                rank, dom = (
                    rg.column(names.index(c)).statistics if c in names else None
                    for c in ("host_rank", "domain_hash")
                )
                # identity tests only: pyarrow 16's Statistics == None segfaults
                if rank is None or dom is None or not (rank.has_null_count and dom.has_min_max):
                    raise ValueError(f"{path}: a row group lacks the host_rank null count or domain_hash min/max")
                n += rg.num_rows - rank.null_count
                lo.append(dom.min)
                hi.append(dom.max)
        if n:
            out[pid] = (n, min(lo), max(hi))
    return out


def _lap(phase_s: dict, name: str, t0: float) -> float:
    """Record the wall since ``t0`` as ``phase_s[name]``; returns now."""
    now = time.perf_counter()
    phase_s[name] = round(now - t0, 3)
    return now


class FrontierConfig:
    def __init__(
        self,
        num_partitions: int = 32,
        universe_n: int = 100_000,
        n_hosts: int | None = None,
        seed: int = 42,
        links_per_fetch: int = 3,
        default_budget: int = politeness.DEFAULT_BUDGET,
        round_duration_ms: int = politeness.DEFAULT_ROUND_MS,
        n_salts: int = 16,
        max_frontier_per_host: int | None = None,
        revisit_after: int | None = None,
        revisit_decay: float = 0.5,
    ):
        self.num_partitions = num_partitions
        self.universe_n = universe_n
        self.n_hosts = n_hosts or synth.default_n_hosts(universe_n)
        self.seed = seed
        self.links_per_fetch = links_per_fetch
        self.default_budget = default_budget
        self.round_duration_ms = round_duration_ms
        self.n_salts = n_salts
        # bloom bits per key (k = 7 hash functions, ~0.8% false
        # positives): the round builds no filter (its links gate is
        # exact); crawlbench's traced ledger sizes its bloom build by it
        self.buckets_per_element = 10
        # per-host frontier cap: a hot host's queue is priority-evicted
        # down to this size each round (None = unbounded); evicted URLs
        # stay rediscoverable through future links
        self.max_frontier_per_host = max_frontier_per_host
        # robots rules ride a broadcast join while the table is small;
        # at web scale (10^8+ hosts) the rules won't fit an executor —
        # auto-switch to the shuffle join (the gate keys on host, so the
        # politeness windows reuse the same clustering); the processed
        # write and crawlbench's politeness layer read it
        self.broadcast_robots = self.n_hosts <= 2_000_000
        # revisit scheduling (recrawl): URLs scheduled in round r re-enter
        # the candidate stream at round r + revisit_after with decayed
        # priority.  No gate runs on the candidates: revisits are in the
        # seen set by design, and only new links pass the (links) gate.
        # Revisits compete under the same robots/budget politeness; a
        # revisit squeezed out by budget skips that cycle (each processed
        # round is re-offered exactly once).  None = no recrawl.
        self.revisit_after = revisit_after
        self.revisit_decay = revisit_decay


def expand_links_pdf(url_hashes: np.ndarray, cfg: FrontierConfig) -> pd.DataFrame:
    """Deterministic out-links of fetched pages: splitmix64(url_hash, j)
    mod universe → synthetic raw URL.  Stand-in for parsing anchors out
    of fetched HTML (protocol.jr anchorTags) — same distribution shape,
    fully replayable."""
    n = len(url_hashes)
    if n == 0:
        return pd.DataFrame({"parent_url_hash": pd.Series(dtype=np.int64), "url": pd.Series(dtype=object)})
    parents = np.repeat(np.asarray(url_hashes, dtype=np.int64), cfg.links_per_fetch)
    j = np.tile(np.arange(cfg.links_per_fetch, dtype=np.int64), n)
    with np.errstate(over="ignore"):
        link_ids = synth._rand(parents + j * 1_000_003, 20, cfg.seed) % np.uint64(cfg.universe_n)
    urls, _ = synth.gen_urls_pdf(link_ids.astype(np.int64), cfg.n_hosts, cfg.seed)
    return pd.DataFrame({"parent_url_hash": parents, "url": urls.to_numpy()})


def _expand_ident(batches, cfg: FrontierConfig):
    """mapInPandas body of the simulated fetch: scheduled (url_hash,
    priority) batches → their out-links with canonical identity.
    Expansion, canonicalize and fingerprint are FUSED into one Python
    pass (one Arrow hop; link strings cross the boundary once), and
    there is no per-links groupBy: the next-frontier dedup merges (min
    url / max priority) over frontier ∪ links in one shuffle."""
    from . import urls as urls_mod

    for pdf in batches:
        raw = expand_links_pdf(pdf["url_hash"].to_numpy(), cfg)
        pri = np.repeat(pdf["priority"].to_numpy() * LINK_DECAY, cfg.links_per_fetch)
        u = raw["url"]
        canon, hosts = urls_mod.canonicalize_batch_with_host(u)
        fp = urls_mod.urlfp_batch(canon, hosts=hosts)
        yield pd.DataFrame(
            {
                "url": u.to_numpy(),
                "canonical_url": canon.to_numpy(),
                "domain_hash": fp["domain_hash"],
                "url_hash": fp["url_hash"],
                "root_domain_hash": fp["root_domain_hash"],
                "priority": pri,
                "url_valid": fp["valid"],
            }
        )


class CrawlFrontier:
    """Checkpointed crawl-frontier driver."""

    def __init__(
        self,
        spark: SparkSession,
        ckpt_dir: str,
        cfg: FrontierConfig | None = None,
        checkpoint=None,
        expand_fn=None,
        robots_df=None,
    ):
        """``ckpt_dir`` may be a filesystem path (parquet-emulation
        backend) or ``iceberg:<catalog>.<namespace>`` (real Iceberg
        catalog backend, see ccspark.catalog); ``checkpoint`` overrides
        with an explicit backend instance.

        ``expand_fn(scheduled_df) -> DataFrame(url, priority)`` plugs a
        REAL fetch + link-extraction pipeline (e.g. fetch html, then
        ccspark.links.page_links) in place of the deterministic
        simulation; its output goes through the same fused
        canonicalize+fingerprint identity as every other URL.  The
        default simulation is what keeps the pure-Python replay oracle
        exact.

        ``robots_df`` overrides the synthetic robots table with real
        rules (e.g. fetch.fetch_robots over the seed hosts) — same
        (host, disallow_prefixes, crawl_delay_ms, max_fetches_per_round)
        schema."""
        from .catalog import make_checkpoint

        self.spark = spark
        self.cfg = cfg or FrontierConfig()
        self.ckpt = checkpoint or make_checkpoint(spark, ckpt_dir)
        self.expand_fn = expand_fn
        self._robots_df = robots_df

    # -- plumbing ---------------------------------------------------------

    def _identify(self, raw: DataFrame, round_no: int) -> DataFrame:
        """raw(url, priority) → frontier rows (canonical identity, valid
        only), not yet deduped."""
        return (
            CF.with_canonical_urlfp(raw)
            .filter("url_valid")
            .withColumn("discovered_round", F.lit(round_no))
            .select(*FRONTIER_COLS)
        )

    def _robots(self) -> DataFrame:
        # memoized: the rules table is immutable across rounds — rebuilding
        # the local relation every round re-ships n_hosts rows to the JVM
        if self._robots_df is None:
            self._robots_df = synth.gen_robots(self.spark, self.cfg.n_hosts, self.cfg.seed)
        return self._robots_df

    # -- read surfaces ------------------------------------------------------

    def read_trace(self, upto_round: int) -> DataFrame:
        """Scheduled trace rows across rounds 1..upto (the crawl
        ordering): the scheduled half of the per-round processed table."""
        return self._read_processed(upto_round).filter(F.col("host_rank").isNotNull())

    def read_seen(self, upto_round: int) -> DataFrame | None:
        """Seen-set membership = every identity the crawl has disposed of
        (scheduled or robots-retired) across rounds 1..upto."""
        proc = self._read_processed(upto_round)
        return None if proc is None else proc.select("domain_hash", "url_hash")

    def _read_processed(self, upto_round: int) -> DataFrame | None:
        return self.ckpt.read_all_rounds(
            self.spark, "processed", upto_round, PROCESSED_SCHEMA + _PID_SCHEMA
        )

    # -- lifecycle --------------------------------------------------------

    def bootstrap(self, seeds: DataFrame) -> None:
        """Round 0: establish the frontier from the seed list.

        ONE Spark job: the identified-seeds write, run with AQE off
        (``adaptive_off``, so the dedup's shuffle stage is not a job of
        its own), with the row count read off an Observation instead of
        a second (full-recompute) count job.  Round 0 writes the frontier
        only: the seen set starts absent (read_all_rounds returns None
        for round 0).  The manifest records the partition count P, which
        every later round of the crawl must run with."""
        P = self.cfg.num_partitions
        obs = Observation("bootstrap_n")
        frontier = dedup_by_identity(self._identify(seeds, 0), P).observe(obs, F.count(F.lit(1)).alias("n"))
        with adaptive_off(self.spark):
            self.ckpt.write(frontier, "frontier", 0, partition_by=["partition_id"])
        self.ckpt.commit_round(
            0, {"frontier": "round=0"}, extra={"frontier_size": int(obs.get["n"]), "num_partitions": P}
        )

    def run_round(self, round_no: int, injected: DataFrame | None = None) -> dict:
        """Execute one crawl round (round_no = last committed round + 1);
        returns metrics.

        ``injected`` (url, priority) rows join the round's candidates: a
        streaming micro-batch b is round b+1 with its rows injected
        (streaming.frontier_process_batch).  They may hold seen or
        repeated URLs, so ``_candidates`` dedups them with the frontier
        and gates the result against the seen set through round k-1.

        The round is six phases, called in this order on the calling
        thread (ARCHITECTURE §1): ``_candidates`` → ``_write_processed`` →
        ``_expand_dedup`` → ``_write_frontier`` → ``_write_lineage`` →
        ``_commit``.

        A round runs three Spark jobs, one after the other, revisit rounds
        too (ARCHITECTURE §1): the robots broadcast, the processed write
        (scheduled ∪ robots-retired, one table so the seen delta needs no
        write of its own) and the frontier write (expansion → dedup →
        exact links gate → optional cap, one plan).  The
        lineage rows come from the processed files' Parquet footers and
        land via a driver-side pyarrow write.  The round's plans run with
        AQE off (``adaptive_off``) and its checkpoint reads pass fixed
        schemas, so neither adds jobs.  All row counts come from
        Observations attached to those same actions; no separate
        .count()/.toPandas() jobs and no post-write re-reads.  On every
        exit path the round releases the frames it cached and restores
        the session's AQE setting.

        ``phase_s`` in the metrics holds the driver-side wall of three
        consecutive stretches: processed_write (from the round's start),
        frontier_write and lineage_write.  The round takes the state
        location twice: once for ``_candidates``' layout check, and once
        after the processed write for the links gate and the lineage."""
        t = time.perf_counter()
        cfg, ckpt = self.cfg, self.ckpt
        phase_s: dict[str, float] = {}
        # ``release`` unpersists the cached frames last-cached first, so
        # no frame is released before one cached over it
        with adaptive_off(self.spark), contextlib.ExitStack() as release:
            n_candidates, frontier, candidates = self._candidates(round_no, injected)
            release.callback(frontier.unpersist)
            processed, n_scheduled = self._write_processed(candidates, round_no)  # fills the processed cache
            release.callback(processed.unpersist)
            t = _lap(phase_s, "processed_write", t)
            loc = ckpt.state_location()  # re-read: covers the just-written processed delta
            merged = self._expand_dedup(frontier, processed.filter(F.col("host_rank").isNotNull()), round_no)
            n_frontier = self._write_frontier(merged, loc, round_no)
            t = _lap(phase_s, "frontier_write", t)
            self._write_lineage(loc, round_no)
            _lap(phase_s, "lineage_write", t)
            self._commit(round_no, n_scheduled, n_frontier)
        return {
            "round": round_no,
            "candidates": n_candidates,
            "scheduled": n_scheduled,
            "frontier_size": n_frontier,
            "phase_s": phase_s,
        }

    # -- round phases -----------------------------------------------------

    def _candidates(self, round_no: int, injected: DataFrame | None) -> tuple[int, DataFrame, DataFrame]:
        """Candidates phase: frontier/round=k-1 (∪ injected rows) ∪ the
        due revisits.

        Returns ``(n_candidates, frontier, candidates)`` with the frontier
        cached (it feeds both the processed write and the next-frontier
        dedup).  A drained round (no frontier, nothing to revisit) runs
        the same phases over empty frames and commits all three tables.
        The frontier is not re-gated: round k-1's links gate wrote it
        against the seen set through k-1, so every row is novel (the
        gate-once invariant, ARCHITECTURE §1).  Injected rows are not:
        the cached frame is then ``gate_new_storage(dedup_by_identity(
        frontier ∪ identified rows), seen through k-1)``, dedup first so
        a URL in both merges to its max priority, gate after (the links
        gate's shape).  ``n_candidates`` counts the frontier rows only.
        Their count comes from the last manifest, which is why round k
        must follow committed round k-1, with the partition count the
        crawl was bootstrapped with (the state tables and the gate's
        pruning are laid out by pmod(domain_hash, P)).  Both reads pass
        their table's fixed schema: no schema-inference job, and a
        drained frontier (a round directory without data files) reads as
        an empty frame."""
        spark, cfg, ckpt = self.spark, self.cfg, self.ckpt
        P = cfg.num_partitions
        # layout check before the round writes anything: a catalog table
        # without the partition_id layout raises here
        loc = ckpt.state_location()
        manifest = ckpt.read_manifest()
        last = None if manifest is None else int(manifest["round"])
        prev = round_no - 1
        if last != prev:
            after = "an empty checkpoint" if last is None else f"committed round {last}"
            expected = "a bootstrap (round 0)" if last is None else f"round {last + 1}"
            raise ValueError(
                f"round {round_no} cannot follow {after}; expected {expected}: a round "
                "reads the frontier and frontier_size of the round before it"
            )
        if int(manifest["num_partitions"]) != P:
            raise ValueError(
                f"round {round_no} runs with num_partitions={P}, but the crawl's state is "
                f"laid out by num_partitions={manifest['num_partitions']}: resume with that count"
            )
        n_candidates = int(manifest["frontier_size"])

        # revisit injection (recrawl): the scheduled rows of the round
        # processed revisit_after rounds ago re-enter the candidate stream
        # with decayed priority, under the same politeness as everything
        # else.  Its footers say whether it has any (no job).  A source
        # with scheduled rows that fails to read fails the round
        revisit_src = None
        if cfg.revisit_after and round_no > cfg.revisit_after:
            src_round = round_no - cfg.revisit_after
            if _scheduled_by_partition(loc, src_round, P):
                revisit_src = ckpt.read(spark, "processed", src_round, PROCESSED_SCHEMA + _PID_SCHEMA).filter(
                    F.col("host_rank").isNotNull()
                )
        frontier = ckpt.read(spark, "frontier", prev, FRONTIER_SCHEMA + _PID_SCHEMA).select(*FRONTIER_COLS)
        if injected is not None:
            merged = dedup_by_identity(frontier.unionByName(self._identify(injected, round_no)), P)
            frontier = seenset.gate_new_storage(merged, loc, prev, P).select(*FRONTIER_COLS)
        candidates = frontier
        if revisit_src is not None:
            candidates = frontier.unionByName(
                revisit_src.select(
                    "url",
                    "canonical_url",
                    "domain_hash",
                    "url_hash",
                    "root_domain_hash",
                    (F.col("priority") * cfg.revisit_decay).alias("priority"),
                    F.lit(round_no).alias("discovered_round"),
                )
            )
        # cached last, when nothing in this phase can raise any more:
        # run_round releases it from here on (the candidates plan picks
        # the cache up when it runs)
        return n_candidates, frontier.cache(), candidates

    def _write_processed(self, candidates: DataFrame, round_no: int) -> tuple[DataFrame, int]:
        """Processed-write phase: ``politeness.process_round`` under the
        config's budget, salts and robots join → ``round`` column →
        ``PROCESSED_COLS`` + ``partition_id`` → scheduled-count
        Observation → cache → ``processed/round=<round_no>`` write.

        One table holds the round's scheduled rows (host_rank 1..budget)
        and its robots-retired rows (host_rank NULL, so the frontier
        drains of them), which makes the seen delta just its identity
        columns.  No layout Exchange: process_round's final rank already
        hash-partitions by pmod(domain_hash, P), so the Hive-partitioned
        write produces one file per partition — the layout every
        storage-gate read prunes on.  Returns the cached frame (the
        caller unpersists it; a failed write releases it here) and the
        scheduled-row count."""
        cfg = self.cfg
        obs = Observation(f"proc_{round_no}")
        processed = (
            politeness.process_round(
                candidates,
                self._robots(),
                default_budget=cfg.default_budget,
                round_duration_ms=cfg.round_duration_ms,
                n_salts=cfg.n_salts,
                broadcast_robots=cfg.broadcast_robots,
                layout_partitions=cfg.num_partitions,
            )
            .withColumn("round", F.lit(round_no))
            .withColumn("partition_id", _pid_col(cfg.num_partitions))
            .select(*PROCESSED_COLS, "partition_id")
            .observe(obs, F.count(F.when(F.col("host_rank").isNotNull(), F.lit(1))).alias("n_sched"))
            .cache()
        )
        try:
            self.ckpt.write(processed, "processed", round_no, partition_by=["partition_id"])
        except BaseException:
            processed.unpersist()
            raise
        # a round Catalyst proves empty (an empty local relation) collapses
        # the plan and prunes the Observation: its row comes back field-less
        n_sched = int(obs.get["n_sched"]) if obs._jo.getRow().length() else 0
        return processed, n_sched

    def _expand_dedup(self, frontier: DataFrame, scheduled: DataFrame, round_no: int) -> DataFrame:
        """Link expansion + dedup phase: the scheduled rows' out-links —
        from the pluggable real pipeline (``expand_fn`` → raw urls → the
        fused identity kernel) or the deterministic fetch simulation
        (``_expand_ident``) — unioned with the frontier and max-priority
        deduped by identity in ONE shuffle.  Returns the plan: it runs
        in the frontier write's job, under the links gate."""
        cfg = self.cfg
        if self.expand_fn is not None:
            links_raw = CF.with_canonical_urlfp(self.expand_fn(scheduled))
        else:
            links_raw = scheduled.select("url_hash", "priority").mapInPandas(
                functools.partial(_expand_ident, cfg=cfg),
                schema=(
                    "url string, canonical_url string, domain_hash long, "
                    "url_hash long, root_domain_hash long, priority double, "
                    "url_valid boolean"
                ),
            )
        links = (
            links_raw.filter("url_valid")
            .withColumn("discovered_round", F.lit(round_no))
            .select(*FRONTIER_COLS)
        )
        return dedup_by_identity(frontier.unionByName(links), cfg.num_partitions)

    def _write_frontier(self, merged: DataFrame, loc, round_no: int) -> int:
        """Links gate + frontier write phase; returns the frontier size.
        One job: the expansion and dedup plan ``merged`` runs under the
        gate, the optional per-host cap and the write.

        Dedup first, gate after: the identity dedup's one Exchange (by
        partition_id) lands rows clustered the way the storage gate wants
        them, so the deduped frontier ∪ links is gated against the seen
        set through round k with no extra shuffle.  ``loc`` is the state
        location taken after the processed write, so that seen set holds
        the round's processed delta and the gate itself retires
        just-processed frontier rows.  Equivalence with gating links and
        anti-joining the delta before the dedup: an identity is either
        seen through round k (all its rows dropped in both shapes) or
        unseen (all kept), so the rows feeding the max-priority merge are
        unchanged."""
        cfg = self.cfg
        gated = seenset.gate_new_storage(merged, loc, round_no, cfg.num_partitions)
        if cfg.max_frontier_per_host is not None:
            # priority-evict hot hosts' queues (domain_hash is the host
            # fingerprint — no string work); deterministic total order,
            # so the cap is partition-count invariant like everything else
            gated = politeness.salted_topk(
                gated, ["domain_hash"], cfg.max_frontier_per_host, cfg.n_salts
            ).select(*FRONTIER_COLS_PID).repartition(cfg.num_partitions, "partition_id")
        obs = Observation(f"frontier_{round_no}")
        gated = gated.observe(obs, F.count(F.lit(1)).alias("n"))
        self.ckpt.write(gated, "frontier", round_no, partition_by=["partition_id"])
        return int(obs.get["n"])

    def _write_lineage(self, loc, round_no: int) -> None:
        """Lineage phase: the per-partition commit record, read from the
        footers of processed/round=k through ``loc`` (the state location
        the links gate used); its ~P rows are written driver-side with
        pyarrow (no job)."""
        schema = _lineage_arrow_schema()
        pdf = pd.DataFrame(
            [
                {
                    "round": round_no,
                    "partition_id": pid,
                    "hash_range_start": lo,
                    "hash_range_end": hi,
                    "urls_emitted": n,
                    "urls_deduped": 0,  # reserved: see _lineage_arrow_schema
                    "fetch_budget_consumed": n,
                }
                for pid, (n, lo, hi) in _scheduled_by_partition(loc, round_no, self.cfg.num_partitions).items()
            ],
            columns=schema.names,
        )
        self.ckpt.write_pdf(pdf, "lineage", round_no, arrow_schema=schema)

    def _commit(self, round_no: int, n_scheduled: int, n_frontier: int) -> None:
        """Commit phase: publish the round's three tables atomically."""
        self.ckpt.commit_round(
            round_no,
            {t: f"round={round_no}" for t in ("frontier", "processed", "lineage")},
            extra={
                "scheduled": n_scheduled,
                "frontier_size": n_frontier,
                "num_partitions": self.cfg.num_partitions,
            },
        )

    def run(self, seeds: DataFrame | None, num_rounds: int, on_round=None) -> list[dict]:
        """Run/resume the crawl.  If a committed manifest exists, resume
        after its round (idempotent; a killed job re-runs only the
        uncommitted round).  Each metrics dict carries the round's wall
        time; ``on_round(m)`` fires after every round (live progress for
        job drivers — keeps the loop/termination logic in ONE place).

        Termination: an idle round (nothing scheduled, empty frontier)
        ends the crawl UNLESS a future revisit cycle can still produce
        work — with revisit_after=k the loop idles forward until k
        rounds past the last round that scheduled anything."""
        last = self.ckpt.last_committed_round()
        if last is None:
            assert seeds is not None, "first run needs a seed list"
            self.bootstrap(seeds)
            last = 0
        else:
            self.ckpt.drop_rounds_after(last)
        metrics = []
        # conservative resume assumption: the resume round may have
        # scheduled work, so revisit idling extends k rounds past it
        last_sched = last
        for r in range(last + 1, last + 1 + num_rounds):
            t0 = time.time()
            m = self.run_round(r)
            m["wall_s"] = round(time.time() - t0, 2)
            metrics.append(m)
            if on_round is not None:
                on_round(m)
            if m["scheduled"] > 0:
                last_sched = r
            idle = m["scheduled"] == 0 and m.get("frontier_size", 0) == 0
            revisit_pending = (
                self.cfg.revisit_after is not None
                and r < last_sched + self.cfg.revisit_after
            )
            if idle and not revisit_pending:
                break
        return metrics
