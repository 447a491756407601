"""The benchmark workloads, the shared set-up, and the tracer.

Every workload runs in one driver process on ``local[nproc]`` with
``nproc`` shuffle partitions.  A workload returns the wall time of each
operation it timed (one crawl round or one pass over the headline
queries), the input rows each operation consumed, and how many
operations it attempted and how many failed their correctness check.
"""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field

import pandas as pd

import checks
import inputs
import sparkstats

NPROC = len(os.sched_getaffinity(0))
SETUPS = 3  # session starts per run; setup_s is their median

# crawl_recrawl: a small universe recrawled every revisit_after rounds
RECRAWL = dict(universe=20_000, partitions=4, budget=10, salts=8, rounds=6, revisit_after=3)

CORPUS_SF = 0.1
WARMUP_PASSES = 2  # untimed: the first pass takes ~3.5x a steady one, the second ~1.3x
MIN_PASSES = 3  # op_s is their median
# the 12 headline queries and the tables each one scans
HEADLINE = {
    "q_scan_filter": ["lineitem"],
    "q_agg_pricing": ["lineitem"],
    "q_join_agg": ["orders", "customer", "nation"],
    "q_topk": ["orders"],
    "q_politeness_rank": ["events"],
    "q_moving_avg": ["events"],
    "q_histogram": ["events"],
    "q_distinct": ["events"],
    "q_dedup_exact": ["documents"],
    "q_token_count": ["documents"],
    "q_urlfp_dedup": ["documents"],
    "q_ann_cosine_topk": ["embeddings"],
}

_T0 = time.perf_counter()
_HZ = os.sysconf("SC_CLK_TCK")


def cpu_snapshot() -> tuple[float, float]:
    """(busy, steal) CPU seconds of the whole machine so far, from
    /proc/stat: busy counts user, nice, system, irq and softirq time of
    every process; steal is time the hypervisor ran someone else."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return (f[0] + f[1] + f[2] + f[5] + f[6]) / _HZ, f[7] / _HZ


def steal_free(wall_s: float, cpu_s: float, steal_s: float) -> float:
    """Wall time with the hypervisor's steal taken out: the guest's
    vCPUs were runnable for cpu_s + steal_s but ran for cpu_s only, so
    on an unshared host the same work would have taken this share of
    the wall time.  On a shared 4-vCPU guest steal bursts from
    neighbours stretch an operation by up to half for minutes at a time;
    the raw wall time is logged beside it."""
    return wall_s * cpu_s / (cpu_s + steal_s) if cpu_s + steal_s > 0 else wall_s


def log(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since start."""
    print(f"crawlbench [{time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


@dataclass
class Ctx:
    root: str  # checkout root
    run_dir: str  # per-run scratch, removed at exit
    cache_dir: str  # inputs and oracle digests, kept across runs
    seed: int
    seconds: float
    trace: bool
    _n: int = 0

    def fresh_dir(self, prefix: str) -> str:
        self._n += 1
        d = os.path.join(self.run_dir, f"{prefix}{self._n}")
        os.makedirs(d)
        return d


@dataclass
class Outcome:
    op_s: list = field(default_factory=list)
    rows: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    state: dict = field(default_factory=dict)  # what the layer harness reads

    def record(self, timer, rows: int, attempted: int = 1, errors: list = ()) -> None:
        """One timed operation: its _Timer/_Span, input rows, the
        operations it counts as, and the checks among them that failed."""
        log(f"op {len(self.op_s) + 1}: {timer.run_s:.3f}s (wall {timer.wall_s:.3f}s, cpu {timer.cpu_s:.3f}s, "
            f"steal {timer.steal_s:.3f}s), {rows} rows{', FAILED' if errors else ''}")
        self.op_s.append(timer.run_s)
        self.rows.append(rows)
        self.attempted += attempted
        self.failed += len(errors)
        self.errors += errors


# -- session ------------------------------------------------------------------------------


def start_session(ctx: Ctx):
    from ccspark.session import build_session

    tmp = os.path.join(ctx.run_dir, "tmp")
    return build_session(
        "crawlbench",
        master=f"local[{NPROC}]",
        shuffle_partitions=NPROC,
        extra_conf={
            "spark.local.dir": os.path.join(ctx.run_dir, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.warehouse.dir": os.path.join(ctx.run_dir, "warehouse"),
        },
    )


def warm_workers(spark) -> None:
    """One job over every core whose pandas UDF imports ccspark in each
    forked Python worker and canonicalizes a few URLs.  The UDF is made
    afresh per session: a UDF object keeps the accumulator of the
    session it first ran in, so ccspark's module-level UDFs are left
    unused until the last session has started."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def canonical(s: pd.Series) -> pd.Series:
        from ccspark import urls

        return urls.canonicalize_batch(s)

    urls = spark.range(0, 64 * NPROC, 1, NPROC).select(
        F.concat(F.lit("http://www.h"), F.col("id").cast("string"), F.lit(".example.com/p")).alias("url")
    )
    urls.select(canonical("url")).write.format("noop").mode("overwrite").save()


def setup(ctx: Ctx):
    """Start the session and warm its Python workers SETUPS times (the
    first start also launches the JVM); returns the last session and the
    set-up times."""
    spark, times = None, []
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        with _Timer() as t:
            spark = start_session(ctx)
            warm_workers(spark)
        times.append(t.run_s)
        log(f"setup {t.run_s:.3f}s (wall {t.wall_s:.3f}s, steal {t.steal_s:.3f}s)")
    return spark, times


def shutdown(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for the JVM
    process to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# -- tracing ------------------------------------------------------------------------------


class _Timer:
    """Wall time, machine CPU and steal time, and the steal-free time
    (``run_s``) of one call."""

    def __enter__(self):
        self._cpu0 = cpu_snapshot()
        self._t0 = time.time()
        return self

    def __exit__(self, *exc):
        self.wall_s = time.time() - self._t0
        self._stop_cpu()
        return False

    def _stop_cpu(self):
        busy, steal = cpu_snapshot()
        self.cpu_s, self.steal_s = busy - self._cpu0[0], steal - self._cpu0[1]

    @property
    def run_s(self) -> float:
        return steal_free(self.wall_s, self.cpu_s, self.steal_s)


class _Span(sparkstats.Window, _Timer):
    """A traced call: what _Timer measures plus the Spark jobs it ran,
    kept in the tracer under the span's name."""

    def __init__(self, tracer: Tracer, name: str):
        sparkstats.Window.__init__(self, tracer.store)
        self._tracer, self._name = tracer, name

    def __enter__(self):
        sparkstats.Window.__enter__(self)
        self._cpu0 = cpu_snapshot()
        return self

    def __exit__(self, exc_type, exc, tb):
        self._stop_cpu()
        sparkstats.Window.__exit__(self, exc_type, exc, tb)
        if exc_type is None:
            rec = {"wall_s": self.wall_s, "cpu_s": self.cpu_s, "steal_s": self.steal_s, "read_s": self.read_s}
            self._tracer.spans[self._name].append({**rec, **self.metrics})
        return False


class Tracer:
    """Times calls into the program; when on, also attributes the Spark
    jobs each call launched (sparkstats) and keeps them per span name."""

    def __init__(self, spark, on: bool):
        self.on = on
        self.store = sparkstats.StatusStore(spark) if on else None
        self.spans: dict[str, list] = defaultdict(list)

    def span(self, name: str):
        return _Span(self, name) if self.on else _Timer()


# -- workloads -------------------------------------------------------------------------------


def _until(ctx: Ctx, t_start: float, done: int, minimum: int) -> bool:
    return done < minimum or time.perf_counter() - t_start < ctx.seconds


def _seed_table(ctx: Ctx, cfg) -> str:
    """The crawl's seed list (every 23rd page of the universe, as
    ccspark.synth.gen_seeds and the replay oracle define it) as parquet."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ccspark import synth

    def build(tmp):
        ids = np.arange(0, cfg.universe_n, 23, dtype=np.int64)
        urls, _ = synth.gen_urls_pdf(ids, cfg.n_hosts, cfg.seed)
        pri = (synth._rand(ids, 9, cfg.seed) % np.uint64(1000)).astype(np.float64) / 1000.0
        pdf = pd.DataFrame({"url": urls.to_numpy(dtype=object), "priority": pri})
        pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), os.path.join(tmp, "seeds.parquet"))

    d = inputs.cached(ctx.cache_dir, f"seeds-s{cfg.seed}-u{cfg.universe_n}-h{cfg.n_hosts}", build)
    return os.path.join(d, "seeds.parquet")


def crawl_recrawl(ctx: Ctx, spark, tracer: Tracer) -> Outcome:
    """Bootstrap plus a fixed number of recrawl rounds, repeated from a
    fresh checkpoint while run time remains; each round is one
    operation, and each crawl is checked against the replay oracle."""
    from ccspark.frontier import CrawlFrontier, FrontierConfig

    c = RECRAWL
    cfg = FrontierConfig(
        num_partitions=c["partitions"],
        universe_n=c["universe"],
        seed=ctx.seed,
        default_budget=c["budget"],
        n_salts=c["salts"],
        revisit_after=c["revisit_after"],
    )
    seeds = spark.read.parquet(_seed_table(ctx, cfg))
    out, ckpt, crawls = Outcome(), None, 0
    t_start = time.perf_counter()
    while _until(ctx, t_start, crawls, 1):
        if ckpt is not None:
            shutil.rmtree(ckpt)
        ckpt = ctx.fresh_dir("recrawl-ckpt")
        fr = CrawlFrontier(spark, ckpt, cfg)
        with tracer.span("frontier.bootstrap"):
            fr.bootstrap(seeds)
        out.attempted += 1
        metrics = []
        for r in range(1, c["rounds"] + 1):
            with tracer.span("frontier.round") as sp:
                m = fr.run_round(r)
            metrics.append(m)
            out.record(sp, m["candidates"])
        crawls += 1
        expected = checks.replay_digest(ctx.root, ctx.cache_dir, cfg, c["rounds"])
        err = checks.check_recrawl(ckpt, c["rounds"], expected)
        if err is not None:
            out.failed += len(metrics)  # a wrong trace fails every round of the crawl
            out.errors.append(err)
    out.state = {"kind": "crawl", "ckpt": ckpt, "cfg": cfg, "rounds": c["rounds"], "metrics": metrics, "op_stat": "mean"}
    return out


def corpus_queries(ctx: Ctx, spark, tracer: Tracer) -> Outcome:
    """Warm passes over the 12 headline queries; each pass is one
    operation, each query result is checked against DuckDB."""
    import pyarrow.parquet as pq

    import __spark_entry__ as entry

    sf_dir = inputs.corpus_dir(ctx.cache_dir, ctx.seed, CORPUS_SF)
    qs = entry.queries()
    n_rows = {t: pq.ParquetFile(os.path.join(sf_dir, f"{t}.parquet")).metadata.num_rows for ts in HEADLINE.values() for t in ts}
    pass_rows = sum(n_rows[t] for ts in HEADLINE.values() for t in ts)
    log("corpus tables ready")
    expected = checks.duckdb_expected(sf_dir, list(HEADLINE))
    log("duckdb oracle done")
    for _ in range(WARMUP_PASSES):  # untimed: JIT compilation settles over the first passes
        for name in HEADLINE:
            qs[name](spark, sf_dir).toPandas()
    log("warm-up passes done")
    out = Outcome()
    t_start = time.perf_counter()
    while _until(ctx, t_start, len(out.op_s), MIN_PASSES):
        results = {}
        with _Timer() as pass_t:
            for name in HEADLINE:
                with tracer.span(f"query.{name}"):
                    results[name] = qs[name](spark, sf_dir).toPandas()
        errs = [f"{n}: {e}" for n, got in results.items() if (e := checks.query_mismatch(got, expected[n]))]
        out.record(pass_t, pass_rows, attempted=len(results), errors=errs)  # each query is an operation
    out.state = {"kind": "corpus", "sf_dir": sf_dir, "op_stat": "median"}
    return out


WORKLOADS = {
    "crawl_recrawl": crawl_recrawl,
    "corpus_queries": corpus_queries,
}


def end_to_end(setup_s: list, out: Outcome) -> dict:
    """All times are steal-free (steal_free).  setup_s is a median; op_s
    is the median operation where the operations are alike (query
    passes) and the mean where they differ by design (a crawl's rounds
    grow, so a median would pick a different round from run to run);
    rows_per_s divides the same statistic of the rows by it."""
    stat = statistics.median if out.state["op_stat"] == "median" else statistics.mean
    return {
        "setup_s": (statistics.median(setup_s), "s"),
        "op_s": (stat(out.op_s), "s"),
        "rows_per_s": (stat(out.rows) / stat(out.op_s), "1/s"),
    }
