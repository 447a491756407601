"""Structured Streaming surface: streaming page ingest, watermarked
de-duplication, windowed per-host counts, and a custom stateful
per-host budget operator.

The reference is batch-only over immutable archives (SURVEY.md §2.7);
the crawl loop becomes micro-batches here.  Late/re-discovered URLs are
made idempotent exactly like the batch seen-set: ``dropDuplicates`` on
the URLFPV2 composite key under a watermark, mirroring H4/H5.
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from . import functions as CF

PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def stream_pages(spark: SparkSession, path: str, max_files_per_trigger: int = 8) -> DataFrame:
    """File-source stream of pages-shaped parquet drops."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def dedup_urls_stream(pages: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Canonical-identity streaming dedup: watermark on warc_ts, drop
    duplicates on (domain_hash, url_hash) — late re-discoveries of the
    same URL are suppressed within the watermark horizon."""
    # fused canonicalize+fingerprint kernel: ONE Arrow hop per row
    # instead of the chained canonicalize→urlfp pair, and the canonical
    # host rides along for the downstream per-host operators
    df = CF.with_canonical_urlfp(pages, with_host=True)
    return (
        df.filter("url_valid")
        .withWatermark("warc_ts", watermark)
        .dropDuplicates(["domain_hash", "url_hash"])
    )


def urls_per_host_windowed(
    deduped: DataFrame, window: str = "1 minute", slide: str | None = None
) -> DataFrame:
    """Windowed per-host URL counts (fetch-rate accounting)."""
    # reuse the kernel's host byproduct when present — no extra Python hop
    host = (
        F.col("host") if "host" in deduped.columns
        else CF.url_host(F.col("canonical_url")).alias("host")
    )
    w = F.window("warc_ts", window, slide) if slide else F.window("warc_ts", window)
    return deduped.select(host, "warc_ts").groupBy(w.alias("win"), "host").agg(
        F.count("*").alias("n_urls")
    )


_BUDGET_STATE_SCHEMA = "used long"
_BUDGET_OUT_SCHEMA = "host string, batch_urls long, used_total long, over_budget boolean"


def host_budget_stateful(
    deduped: DataFrame, budget_per_host: int = 100
) -> DataFrame:
    """Custom stateful operator: cumulative per-host fetch counter across
    micro-batches (applyInPandasWithState), flagging hosts that exceed
    their crawl budget — the streaming analogue of the politeness gate."""

    def update(
        key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n = 0
        for pdf in pdfs:
            n += len(pdf)
        (used,) = state.get if state.exists else (0,)
        used += n
        state.update((used,))
        yield pd.DataFrame(
            {
                "host": [key[0]],
                "batch_urls": [n],
                "used_total": [used],
                "over_budget": [used > budget_per_host],
            }
        )

    host = (
        F.col("host") if "host" in deduped.columns
        else CF.url_host(F.col("canonical_url")).alias("host")
    )
    return (
        deduped.select(host)
        .groupBy("host")
        .applyInPandasWithState(
            update,
            outputStructType=_BUDGET_OUT_SCHEMA,
            stateStructType=_BUDGET_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str = "append"):
    """Start a memory-sink query (tests/demos); caller stops it."""
    return (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .start()
    )


CANDIDATES_SCHEMA = "url string, priority double, ts timestamp"


def stream_candidates(spark: SparkSession, path: str, max_files_per_trigger: int = 8) -> DataFrame:
    """File-source stream of discovered candidate URLs."""
    return (
        spark.readStream.schema(CANDIDATES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def streaming_frontier(
    candidates: DataFrame,
    robots: DataFrame,
    out_dir: str,
    default_budget: int = 10,
    n_salts: int = 8,
    checkpoint_dir: str | None = None,
    compact_every: int = 16,
):
    """Micro-batch crawl scheduler: the batch politeness pipeline run per
    trigger with a PERSISTENT seen set, via foreachBatch.

    Each micro-batch: canonicalize+fingerprint → union the carry-over
    backlog from the previous batch → identity dedup → anti-join the
    accumulated seen table → robots + budget + salted rank →
    scheduled + seen delta + new backlog.  Allowed-but-over-budget novel
    rows (host_rank > budget) are NOT lost: they land in the carry-over
    backlog and re-enter the next trigger, matching the batch frontier
    loop's leftover-returns-to-frontier semantics, so the stream's
    output equals the batch loop's over the same drops even when
    budgets bind.

    State goes through the same Checkpoint backends as the batch loop
    (``out_dir`` is a filesystem path → partitioned-parquet emulation,
    or ``iceberg:<cat>.<ns>`` → catalog tables): per-batch table rounds
    ``<table>/round=<batch_id>`` plus ONE atomic manifest commit per
    batch carrying the batch lineage counts.  Delivery is exactly-once:
    a batch is skipped iff the manifest already covers it; a retry of a
    half-written batch overwrites its own partial rounds (deterministic
    plans → identical output).

    Every ``compact_every`` batches the seen deltas are folded into one
    full-set round and older rounds pruned, so listing cost and
    small-file count stay bounded on a long-running stream (Iceberg
    backends skip the prune — compaction there is native table
    maintenance)."""
    def _process(batch_df: DataFrame, batch_id: int) -> None:
        frontier_process_batch(
            batch_df, batch_id, robots, out_dir, default_budget, n_salts,
            compact_every=compact_every,
        )

    writer = candidates.writeStream.foreachBatch(_process).outputMode("update")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    return writer.start()


_IDENT_COLS = ["url", "canonical_url", "priority", "domain_hash", "url_hash"]


def frontier_process_batch(
    batch_df: DataFrame,
    batch_id: int,
    robots: DataFrame,
    out_dir: str,
    default_budget: int = 10,
    n_salts: int = 8,
    _die_before_marker: bool = False,
    compact_every: int = 16,
) -> None:
    """One micro-batch of the streaming frontier (module-level so tests
    can simulate retries and mid-batch kills directly).
    ``_die_before_marker`` is a test hook: crash after the data writes
    but before the manifest commit, as a killed executor would.

    Crash-safety of compaction: a compaction batch writes the FULL seen
    set (prev ∪ delta) as its own seen round BEFORE the commit, and only
    prunes older rounds AFTER the commit — a crash mid-prune leaves
    subset-duplicate rounds behind, which is harmless (seen is a set)
    and cleaned by the next compaction."""
    import os
    import shutil

    from . import politeness
    from .catalog import make_checkpoint

    spark_l = batch_df.sparkSession
    ckpt = make_checkpoint(spark_l, out_dir)
    last = ckpt.last_committed_round()
    if last is not None and last >= batch_id:
        return  # retried but fully committed batch → exactly-once skip

    ident = CF.with_canonical_urlfp(batch_df).filter("url_valid").select(*_IDENT_COLS)
    # backlog of the most recent COMMITTED batch (a retried batch must
    # not read its own partial output — `last` can never be batch_id here)
    if last is not None:
        carry = ckpt.read(spark_l, "carryover", last)
        ident = ident.unionByName(carry.select(*_IDENT_COLS))
    ident = ident.groupBy("domain_hash", "url_hash").agg(
        F.min("url").alias("url"),
        F.min("canonical_url").alias("canonical_url"),
        F.max("priority").alias("priority"),
    )
    # seen = rounds strictly before this batch (same retry argument)
    seen = ckpt.read_all_rounds(spark_l, "seen", batch_id - 1) if batch_id > 0 else None
    if seen is not None:
        novel = ident.join(
            seen.select("domain_hash", "url_hash"), ["domain_hash", "url_hash"], "left_anti"
        )
    else:
        novel = ident
    novel = novel.cache()
    # processed = scheduled (host_rank 1..budget) ∪ robots-retired
    # (host_rank NULL); both leave the backlog and enter the seen set
    processed = politeness.process_round(
        novel, robots, default_budget=default_budget, n_salts=n_salts
    ).cache()
    sched = processed.filter(F.col("host_rank").isNotNull())
    ckpt.write(sched, "scheduled", batch_id)
    handled = processed.select("domain_hash", "url_hash")
    compacting = compact_every > 0 and batch_id > 0 and batch_id % compact_every == 0
    if compacting and seen is not None:
        # fold the whole history into this round's seen table; older
        # rounds become redundant and are pruned after the commit
        seen_out = handled.unionByName(seen.select("domain_hash", "url_hash")).distinct()
    else:
        seen_out = handled
    ckpt.write(seen_out, "seen", batch_id)
    # allowed-but-over-budget novel rows → next trigger's backlog
    leftover = novel.join(handled, ["domain_hash", "url_hash"], "left_anti").select(
        *_IDENT_COLS
    )
    ckpt.write(leftover, "carryover", batch_id)
    n_sched = sched.count()
    processed.unpersist()
    novel.unpersist()
    if _die_before_marker:
        raise RuntimeError("simulated kill before commit marker")
    ckpt.commit_round(
        batch_id,
        {t: f"round={batch_id}" for t in ("scheduled", "seen", "carryover")},
        extra={"scheduled": n_sched},
    )
    # post-commit maintenance (parquet emulation only; Iceberg has native
    # table maintenance): prune seen rounds folded into this one and all
    # superseded carryover rounds
    root = getattr(ckpt, "root", None)
    if root is not None:
        for table, horizon in (("seen", batch_id if compacting else -1), ("carryover", batch_id)):
            tdir = os.path.join(root, table)
            if horizon < 0 or not os.path.isdir(tdir):
                continue
            for d in os.listdir(tdir):
                if d.startswith("round="):
                    r = int(d.split("=", 1)[1])
                    if r < horizon:
                        shutil.rmtree(os.path.join(tdir, d), ignore_errors=True)
