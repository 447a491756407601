"""Structured Streaming surface: streaming page ingest, watermarked
de-duplication, windowed per-host counts, a custom stateful per-host
budget operator, and the streaming crawl frontier.

The reference is batch-only over immutable archives (SURVEY.md §2.7);
the crawl loop becomes micro-batches here.  Late/re-discovered URLs are
made idempotent exactly like the batch seen-set: ``dropDuplicates`` on
the URLFPV2 composite key under a watermark, mirroring H4/H5.  The
streaming frontier is the batch loop itself: micro-batch b runs crawl
round b+1 (``CrawlFrontier.run_round``) with the batch's rows injected
as candidates, so it makes the batch loop's seen-set decision with the
batch loop's gate, tables and manifest.
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
    # fused canonicalize+fingerprint kernel: ONE Arrow hop per row, and
    # the canonical host rides along for the downstream per-host operators
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
    *,
    checkpoint_dir: str,
):
    """Micro-batch crawl scheduler: ``frontier_process_batch`` per
    trigger, via foreachBatch, with its state under ``out_dir`` (a path
    or ``iceberg:<cat>.<ns>``).  ``checkpoint_dir`` is required: on
    Spark's temporary checkpoint a restarted query numbers its batches
    from 0 again, and the exactly-once skip would drop the new data."""
    def _process(batch_df: DataFrame, batch_id: int) -> None:
        frontier_process_batch(batch_df, batch_id, robots, out_dir, default_budget, n_salts)

    return (
        candidates.writeStream.foreachBatch(_process)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def frontier_process_batch(
    batch_df: DataFrame,
    batch_id: int,
    robots: DataFrame,
    out_dir: str,
    default_budget: int = 10,
    n_salts: int = 8,
) -> None:
    """One micro-batch of the streaming frontier: micro-batch b is crawl
    round b+1 with the batch's rows injected as candidates
    (``CrawlFrontier.run_round(b + 1, injected=batch_df)``, no link
    expansion).  Allowed-but-over-budget rows stay in the round's
    frontier table and compete again in the next batch.

    Exactly-once: a batch whose round is committed is skipped; a retried
    batch reruns its round, which overwrites its own partial tables with
    identical output.  Batch 0 first bootstraps an empty round 0; any
    other batch must follow the batch before it (``run_round`` raises
    ValueError otherwise, before it writes anything).  The partition
    count is the default parallelism at batch 0, kept in the manifest
    for the life of the stream."""
    from .catalog import make_checkpoint
    from .frontier import CrawlFrontier, FrontierConfig

    spark = batch_df.sparkSession
    ckpt = make_checkpoint(spark, out_dir)
    manifest = ckpt.read_manifest()
    if manifest is not None and int(manifest["round"]) > batch_id:
        return  # redelivered committed batch → exactly-once skip
    P = spark.sparkContext.defaultParallelism if manifest is None else int(manifest["num_partitions"])
    cfg = FrontierConfig(num_partitions=P, links_per_fetch=0, default_budget=default_budget, n_salts=n_salts)
    fr = CrawlFrontier(spark, out_dir, cfg, checkpoint=ckpt, robots_df=robots)
    if manifest is None and batch_id == 0:
        fr.bootstrap(spark.createDataFrame([], "url string, priority double"))
    fr.run_round(batch_id + 1, injected=batch_df)
