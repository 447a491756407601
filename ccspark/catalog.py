"""Iceberg-catalog Checkpoint backend.

The north_rule names Iceberg tables as the checkpoint substrate; the
default ``ccspark.checkpoint.Checkpoint`` emulates the guarantees on
plain parquet (atomic manifest rename) because this sandbox ships no
Iceberg jars.  This module provides the REAL catalog backend behind the
same interface, active when a Spark SQL catalog is configured
(``spark.sql.catalog.<name>`` = org.apache.iceberg.spark.SparkCatalog):

* every crawl-round table lives as ``<catalog>.<ns>.<name>``
  partitioned by ``round`` — a round write is an atomic
  ``overwritePartitions`` of that round's partition (Iceberg snapshot
  commit), idempotent on re-run exactly like the directory overwrite;
* the manifest is a ``_manifest`` table; committing a round is ONE
  atomic append (Iceberg's snapshot isolation replaces the POSIX
  rename), and the last committed round is ``max(round)``;
* resume = read manifest, ``DELETE FROM t WHERE round > last`` for
  crash debris (Iceberg row-level delete), continue.

Reference analog: the query framework's results-directory contract —
Query.java:881-998 publishes finished shard results under a committed
directory name; Iceberg's snapshot commit is the same
visible-only-when-committed protocol.

Use ``make_checkpoint(spark, location)`` to get whichever backend the
session supports: ``iceberg:<catalog>.<namespace>`` → this class, a
filesystem path → the parquet emulation.
"""

from __future__ import annotations

import json
import time

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .checkpoint import Checkpoint

MANIFEST_TABLE = "_manifest"

_ARROW_TO_SPARK = {
    "int32": "int",
    "int64": "long",
    "string": "string",
    "binary": "binary",
    "double": "double",
    "float": "float",
    "bool": "boolean",
    "timestamp[us]": "timestamp",
}


def _arrow_to_spark_ddl(arrow_schema) -> str:
    """pyarrow schema → Spark DDL string with IDENTICAL physical types,
    so driver-built tables read back indistinguishable from
    Spark-written rounds (int stays int, not inferred long)."""
    cols = []
    for f in arrow_schema:
        t = str(f.type)
        if t not in _ARROW_TO_SPARK:
            raise ValueError(f"unmapped arrow type {t!r} for column {f.name!r}")
        cols.append(f"{f.name} {_ARROW_TO_SPARK[t]}")
    return ", ".join(cols)


def iceberg_available(spark: SparkSession, catalog: str) -> bool:
    """True when ``catalog`` is configured AND its implementation class
    is loadable (the sandbox has the conf mechanism but no jars)."""
    impl = spark.conf.get(f"spark.sql.catalog.{catalog}", None)
    if impl is None:
        return False
    try:
        spark._jvm.java.lang.Class.forName(impl)  # noqa: SLF001
        return True
    except Exception:
        return False


def make_checkpoint(spark: SparkSession, location: str):
    """Backend factory: ``iceberg:<catalog>.<namespace>`` → catalog
    checkpoint (requires the catalog to be configured + jars present),
    anything else → the local-parquet Checkpoint emulation."""
    if location.startswith("iceberg:"):
        ref = location[len("iceberg:") :]
        catalog, _, ns = ref.partition(".")
        if not ns:
            raise ValueError("iceberg location must be iceberg:<catalog>.<namespace>")
        if not iceberg_available(spark, catalog):
            raise RuntimeError(
                f"catalog {catalog!r} not configured or Iceberg jars absent; "
                "use a filesystem path for the parquet-emulation backend"
            )
        return IcebergCheckpoint(spark, catalog, ns)
    return Checkpoint(location)


class IcebergCheckpoint:
    """Checkpoint interface over an Iceberg catalog namespace."""

    # the table the storage-partitioned gate reads worker-side (seenstore)
    STATE_TABLES = ("processed",)

    def __init__(self, spark: SparkSession, catalog: str, namespace: str):
        self.spark = spark
        self.catalog = catalog
        self.namespace = namespace
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {catalog}.{namespace}")
        # incremental .files-metadata cache for state_location():
        # table -> round -> pid -> sig tuple ((path, size, 0), ...)
        self._files: dict[str, dict[int, dict[int, tuple]]] = {}
        self._files_synced: dict[str, int] = {}  # table -> max round synced
        self._files_dirty: dict[str, set] = {}  # rounds rewritten since sync

    def _qualified(self, name: str) -> str:
        return f"{self.catalog}.{self.namespace}.{name}"

    # -- tables -------------------------------------------------------------

    def write(self, df: DataFrame, name: str, round_no: int, partition_by=None) -> str:
        """Idempotent per-round write: atomically replace the round's
        partition (Iceberg snapshot commit).  The partition column is
        ``_ckpt_round`` so data columns named ``round`` (the processed
        table has one) pass through untouched.  ``partition_by`` columns
        become ADDITIONAL Iceberg partition transforms at table creation
        (e.g. partition_id = pmod(domain_hash, P), the engine's bucket
        layout) — with spark.sql.sources.v2.bucketing.enabled, joins and
        groupings keyed on them become storage-partitioned (no Exchange
        on this table's side), the catalog analog of seenstore's
        partition-pruned reads."""
        t = self._qualified(name)
        out = df.withColumn("_ckpt_round", F.lit(round_no).cast("int"))
        if not self.spark.catalog.tableExists(t):
            cols = [F.col("_ckpt_round")] + [F.col(c) for c in (partition_by or [])]
            out.writeTo(t).partitionedBy(*cols).create()
        else:
            # exact round replacement (not overwritePartitions): a re-run
            # whose data happens to miss some partition_id must still
            # drop that partition's stale rows for this round
            out.writeTo(t).overwrite(F.col("_ckpt_round") == F.lit(int(round_no)))
        self._files_dirty.setdefault(name, set()).add(int(round_no))
        return t

    def write_pdf(self, pdf: pd.DataFrame, name: str, round_no: int, arrow_schema) -> str:
        """``arrow_schema`` pins the physical column types (createDataFrame
        alone would infer long for int32 columns like round /
        partition_id, breaking type parity with Spark-written rounds)."""
        df = self.spark.createDataFrame(pdf, schema=_arrow_to_spark_ddl(arrow_schema))
        return self.write(df, name, round_no)

    def read(self, spark: SparkSession, name: str, round_no: int, schema: str | None = None) -> DataFrame:
        """One round of a table; ``schema`` is ignored, the catalog
        already holds it (and reading it starts no job)."""
        return (
            spark.read.table(self._qualified(name))
            .filter(F.col("_ckpt_round") == round_no)
            .drop("_ckpt_round")
        )

    def read_all_rounds(
        self, spark: SparkSession, name: str, upto_round: int, schema: str | None = None
    ) -> DataFrame | None:
        """Rounds 0..upto_round of a table; ``schema`` is ignored, as in
        ``read``."""
        t = self._qualified(name)
        if not spark.catalog.tableExists(t):
            return None
        return (
            spark.read.table(t)
            .filter(F.col("_ckpt_round") <= upto_round)
            .drop("_ckpt_round")
        )

    def drop_rounds_after(self, round_no: int) -> None:
        """Crash-debris cleanup: row-level DELETE of uncommitted rounds."""
        rows = self.spark.sql(
            f"SHOW TABLES IN {self.catalog}.{self.namespace}"
        ).collect()
        for r in rows:
            name = r["tableName"]
            if name == MANIFEST_TABLE:
                continue
            self.spark.sql(
                f"DELETE FROM {self._qualified(name)} "
                f"WHERE _ckpt_round > {int(round_no)}"
            )
            cache = self._files.get(name)
            if cache is not None:
                for rd in [rd for rd in cache if rd > int(round_no)]:
                    del cache[rd]
            if name in self._files_synced:
                self._files_synced[name] = min(self._files_synced[name], int(round_no))
            self._files_dirty.get(name, set()).difference_update(
                {rd for rd in self._files_dirty.get(name, set()) if rd > int(round_no)}
            )

    # -- storage-partitioned gate support ------------------------------------

    def state_location(self):
        """Enumerate the state table's live data files from catalog
        metadata (the Iceberg ``.files`` metadata table) into a
        seenstore.ManifestLocation, so the frontier's zero-exchange
        storage gate works on the catalog backend exactly as on a
        filesystem root: workers read each (round, partition)'s files
        directly, partition-pruned, with no Spark Exchange on any state
        table.

        Incremental: only rounds newer than the last sync (plus rounds
        this object rewrote — write and resume-delete mark them dirty)
        are re-queried, so the per-round metadata cost is O(delta
        files), not O(history).  Iceberg data files are immutable by
        name, so (path, size) is a sound cache signature and a stable
        ``key`` lets seenstore's per-worker incremental seen cache keep
        accumulating across rounds.

        One ``.files`` metadata query per call (the processed table's).
        Raises ValueError when an existing state table is not
        partitioned by partition_id: the storage gate has no layout to
        prune on, and there is no other gate."""
        from .seenstore import ManifestLocation

        files: dict = {}
        for name in self.STATE_TABLES:
            t = self._qualified(name)
            cache = self._files.setdefault(name, {})
            if not self.spark.catalog.tableExists(t):
                continue
            synced = self._files_synced.get(name, -1)
            dirty = {int(r) for r in self._files_dirty.get(name, set())}
            cond = F.col("partition._ckpt_round") > F.lit(synced)
            if dirty:
                cond = cond | F.col("partition._ckpt_round").isin(sorted(dirty))
            rows = (
                self.spark.read.table(t + ".files")
                .select("file_path", "file_size_in_bytes", "partition")
                .filter(cond)
                .collect()
            )
            for rd in dirty:
                cache.pop(rd, None)
            fresh: dict[int, dict[int, list]] = {}
            for r in rows:
                part = r["partition"].asDict()
                rd = part.get("_ckpt_round")
                if rd is None:
                    continue
                pid = part.get("partition_id")
                if pid is None:
                    raise ValueError(
                        f"state table {t} lacks the partition_id partition "
                        "transform the storage gate prunes on; rewrite it with "
                        'partition_by=["partition_id"]'
                    )
                fresh.setdefault(int(rd), {}).setdefault(int(pid), []).append(
                    (r["file_path"], int(r["file_size_in_bytes"]), 0)
                )
            for rd, pids in fresh.items():
                cache[rd] = {pid: tuple(sorted(sig)) for pid, sig in pids.items()}
            self._files_dirty[name] = set()
            if cache:
                self._files_synced[name] = max(max(cache), synced)
            for rd, pids in cache.items():
                for pid, sig in pids.items():
                    files[(name, rd, pid)] = sig
        return ManifestLocation(key=f"iceberg:{self.catalog}.{self.namespace}", files=files)

    # -- manifest -----------------------------------------------------------

    def commit_round(self, round_no: int, tables: dict, extra: dict | None = None) -> None:
        """Atomic publish: ONE append to the manifest table (Iceberg
        snapshot isolation = the rename of the parquet emulation)."""
        pdf = pd.DataFrame(
            [
                {
                    "round": int(round_no),
                    "tables": json.dumps(tables),
                    "extra": json.dumps(extra or {}),
                    "committed_at": float(time.time()),
                }
            ]
        )
        df = self.spark.createDataFrame(pdf)
        t = self._qualified(MANIFEST_TABLE)
        if not self.spark.catalog.tableExists(t):
            df.writeTo(t).create()
        else:
            df.writeTo(t).append()

    def read_manifest(self) -> dict | None:
        t = self._qualified(MANIFEST_TABLE)
        if not self.spark.catalog.tableExists(t):
            return None
        rows = (
            self.spark.read.table(t)
            .orderBy(F.desc("round"), F.desc("committed_at"))
            .limit(1)
            .collect()
        )
        if not rows:
            return None
        r = rows[0]
        out = {"round": int(r["round"]), "tables": json.loads(r["tables"])}
        out.update(json.loads(r["extra"]))
        return out

    def last_committed_round(self) -> int | None:
        m = self.read_manifest()
        return None if m is None else int(m["round"])
