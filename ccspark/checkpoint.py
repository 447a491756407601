"""Checkpointed table storage: Iceberg-shaped partitioned Parquet with an
atomic JSON manifest.

The real deployment target is an Iceberg catalog (north_rule); this module
gives the same guarantees on plain storage so the engine runs anywhere:

* every crawl round writes its tables under ``<name>/round=<k>/``
  (overwrite-idempotent: re-running a round rewrites the same directory);
* a round becomes visible only when the manifest commit succeeds —
  manifest is written to a temp file then atomically renamed, recording
  the committed round number and table listing (the commit-record role
  of the per-partition lineage rows, SURVEY.md §7 step 7);
* resume = read manifest, load the tables of the last committed round,
  continue — a killed job never observes a half-written round.

DEPLOYMENT CONSTRAINT: manifest/cleanup operations use the LOCAL
filesystem (os.path / shutil / os.replace) while table data goes through
Spark writers, so ``root`` must be a path both resolve identically —
i.e. local disk or a POSIX-mounted shared filesystem (NFS/Lustre/EFS —
the single-writer driver is the only manifest mutator, so POSIX rename
atomicity suffices).  For HDFS/S3 roots, reroute the manifest and
directory operations through the Hadoop FileSystem API
(spark._jvm.org.apache.hadoop.fs) or an Iceberg catalog; the
write/commit protocol itself is storage-agnostic.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

MANIFEST = "_manifest.json"


class Checkpoint:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- manifest ---------------------------------------------------------

    def _manifest_path(self) -> str:
        return os.path.join(self.root, MANIFEST)

    def read_manifest(self) -> dict | None:
        p = self._manifest_path()
        if not os.path.exists(p):
            return None
        with open(p, encoding="utf-8") as fh:
            return json.load(fh)

    def commit_round(self, round_no: int, tables: dict[str, str], extra: dict | None = None) -> None:
        """Atomically publish a completed round."""
        manifest = {
            "round": round_no,
            "tables": tables,
            "committed_at": time.time(),
            **(extra or {}),
        }
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(manifest, fh, indent=2)
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, self._manifest_path())

    def last_committed_round(self) -> int | None:
        m = self.read_manifest()
        return None if m is None else int(m["round"])

    # -- tables -----------------------------------------------------------

    def table_dir(self, name: str, round_no: int | None = None) -> str:
        d = os.path.join(self.root, name)
        if round_no is not None:
            d = os.path.join(d, f"round={round_no}")
        return d

    def state_location(self) -> str:
        """Where the worker-side storage gate reads state (seenstore):
        the root directory itself."""
        return self.root

    def write(self, df: DataFrame, name: str, round_no: int, partition_by: list[str] | None = None) -> str:
        """Idempotent per-round write (overwrite the round directory)."""
        path = self.table_dir(name, round_no)
        if os.path.exists(path):
            shutil.rmtree(path)
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)
        return path

    def write_pdf(self, pdf, name: str, round_no: int, arrow_schema) -> str:
        """Driver-side write for driver-built tables (the per-round
        lineage rows) — plain pyarrow, NO Spark job.  The frontier's
        per-round fixed cost is the action count; tables whose data
        already lives on the driver shouldn't spend one.
        ``arrow_schema`` pins exact physical types so Spark reads them
        back type-identical to a Spark-written table."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = self.table_dir(name, round_no)
        if os.path.exists(path):
            shutil.rmtree(path)
        os.makedirs(path)
        table = pa.Table.from_pandas(pdf, schema=arrow_schema, preserve_index=False)
        pq.write_table(table, os.path.join(path, "part-00000.parquet"))
        return path

    def read(self, spark: SparkSession, name: str, round_no: int, schema: str | None = None) -> DataFrame:
        """One round of a table.  ``schema`` (DDL, partition columns
        included) is the table's fixed schema: the read then launches no
        schema-inference job, and a round with no data files reads as an
        empty frame.  A fixed schema would read a column the files lack
        as NULL, so one footer is checked driver-side (every file of a
        round comes from one write): a missing column raises
        AnalysisException, as an inferring read's first select would."""
        path = self.table_dir(name, round_no)
        if schema is None:
            return spark.read.parquet(path)
        df = spark.read.schema(schema).parquet(path)
        first = self._first_data_file(name, round_no)
        if first is not None:
            import pyarrow.parquet as pq

            layout = os.path.relpath(os.path.dirname(first), path).split(os.sep)
            partition_cols = {d.split("=", 1)[0] for d in layout if "=" in d}
            missing = set(df.columns) - partition_cols - set(pq.read_schema(first).names)
            if missing:
                raise AnalysisException(
                    message=f"{name}/round={round_no} was written without column(s) "
                    f"{sorted(missing)} of its fixed schema ({first})"
                )
        return df

    def _first_data_file(self, name: str, round_no: int) -> str | None:
        for root, _dirs, files in os.walk(self.table_dir(name, round_no)):
            for f in files:
                if f.endswith(".parquet"):
                    return os.path.join(root, f)
        return None

    def has_data(self, name: str, round_no: int) -> bool:
        """True when the round of the table holds data files.  An absent
        round has none, and neither has a zero-row partitionBy write (it
        leaves only _SUCCESS, no file to infer a schema from)."""
        return self._first_data_file(name, round_no) is not None

    def read_all_rounds(
        self, spark: SparkSession, name: str, upto_round: int, schema: str | None = None
    ) -> DataFrame | None:
        """Union of a table across rounds 0..upto_round (append-style).
        Each round is a ``read`` with ``schema``: a fixed schema launches
        no schema-inference job and keeps its missing-column check."""
        rounds = [r for r in range(upto_round + 1) if self.has_data(name, r)]
        if not rounds:
            return None
        # one read per round dir, unioned: a multi-path read would run
        # partition discovery across conflicting roots (each round dir is
        # its own Hive-partitioned table rooted at round=<k>)
        from functools import reduce

        return reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True),
            (self.read(spark, name, r, schema) for r in rounds),
        )

    def drop_rounds_after(self, round_no: int) -> None:
        """Remove any uncommitted round directories > round_no (crash debris)."""
        for name in os.listdir(self.root):
            tdir = os.path.join(self.root, name)
            if not os.path.isdir(tdir):
                continue
            for sub in os.listdir(tdir):
                if sub.startswith("round="):
                    r = int(sub.split("=", 1)[1])
                    if r > round_no:
                        shutil.rmtree(os.path.join(tdir, sub))
