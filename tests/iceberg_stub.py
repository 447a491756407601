"""A functional stub Iceberg catalog: pure-Python emulation of exactly
the catalog surface ccspark.catalog.IcebergCheckpoint drives, with
snapshot history (every commit keeps the previous table state, so tests
can assert time-travel semantics).

The sandbox has no Iceberg jars and no network to fetch them
(`find / -name '*iceberg*.jar'` is empty; no ~/.m2 / ~/.ivy2 caches),
so the real backend cannot execute here.  This stub makes the SEMANTICS
executable: the whole crawl-frontier loop runs against
IcebergCheckpoint with the stub routing

* ``df.writeTo(t).partitionedBy(...).create() / .overwrite(cond) /
  .append()`` — snapshot-commit table mutations (overwrite evaluates
  the real Column predicate through Spark, not a re-implementation);
* ``spark.sql``: CREATE NAMESPACE, DELETE FROM ... WHERE, SHOW
  TABLES IN — the three statement shapes the backend generates;
* ``spark.read.table`` / ``spark.catalog.tableExists``, including the
  ``<table>.files`` METADATA table — the per-snapshot data-file
  manifest (file_path, file_size_in_bytes, partition struct) that
  state_location() enumerates for the zero-exchange storage gate.

Tables are stored as pyarrow Tables (exact physical types — the int32
vs long parity of the partition_id and round columns survives the
round-trip)
AND as real parquet data files under a warehouse directory, split by
the table's partition spec like Iceberg writes them — one immutable
uniquely-named file per partition value per commit, dropped from the
manifest when their partition is overwritten/deleted.  The data files
are what the frontier's worker-side gate actually reads (seenstore
ManifestLocation), so the storage-partitioned path is exercised for
real, not mocked.
"""

from __future__ import annotations

import os
import re
import tempfile
import uuid

import pyarrow as pa
import pyarrow.parquet as pq


class StubTable:
    def __init__(self, partitioning):
        self.partitioning = list(partitioning)
        self.snapshots: list[pa.Table] = []  # full table state per commit
        self.manifests: list[dict] = []  # file_path -> entry, per commit

    @property
    def current(self) -> pa.Table:
        return self.snapshots[-1]

    @property
    def current_manifest(self) -> dict:
        return self.manifests[-1] if self.manifests else {}

    def commit(self, table: pa.Table, manifest: dict | None = None) -> None:
        self.snapshots.append(table)
        self.manifests.append(dict(manifest) if manifest is not None else dict(self.current_manifest) if self.manifests else {})


class StubCatalog:
    """name (without catalog prefix is fine) → StubTable

    A warehouse directory with persisted ``_meta.json`` files (one per
    table, written atomically on every commit) REHYDRATES into a fresh
    StubCatalog — the cross-process story: a new process (spark-submit
    resume) reconstructs each table's CURRENT snapshot from its live
    data files, exactly like a real catalog would.  Only the current
    snapshot survives a process boundary (time-travel history is
    in-memory; real Iceberg keeps it, tests that need it run
    in-process)."""

    def __init__(self, catalog: str, warehouse: str | None = None):
        self.catalog = catalog
        self.namespaces: set[str] = set()
        self.tables: dict[str, StubTable] = {}
        self.warehouse = warehouse or tempfile.mkdtemp(prefix="stub_iceberg_wh_")
        self._rehydrate()

    def persist_meta(self, table_name: str, st: StubTable) -> None:
        """Atomically persist the table's partitioning + live-file
        manifest (rel-path keyed) beside its data files."""
        import json

        d = os.path.join(self.warehouse, *table_name.split("."))
        os.makedirs(d, exist_ok=True)
        import base64

        meta = {
            "partitioning": st.partitioning,
            # schema persisted so 0-row tables rehydrate too
            "schema_b64": base64.b64encode(
                st.current.schema.serialize().to_pybytes()
            ).decode("ascii"),
            "manifest": [
                {**e, "file_path": os.path.relpath(e["file_path"], d)}
                for e in st.current_manifest.values()
            ],
        }
        tmp = os.path.join(d, f"_meta.{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as fh:
            json.dump(meta, fh)
        os.replace(tmp, os.path.join(d, "_meta.json"))

    def _rehydrate(self) -> None:
        import json

        root = os.path.join(self.warehouse, self.catalog)
        if not os.path.isdir(root):
            return
        for dirpath, _dirs, files in os.walk(root):
            if "_meta.json" not in files:
                continue
            with open(os.path.join(dirpath, "_meta.json")) as fh:
                meta = json.load(fh)
            rel = os.path.relpath(dirpath, self.warehouse)
            table_name = ".".join(rel.split(os.sep))
            st = StubTable(meta["partitioning"])
            manifest: dict = {}
            parts = []
            for e in meta["manifest"]:
                path = os.path.join(dirpath, e["file_path"])
                manifest[path] = {**e, "file_path": path}
                parts.append(pq.read_table(path))
            if parts:
                st.commit(pa.concat_tables(parts), manifest)
            else:
                import base64

                schema = pa.ipc.read_schema(
                    pa.BufferReader(base64.b64decode(meta["schema_b64"]))
                )
                st.commit(schema.empty_table(), manifest)
            self.tables[table_name] = st
            ns = table_name.rsplit(".", 1)[0]
            self.namespaces.add(ns)

    def owns(self, identifier: str) -> bool:
        return identifier.startswith(self.catalog + ".")

    def write_data_files(self, table_name: str, st: StubTable, new: pa.Table) -> dict:
        """Write ``new``'s rows as parquet data files split by the
        table's partition spec (identity transforms over columns present
        in the data, Iceberg-style: source columns stay in the files).
        Returns manifest entries {path: {file_path, file_size_in_bytes,
        partition}}."""
        entries: dict = {}
        if new.num_rows == 0:
            return entries  # Iceberg writes no files for an empty commit
        d = os.path.join(self.warehouse, *table_name.split("."), "data")
        os.makedirs(d, exist_ok=True)
        part_cols = [c for c in st.partitioning if c in new.schema.names]

        def _emit(sub: pa.Table, part_values: dict) -> None:
            path = os.path.join(d, f"{uuid.uuid4().hex}.parquet")
            pq.write_table(sub, path)
            entries[path] = {
                "file_path": path,
                "file_size_in_bytes": os.path.getsize(path),
                "partition": part_values,
            }

        if not part_cols:
            _emit(new, {})
            return entries
        pdf = new.select(part_cols).to_pandas()
        for vals, idx in pdf.groupby(part_cols, sort=True).groups.items():
            if not isinstance(vals, tuple):
                vals = (vals,)
            sub = new.take(pa.array(sorted(int(i) for i in idx)))
            _emit(sub, {c: int(v) for c, v in zip(part_cols, vals)})
        return entries


def _col_name(col) -> str:
    m = re.search(r"Column<'(.+?)'>", str(col))
    return m.group(1) if m else str(col)


# pyspark renders the predicate as "(_ckpt_round = 1)" or "=(_ckpt_round, 1)"
_COND_ROUND = re.compile(r"_ckpt_round\D*?(\d+)")


class _StubWriterV2:
    def __init__(self, spark, cat: StubCatalog, df, table: str):
        self.spark, self.cat, self.df, self.table = spark, cat, df, table
        self._partitioning = []

    def partitionedBy(self, *cols):
        self._partitioning = [_col_name(c) for c in cols]
        return self

    def create(self):
        if self.table in self.cat.tables:
            raise RuntimeError(f"table {self.table} already exists")
        t = StubTable(self._partitioning)
        new = self.df.toArrow()
        t.commit(new, self.cat.write_data_files(self.table, t, new))
        self.cat.tables[self.table] = t
        self.cat.persist_meta(self.table, t)

    def overwrite(self, condition):
        st = self.cat.tables[self.table]
        kept = self._materialize(st.current).where(~condition).toArrow()
        new = self.df.toArrow().cast(kept.schema)
        # manifest: identity-partition overwrite drops the replaced
        # partition's files wholesale, then adds the new commit's files
        m = _COND_ROUND.search(str(condition))
        assert m, f"stub overwrite expects an _ckpt_round predicate, got {condition}"
        rd = int(m.group(1))
        manifest = {
            p: e
            for p, e in st.current_manifest.items()
            if e["partition"].get("_ckpt_round") != rd
        }
        manifest.update(self.cat.write_data_files(self.table, st, new))
        st.commit(pa.concat_tables([kept, new]), manifest)
        self.cat.persist_meta(self.table, st)

    def append(self):
        st = self.cat.tables[self.table]
        new = self.df.toArrow().cast(st.current.schema)
        manifest = dict(st.current_manifest)
        manifest.update(self.cat.write_data_files(self.table, st, new))
        st.commit(pa.concat_tables([st.current, new]), manifest)
        self.cat.persist_meta(self.table, st)

    def _materialize(self, arrow: pa.Table):
        return self.spark.createDataFrame(arrow)


_SQL_NS = re.compile(r"CREATE NAMESPACE IF NOT EXISTS (\S+)")
_SQL_SHOW = re.compile(r"SHOW TABLES IN (\S+)")
_SQL_DELETE = re.compile(r"DELETE FROM (\S+) WHERE _ckpt_round > (\d+)")


def install(monkeypatch, spark, catalog_name: str, warehouse: str | None = None) -> StubCatalog:
    """Route the stub catalog's identifiers through monkeypatched
    pyspark entry points; anything else falls through to the real ones."""
    cat = StubCatalog(catalog_name, warehouse)

    # patch the CONCRETE classes (pyspark 4's classic implementations
    # override the pyspark.sql base-class methods, so patching the base
    # would be invisible)
    DataFrame = type(spark.range(1))
    orig_writeTo = DataFrame.writeTo

    def writeTo(self, table):
        if cat.owns(table):
            return _StubWriterV2(spark, cat, self, table)
        return orig_writeTo(self, table)

    monkeypatch.setattr(DataFrame, "writeTo", writeTo)

    orig_sql = type(spark).sql

    def sql(self, query, *a, **kw):
        m = _SQL_NS.match(query)
        if m and cat.owns(m.group(1) + "."):
            cat.namespaces.add(m.group(1))
            return None
        m = _SQL_SHOW.match(query)
        if m and cat.owns(m.group(1) + "."):
            prefix = m.group(1) + "."
            names = [t[len(prefix):] for t in cat.tables if t.startswith(prefix)]
            return orig_sql(
                self,
                "SELECT * FROM VALUES "
                + (", ".join(f"('{n}')" for n in names) or "('')")
                + " AS t(tableName)"
                + ("" if names else " WHERE tableName <> ''"),
            )
        m = _SQL_DELETE.match(query)
        if m and cat.owns(m.group(1)):
            st = cat.tables[m.group(1)]
            cur = st.current
            n = int(m.group(2))
            keep = pa.compute.less_equal(cur.column("_ckpt_round"), n)
            manifest = {
                p: e
                for p, e in st.current_manifest.items()
                if not (
                    e["partition"].get("_ckpt_round") is not None
                    and e["partition"]["_ckpt_round"] > n
                )
            }
            st.commit(cur.filter(keep), manifest)
            cat.persist_meta(m.group(1), st)
            return None
        return orig_sql(self, query, *a, **kw)

    monkeypatch.setattr(type(spark), "sql", sql)

    DataFrameReader = type(spark.read)
    orig_table = DataFrameReader.table

    def table(self, name):
        if cat.owns(name):
            if name.endswith(".files"):
                # the Iceberg .files metadata table: the CURRENT
                # snapshot's live data files with their partition tuples
                base = name[: -len(".files")]
                st = cat.tables.get(base)
                entries = sorted(st.current_manifest.values(), key=lambda e: e["file_path"]) if st else []
                part_cols = (st.partitioning if st else None) or ["_ckpt_round"]
                schema = (
                    "file_path string, file_size_in_bytes long, partition struct<"
                    + ", ".join(f"{c}: int" for c in part_cols)
                    + ">"
                )
                rows = [
                    (
                        e["file_path"],
                        int(e["file_size_in_bytes"]),
                        tuple(e["partition"].get(c) for c in part_cols),
                    )
                    for e in entries
                ]
                return spark.createDataFrame(rows, schema)
            return spark.createDataFrame(cat.tables[name].current)
        return orig_table(self, name)

    monkeypatch.setattr(DataFrameReader, "table", table)

    orig_exists = type(spark.catalog).tableExists

    def tableExists(self, name, dbName=None):
        if cat.owns(name):
            return name in cat.tables
        return orig_exists(self, name, dbName)

    monkeypatch.setattr(type(spark.catalog), "tableExists", tableExists)

    # make the availability gate pass for the stub catalog
    import ccspark.catalog as C

    orig_avail = C.iceberg_available
    monkeypatch.setattr(
        C,
        "iceberg_available",
        lambda sp, c: True if c == catalog_name else orig_avail(sp, c),
    )
    return cat
