"""Driver-contract conformance: every queries() entry with an oracle_sql()
must match DuckDB on the same parquet (row count + order-insensitive
values), mirroring the external driver's CORRECTNESS gate at sf0.01."""

import math
from types import SimpleNamespace

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 6)
    if hasattr(v, "item"):
        return _norm_cell(v.item())
    return v


def _norm_rows(pdf):
    cols = sorted(pdf.columns)
    rows = [tuple(_norm_cell(v) for v in row) for row in pdf[cols].itertuples(index=False, name=None)]
    return sorted(rows, key=repr)


ORACLE_KEYS = sorted(entry_mod.oracle_sql().keys())


def test_every_oracle_has_query():
    qs = entry_mod.queries()
    for k in ORACLE_KEYS:
        assert k in qs


@pytest.mark.parametrize("name", ORACLE_KEYS)
def test_query_matches_oracle(name, spark, ddb):
    q = entry_mod.queries()[name]
    spark_pdf = q(spark, SF_DIR).toPandas()
    duck_pdf = ddb.execute(entry_mod.oracle_sql()[name]).df()
    assert sorted(spark_pdf.columns) == sorted(duck_pdf.columns), (
        f"{name}: column mismatch {spark_pdf.columns} vs {duck_pdf.columns}"
    )
    assert len(spark_pdf) == len(duck_pdf), f"{name}: row count {len(spark_pdf)} vs {len(duck_pdf)}"
    a, b = _norm_rows(spark_pdf), _norm_rows(duck_pdf)
    mism = [i for i, (x, y) in enumerate(zip(a, b)) if x != y]
    assert not mism, f"{name}: {len(mism)} mismatched rows, first: {a[mism[0]]} vs {b[mism[0]]}"


def test_entry_runs(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"host", "n_urls", "n_rows"} <= set(df.columns)


class _FakeSession:
    """Just what ``_load`` touches: the application id and a parquet reader."""

    def __init__(self, app_id):
        self.sparkContext = SimpleNamespace(applicationId=app_id)
        self.read = SimpleNamespace(parquet=lambda path: SimpleNamespace(path=path))


def test_load_cache_keyed_on_application_and_drops_stale(monkeypatch):
    monkeypatch.setattr(entry_mod, "_LOAD_CACHE", {})
    first = _FakeSession("app-1")
    df = entry_mod._load(first, "/sf", "orders")
    assert entry_mod._load(first, "/sf", "orders") is df
    # a second session object of the same application shares the memo
    assert entry_mod._load(_FakeSession("app-1"), "/sf", "orders") is df
    entry_mod._load(first, "/sf", "lineitem")
    assert len(entry_mod._LOAD_CACHE) == 2

    # a new application's first miss evicts every entry of the old one
    fresh = entry_mod._load(_FakeSession("app-2"), "/sf", "orders")
    assert fresh is not df
    assert set(entry_mod._LOAD_CACHE) == {("app-2", "/sf", "orders")}
