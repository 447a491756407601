"""Seed-determined inputs for the crawl benchmark.

Every table here is a pure function of ``(seed, size)``: the same seed
gives byte-identical parquet.  Tables are cached on disk by seed and
size under the benchmark's scratch directory, so repeated runs with one
seed pay generation once.  The program under test only ever sees the
written tables.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


KEEP_PER_KIND = 8  # cached entries kept per kind (name prefix before "-s<seed>")


def cached(cache_dir: str, name: str, build) -> str:
    """Directory ``cache_dir/name`` built once by ``build(tmp_dir)``;
    the rename makes a half-built cache entry impossible to reuse.  The
    oldest entries of the same kind beyond KEEP_PER_KIND are removed."""
    out = os.path.join(cache_dir, name)
    if os.path.isfile(os.path.join(out, "_done")):
        os.utime(out)
        return out
    tmp = f"{out}.tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    build(tmp)
    with open(os.path.join(tmp, "_done"), "w") as fh:
        fh.write("ok\n")
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.replace(tmp, out)
    kind = name.split("-s", 1)[0] + "-s"
    same = [os.path.join(cache_dir, d) for d in os.listdir(cache_dir) if d.startswith(kind) and ".tmp" not in d]
    for old in sorted(same, key=os.path.getmtime)[:-KEEP_PER_KIND]:
        shutil.rmtree(old, ignore_errors=True)
    return out


# -- corpus: the headline queries' star schema ---------------------------------

_WORDS = (
    "a the data spark query table scan sort hash join agg group window row "
    "column filter key value stream batch merge part line order customer big "
    "small fast slow vector crawl host page link rank seen bloom frontier"
).split()
_EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
_LANGS = np.array(["en", "de", "es", "fr", "zh"])


def corpus_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Tables read by the 12 headline queries, with the schemas of the
    TPC-H-style tables ``__spark_entry__`` is written for and their row
    counts at scale factor ``sf`` (lineitem = 6M × sf)."""
    r = _rng(seed, 2)
    n_cust, n_ord, n_li = int(150_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users, n_doc, n_emb = int(1_000_000 * sf), max(15, int(15_000 * sf)), int(50_000 * sf), int(20_000 * sf)
    t: dict[str, pa.Table] = {}
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(r.uniform(-999, 9999, n_cust), 2),
            "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])[r.integers(0, 5, n_cust)],
        }
    )
    day = np.datetime64("1995-01-02", "us")
    span_days = 2500
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": r.integers(0, n_cust, n_ord),
            "o_orderstatus": np.array(["O", "F", "P"])[r.integers(0, 3, n_ord)],
            "o_totalprice": np.round(r.uniform(1000, 500_000, n_ord), 2),
            "o_orderdate": day + r.integers(0, span_days, n_ord).astype("timedelta64[D]"),
            "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[r.integers(0, 5, n_ord)],
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": r.integers(0, n_ord, n_li),
            "l_partkey": r.integers(0, int(200_000 * sf), n_li),
            "l_suppkey": r.integers(0, int(10_000 * sf), n_li),
            "l_linenumber": pa.array(r.integers(1, 8, n_li), pa.int32()),
            "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": np.round(r.uniform(900, 105_000, n_li), 2),
            "l_discount": r.integers(0, 11, n_li) / 100.0,
            "l_tax": r.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_li)],
            "l_shipdate": day + r.integers(0, span_days, n_li).astype("timedelta64[D]"),
        }
    )
    ts0 = np.datetime64("2024-01-01", "us")
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": ts0 + np.sort(r.integers(0, 30 * 86_400_000_000, n_ev)).astype("timedelta64[us]"),
            "user_id": r.integers(0, n_users, n_ev),
            "event_type": _EVENT_TYPES[r.integers(0, 5, n_ev)],
            "value": np.round(r.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
        }
    )
    n_words = r.integers(8, 100, n_doc)
    vocab = np.array(_WORDS)
    flat = vocab[r.integers(0, len(vocab), int(n_words.sum()))]
    cuts = np.cumsum(n_words)[:-1]
    texts = [" ".join(ws) for ws in np.split(flat, cuts)]
    for i in r.integers(1, n_doc, max(2, n_doc // 600)):  # a few exact duplicates
        texts[i] = texts[i - 1]
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": _LANGS[r.integers(0, 5, n_doc)],
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }
    )
    emb = r.standard_normal((n_emb, 64)).astype(np.float32) * np.float32(0.1)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(emb.ravel()), 64).cast(pa.list_(pa.float32())),
            "label": pa.array(r.integers(0, 10, n_emb), pa.int32()),
        }
    )
    return t


def corpus_dir(cache_dir: str, seed: int, sf: float) -> str:
    """Cached ``<table>.parquet`` files of :func:`corpus_tables` (one
    file and one row group per table)."""

    def build(tmp):
        for name, table in corpus_tables(seed, sf).items():
            pq.write_table(table, os.path.join(tmp, f"{name}.parquet"), row_group_size=len(table) + 1)

    return cached(cache_dir, f"corpus-s{seed}-sf{sf}", build)
