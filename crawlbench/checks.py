"""Correctness checks: every benchmark operation's output is compared
with an oracle that does not run the measured code path.

* headline queries → the DuckDB ANSI-SQL oracle (``oracle_sql()``) on
  the same parquet, rows compared order-insensitively;
* crawl_recrawl → the pure-Python replay oracle (tests/frontier_oracle),
  whose trace and seen-set digest is cached per seed and config.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

# -- headline queries vs DuckDB --------------------------------------------------


def _canonical_frame(pdf: pd.DataFrame) -> pd.DataFrame:
    """Columns in name order, rows sorted by the non-float columns first
    (so a last-digit float difference cannot reorder rows)."""
    pdf = pdf[sorted(pdf.columns)].reset_index(drop=True)
    floats = [c for c in pdf.columns if pd.api.types.is_float_dtype(pdf[c])]
    keys = [c for c in pdf.columns if c not in floats] + floats
    return pdf.sort_values(keys, kind="stable", na_position="first").reset_index(drop=True)


def query_mismatch(got: pd.DataFrame, expected: pd.DataFrame) -> str | None:
    """None when ``got`` equals ``expected`` as a multiset of rows.
    Floats compare within the last digit the queries round to: a sum
    taken in another order may round the other way."""
    if sorted(got.columns) != sorted(expected.columns):
        return f"columns {sorted(got.columns)} != {sorted(expected.columns)}"
    if len(got) != len(expected):
        return f"{len(got)} rows != {len(expected)}"
    a, b = _canonical_frame(got), _canonical_frame(expected)
    for c in a.columns:
        x, y = a[c], b[c]
        if pd.api.types.is_float_dtype(x) or pd.api.types.is_float_dtype(y):
            xf, yf = x.to_numpy(dtype=float, na_value=np.nan), y.to_numpy(dtype=float, na_value=np.nan)
            ok = np.isclose(xf, yf, rtol=1e-9, atol=1.5e-4, equal_nan=True)
        else:
            ok = (x.astype(object).to_numpy() == y.astype(object).to_numpy()) | (x.isna().to_numpy() & y.isna().to_numpy())
        if not ok.all():
            i = int(np.flatnonzero(~ok)[0])
            return f"column {c} row {i}: {x.iloc[i]!r} != {y.iloc[i]!r}"
    return None


def duckdb_expected(sf_dir: str, names: list[str]) -> dict[str, pd.DataFrame]:
    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for f in os.listdir(sf_dir):
            if f.endswith(".parquet"):
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(sf_dir, f)}'")
        return {n: con.execute(sql[n]).df() for n in names}
    finally:
        con.close()


# -- checkpoint readers -----------------------------------------------------------


def read_round(ckpt: str, table: str, round_no: int, columns: list[str]) -> pd.DataFrame:
    d = os.path.join(ckpt, table, f"round={round_no}")
    if not os.path.isdir(d):
        return pd.DataFrame({c: [] for c in columns})
    return pq.read_table(d, columns=columns, partitioning="hive").to_pandas()


def _digest(trace: set, seen: set) -> str:
    h = hashlib.sha256()
    for row in sorted(trace):
        h.update(repr(row).encode())
    h.update(b"|")
    for row in sorted(seen):
        h.update(repr(row).encode())
    return h.hexdigest()


def crawl_trace(ckpt: str, rounds: int) -> tuple[set, set]:
    """The crawl's (round, host, host_rank, canonical_url) trace and its
    (domain_hash, url_hash) seen set, read from the checkpoint."""
    trace, seen = set(), set()
    for r in range(1, rounds + 1):
        p = read_round(ckpt, "processed", r, ["host", "host_rank", "canonical_url", "domain_hash", "url_hash"])
        sched = p[p["host_rank"].notna()]
        trace.update(
            (r, h, int(k), c) for h, k, c in zip(sched["host"], sched["host_rank"], sched["canonical_url"])
        )
        seen.update(zip(p["domain_hash"].astype("int64").tolist(), p["url_hash"].astype("int64").tolist()))
    return trace, seen


# -- recrawl vs the replay oracle -------------------------------------------------


class _UniverseSynth:
    """Stands in for ``ccspark.synth`` inside the replay oracle: the
    oracle generates URLs one page at a time, and per-page pandas calls
    are nearly all of its run time.  ``gen_urls_pdf`` is a pure
    function of (page id, hosts, seed), so one batch call over the whole
    universe, indexed per call, returns exactly what the per-page calls
    would."""

    def __init__(self, synth, universe_n: int, n_hosts: int, seed: int):
        self._synth = synth
        self._key = (n_hosts, seed)
        urls_all, eff = synth.gen_urls_pdf(np.arange(universe_n, dtype=np.int64), n_hosts, seed)
        self._urls = urls_all.to_numpy(dtype=object)
        self._eff = eff

    def gen_urls_pdf(self, ids, n_hosts, seed=42):
        if (n_hosts, seed) != self._key:
            return self._synth.gen_urls_pdf(ids, n_hosts, seed)
        ids = np.asarray(ids, dtype=np.int64)
        return pd.Series(self._urls[ids]), self._eff[ids]

    def __getattr__(self, name):
        return getattr(self._synth, name)


class _UniverseUrls:
    """Stands in for ``ccspark.urls`` inside the replay oracle.  Every
    URL the oracle identifies is one of the universe's page URLs, so the
    same scalar canonicalizer runs once per page up front and the
    fingerprints come from one batch ``urlfp_batch`` call, which is
    row-wise: each per-URL call then returns that URL's row."""

    def __init__(self, urls, universe_urls):
        self._urls = urls
        self._canon = {u: urls.canonicalize_url(u) for u in universe_urls}
        canon = sorted({c for c in self._canon.values() if c is not None})
        fp = urls.urlfp_batch(pd.Series(canon, dtype=object))
        cols = {k: fp[k].tolist() for k in ("domain_hash", "url_hash", "root_domain_hash", "valid")}
        self._fp = {c: {k: [v[i]] for k, v in cols.items()} for i, c in enumerate(canon)}

    def canonicalize_url(self, url, *args):
        if args or url not in self._canon:
            return self._urls.canonicalize_url(url, *args)
        return self._canon[url]

    def urlfp_batch(self, canonical, hosts=None):
        if hosts is None and len(canonical) == 1 and canonical.iloc[0] in self._fp:
            return self._fp[canonical.iloc[0]]
        return self._urls.urlfp_batch(canonical, hosts)

    def __getattr__(self, name):
        return getattr(self._urls, name)


def _oracle_module(root: str):
    path = os.path.join(root, "tests", "frontier_oracle.py")
    spec = importlib.util.spec_from_file_location("crawlbench_frontier_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def replay(root: str, args: dict, memo: bool = True):
    """Run ``tests/frontier_oracle.replay(**args)``; with ``memo`` its
    URL generation and identification go through the equivalent
    batch stand-ins above (test_checks.py pins the equality)."""
    mod = _oracle_module(root)
    if memo:
        mod.synth = _UniverseSynth(mod.synth, args["universe_n"], args["n_hosts"], args["seed"])
        mod.urls = _UniverseUrls(mod.urls, mod.synth._urls)
    return mod.replay(**args)


def replay_args(cfg, rounds: int) -> dict:
    return dict(
        universe_n=cfg.universe_n,
        n_hosts=cfg.n_hosts,
        seed=cfg.seed,
        num_rounds=rounds,
        default_budget=cfg.default_budget,
        round_ms=cfg.round_duration_ms,
        links_per_fetch=cfg.links_per_fetch,
        revisit_after=cfg.revisit_after,
        revisit_decay=cfg.revisit_decay,
    )


def replay_digest(root: str, cache_dir: str, cfg, rounds: int) -> dict:
    """Digest and sizes of the replay oracle's trace and seen set for
    ``cfg``; cached under a key that covers the config and the oracle's
    own source, so an edited oracle is replayed afresh."""
    with open(os.path.join(root, "tests", "frontier_oracle.py"), "rb") as fh:
        src = hashlib.sha256(fh.read()).hexdigest()[:16]
    args = replay_args(cfg, rounds)
    key = hashlib.sha256(json.dumps([args, src], sort_keys=True).encode()).hexdigest()[:24]
    cache = os.path.join(cache_dir, f"replay-{key}.json")
    if os.path.exists(cache):
        with open(cache) as fh:
            return json.load(fh)
    trace, seen = replay(root, args)
    out = {"digest": _digest(trace, seen), "trace_rows": len(trace), "seen": len(seen)}
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{cache}.tmp{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(out, fh)
    os.replace(tmp, cache)
    return out


def check_recrawl(ckpt: str, rounds: int, expected: dict) -> str | None:
    trace, seen = crawl_trace(ckpt, rounds)
    if _digest(trace, seen) != expected["digest"]:
        return (
            f"replay mismatch: trace {len(trace)} rows / seen {len(seen)} vs "
            f"oracle {expected['trace_rows']} / {expected['seen']}"
        )
    return None
