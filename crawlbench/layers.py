"""Per-layer ledger of a traced run, measured from outside the program.

Layer metrics come from three sources: spans the tracer recorded around
calls into the program (with the Spark jobs each call launched), the
single-core kernels called directly on the workload's own URLs and
committed crawl state, and the checkpoint's files on disk.  A layer
that a workload does not run reports 0.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pandas as pd

import sparkstats
from workloads import HEADLINE

_STATUS = sparkstats.METRICS

# name -> (unit, better)
PER_LAYER: dict[str, tuple[str, str]] = {
    "urlkernel.canon_urls_per_s": ("1/s", "higher"),
    "urlkernel.matrix_frac": ("ratio", "higher"),
    "urls.urlfp_urls_per_s": ("1/s", "higher"),
    "functions.canon_fp_udf_s": ("s", "lower"),
    "functions.noop_udf_s": ("s", "lower"),
    "functions.arrow_hop_frac": ("ratio", "lower"),
    "seenset.bloom_probe_keys_per_s": ("1/s", "higher"),
    "seenset.bloom_update_keys_per_s": ("1/s", "higher"),
    "seenset.cuckoo_probe_keys_per_s": ("1/s", "higher"),
    "seenset.suspect_frac": ("ratio", "lower"),
    "seenset.confirmed_frac": ("ratio", "higher"),
    "seenstore.seen_arrays_cold_s": ("s", "lower"),
    "seenstore.seen_arrays_warm_s": ("s", "lower"),
    "seenstore.contains_keys_per_s": ("1/s", "higher"),
    "seenstore.state_bytes": ("bytes", "lower"),
    "politeness.process_round_s": ("s", "lower"),
    "politeness.tasks": ("count", "lower"),
    "checkpoint.bytes.frontier": ("bytes", "lower"),
    "checkpoint.bytes.processed": ("bytes", "lower"),
    "checkpoint.bytes.filters": ("bytes", "lower"),
    "checkpoint.bytes.lineage": ("bytes", "lower"),
    "checkpoint.files": ("count", "lower"),
    "checkpoint.bytes_per_url": ("bytes", "lower"),
    "frontier.bootstrap_s": ("s", "lower"),
    "frontier.round_s": ("s", "lower"),
}
_UNITS = {"jobs": "count", "stages": "count", "tasks": "count", "shuffle_write_bytes": "bytes",
          "shuffle_read_bytes": "bytes", "slot_util": "ratio"}
for _span in ("frontier.round", "frontier.bootstrap"):
    for _m in _STATUS:
        PER_LAYER[f"{_span}.{_m}"] = (_UNITS.get(_m, "s"), "higher" if _m == "slot_util" else "lower")
for _q in HEADLINE:
    PER_LAYER[f"query.{_q}.s"] = ("s", "lower")
    PER_LAYER[f"query.{_q}.tasks"] = ("count", "lower")
    PER_LAYER[f"query.{_q}.exec_cpu_s"] = ("s", "lower")
PER_LAYER["trace.overhead_frac"] = ("ratio", "lower")

REPS = 3


def _median_time(fn, reps: int = REPS) -> float:
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return statistics.median(ts)


# -- the workload's own URLs ---------------------------------------------------------------


def workload_urls(spark, state: dict, limit: int = 50_000) -> pd.Series:
    """Raw URLs the workload feeds the URL kernel: the last round's
    discovered links (crawl) or the documents-derived page URLs
    (corpus)."""
    if state["kind"] == "crawl":
        return last_round_links(state)
    import __spark_entry__ as entry

    return entry._doc_pages(spark, state["sf_dir"]).select("url").limit(limit).toPandas()["url"]


def last_round_links(state: dict) -> pd.Series:
    """Out-links of the last round's scheduled pages, regenerated with
    the frontier's own deterministic expansion."""
    import checks
    from ccspark.frontier import expand_links_pdf

    p = checks.read_round(state["ckpt"], "processed", state["rounds"], ["host_rank", "url_hash"])
    hashes = p.loc[p["host_rank"].notna(), "url_hash"].to_numpy(dtype=np.int64)
    return expand_links_pdf(hashes, state["cfg"])["url"]


def url_kernels(urls: pd.Series) -> dict:
    from ccspark import urlkernel
    from ccspark import urls as U

    urls = urls.astype(object).reset_index(drop=True)
    n = len(urls)
    t_canon = _median_time(lambda: urlkernel.canonicalize_batch_kernel(urls))
    canon, hosts = urlkernel.canonicalize_batch_kernel(urls)
    t_fp = _median_time(lambda: U.urlfp_batch(canon, hosts=hosts))
    # the batch kernel's own chunking: count rows the byte matrix handled
    vals = urls.tolist()
    handled = sum(int(urlkernel.canonicalize_matrix(vals[s : s + 8192])[0].sum()) for s in range(0, n, 8192))
    return {
        "urlkernel.canon_urls_per_s": n / t_canon,
        "urlkernel.matrix_frac": handled / n,
        "urls.urlfp_urls_per_s": n / t_fp,
    }


def arrow_hop(spark, urls: pd.Series, nproc: int) -> dict:
    """The fused canonicalize+fingerprint UDF against an identity pandas
    UDF over the same cached frame, each timed with a noop write."""
    from pyspark.sql.functions import pandas_udf

    import ccspark.functions as CF

    @pandas_udf("string")
    def identity(s: pd.Series) -> pd.Series:
        return s

    df = spark.createDataFrame(pd.DataFrame({"url": urls.astype(object)})).repartition(nproc).cache()
    df.count()

    def real():
        CF.with_canonical_urlfp(df).write.format("noop").mode("overwrite").save()

    def noop():
        df.select(identity("url").alias("url")).write.format("noop").mode("overwrite").save()

    t_real, t_noop = [], []
    for _ in range(REPS):  # interleaved, so drift hits both alike
        t_real.append(_median_time(real, 1))
        t_noop.append(_median_time(noop, 1))
    df.unpersist()
    real_s, noop_s = statistics.median(t_real), statistics.median(t_noop)
    return {"functions.canon_fp_udf_s": real_s, "functions.noop_udf_s": noop_s, "functions.arrow_hop_frac": noop_s / real_s}


# -- committed crawl state -------------------------------------------------------------------


def seen_state(state: dict) -> dict:
    """Bloom/cuckoo probes and the exact confirm for the last round's
    link identities against the last committed filter blobs and seen
    arrays, one partition at a time as the storage gate does."""
    from ccspark import seenset, seenstore
    from ccspark import urls as U

    cfg, ckpt, r = state["cfg"], state["ckpt"], state["rounds"]
    links = last_round_links(state).astype(object)
    canon, hosts = U.canonicalize_batch_with_host(links)
    fp = U.urlfp_batch(canon, hosts=hosts)
    ok = fp["valid"].to_numpy()
    dom = fp["domain_hash"].to_numpy(dtype=np.int64, na_value=0)[ok]
    key = fp["url_hash"].to_numpy(dtype=np.int64, na_value=0)[ok]
    pids = np.mod(dom, cfg.num_partitions)

    seenstore.clear_caches()
    t0 = time.perf_counter()
    seen = {p: seenstore.seen_arrays(ckpt, p, r) for p in range(cfg.num_partitions)}
    cold = time.perf_counter() - t0
    t0 = time.perf_counter()
    for p in range(cfg.num_partitions):
        seenstore.seen_arrays(ckpt, p, r)
    warm = time.perf_counter() - t0

    t_probe = t_update = t_cuckoo = t_contains = 0.0
    n_probe = n_update = n_sus = n_conf = 0
    for p in range(cfg.num_partitions):
        sel = np.flatnonzero(pids == p)
        blob = seenstore.filter_blob(ckpt, p, r)
        u_s, d_s = seen[p]
        if blob is None or not len(sel):
            continue
        _kind, k, m, _nk, bits = blob
        t0 = time.perf_counter()
        maybe = seenset.bloom_probe(key[sel], k, m, bits)
        t_probe += time.perf_counter() - t0
        n_probe += len(sel)
        sus = sel[maybe]
        t0 = time.perf_counter()
        hit = seenstore.contains(u_s, d_s, key[sus], dom[sus])
        t_contains += time.perf_counter() - t0
        n_sus += len(sus)
        n_conf += int(hit.sum())
        delta = np.unique(seenstore.round_pairs(ckpt, p, r)[0])
        t0 = time.perf_counter()
        seenset.bloom_build(delta, cfg.buckets_per_element)
        t_update += time.perf_counter() - t0
        n_update += len(delta)
        if len(u_s):
            ck = seenset.cuckoo_build(np.unique(u_s))
            t0 = time.perf_counter()
            seenset.cuckoo_probe(key[sel], *ck)
            t_cuckoo += time.perf_counter() - t0

    def rate(n, t):
        return n / t if t > 0 else 0.0

    return {
        "seenset.bloom_probe_keys_per_s": rate(n_probe, t_probe),
        "seenset.bloom_update_keys_per_s": rate(n_update, t_update),
        "seenset.cuckoo_probe_keys_per_s": rate(n_probe, t_cuckoo),
        "seenset.suspect_frac": n_sus / n_probe if n_probe else 0.0,
        "seenset.confirmed_frac": n_conf / n_sus if n_sus else 0.0,
        "seenstore.seen_arrays_cold_s": cold,
        "seenstore.seen_arrays_warm_s": warm,
        "seenstore.contains_keys_per_s": rate(n_sus, t_contains),
        "seenstore.state_bytes": sum(u.nbytes + d.nbytes for u, d in seen.values()),
    }


def politeness_round(spark, state: dict, store) -> dict:
    """``politeness.process_round`` over the saved frontier the last
    round started from, timed with a noop write."""
    from ccspark import politeness, synth
    from ccspark.frontier import FRONTIER_COLS

    cfg, r = state["cfg"], state["rounds"]
    cand = spark.read.parquet(os.path.join(state["ckpt"], "frontier", f"round={r - 1}")).select(*FRONTIER_COLS)
    robots = synth.gen_robots(spark, cfg.n_hosts, cfg.seed)
    df = politeness.process_round(
        cand, robots, cfg.default_budget, cfg.round_duration_ms, cfg.n_salts,
        broadcast_robots=cfg.broadcast_robots, layout_partitions=cfg.num_partitions,
    )
    with sparkstats.Window(store) as w:
        df.write.format("noop").mode("overwrite").save()
    return {"politeness.process_round_s": w.wall_s, "politeness.tasks": w.metrics["tasks"]}


def checkpoint_files(state: dict) -> dict:
    import checks

    out = {}
    total, files = 0, 0
    for table in ("frontier", "processed", "filters", "lineage"):
        size = 0
        for dirpath, _dirs, names in os.walk(os.path.join(state["ckpt"], table)):
            for f in names:
                size += os.path.getsize(os.path.join(dirpath, f))
                files += f.endswith(".parquet")
        out[f"checkpoint.bytes.{table}"] = size
        total += size
    out["checkpoint.files"] = files
    _trace, seen = checks.crawl_trace(state["ckpt"], state["rounds"])
    # identities held: the seen set plus the final frontier (disjoint)
    out["checkpoint.bytes_per_url"] = total / (len(seen) + state["metrics"][-1]["frontier_size"])
    return out


# -- the ledger ---------------------------------------------------------------------------------


def from_spans(spans: dict) -> dict:
    out = {}
    for span in ("frontier.round", "frontier.bootstrap"):
        recs = spans.get(span, [])
        if recs:
            out[f"{span}_s"] = statistics.median(r["wall_s"] for r in recs)
            for m in _STATUS:
                out[f"{span}.{m}"] = statistics.median(r[m] for r in recs)
    for q in HEADLINE:
        recs = spans.get(f"query.{q}", [])
        if recs:
            out[f"query.{q}.s"] = statistics.median(r["wall_s"] for r in recs)
            out[f"query.{q}.tasks"] = statistics.median(r["tasks"] for r in recs)
            out[f"query.{q}.exec_cpu_s"] = statistics.median(r["exec_cpu_s"] for r in recs)
    all_recs = [r for recs in spans.values() for r in recs]
    out["trace.overhead_frac"] = sum(r["read_s"] for r in all_recs) / sum(r["wall_s"] for r in all_recs)
    return out


def ledger(spark, state: dict, spans: dict, store, nproc: int) -> dict:
    """Every PER_LAYER metric for one traced run (0 where the workload
    does not run the layer)."""
    out = dict.fromkeys(PER_LAYER, 0)
    out.update(from_spans(spans))
    urls = workload_urls(spark, state)
    out.update(url_kernels(urls))
    out.update(arrow_hop(spark, urls, nproc))
    if state["kind"] == "crawl":
        out.update(checkpoint_files(state))
        out.update(seen_state(state))
        out.update(politeness_round(spark, state, store))
    unknown = set(out) - set(PER_LAYER)
    if unknown:
        raise KeyError(f"unlisted per-layer metrics: {sorted(unknown)}")
    return out
