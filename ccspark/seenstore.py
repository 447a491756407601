"""Worker-side, partition-pruned reads of checkpointed crawl state —
the storage half of the shuffle-free novelty gate.

The frontier writes its state tables Hive-partitioned by
``partition_id = pmod(domain_hash, P)`` (one file per partition per
round, see frontier.py), so the Python worker handling partition ``p``
reads exactly ``<table>/round=<k>/partition_id=<p>/*.parquet`` — a
manual storage-partitioned join: the seen set is NEVER carried through
a Spark Exchange.  An incremental per-worker
cache turns the per-round read volume from O(history) to O(delta):
each round appends one file per partition, and only that file is read
and merged into the cached sorted key arrays.

Reference analog: shard-stable ``part-NNNNN`` result files keyed by
shard id (Query.java:1080-1082) — the reference never re-shuffles
crawl history between rounds either; each shard's worker owns its
hash-range files.

STATE LOCATIONS — every public function takes a ``loc`` that is one of
the two the checkpoint backends produce:

* a plain ``str`` path (``Checkpoint.state_location()``): POSIX
  shared-FS root (local disk in tests, NFS/Lustre/EFS on a cluster)
  listed with ``os`` calls;
* :class:`ManifestLocation` (``IcebergCheckpoint.state_location()``):
  an explicit file manifest (path, size) per (table, round, partition)
  produced from CATALOG metadata — the Iceberg backend enumerates each
  round's data files from the table's ``.files`` metadata
  (driver-side, O(delta) rows) and ships the listing into the gate
  closures, so workers partition-prune without any directory-layout
  assumption.  Its file paths may be URIs (``s3://``, ``file://``);
  ``pyarrow.parquet.read_table`` resolves their filesystem itself.

Cache-correctness invariants (hold for both):
* cache entries are validated against a file signature
  (name, size, mtime_ns) on every access, so an overwritten round
  (kill → deterministic re-run) or dropped crash debris invalidates
  cleanly even with warm, reused Python workers; Iceberg data files
  are immutable-by-name, so (path, size) alone is a sound signature
  there (mtime recorded as 0);
* cache memory is bounded (CCSPARK_SEEN_CACHE_BYTES, default 1 GiB
  per worker) with LRU eviction — at 10^10 keys and P partitions a
  worker serving its share of partitions holds
  ``16 bytes × keys/P × partitions/worker``.
"""

from __future__ import annotations

import os
from collections import OrderedDict

import numpy as np
import pyarrow.parquet as pq

_PAIR_BYTES = 16  # int64 url_hash + int64 domain_hash per cached key


def _cache_budget() -> int:
    return int(os.environ.get("CCSPARK_SEEN_CACHE_BYTES", 1 << 30))


class ManifestLocation:
    """Explicit file manifest: ``files[(table, round, pid)] = ((path,
    size, mtime_ns), ...)`` — produced driver-side from catalog
    metadata (Iceberg ``.files``), shipped into gate closures.  File
    paths are absolute (URIs allowed).  A table's present rounds are
    the rounds that have files.  ``key`` must be STABLE across rounds
    (e.g. ``iceberg:cat.ns``) so the per-worker incremental seen cache
    keeps accumulating — catalog data files are immutable-by-name, so
    a refreshed manifest carries identical signatures for unchanged
    rounds and the validation passes without re-reads."""

    def __init__(self, key: str, files: dict):
        self.key = key
        self.files = files
        rounds: dict = {}
        for table, r, _pid in files:
            rounds.setdefault(table, set()).add(r)
        self.rounds = {t: tuple(sorted(rs)) for t, rs in rounds.items()}

    def sig(self, table: str, round_no: int, pid: int) -> tuple:
        return self.files.get((table, int(round_no), int(pid)), ())

    def present_rounds(self, table: str, upto_round: int) -> list[int]:
        return [r for r in self.rounds.get(table, ()) if r <= upto_round]


# -- location dispatch ---------------------------------------------------------


def _loc_key(loc):
    return loc if isinstance(loc, str) else loc.key


def _pid_dir(root: str, table: str, round_no: int, pid: int) -> str:
    return os.path.join(root, table, f"round={round_no}", f"partition_id={pid}")


def _files_sig(d: str) -> tuple:
    """(path, size, mtime_ns) per parquet file — the cache-invalidation
    fingerprint.  A re-written round changes mtimes; a dropped round
    disappears; both force a clean reload."""
    try:
        names = sorted(os.listdir(d))
    except (FileNotFoundError, NotADirectoryError):
        return ()
    out = []
    for n in names:
        if n.endswith(".parquet"):
            p = os.path.join(d, n)
            st = os.stat(p)
            out.append((p, st.st_size, st.st_mtime_ns))
    return tuple(out)


def _sig_of(loc, table: str, round_no: int, pid: int) -> tuple:
    if isinstance(loc, str):
        return _files_sig(_pid_dir(loc, table, round_no, pid))
    return loc.sig(table, round_no, pid)


def _read_pairs(sig: tuple) -> tuple[np.ndarray, np.ndarray]:
    """Read (url_hash, domain_hash) columns of one partition's files."""
    urls, doms = [], []
    for path, _, _ in sig:
        t = pq.read_table(path, columns=["url_hash", "domain_hash"])
        urls.append(t.column("url_hash").to_numpy(zero_copy_only=False))
        doms.append(t.column("domain_hash").to_numpy(zero_copy_only=False))
    if not urls:
        e = np.array([], dtype=np.int64)
        return e, e
    return (
        np.concatenate(urls).astype(np.int64, copy=False),
        np.concatenate(doms).astype(np.int64, copy=False),
    )


def _present_rounds(loc, table: str, upto_round: int) -> list[int]:
    if not isinstance(loc, str):
        return loc.present_rounds(table, upto_round)
    tdir = os.path.join(loc, table)
    try:
        subs = os.listdir(tdir)
    except FileNotFoundError:
        return []
    out = []
    for s in subs:
        if s.startswith("round="):
            try:
                r = int(s.split("=", 1)[1])
            except ValueError:
                continue
            if r <= upto_round:
                out.append(r)
    return sorted(out)


def round_pairs(loc, pid: int, round_no: int, table: str = "processed") -> tuple[np.ndarray, np.ndarray]:
    """One round's (url_hash, domain_hash) delta for one partition —
    uncached single-directory read.  No loop calls it; it stays for
    crawlbench's traced ledger, which times a bloom build over each
    partition's last delta."""
    return _read_pairs(_sig_of(loc, table, round_no, pid))


# -- incremental seen-set cache ------------------------------------------------

# (loc_key, table, pid) -> {"sigs": {round: sig}, "upto": int,
#                           "url": sorted int64[], "dom": aligned int64[]}
_SEEN_CACHE: OrderedDict = OrderedDict()


def _cache_size_bytes() -> int:
    return sum(len(e["url"]) * _PAIR_BYTES for e in _SEEN_CACHE.values())


def _evict_to_budget() -> None:
    budget = _cache_budget()
    while len(_SEEN_CACHE) > 1 and _cache_size_bytes() > budget:
        _SEEN_CACHE.popitem(last=False)  # LRU


def seen_arrays(loc, pid: int, upto_round: int, table: str = "processed") -> tuple[np.ndarray, np.ndarray]:
    """Sorted (url_hash, aligned domain_hash) of every identity this
    partition has disposed of in rounds 1..upto_round.

    Incremental: cached rounds are signature-validated (cheap stats),
    then only rounds not yet loaded are read and merged — per crawl
    round each partition reads exactly its one new delta file."""
    key = (_loc_key(loc), table, pid)
    rounds = _present_rounds(loc, table, upto_round)
    entry = _SEEN_CACHE.get(key)
    if entry is not None:
        _SEEN_CACHE.move_to_end(key)
        stale = set(entry["sigs"]) - set(rounds)  # dropped/over-horizon rounds
        if not stale:
            for r, sig in entry["sigs"].items():
                if _sig_of(loc, table, r, pid) != sig:
                    stale = {r}
                    break
        if stale:
            del _SEEN_CACHE[key]
            entry = None
    if entry is None:
        entry = {"sigs": {}, "url": np.array([], dtype=np.int64), "dom": np.array([], dtype=np.int64)}
        _SEEN_CACHE[key] = entry
    new_rounds = [r for r in rounds if r not in entry["sigs"]]
    if new_rounds:
        urls, doms = [entry["url"]], [entry["dom"]]
        for r in new_rounds:
            sig = _sig_of(loc, table, r, pid)
            u, dm = _read_pairs(sig)
            entry["sigs"][r] = sig
            urls.append(u)
            doms.append(dm)
        url = np.concatenate(urls)
        dom = np.concatenate(doms)
        order = np.argsort(url, kind="stable")
        url = url[order]
        dom = dom[order]
        # dedupe identity pairs: revisit cycles legitimately re-append
        # scheduled identities to the processed log (it IS the fetch
        # trace), but the in-memory membership set must stay bounded by
        # the number of UNIQUE identities, not the number of fetches
        if len(url) > 1:
            keep = np.ones(len(url), dtype=bool)
            keep[1:] = (url[1:] != url[:-1]) | (dom[1:] != dom[:-1])
            if not keep.all():
                url = url[keep]
                dom = dom[keep]
        entry["url"] = url
        entry["dom"] = dom
        _evict_to_budget()
    return entry["url"], entry["dom"]


def contains(url_sorted: np.ndarray, dom_aligned: np.ndarray, q_url: np.ndarray, q_dom: np.ndarray) -> np.ndarray:
    """Exact composite-key membership of query pairs against the sorted
    seen arrays: binary search on url_hash, then domain_hash check over
    the (almost always length-1) equal-url run."""
    if len(url_sorted) == 0 or len(q_url) == 0:
        return np.zeros(len(q_url), dtype=bool)
    lo = np.searchsorted(url_sorted, q_url, side="left")
    hi = np.searchsorted(url_sorted, q_url, side="right")
    hit = np.zeros(len(q_url), dtype=bool)
    single = hi - lo == 1
    if single.any():
        hit[single] = dom_aligned[lo[single]] == q_dom[single]
    multi = np.flatnonzero(hi - lo > 1)
    for i in multi:  # url_hash collisions across domains: ~never
        hit[i] = bool((dom_aligned[lo[i] : hi[i]] == q_dom[i]).any())
    return hit


# -- filter-blob reads ---------------------------------------------------------

_FILTER_COLS = ["kind", "hash_count", "num_buckets", "n_keys", "bits"]


def filter_blob(loc, pid: int, round_no: int, table: str = "filters"):
    """One partition's filter row at one round, read straight from its
    partition files (partition-pruned; no Spark scan, no cache).
    Returns (kind, hash_count, num_buckets, n_keys, bits) or None when
    the partition has no files.

    No loop writes a filters table (the links gate is exact); this
    reader stays for crawlbench's traced ledger, which probes the last
    committed blobs and skips every partition this returns None for.

    EVERY listed file is read: a writer that splits a partition across
    files (possible on a real catalog backend) must not silently drop
    part of the filter — a bloom filter missing bits would produce
    false negatives.  Multiple bloom rows of identical geometry are
    OR-merged (the no-false-negative-safe union); anything else is a
    layout violation and raises."""
    sig = _sig_of(loc, table, round_no, pid)
    if not sig:
        return None
    rows = []
    for path, _, _ in sig:
        t = pq.read_table(path, columns=_FILTER_COLS)
        for i in range(t.num_rows):
            rows.append(
                (
                    t.column("kind")[i].as_py(),
                    int(t.column("hash_count")[i].as_py()),
                    int(t.column("num_buckets")[i].as_py()),
                    int(t.column("n_keys")[i].as_py()),
                    t.column("bits")[i].as_py(),
                )
            )
    if not rows:
        return None
    if len(rows) == 1:
        return rows[0]
    kinds = {r[0] for r in rows}
    geoms = {(r[1], r[2]) for r in rows}
    if kinds != {"bloom"} or len(geoms) != 1:
        raise AssertionError(
            f"filter partition {pid} round {round_no}: {len(rows)} rows "
            f"(kinds={kinds}, geometries={geoms}) — unmergeable filter layout"
        )
    acc = np.zeros(rows[0][2] // 64, dtype=np.uint64)
    for r in rows:
        acc |= np.frombuffer(r[4], dtype=np.uint64)
    return ("bloom", rows[0][1], rows[0][2], sum(r[3] for r in rows), acc.tobytes())


def clear_caches() -> None:
    """Test hook: forget all worker-side state."""
    _SEEN_CACHE.clear()
