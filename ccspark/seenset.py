"""Partitioned URL-seen set: an exact storage gate over the crawl's
seen identities, plus the bloom filter (reference-exact buckets) and
cuckoo filter kernels.

Design (SURVEY.md §2.3 H4/H5, §4):

* The seen-set key is URLFPV2: exact membership is the composite
  ``(domain_hash, url_hash)`` (protocol.jr:131-132 ``[key]`` fields).
* The crawl frontier gates worker-side over storage-partitioned state
  (``gate_new_storage`` via seenstore, one hash-range partition
  ``pmod(domain_hash, P)`` at a time): a binary search of every key in
  its partition's sorted seen arrays (seenstore.seen_arrays +
  seenstore.contains — the H5 LongOpenHashSet's exact answer).  No
  Exchange on any state table, and no probabilistic pre-screen: with
  ~38% of a round's links truly seen, a filter would send nearly every
  (batch, partition) to the exact arrays anyway.
* The bloom kernels hash ``url_hash`` (the fp64 of the full canonical
  URL) as the reference's long-key bloom path
  (BloomFilter.add(long) → Filter.getHashBuckets(long),
  Filter.java:85-104), sized as BloomCalculations (computeBestK table
  :37-41, bitset size ``n*bucketsPerElement+20`` rounded up to a 64-bit
  word like java.util.BitSet), so false-positive *behavior* equals the
  reference for the same parameters.  They are the reference-exact
  ports the golden vectors check; no loop builds a filter table.

The cuckoo variant (north_star) keeps the same table shape; 16-bit
fingerprints, 4-slot buckets, partial-key cuckoo hashing.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import hashing

# BloomCalculations.optKPerBuckets (BloomCalculations.java:37-41)
_OPT_K = [1, 1, 1, 2, 3, 3, 4, 5, 5, 6, 7, 8, 8, 8, 8, 8]

def compute_best_k(buckets_per_element: int) -> int:
    if buckets_per_element >= len(_OPT_K):
        return _OPT_K[-1]
    return _OPT_K[buckets_per_element]


def bitset_size(num_elements: int, buckets_per_element: int) -> int:
    """java.util.BitSet(n*b+20).size(): round up to a 64-bit word."""
    nbits = num_elements * buckets_per_element + 20
    return ((nbits + 63) // 64) * 64


# ---------------------------------------------------------------------------
# numpy kernels
# ---------------------------------------------------------------------------


def bloom_build(keys: np.ndarray, buckets_per_element: int = 10) -> tuple[int, int, bytes]:
    """Build one bloom bitset over int64 keys → (k, m, bits), sized for
    ``len(keys)`` elements (BloomFilter(numElements, bucketsPerElement))."""
    k = compute_best_k(buckets_per_element)
    m = bitset_size(max(len(keys), 1), buckets_per_element)
    words = np.zeros(m // 64, dtype=np.uint64)
    if len(keys):
        idx = hashing.bloom_buckets_long(np.asarray(keys, dtype=np.int64), k, m).ravel()
        np.bitwise_or.at(words, idx >> 6, np.uint64(1) << (idx & 63).astype(np.uint64))
    return k, m, words.tobytes()


def bloom_probe(keys: np.ndarray, k: int, m: int, bits: bytes) -> np.ndarray:
    """Vectorized membership probe → bool array."""
    if len(keys) == 0:
        return np.zeros(0, dtype=bool)
    words = np.frombuffer(bits, dtype=np.uint64)
    idx = hashing.bloom_buckets_long(np.asarray(keys, dtype=np.int64), k, m)
    hit = (words[idx >> 6] >> (idx & 63).astype(np.uint64)) & np.uint64(1)
    return hit.all(axis=1)


_CK_SLOTS = 4
_CK_MAX_KICKS = 500


def _ck_fingerprint(keys: np.ndarray) -> np.ndarray:
    """16-bit nonzero fingerprint from murmur2 of the key."""
    h = hashing.murmur2_fixed8(keys, np.full(len(keys), 7, dtype=np.int32)).view(np.uint32)
    f = (h & np.uint32(0xFFFF)).astype(np.uint16)
    return np.where(f == 0, np.uint16(1), f)


def _ck_index1(keys: np.ndarray, nb: int) -> np.ndarray:
    h = hashing.murmur2_fixed8(keys, np.zeros(len(keys), dtype=np.int32)).view(np.uint32)
    return (h % np.uint32(nb)).astype(np.int64)


def _ck_alt_index(i: np.ndarray, f: np.ndarray, nb: int) -> np.ndarray:
    # partial-key cuckoo: i2 = (i1 ^ hash(f)) & (nb-1); nb is a power of 2
    with np.errstate(over="ignore"):
        fh = (f.astype(np.uint32) * np.uint32(0x5BD1E995)) & np.uint32(0xFFFFFFFF)
    return (i.astype(np.uint64) ^ fh.astype(np.uint64)).astype(np.int64) & (nb - 1)


def _ck_alt_index_scalar(i: int, fp: int, nb: int) -> int:
    fh = (int(fp) * 0x5BD1E995) & 0xFFFFFFFF
    return (int(i) ^ fh) & (nb - 1)


def cuckoo_build(keys: np.ndarray, load_factor: float = 0.84) -> tuple[int, int, bytes]:
    """Build a cuckoo filter → (slots_per_bucket, num_buckets, table bytes).

    Vectorized two-pass bulk placement: every (bucket, fingerprint) pair
    is deduped, then pass 1 fills i1 buckets in bulk (grouped rank →
    slot assignment) and pass 2 does the same for i2 of the overflow;
    only the tiny residue that misses both buckets takes the per-key
    eviction loop.  Deterministic (sorted dedupe + stable ranks + seeded
    eviction), and every retained key remains probe-able at i1 or i2 —
    identical false-negative guarantees to the sequential build."""
    n = max(len(keys), 1)
    nb = 1
    while nb * _CK_SLOTS * load_factor < n:
        nb <<= 1
    # overflow (a key whose both buckets stay full after the eviction
    # budget) would be a FALSE NEGATIVE — not acceptable for a seen-set
    # pre-filter, so grow the table and rebuild instead (the standard
    # cuckoo response; pathological bucket collisions disperse at the
    # next power of two).  Hypothesis found a 5-key set whose i1 == i2
    # all landed in one 4-slot bucket at nb=2.
    for _ in range(16):
        table, ok = _cuckoo_try_build(keys, nb)
        if ok:
            break
        nb <<= 1
    else:
        # a lossy table would be a silent false negative in the seen set
        raise RuntimeError(
            f"cuckoo_build: {len(keys)} keys still overflow after 16 doublings (nb={nb})"
        )
    return _CK_SLOTS, nb, table.tobytes()


def _cuckoo_try_build(keys: np.ndarray, nb: int) -> tuple[np.ndarray, bool]:
    table = np.zeros((nb, _CK_SLOTS), dtype=np.uint16)
    dropped = False
    if len(keys):
        keys = np.asarray(keys, dtype=np.int64)
        f_all = _ck_fingerprint(keys)
        i1_all = _ck_index1(keys, nb)
        # dedupe (bucket, fp) pairs — mirrors the sequential build's
        # "fingerprint already present" short-circuit
        combo = (i1_all.astype(np.uint64) << np.uint64(16)) | f_all.astype(np.uint64)
        combo = np.unique(combo)
        i1 = (combo >> np.uint64(16)).astype(np.int64)
        f = (combo & np.uint64(0xFFFF)).astype(np.uint16)
        used = np.zeros(nb, dtype=np.int64)

        def _bulk_place(fps: np.ndarray, buckets: np.ndarray) -> np.ndarray:
            """Place what fits; returns positions (into fps) that did not."""
            order = np.argsort(buckets, kind="stable")
            b_s = buckets[order]
            f_s = fps[order]
            first = np.r_[True, b_s[1:] != b_s[:-1]] if len(b_s) else np.zeros(0, bool)
            grp_start = np.flatnonzero(first)
            grp_sizes = np.diff(np.r_[grp_start, len(b_s)])
            ranks = np.arange(len(b_s)) - np.repeat(grp_start, grp_sizes)
            slot = used[b_s] + ranks
            fit = slot < _CK_SLOTS
            table[b_s[fit], slot[fit]] = f_s[fit]
            used[:] += np.bincount(b_s[fit], minlength=nb)
            return order[~fit]

        left = _bulk_place(f, i1)
        if len(left):
            i2 = _ck_alt_index(i1[left], f[left], nb)
            left2 = _bulk_place(f[left], i2)
            # eviction residue: per-key loop over the (rare) keys whose
            # both buckets were full
            rng = np.random.RandomState(42)
            for pos in left2:
                fp = int(f[left][pos])
                cur = int(i1[left][pos])
                for _ in range(_CK_MAX_KICKS):
                    slot = rng.randint(_CK_SLOTS)
                    fp, table[cur, slot] = int(table[cur, slot]), fp
                    cur = _ck_alt_index_scalar(cur, fp, nb)
                    row = table[cur]
                    empty = np.nonzero(row == 0)[0]
                    if len(empty):
                        table[cur, empty[0]] = fp
                        fp = 0
                        break
                if fp != 0:
                    dropped = True  # caller grows the table and rebuilds
    return table, not dropped


def cuckoo_probe(keys: np.ndarray, slots: int, nb: int, bits: bytes) -> np.ndarray:
    if len(keys) == 0:
        return np.zeros(0, dtype=bool)
    table = np.frombuffer(bits, dtype=np.uint16).reshape(nb, slots)
    keys = np.asarray(keys, dtype=np.int64)
    f = _ck_fingerprint(keys)
    i1 = _ck_index1(keys, nb)
    i2 = _ck_alt_index(i1, f, nb)
    hit1 = (table[i1] == f[:, None]).any(axis=1)
    hit2 = (table[i2] == f[:, None]).any(axis=1)
    return hit1 | hit2


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------


def gate_new_storage(
    candidates: DataFrame,
    root,
    seen_upto: int,
    num_partitions: int,
) -> DataFrame:
    """Shuffle-free exact novelty gate over STORAGE-partitioned state:
    ``candidates ∖ seen`` through round ``seen_upto`` in one map stage,
    with zero Exchange anywhere — not on the candidates, not on the
    seen history.

    The processed table is written Hive-partitioned by
    ``pmod(domain_hash, P)`` (frontier.py), so for each (batch,
    partition) the worker loads exactly that partition's seen
    identities (seenstore.seen_arrays, an incremental per-worker cache
    that reads one delta file per round) and looks every key up with
    seenstore.contains (a binary search on the sorted url_hash array,
    then the domain_hash check).  There is no filter pre-screen: a
    filter pays only while true positives are rare, and crawlbench
    measured 38% of a round's links as truly seen, so nearly every
    (batch, partition) would load its seen arrays anyway; up to ~125k
    seen keys per partition the exact lookup over every key is also
    faster than probe + confirm (BENCH/exact_gate_micro.json).
    This replaces the r3 cogroup gate, whose state side re-shuffled the
    FULL crawl history every round (the one remaining 100×-scale
    shuffle).

    Efficiency wants candidates physically clustered by partition_id
    (the frontier table is written that way, and the links gate runs
    after dedup_by_identity's Exchange by partition_id → a task touches
    ~1 partition); correctness holds for any distribution.

    ``root`` is either seenstore state location: a filesystem path (the
    parquet backend) or a ManifestLocation (catalog-metadata file lists
    — the Iceberg backend); the gate itself is location-agnostic.

    The decision is expressed as a BOOLEAN Arrow UDF over just
    (domain_hash, url_hash) rather than a mapInPandas over whole rows:
    only 16 bytes/row cross the JVM↔Python boundary each way instead of
    the full frontier row (url + canonical_url strings dominated the
    gate stage's Arrow traffic — guide §4.1 "pass only the columns the
    function needs").  Marked non-deterministic so the optimizer cannot
    push the filter below the identity dedup's aggregate (re-gating
    pre-dedup, pre-clustering rows) or duplicate it."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("boolean")
    def _is_new(dom_s: pd.Series, url_s: pd.Series) -> pd.Series:
        from . import seenstore

        n = len(dom_s)
        if n == 0:
            return pd.Series([], dtype=bool)
        dom = dom_s.to_numpy(dtype=np.int64)
        keys = url_s.to_numpy(dtype=np.int64)
        pids = np.mod(dom, num_partitions)
        keep = np.ones(n, dtype=bool)
        for pid in np.unique(pids):
            sel = np.flatnonzero(pids == pid)
            u_s, d_s = seenstore.seen_arrays(root, int(pid), seen_upto)
            keep[sel] = ~seenstore.contains(u_s, d_s, keys[sel], dom[sel])
        return pd.Series(keep, index=dom_s.index)

    gate = _is_new.asNondeterministic()
    return candidates.filter(gate(F.col("domain_hash"), F.col("url_hash")))
