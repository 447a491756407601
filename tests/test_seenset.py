"""Seen-set tests: reference bloom semantics and the cuckoo variant.
The storage gate is covered by test_seenstore.py and the frontier
replay tests."""

import numpy as np

from ccspark import seenset


def test_bloom_reference_sizing():
    # BitSet(1000*10+20).size() == 10048 (golden from java.util.BitSet)
    assert seenset.bitset_size(1000, 10) == 10048
    assert seenset.compute_best_k(10) == 7
    assert seenset.compute_best_k(2) == 1
    assert seenset.compute_best_k(99) == 8


def test_bloom_membership_no_false_negatives():
    rng = np.random.RandomState(7)
    keys = rng.randint(-(2**62), 2**62, size=5000).astype(np.int64)
    k, m, bits = seenset.bloom_build(keys, 10)
    assert seenset.bloom_probe(keys, k, m, bits).all()
    other = rng.randint(-(2**62), 2**62, size=20000).astype(np.int64)
    other = other[~np.isin(other, keys)]
    fp_rate = seenset.bloom_probe(other, k, m, bits).mean()
    assert fp_rate < 0.03  # table says ~0.84% for 10 buckets/elem, k=7


def test_cuckoo_membership():
    rng = np.random.RandomState(11)
    keys = rng.randint(-(2**62), 2**62, size=4000).astype(np.int64)
    slots, nb, bits = seenset.cuckoo_build(keys)
    assert seenset.cuckoo_probe(keys, slots, nb, bits).mean() > 0.999
    other = rng.randint(-(2**62), 2**62, size=20000).astype(np.int64)
    other = other[~np.isin(other, keys)]
    assert seenset.cuckoo_probe(other, slots, nb, bits).mean() < 0.01
