"""Seen-set tests: reference bloom semantics, cuckoo variant and the
driver-side empty filter table.  The storage gate is covered by
test_seenstore.py and the frontier replay tests."""

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


def test_empty_filters_pdf_matches_zero_build(spark):
    from ccspark import seenset

    pdf = seenset.empty_filters_pdf(4, "bloom", 10, capacity=4096)
    assert len(pdf) == 4
    assert (pdf["n_keys"] == 0).all()
    k, m, bits = seenset.bloom_build(__import__("numpy").array([], dtype="int64"), 10)
    assert (pdf["hash_count"] == seenset.compute_best_k(10)).all()
    assert all(b == bytes(len(b)) for b in pdf["bits"])
    # probe over an empty filter says "not seen" for everything
    import numpy as np
    row = pdf.iloc[0]
    assert not seenset.bloom_probe(
        np.array([1, 2, 3], dtype=np.int64), int(row["hash_count"]), int(row["num_buckets"]), row["bits"]
    ).any()
