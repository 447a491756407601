"""Byte-matrix canonicalization kernel: parity with the scalar path.

The kernel (ccspark.urlkernel) must produce byte-identical output to
urls.canonicalize_url for every input — rows it cannot handle must fall
back to the scalar path, so ANY mismatch is a bug, not a coverage gap.
"""

import random

import numpy as np
import pandas as pd
import pytest

from ccspark import urlkernel as K
from ccspark import urls as U

SCHEMES = ["http://", "https://", "ftp://", "HTTP://", "hTtPs://"]
HOSTS = [
    "example.com", "www.example.com", "WWW.Example.COM", "sub.domain.co.uk",
    "www.co.uk", "example.com.", "a-b_c.de", "xn--bcher-kva.example",
    "192.168.1.1", "0x7f.0.0.1", "127.1", "300.1.2.3", "e.com",
]
PORTS = ["", ":80", ":443", ":8080", ":21", ":0", ":080", ":65536"]
PATHS = [
    "", "/", "/a/b", "/a b/c", "/a/../b", "/./x", "/A/B.Html", "/p;x=1",
    "/p;jsessionid=abcdef0123456789abcdef0123456789",
    "/x%41y", "/x\\y", "/tail/", "/dot.", "/..", "/x?q=1&r=2", "/x?q=%20",
    "/x#frag", "/PHPSESSID=0123456789abcdef0123456789abcdef",
    "/idx?PHPSESSID=0123456789abcdef0123456789abcdef",
    "/a?b;c", "/~user/(v)!x'", "/{brace}|pipe", "/x?", "/?", "/x;",
]
EXTRA = [
    None, "", "not a url", "mailto:x@y", "http://", "http:///x",
    "http://user:pw@h.com/x", "http://h.com:/x", "http://h.com:0080/x",
    "http://bücher.example/x", "http://h.com", "http://h.com?q=1",
    "http://h..com/x", "http://h.com../x", "http://h.com:80", "http://h.com:80?",
    # NUL bytes must take the scalar path: the kernel's S→U cast silently
    # strips trailing NULs and would keep embedded ones raw where the
    # scalar canonicalizer %-escapes them (ADVICE r2)
    "http://a.b/x\x00y", "http://a.b/x\x00", "http://a.b\x00/x", "\x00http://a.b/x",
]


def _all_cases():
    cases = []
    for s in SCHEMES:
        for h in HOSTS:
            for p in PORTS:
                for pa in PATHS:
                    cases.append(s + h + p + pa)
    return cases + EXTRA


def test_kernel_parity_structured():
    cases = _all_cases()
    canon, host = K.canonicalize_batch_kernel(pd.Series(cases, dtype=object))
    for i, u in enumerate(cases):
        want = U.canonicalize_url(u)
        assert canon.iloc[i] == want, (u, want, canon.iloc[i])
        want_host = U.fast_get_host(want) if want else None
        assert host.iloc[i] == want_host, (u, want_host, host.iloc[i])


def test_kernel_parity_random_fuzz():
    rnd = random.Random(7)
    chars = (
        "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
        "-._~:/?#[]@!$&'()*+,;=%\\ {}|^<>\"`\x01ü漢"
    )
    cases = []
    for _ in range(8000):
        n = rnd.randrange(0, 60)
        s = "".join(rnd.choice(chars) for _ in range(n))
        prefix = rnd.choice(["http://", "https://", "ftp://", "", "hxxp://", "HTTP://ex.com"])
        cases.append(prefix + s)
    canon, _ = K.canonicalize_batch_kernel(pd.Series(cases, dtype=object))
    for i, u in enumerate(cases):
        assert canon.iloc[i] == U.canonicalize_url(u), repr(u)


def test_kernel_matches_legacy_tiers():
    # plain link-shaped URLs (www / default port / session-id variants):
    # the kernel must equal the scalar reference AND handle every row on
    # the byte-matrix path — a silent scalar fallback is the "dead
    # kernel" regression
    ids = np.arange(2000)
    src = np.char.add("src", (ids % 20).astype(str))
    url = np.where(ids % 3 == 0, "http://www.", "http://")
    url = np.char.add(url, src)
    url = np.char.add(url, ".example.com")
    url = np.char.add(url, np.where(ids % 5 == 0, ":80", ""))
    url = np.char.add(url, "/docs/")
    url = np.char.add(url, ids.astype(str))
    url = np.char.add(
        url, np.where(ids % 7 == 0, ";jsessionid=abcdef0123456789abcdef0123456789", "")
    )
    s = pd.Series(url.astype(object))
    canon, _ = K.canonicalize_batch_kernel(s)
    assert canon.tolist() == [U.canonicalize_url(u) for u in s]
    assert K.canonicalize_matrix(s.tolist())[0].all()


def test_kernel_host_byproduct_matches_urlfp_extraction():
    cases = [c for c in _all_cases() if c]
    canon, host = K.canonicalize_batch_kernel(pd.Series(cases, dtype=object))
    fp_with = U.urlfp_batch(canon, hosts=host)
    fp_without = U.urlfp_batch(canon)
    pd.testing.assert_frame_equal(fp_with, fp_without)


def test_kernel_parity_grammar_fuzz():
    """Grammar-based adversarial generator biased toward kernel edge
    paths (dotted-numeric hosts, weird ports, path-end dot segments,
    session markers before queries).  Caught two real bugs at 150k
    scale; kept here at 20k as a permanent regression gate."""
    rnd = random.Random(99)
    schemes = ["http://", "https://", "ftp://", "HTTP://", "FtP://", "ws://", ""]
    host_bits = ["example", "www", "WWW", "a", "0x7f", "127", "300", "xn--p1ai",
                 "b_c", "-x", "x-", "co.uk", "255", "0", "01", "e"]
    seps = [".", "..", ".-.", ""]
    ports = ["", ":80", ":080", ":443", ":21", ":0", ":00", ":8080", ":65536",
             ":123456", ":", ":x"]
    pathc = ["/", "/a", ";jsessionid=abcdef0123456789abcdef0123456789", ";x",
             "?", "?q=1", "?PHPSESSID=0123456789abcdef0123456789abcdef",
             "/.", "/..", "/./", "/../", "%41", "%zz", "%", "\\", "#f", " ",
             "/~", "/(", "/sid=aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa",
             "/OSCSID/0123456789abcdef0123456789abcdef", "?a;b", ".", "//",
             "/?", "??"]
    cases = []
    for _ in range(20_000):
        h = rnd.choice(host_bits)
        for _ in range(rnd.randrange(0, 4)):
            h += rnd.choice(seps) + rnd.choice(host_bits)
        u = rnd.choice(schemes) + h + rnd.choice(ports)
        for _ in range(rnd.randrange(0, 5)):
            u += rnd.choice(pathc)
        cases.append(u)
    canon, host = K.canonicalize_batch_kernel(pd.Series(cases, dtype=object))
    for i, u in enumerate(cases):
        want = U.canonicalize_url(u)
        assert canon.iloc[i] == want, repr(u)
        want_host = U.fast_get_host(want) if want else None
        assert host.iloc[i] == want_host, repr(u)


def test_kernel_coverage_mixed_length_batch():
    """Regression gate for the round-6 padding bug: the classification
    pass must mask the byte matrix's NUL padding, otherwise every row
    shorter than the longest row in its chunk is flagged SLOW and the
    whole batch silently falls back to the scalar path (parity tests
    cannot see that — fallback is correct, just ~3.5x slower)."""
    vals = [f"http://site{i}.example{i % 13}.com/docs/{i}/p{i}.html" for i in range(2000)]
    vals.append("http://longest-row-in-the-chunk.example.com/" + "x" * 500)
    handled, canon, hosts = K.canonicalize_matrix(vals)
    assert handled.mean() > 0.99, f"matrix coverage collapsed: {handled.mean():.4f}"


def test_kernel_coverage_canonical_quad_hosts():
    """Already-canonical IPv4 dotted-quad hosts stay on the matrix path
    (round-6 extension); non-canonical IP-ish hosts still fall back."""
    ok_vals = [f"http://10.0.{i % 250}.{(i * 7) % 250}/docs/p{i}.html" for i in range(500)]
    handled, canon, hosts = K.canonicalize_matrix(ok_vals)
    assert handled.all(), f"canonical quads fell back: {handled.mean():.3f}"
    for i, u in enumerate(ok_vals[:50]):
        assert canon[i] == U.canonicalize_url(u), u
        assert hosts[i] == U.fast_get_host(canon[i]), u
    bad_vals = [
        "http://300.1.2.3/x", "http://01.2.3.4/x", "http://0x7f.0.0.1/x",
        "http://1.2.3/x", "http://10.0.0.1./x",
    ]
    handled_bad, _, _ = K.canonicalize_matrix(bad_vals)
    assert not handled_bad.any(), "non-canonical IP-ish hosts must take the scalar path"


def test_kernel_host_byproduct_matches_fast_get_host():
    """The host byproduct fused into the canonical_urlfp struct must be
    definitionally fastGetHostFromURL(canonical) for every row (round-6
    relies on this to drop the separate url_host Arrow hop)."""
    vals = [
        "HTTP://WWW.Example.COM:80/a/b;jsessionid=abcdef0123456789abcdef0123456789",
        "http://site1.example.co.uk./p.html", "http://10.0.0.1/x",
        "https://h.com/x?q=1", "not a url", None,
    ] + [f"http://s{i}.example{i % 5}.com/p{i}" for i in range(200)]
    canon, host = K.canonicalize_batch_kernel(pd.Series(vals, dtype=object))
    for i in range(len(vals)):
        c = canon.iloc[i]
        want = U.fast_get_host(c) if c is not None else None
        assert host.iloc[i] == want, (vals[i], c, want, host.iloc[i])
