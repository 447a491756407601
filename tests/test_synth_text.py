"""Round-trip tests: synthetic pages generation ↔ text extraction.

Mirrors the reference's synthetic-golden test style
(ArcFileReaderTests.java:389-491): generate in memory, re-read, compare
byte-for-byte.
"""

import zlib

import numpy as np
import pandas as pd
import pytest

from ccspark import synth, text
from ccspark import functions as CF
from pyspark.sql import functions as F


def test_extract_text_roundtrip_small():
    ids = np.arange(500)
    pdf = synth.gen_pages_pdf(ids, n_hosts=50, seed=42)
    extracted = text.extract_text_batch(pdf["html"])
    mismatches = (extracted != pdf["text"]).sum()
    assert mismatches == 0


def test_charset_variants_present():
    pdf = synth.gen_pages_pdf(np.arange(2000), n_hosts=100, seed=42)
    assert set(pdf["lang"].unique()) == {"en", "de", "es", "fr", "zh"}
    # iso-8859-1 bodies contain high bytes that are NOT valid utf-8
    de = pdf[pdf["lang"] == "de"]
    assert len(de) > 0
    non_utf8 = 0
    for h in de["html"]:
        if h[:2] == b"\x1f\x8b":
            continue
        try:
            h.decode("utf-8")
        except UnicodeDecodeError:
            non_utf8 += 1
    assert non_utf8 > 0
    # some gzip bodies exist
    assert sum(1 for h in pdf["html"] if h[:2] == b"\x1f\x8b") > 0


def test_truncated_gzip_best_effort():
    raw = b"<html><body>" + b"hello world " * 200 + b"</body></html>"
    gz = zlib.compressobj(6, zlib.DEFLATED, 16 + zlib.MAX_WBITS)
    packed = gz.compress(raw) + gz.flush()
    cut = packed[: len(packed) // 2]
    out, truncated = text.unzip_best_effort(cut)
    assert truncated
    assert out == raw[: len(out)] and len(out) > 0


def test_determinism_partition_independent():
    a = synth.gen_pages_pdf(np.arange(100), n_hosts=50, seed=42)
    b = synth.gen_pages_pdf(np.arange(50, 100), n_hosts=50, seed=42)
    pd.testing.assert_frame_equal(
        a.iloc[50:].reset_index(drop=True), b.reset_index(drop=True)
    )


def test_duplicate_groups_canonicalize_together():
    from ccspark import urls

    pdf = synth.gen_pages_pdf(np.arange(3000), n_hosts=100, seed=42)
    canon = urls.canonicalize_batch(pdf["url"])
    assert canon.notna().all()
    # dup rows point at anchors → canonical distinct < total
    assert canon.nunique() < len(canon)
    fp = urls.urlfp_batch(canon)
    assert fp["valid"].mean() > 0.95


def test_end_to_end_urlfp_dedup(spark):
    pages = spark.createDataFrame(synth.gen_pages_pdf(np.arange(1000), n_hosts=100, seed=42))
    df = CF.with_canonical_urlfp(pages)
    total = df.count()
    valid = df.filter("url_valid").count()
    deduped = df.filter("url_valid").dropDuplicates(["domain_hash", "url_hash"]).count()
    assert total == 1000
    assert valid > 900
    assert deduped < valid  # session-id / www dups collapsed


def test_robots_table(spark):
    robots = synth.gen_robots(spark, 200, seed=42)
    pdf = robots.toPandas()
    assert 80 < len(pdf) < 160  # ~60% present
    assert (pdf["max_fetches_per_round"] >= 1).all()
    assert pdf["crawl_delay_ms"].isna().any()
    assert pdf["disallow_prefixes"].map(len).isin([1, 2]).all()


def test_batch_decode_and_extract_match_scalar():
    """decode_batch / extract_text_batch (vectorized detector + pandas
    markup strip) must equal decode_html / extract_text row-for-row,
    including gzip, meta-sniffed, detector-only, and None rows."""
    import pandas as pd

    from ccspark import text

    legacy = "<html><body>漢字テスト頁面" * 30 + "</body></html>"
    cases = [
        None,
        b"",
        b"<html><body>plain ascii</body></html>",
        ("<html><head><meta http-equiv=\"Content-Type\" "
         "content=\"text/html; charset=shift_jis\"></head>"
         + legacy).encode("shift_jis"),
        legacy.encode("euc_jp"),              # no meta -> detector path
        legacy.encode("gb2312", "ignore"),    # no meta -> detector path
        "déjà vu café".encode("utf-8"),
    ]
    import gzip as _gz

    cases.append(_gz.compress(b"<html>gz body here</html>"))
    cases.append(_gz.compress(legacy.encode("euc_kr", "ignore"))[:40])  # truncated gzip
    s = pd.Series(cases, dtype=object)
    got = text.decode_batch(s)
    for i, c in enumerate(cases):
        want_text, want_trunc = text.decode_html(c)
        assert got["html_text"].iloc[i] == want_text or (
            got["html_text"].iloc[i] is None and want_text is None
        ), i
        assert bool(got["truncated"].iloc[i]) == want_trunc, i
    ext = text.extract_text_batch(s)
    for i, c in enumerate(cases):
        want = text.extract_text(c)
        assert ext.iloc[i] == want or (ext.iloc[i] is None and want is None), i
