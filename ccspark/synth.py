"""Deterministic synthetic Common-Crawl-style dataset generator.

Produces the ``pages`` / ``seeds`` / ``robots`` tables of FIXTURES.md §1-3
at any scale, fully determined by (row id, seed) — independent of
partitioning, so the same logical dataset can be generated distributed
(mapInPandas over ``spark.range``) or in-process (pandas) and compared.

Shape requirements covered (FIXTURES.md):
* zipfian host distribution (hot domains ~30% of URLs) → skew salting
  is actually exercised;
* messy URL variants: ``www.``, ``:80``, uppercase hosts, trailing-dot
  hosts, session-id patterns, URLs with spaces, duplicate URLs that
  must canonicalize together;
* html in UTF-8 / ISO-8859-1 / windows-1252 with ``<meta http-equiv>``
  charset declarations in the first 2000 bytes, plain-ASCII bodies
  without meta, gzip-compressed bodies including a truncated one;
* ``text`` column = byte-exact oracle output of
  :func:`ccspark.text.extract_text` on ``html``.
"""

from __future__ import annotations

import zlib
from datetime import datetime, timezone

import numpy as np
import pandas as pd

from . import text as text_mod

_BASE_TS = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp())

_VOCAB = {
    "en": "the crawl frontier schedules urls by host politeness and priority rank while bloom filters gate duplicates across partitions of the web graph".split(),
    "de": "die straße führt über brücken während bäume grün blühen und müde krähen über dächer fliegen süß".split(),
    "es": "el rastreador visita páginas según prioridad y cortesía mientras los filtros eliminan duplicados en cada partición".split(),
    "fr": "le robot explore les pages selon la priorité et la courtoisie déçue à côté des fenêtres étranges".split(),
    "zh": "网络 爬虫 按照 优先级 和 礼貌 规则 调度 页面 抓取 去除 重复 链接 分区 存储".split(),
}
_POOL = {lang: " ".join(words * 400) for lang, words in _VOCAB.items()}

_SM1 = np.uint64(0x9E3779B97F4A7C15)
_SM2 = np.uint64(0xBF58476D1CE4E5B9)
_SM3 = np.uint64(0x94D049BB133111EB)


def _rand(ids: np.ndarray, salt: int, seed: int) -> np.ndarray:
    """splitmix64 counter-based deterministic uniform uint64 per id."""
    with np.errstate(over="ignore"):
        z = ids.astype(np.uint64) + _SM1 * np.uint64(salt * 2 + 1) + np.uint64(seed) * _SM3
        z = (z ^ (z >> np.uint64(30))) * _SM2
        z = (z ^ (z >> np.uint64(27))) * _SM3
        return z ^ (z >> np.uint64(31))


def _zipf_cdf(n_hosts: int, s: float = 1.1) -> np.ndarray:
    w = 1.0 / np.power(np.arange(1, n_hosts + 1, dtype=np.float64), s)
    return np.cumsum(w) / w.sum()


def _host_names(idx: np.ndarray) -> pd.Series:
    """Deterministic host name per host index (mixed TLD shapes)."""
    i = pd.Series(idx.astype(np.int64))
    name = "site" + i.astype(str)
    tld_pick = (idx % 17).astype(np.int64)
    host = np.where(
        tld_pick == 0,
        (name + ".example.co.uk").to_numpy(),
        np.where(
            tld_pick == 1,
            ("10.0." + ((i // 250) % 250).astype(str) + "." + (i % 250).astype(str)).to_numpy(),
            (name + ".example" + (i % 13).astype(str) + ".com").to_numpy(),
        ),
    )
    return pd.Series(host)


_SESSION_HEX = "0123456789abcdef"


def _hex32(r: np.ndarray) -> pd.Series:
    """32-hex-char deterministic ids from uint64s (repeat 16 hex chars ×2)."""
    h = pd.Series(r).map(lambda v: format(int(v), "016x") * 2)
    return h


def gen_urls_pdf(ids: np.ndarray, n_hosts: int, seed: int = 42) -> tuple[pd.Series, np.ndarray]:
    """URL column only (with all messy decorations) → (urls, effective_ids).

    ``effective_ids`` is the logical page identity: duplicate rows map to
    their group anchor, so two rows with the same effective id MUST
    canonicalize to the same URLFPV2."""
    ids = np.asarray(ids, dtype=np.int64)
    cdf = _zipf_cdf(n_hosts)

    # duplicate groups: ~8% of rows re-point at the group anchor id
    r_dup = _rand(ids, 0, seed) % np.uint64(100)
    dup_mask = (r_dup < 8) & (ids >= 50)
    eff_ids = np.where(dup_mask, (ids // 50) * 50, ids)

    u = (_rand(eff_ids, 1, seed) >> np.uint64(11)).astype(np.float64) / float(1 << 53)
    host_idx = np.searchsorted(cdf, u).astype(np.int64)
    host = _host_names(host_idx)

    r_path = _rand(eff_ids, 2, seed) % np.uint64(100)
    eff = pd.Series(eff_ids)
    path = np.where(
        r_path < 3,
        ("/private/p" + eff.astype(str) + ".html").to_numpy(),
        ("/docs/" + (eff // 1000).astype(str) + "/p" + eff.astype(str) + ".html").to_numpy(),
    )

    # decorations keyed by the *row* id so duplicates decorate differently
    r_dec = _rand(ids, 3, seed) % np.uint64(100)
    sess = _hex32(_rand(ids, 4, seed))
    host_s = pd.Series(host)
    url = "http://" + host_s + pd.Series(path)
    url = url.where(~((r_dec >= 8) & (r_dec < 16)), "http://www." + host_s + pd.Series(path))
    url = url.where(~((r_dec >= 16) & (r_dec < 21)), "http://" + host_s + ":80" + pd.Series(path))
    upper_mask = (r_dec >= 21) & (r_dec < 25)
    if upper_mask.any():
        url[upper_mask] = ("http://" + host_s[upper_mask].str.upper() + pd.Series(path)[upper_mask])
    trail_mask = (r_dec >= 25) & (r_dec < 27)
    if trail_mask.any():
        url[trail_mask] = "http://" + host_s[trail_mask] + "." + pd.Series(path)[trail_mask]
    space_mask = (r_dec >= 27) & (r_dec < 28)
    if space_mask.any():
        url[space_mask] = url[space_mask].str.replace(".html", " x.html", regex=False)
    # session decorations (also applied to all dup rows → same canonical)
    sess_j = dup_mask | ((r_dec >= 28) & (r_dec < 33))
    if sess_j.any():
        url[sess_j] = url[sess_j] + ";jsessionid=" + sess[sess_j]
    sess_p = (r_dec >= 33) & (r_dec < 37) & ~sess_j
    if sess_p.any():
        url[sess_p] = url[sess_p] + "?PHPSESSID=" + sess[sess_p]
    return url, eff_ids


def gen_pages_pdf(ids: np.ndarray, n_hosts: int, seed: int = 42) -> pd.DataFrame:
    """Generate the pages rows for the given ids (deterministic)."""
    ids = np.asarray(ids, dtype=np.int64)
    n = len(ids)
    url, eff_ids = gen_urls_pdf(ids, n_hosts, seed)

    # language / charset families keyed by effective id (dup rows share text)
    r_lang = _rand(eff_ids, 5, seed) % np.uint64(100)
    lang = np.select(
        [r_lang < 50, r_lang < 65, r_lang < 78, r_lang < 88, r_lang < 96],
        ["en", "de", "es", "fr", "zh"],
        default="en",
    )
    ascii_mask = r_lang >= 96  # plain ascii, no meta tag
    charset = np.select(
        [r_lang < 50, r_lang < 65, r_lang < 78, r_lang < 88, r_lang < 96],
        ["utf-8", "iso-8859-1", "utf-8", "windows-1252", "utf-8"],
        default="ascii",
    )

    # deterministic text slice from the per-language pool
    r_off = _rand(eff_ids, 6, seed)
    r_len = _rand(eff_ids, 7, seed)
    texts: list[str] = []
    for i in range(n):
        lg = lang[i]
        pool = _POOL[lg]
        length = 200 + int(r_len[i] % np.uint64(1800))
        start = int(r_off[i] % np.uint64(len(pool) - 2200))
        start = pool.find(" ", start) + 1
        chunk = pool[start : start + length]
        texts.append(chunk.rsplit(" ", 1)[0].strip())

    # html wrap + encode + optional gzip
    r_gz = _rand(eff_ids, 8, seed) % np.uint64(1000)
    htmls: list[bytes] = []
    out_texts: list[str] = []
    for i in range(n):
        cs = charset[i]
        body = texts[i]
        if ascii_mask[i]:
            doc = f"<html><head><title>p{int(eff_ids[i])}</title></head><body>{body}</body></html>"
        else:
            doc = (
                f'<html><head><meta http-equiv="Content-Type" '
                f'content="text/html; charset={cs}"><title>p{int(eff_ids[i])}</title>'
                f"</head><body>{body}</body></html>"
            )
        codec = text_mod.alias_charset(cs)
        raw = doc.encode(codec, errors="replace")
        if r_gz[i] < 20:
            gz = zlib.compressobj(6, zlib.DEFLATED, 16 + zlib.MAX_WBITS)
            packed = gz.compress(raw) + gz.flush()
            if r_gz[i] == 0 and len(packed) > 40:
                packed = packed[: len(packed) // 2]  # truncated gzip fixture
            raw = packed
        htmls.append(raw)
        # oracle text = forward extraction (inverse of the wrap for clean
        # rows; forward-only semantics for the truncated-gzip rows)
        out_texts.append(text_mod.extract_text(raw))

    ts = pd.to_datetime(_BASE_TS + ids, unit="s", utc=True).tz_localize(None)
    return pd.DataFrame(
        {
            "url": url.astype(object),
            "warc_ts": ts,
            "html": htmls,
            "text": out_texts,
            "lang": lang,
        }
    )


def default_n_hosts(n: int) -> int:
    return max(100, n // 100)


def gen_seeds(spark, n: int, n_hosts: int | None = None, seed: int = 42):
    """Seed list: every 23rd page id (+ its exact pages-table url) plus a
    deterministic priority."""
    n_hosts = n_hosts or default_n_hosts(n)

    def _gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            ids = ids[ids % 23 == 0]  # no-op on the stepped range; kept as a guard
            if len(ids) == 0:
                yield pd.DataFrame({"url": pd.Series(dtype=object), "priority": pd.Series(dtype=np.float64)})
                continue
            # urls only — gen_pages_pdf would also synthesize/encode/gzip
            # the html payloads, which seeds never use
            urls, _ = gen_urls_pdf(ids, n_hosts, seed)
            pr = (_rand(ids, 9, seed) % np.uint64(1000)).astype(np.float64) / 1000.0
            yield pd.DataFrame({"url": urls.to_numpy(), "priority": pr})

    # generate ONLY the seed ids (every 23rd) instead of streaming the
    # whole universe through Arrow and filtering — 23× less boundary
    # traffic; identical output (the 10^8 endurance bootstrap was 303 s,
    # almost all of it range-scan)
    return spark.range(0, n, 23).mapInPandas(_gen, schema="url string, priority double")


def gen_robots_pdf(n_hosts: int, seed: int = 42) -> pd.DataFrame:
    idx = np.arange(n_hosts, dtype=np.int64)
    host = _host_names(idx)
    r = _rand(idx, 10, seed)
    present = (r % np.uint64(10)) < 6
    r2 = _rand(idx, 11, seed)
    delay_choices = np.array([250, 500, 1000, 2000], dtype=np.int64)
    delays = delay_choices[(r2 % np.uint64(4)).astype(np.int64)]
    has_delay = (r2 % np.uint64(10)) < 7
    max_fetch = 1 + (r2 % np.uint64(20)).astype(np.int64)
    # hot hosts (low idx) get a larger budget to keep the frontier moving
    max_fetch = np.where(idx < max(10, n_hosts // 100), max_fetch + 30, max_fetch)
    two_prefix = (r % np.uint64(3)) == 0
    prefixes = [(["/private", "/tmp"] if two_prefix[i] else ["/private"]) for i in range(n_hosts)]
    pdf = pd.DataFrame(
        {
            "host": host,
            "disallow_prefixes": prefixes,
            "crawl_delay_ms": pd.array(np.where(has_delay, delays, 0), dtype="Int64"),
            "max_fetches_per_round": max_fetch.astype(np.int32),
        }
    )
    pdf.loc[~has_delay, "crawl_delay_ms"] = pd.NA
    return pdf[present].reset_index(drop=True)


def gen_robots(spark, n_hosts: int, seed: int = 42):
    pdf = gen_robots_pdf(n_hosts, seed)
    # process_round's gate join requires one row per host (a duplicate
    # would fan out candidates into duplicate seen identities)
    assert pdf["host"].is_unique, "robots table must have one row per host"
    # nullable Int64 → object ints/None: Spark's NON-arrow fallback
    # converter rejects the floats pandas otherwise produces for NA
    # columns (arrow-enabled sessions accepted either; sessions built
    # outside build_session must work too)
    delays = pdf["crawl_delay_ms"]
    pdf = pdf.assign(
        crawl_delay_ms=pd.Series(
            [None if pd.isna(v) else int(v) for v in delays],
            dtype=object,  # a bare list re-infers float64 (int+None → NaN)
            index=pdf.index,
        )
    )
    return spark.createDataFrame(
        pdf, schema="host string, disallow_prefixes array<string>, crawl_delay_ms long, max_fetches_per_round int"
    )
