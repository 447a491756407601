"""Charset detection, HTML decoding and text extraction.

Re-expresses the reference's charset pipeline
(util/shared/CharsetUtils.java:38-114) for the ``pages`` input shape
(url, warc_ts, html:binary, text, lang) where no HTTP headers exist:

1. gzip best-effort inflate when the payload starts with the gzip magic
   (GZIPUtils.unzipBestEffort semantics, util/shared/GZIPUtils.java:56-114:
   decode as much as possible, flag truncation, never throw).
2. ``<meta http-equiv="content-type" ... charset=...>`` sniff over the
   first 2000 bytes, matched against an ASCII-padded view
   (CharsetUtils.sniffCharacterEncoding:142-172, CHUNK_SIZE=2000).
3. faithful jchardet detector port (ccspark.chardet — bit-exact state
   tables, quirks included) matching
   CharsetUtils.detectCharacterEncoding:190-226, golden-gated against
   the compiled reference detector.
4. charset alias normalization over the full 707-entry aliasTable and
   decode with U+FFFD replacement (Java Charset.decode default).

``extract_text`` additionally strips markup deterministically (tags
removed, entity-free synthetic corpus) so the generator's text column
round-trips byte-identically — the BASELINE input_hint invariant.

All entry points are batch (pandas in / pandas out) for mapInPandas use.
"""

from __future__ import annotations

import re
import zlib

import numpy as np
import pandas as pd

from . import chardet

_GZIP_MAGIC = b"\x1f\x8b"
_CHUNK_SIZE = 2000
_MAX_UNZIP = 2 << 20  # GZIPUtils call site in the ARC writer uses 2MB

_META_RE = re.compile(rb"<meta\s+([^>]*http-equiv=\"?content-type\"?[^>]*)>", re.IGNORECASE)
_CHARSET_RE = re.compile(rb"charset=\s*([a-z][_\-0-9a-z]*)", re.IGNORECASE)

def alias_charset(name: str) -> str:
    """Normalize a sniffed/declared charset name to a Python codec via the
    full reference aliasTable (CharsetUtils.aliasCharset) followed by the
    Java-name → Python-codec map; unresolvable names pass through."""
    java = chardet.alias_charset(name.strip())
    codec = chardet.java_charset_to_codec(java)
    return codec if codec is not None else name


def unzip_best_effort(data: bytes, size_limit: int = _MAX_UNZIP) -> tuple[bytes, bool]:
    """GZIPUtils.unzipBestEffort: inflate as much as possible.

    Returns (data, was_truncated).  Corrupt/short streams yield the bytes
    recovered before the error; output is capped at ``size_limit`` with
    the truncated flag set."""
    d = zlib.decompressobj(wbits=16 + zlib.MAX_WBITS)
    try:
        out = d.decompress(data, size_limit)
        truncated = bool(d.unconsumed_tail)
        if not truncated and not d.eof:
            # stream ended early — keep what we decoded, flag it
            truncated = True
        return out, truncated
    except zlib.error:
        return b"", True


def sniff_charset(content: bytes) -> str | None:
    """Meta-tag charset sniff over the first 2000 bytes (ASCII-padded)."""
    chunk = content[:_CHUNK_SIZE]
    m = _META_RE.search(chunk)
    if m:
        cm = _CHARSET_RE.search(m.group(1))
        if cm:
            return cm.group(1).decode("ascii", "replace")
    return None


def decode_html(raw: bytes | None) -> tuple[str | None, bool]:
    """Full decode pipeline → (unicode_html, was_truncated).

    Adapts CharsetUtils.bestEffortDecodeBytes (CharsetUtils.java:38-114)
    to the headerless ``pages`` shape: the header-charset stage does not
    exist, so the meta sniff (which the reference runs to *override* a
    header charset on text/html) becomes the first stage, then the
    jchardet detector with ASCII fallback (:59-73), the aliasTable
    (:76-82), and Charset.decode with U+FFFD replacement (:85-110)
    including the forName-failure re-detect path (:88-100)."""
    if raw is None:
        return None, False
    truncated = False
    data = bytes(raw)
    if data[:2] == _GZIP_MAGIC:
        data, truncated = unzip_best_effort(data)
    charset = sniff_charset(data)
    if charset is None:
        charset = chardet.detect_character_encoding(data)
        if charset is None:
            charset = "ASCII"
    java_name = chardet.alias_charset(charset)
    out = chardet.decode_as_java(data, java_name)
    if out is None:
        # Charset.forName failure → re-detect and retry (:88-100)
        detected = chardet.detect_character_encoding(data)
        if detected is not None:
            out = chardet.decode_as_java(data, chardet.alias_charset(detected))
    return out, truncated


_TAG_RE = re.compile(r"<[^>]*>|<[^>]*$")
_WS_RE = re.compile(r"\s+")


def strip_markup(html: str) -> str:
    """Deterministic markup strip: drop tags (incl. a trailing unclosed
    tag from truncated payloads), collapse whitespace runs, trim."""
    return _WS_RE.sub(" ", _TAG_RE.sub(" ", html)).strip()


def extract_text(raw: bytes | None) -> str | None:
    html, _ = decode_html(raw)
    if html is None:
        return None
    return strip_markup(html)


def extract_text_batch(html: pd.Series) -> pd.Series:
    """Vectorized-batch text extraction: batch decode (vectorized
    detector) + pandas C-level regex markup strip — byte-identical to
    per-doc ``extract_text`` (parity-tested)."""
    dec = decode_batch(html)["html_text"]
    s = (
        dec.str.replace(_TAG_RE, " ", regex=True)
        .str.replace(_WS_RE, " ", regex=True)
        .str.strip()
    )
    return s.astype(object).where(dec.notna(), None)


def decode_batch(html: pd.Series) -> pd.DataFrame:
    """Batch decode pipeline: per-doc C-level gunzip + meta sniff, ONE
    vectorized jchardet pass over the sniff-less documents
    (chardet.detect_batch — the numpy state-machine, bit-identical to
    the scalar port), then per-doc C-level codec decode.  Equals
    ``decode_html`` row-for-row."""
    n = len(html)
    datas: list[bytes | None] = []
    trunc = np.zeros(n, dtype=bool)
    for i, h in enumerate(html):
        if h is None:
            datas.append(None)
            continue
        data = bytes(h)
        if data[:2] == _GZIP_MAGIC:
            data, t = unzip_best_effort(data)
            trunc[i] = t
        datas.append(data)
    charsets: list[str | None] = [
        sniff_charset(d) if d is not None else None for d in datas
    ]
    need = [i for i in range(n) if datas[i] is not None and charsets[i] is None]
    if need:
        detected = chardet.detect_batch([datas[i] for i in need])
        for i, name in zip(need, detected):
            charsets[i] = name if name is not None else "ASCII"
    out: list[str | None] = []
    for d, c in zip(datas, charsets):
        if d is None:
            out.append(None)
            continue
        s = chardet.decode_as_java(d, chardet.alias_charset(c))
        if s is None:
            # Charset.forName failure → re-detect and retry (:88-100)
            redet = chardet.detect_character_encoding(d)
            if redet is not None:
                s = chardet.decode_as_java(d, chardet.alias_charset(redet))
        out.append(s)
    return pd.DataFrame(
        {"html_text": out, "truncated": trunc}, index=html.index
    )
