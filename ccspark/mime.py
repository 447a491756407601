"""Full MIME-type classifier — exact port of the reference's
MimeTypeFilter (util/shared/MimeTypeFilter.java:10-348).

The reference classifies a Content-Type string into one of four
dispositions (ACCEPT_TEXT / ACCEPT_HTML / ACCEPT_OTHER / REJECT) through
a cascade: truncation regex → type/subtype split → binary/excluded
primary-type prefix trie → always-valid text primary types (with
html/xhtml subtype promotion) → invalid-extension set → subtype
left/right-part text matching → vnd./x- stripped application-type sets
(PrefixStringMatcher.matches == any-listed-prefix,
SuffixStringMatcher.exactMatch == set membership; see
TrieStringMatcher.java:60-73 / SuffixStringMatcher.java:87-98).

Three layers, all gated against golden vectors produced by compiling the
reference class itself (.scratch/mime/GoldenMime.java):

* ``check_mime_type_disposition`` — scalar exact port;
* ``disposition_batch`` — vectorized pandas (for Arrow UDF stages);
* ``disposition_col`` / ``is_text_type`` / ``is_html_type`` — pure
  Catalyst expressions (JVM-side, for hot-path gating; no Python).
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# MimeTypeFilter.java:12-17.  Java '.' excludes all line terminators
# (\n \r \x85 U+2028 U+2029), Python '.' only \n — spell it out so the
# full-match failure path (embedded terminator → NO_TYPE) is identical.
_TRUNCATION_JAVA_RE = re.compile(
    r"^([^a-zA-Z0-9]*)([a-zA-Z0-9\-/.+]*)[^\n\r\x85  ]*"
)
_TYPE_SUBTYPE_RE = re.compile(r"(.+)/(.+)")
# MimeTypeFilter.java:25-26
_LEFT_RIGHT_RE = re.compile(r"[\-.+]*(x\-|vnd\.)*([^+]*)\+*([a-z]*)(\+.*)*")
# MimeTypeFilter.java:28-29
_TEXT_SUBTYPES = {
    "txt", "text", "plain", "html", "atom", "xml", "xhtml", "css", "pdf",
    "postscript", "dtd", "rss", "vcard", "rtf", "csv", "javascript", "json",
    "perl", "ruby", "java", "text-javascript", "asp", "php", "doc", "py",
    "c", "cc", "c++", "cxx", "m", "h",
}

NO_TYPE = "no-type"

# MimeTypeFilter.java:54-63 (prefix semantics)
KNOWN_BINARY_PREFIXES = (
    "binary", "octet", "file", "image", "audio", "video", "true-type", "x-epoc",
)
EXCLUDED_PRIMARY_PREFIXES = ("chemical", "plugin")
VALID_PRIMARY_TEXT_PREFIXES = ("text", "plain", "message", "multipart")

# MimeTypeFilter.java:68-100 (exact-set semantics)
INVALID_EXTENSIONS = {
    "gif", "jpg", "jpeg", "bmp", "png", "tif", "tiff", "ico", "ps", "wmf",
    "fpx", "cur", "ani", "img", "lwf", "pcd", "psp", "tga", "xbm", "xpm",
    "arj", "cab", "lzw", "lha", "lzh", "sit", "rpm", "deb", "pkg", "mid",
    "midi", "rmi", "mpeg", "mpg", "mpe", "mp3", "mp2", "aac", "mov", "ra",
    "ram", "rm", "rmv", "wma", "wmv", "wav", "wave", "ogg", "avi", "au",
    "snd", "exe", "com", "lnk", "t3x", "iso", "bin", "dwf", "asf",
}

# MimeTypeFilter.java:102-125
TEXT_VALID_APP_TYPES = {
    "wap.xhtml+xml", "acrobat", "acroread", "dot", "texinfo", "tex",
    "text-java", "oasis.opendocument.text", "sun.xml.writer", "groove-vcard",
    "ms-works", "pdf", "word-doc", "httpd-php", "httpd-php-source",
    "httpd.php", "mscardfile", "server-parsed-html", "xml-dtd",
}

# MimeTypeFilter.java:127-165
OTHER_VALID_APP_TYPES = {
    "tar", "latex", "wordperfect5.1", "wordperfect", "winhlp",
    "google-earth.kml", "google-earth.kml+xml", "google-earth.kml+xml kml",
    "google-earth.kmz", "google-earth.kmz kmz", "openxmlformat",
    "powerpoint", "ms-powerpoint", "mspowerpoint", "keyhole", "kml",
    "ms-excel", "msaccess", "msexcel", "excel",
    "oasis.opendocument.spreadsheet", "oasis.opendocument.presentation",
    "openxmlformats", "sun.xml.calc", "cardfile", "mspublisher",
    "shockwave-flash", "lotus", "ms-word", "msword", "ms-htmlhelp",
    "ms-project", "msword-doc", "xls",
}

ACCEPT_TEXT = "ACCEPT_TEXT"
ACCEPT_HTML = "ACCEPT_HTML"
ACCEPT_OTHER = "ACCEPT_OTHER"
REJECT = "REJECT"


def _html_or_text_from_parts(sub: str) -> str | None:
    m = _LEFT_RIGHT_RE.fullmatch(sub)
    if m is None:
        return None
    for i in (2, 3):
        g = m.group(i)
        if g is not None and g in ("html", "xhtml"):
            return ACCEPT_HTML
    for i in (2, 3):
        g = m.group(i)
        if g is not None and g in _TEXT_SUBTYPES:
            return ACCEPT_TEXT
    return None


def check_mime_type_disposition(mime: str | None) -> str:
    """Exact port of checkMimeTypeDisposition (MimeTypeFilter.java:212-330)."""
    if mime is None:
        return ACCEPT_OTHER
    m0 = _TRUNCATION_JAVA_RE.fullmatch(mime)
    if m0 is None:
        # Java's `truncatedMimeType == NO_TYPE_MIMETYPE` reference-equality
        # check is true exactly when the truncation full-match failed (the
        # constant survives toLowerCase because "no-type" is already
        # lowercase); a literal "no-type" INPUT takes the normal path.
        return ACCEPT_OTHER
    truncated = m0.group(2).lower()
    m = _TYPE_SUBTYPE_RE.fullmatch(truncated)
    if m is not None:
        primary, secondary = m.group(1), m.group(2)
    else:
        primary, secondary = truncated, None
    if not primary:
        return ACCEPT_OTHER
    if primary.startswith(KNOWN_BINARY_PREFIXES) or primary.startswith(EXCLUDED_PRIMARY_PREFIXES):
        return REJECT
    if primary.startswith(VALID_PRIMARY_TEXT_PREFIXES):
        if secondary is not None:
            mm = _LEFT_RIGHT_RE.fullmatch(secondary)
            if mm is not None:
                for i in (2, 3):
                    g = mm.group(i)
                    if g is not None and g in ("html", "xhtml"):
                        return ACCEPT_HTML
        return ACCEPT_TEXT
    if (secondary is not None and secondary in INVALID_EXTENSIONS) or primary in INVALID_EXTENSIONS:
        return REJECT
    part = secondary if secondary is not None else primary
    res = _html_or_text_from_parts(part)
    if res is not None:
        return res
    if secondary is not None:
        if secondary.startswith("vnd."):
            secondary = secondary[len("vnd."):]
        elif secondary.startswith("x-"):
            secondary = secondary[len("x-"):]
        if secondary in TEXT_VALID_APP_TYPES:
            return ACCEPT_TEXT
        if secondary in OTHER_VALID_APP_TYPES:
            return ACCEPT_OTHER
    return REJECT


def is_text_type_scalar(mime: str | None) -> bool:
    return check_mime_type_disposition(mime) in (ACCEPT_TEXT, ACCEPT_HTML)


def is_html_type_scalar(mime: str | None) -> bool:
    return check_mime_type_disposition(mime) == ACCEPT_HTML


def disposition_batch(mimes: pd.Series) -> pd.Series:
    """Vectorized classification.  The cascade is set/prefix tests over
    two extracted parts — all pandas str ops; the two regex fullmatches
    run once each over the whole series."""
    s = mimes
    isnull = s.isna()
    trunc = s.str.extract(_TRUNCATION_JAVA_RE, expand=True)[1]
    # a failed full match (embedded newline) → NO_TYPE path
    matched = s.str.fullmatch(_TRUNCATION_JAVA_RE, na=False)
    trunc = trunc.where(matched, None).str.lower()
    ts = trunc.str.extract(_TYPE_SUBTYPE_RE, expand=True)
    has_sub = ts[0].notna()
    primary = ts[0].where(has_sub, trunc)
    secondary = ts[1]

    out = pd.Series(np.full(len(s), REJECT, dtype=object), index=s.index)

    known_binary = primary.str.startswith(KNOWN_BINARY_PREFIXES, na=False) | primary.str.startswith(
        EXCLUDED_PRIMARY_PREFIXES, na=False
    )
    valid_primary = primary.str.startswith(VALID_PRIMARY_TEXT_PREFIXES, na=False)

    lr_sub = secondary.str.extract(_LEFT_RIGHT_RE, expand=True)
    sub_full = secondary.str.fullmatch(_LEFT_RIGHT_RE, na=False)
    g2s, g3s = lr_sub[1].where(sub_full), lr_sub[2].where(sub_full)
    lr_pri = primary.str.extract(_LEFT_RIGHT_RE, expand=True)
    pri_full = primary.str.fullmatch(_LEFT_RIGHT_RE, na=False)
    g2 = g2s.where(has_sub, lr_pri[1].where(pri_full))
    g3 = g3s.where(has_sub, lr_pri[2].where(pri_full))

    html_part = g2.isin(["html", "xhtml"]) | g3.isin(["html", "xhtml"])
    text_part = g2.isin(_TEXT_SUBTYPES) | g3.isin(_TEXT_SUBTYPES)

    invalid_ext = secondary.isin(INVALID_EXTENSIONS) | primary.isin(INVALID_EXTENSIONS)

    app = secondary.str.replace(r"^(vnd\.|x-)", "", regex=True, n=1)
    app_text = app.isin(TEXT_VALID_APP_TYPES)
    app_other = app.isin(OTHER_VALID_APP_TYPES)

    conds = [
        isnull.to_numpy(),
        (~matched).to_numpy(),
        (primary.isna() | (primary == "")).to_numpy(),
        known_binary.to_numpy(),
        (valid_primary & has_sub & html_part).to_numpy(),
        valid_primary.to_numpy(),
        invalid_ext.to_numpy(),
        html_part.to_numpy(),
        text_part.to_numpy(),
        app_text.to_numpy(),
        app_other.to_numpy(),
    ]
    choices = [
        ACCEPT_OTHER, ACCEPT_OTHER, ACCEPT_OTHER, REJECT, ACCEPT_HTML,
        ACCEPT_TEXT, REJECT, ACCEPT_HTML, ACCEPT_TEXT, ACCEPT_TEXT,
        ACCEPT_OTHER,
    ]
    return pd.Series(np.select(conds, choices, default=REJECT), index=s.index)


# ---------------------------------------------------------------------------
# pure-Catalyst layer (JVM-side; the hot-path filter gate)
# ---------------------------------------------------------------------------

_TRUNC_SQL = r"^[^a-zA-Z0-9]*([a-zA-Z0-9\-/.+]*).*$"
_LR_SQL = r"^[\-.+]*(?:x\-|vnd\.)*([^+]*)\+*([a-z]*)(?:\+.*)*$"


def _catalyst_parts(mime: Column):
    # Java Matcher.matches() fails when any of the five line terminators
    # (\n \r \x85 U+2028 U+2029) precedes content the trailing .* would
    # otherwise span — mirror all five, not just \n (MimeTypeFilter.java
    # pattern semantics under java.util.regex MULTILINE-less '$').
    matched = mime.rlike(r"\A(?s:[^a-zA-Z0-9]*[a-zA-Z0-9\-/.+]*.*)\Z") & ~mime.rlike(
        "[\n\r\u0085\u2028\u2029]"
    )
    trunc = F.lower(F.regexp_extract(mime, _TRUNC_SQL, 1))
    has_sub = trunc.rlike(r"^.+/.+$")
    primary = F.when(has_sub, F.regexp_extract(trunc, r"^(.+)/(.+)$", 1)).otherwise(trunc)
    secondary = F.when(has_sub, F.regexp_extract(trunc, r"^(.+)/(.+)$", 2))
    return matched, primary, secondary, has_sub


def _starts_any(col: Column, prefixes) -> Column:
    cond = F.lit(False)
    for p in prefixes:
        cond = cond | col.startswith(p)
    return cond


def disposition_col(mime: Column) -> Column:
    """checkMimeTypeDisposition as a Catalyst expression tree."""
    matched, primary, secondary, has_sub = _catalyst_parts(mime)
    part = F.coalesce(secondary, primary)
    part_ok = part.rlike(_LR_SQL)
    g2 = F.when(part_ok, F.regexp_extract(part, _LR_SQL, 1))
    g3 = F.when(part_ok, F.regexp_extract(part, _LR_SQL, 2))
    html_part = g2.isin("html", "xhtml") | g3.isin("html", "xhtml")
    text_part = g2.isin(*_TEXT_SUBTYPES) | g3.isin(*_TEXT_SUBTYPES)
    app = F.regexp_replace(secondary, r"^(vnd\.|x-)", "")
    return (
        F.when(mime.isNull(), ACCEPT_OTHER)
        .when(~matched, ACCEPT_OTHER)
        .when(primary == "", ACCEPT_OTHER)
        .when(
            _starts_any(primary, KNOWN_BINARY_PREFIXES)
            | _starts_any(primary, EXCLUDED_PRIMARY_PREFIXES),
            REJECT,
        )
        .when(_starts_any(primary, VALID_PRIMARY_TEXT_PREFIXES) & has_sub & html_part, ACCEPT_HTML)
        .when(_starts_any(primary, VALID_PRIMARY_TEXT_PREFIXES), ACCEPT_TEXT)
        .when(secondary.isin(*INVALID_EXTENSIONS) | primary.isin(*INVALID_EXTENSIONS), REJECT)
        .when(html_part, ACCEPT_HTML)
        .when(text_part, ACCEPT_TEXT)
        .when(app.isin(*TEXT_VALID_APP_TYPES), ACCEPT_TEXT)
        .when(app.isin(*OTHER_VALID_APP_TYPES), ACCEPT_OTHER)
        .otherwise(REJECT)
    )


def is_text_type(mime: Column) -> Column:
    return disposition_col(mime).isin(ACCEPT_TEXT, ACCEPT_HTML)


def is_html_type(mime: Column) -> Column:
    return disposition_col(mime) == ACCEPT_HTML
