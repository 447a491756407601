"""Small scalar operators completing the reference's function surface
(SURVEY.md §2.1 S11, §2.2 P6/P11/P14) — pure Catalyst where possible.
MIME classification (P7) lives in ``mime`` and the Content-Type parse
(P10) in ``httpheaders``, both reference-exact ports.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# --- P6: domain validation (URLUtils.isValidDomainName:232-258) -----------

_IP_RE = r"^[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+$"
_INVALID_DOMAIN_RE = r"[^0-9a-z\-\._]"


def is_valid_domain(host: Column) -> Column:
    """length ≤ 255, ≤ 128 labels, charset [0-9a-z-._], or IPv4 literal.

    (The root-domain-resolvable check lives in urls.extract_root_domain_name;
    this is the cheap Catalyst-side pre-filter.)"""
    lower = F.lower(host)
    return (F.length(host) <= 255) & (
        lower.rlike(_IP_RE)
        | (
            (~lower.rlike(_INVALID_DOMAIN_RE))
            & (F.size(F.split(lower, r"\.")) <= 128)
        )
    )


# --- P11: IPv4 text ↔ int32 (IPAddressUtils.java:42-166) ------------------


def ip_to_int(ip: Column) -> Column:
    parts = F.split(ip, r"\.")
    return (
        parts[0].cast("long") * F.lit(16777216)
        + parts[1].cast("long") * F.lit(65536)
        + parts[2].cast("long") * F.lit(256)
        + parts[3].cast("long")
    )


def int_to_ip(v: Column) -> Column:
    return F.concat_ws(
        ".",
        F.floor(v / 16777216).cast("string"),
        F.pmod(F.floor(v / 65536), F.lit(256)).cast("string"),
        F.pmod(F.floor(v / 256), F.lit(256)).cast("string"),
        F.pmod(v, F.lit(256)).cast("string"),
    )


# --- S11: escaped-newline values (EscapedNewLineSequenceFileInputFormat) --


def escape_newlines(v: Column) -> Column:
    """Hadoop-Streaming-safe escaping: strip CR, escape \\n and \\t."""
    return F.regexp_replace(
        F.regexp_replace(F.regexp_replace(v, "\r", ""), "\n", "\\\\n"), "\t", "\\\\t"
    )


def unescape_newlines(v: Column) -> Column:
    return F.regexp_replace(F.regexp_replace(v, r"\\n", "\n"), r"\\t", "\t")


# --- P14: codec surface (Base64/HexDump/CRC/MD5 → built-ins) --------------


def codec_columns(df: DataFrame, text_col: str = "text") -> DataFrame:
    c = F.col(text_col)
    return (
        df.withColumn("md5_hex", F.md5(c))
        .withColumn("sha256_hex", F.sha2(c, 256))
        # Spark's base64 chunks output with CRLF every 76 chars (MIME);
        # strip the line breaks for a canonical single-line encoding
        .withColumn("b64", F.regexp_replace(F.base64(F.encode(c, "utf-8")), "[\\r\\n]", ""))
        .withColumn("crc32_val", F.crc32(F.encode(c, "utf-8")))
        .withColumn("hex_prefix", F.hex(F.substring(c, 1, 4)))
    )
