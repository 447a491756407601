"""Spark column-level functions: the engine's scalar-function surface.

Everything is a vectorized Arrow pandas UDF over the numpy kernels in
``ccspark.hashing`` / ``ccspark.urls`` (no per-row Python in the hot
path), or a composition of built-in ``pyspark.sql.functions``.

Maps the reference's scalar operator surface (SURVEY.md §2.2/§2.3):
canonicalize (URLUtils.java:355-434), URLFPV2 (URLUtils.java:308-336),
fp64 (FPGenerator.java), simhash (SimHash.java:55-106), hamming join
predicate (SimHash.hammingDistance → built-in bit ops).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .. import hashing, urls

# ---------------------------------------------------------------------------
# pandas UDFs
# ---------------------------------------------------------------------------


_CANON_FP_SCHEMA = StructType(
    [
        StructField("canonical_url", StringType()),
        StructField("domain_hash", LongType()),
        StructField("url_hash", LongType()),
        StructField("root_domain_hash", LongType()),
        StructField("valid", BooleanType()),
        StructField("host", StringType()),
    ]
)


@pandas_udf(_CANON_FP_SCHEMA)
def canonical_urlfp(raw: pd.Series) -> pd.DataFrame:
    """Canonical URL (null for invalid URLs) + URLFPV2 in ONE Arrow
    pass — the engine's only URL-identity UDF.  The byte-matrix
    kernel's host byproduct (== fastGetHostFromURL of the canonical
    URL) also rides along, so callers that need the host skip the
    url_host re-extraction hop entirely."""
    canon, hosts = urls.canonicalize_batch_with_host(raw)
    fp = urls.urlfp_batch(canon, hosts=hosts)
    fp.insert(0, "canonical_url", canon)
    fp["host"] = hosts
    return fp


# The canonicalization kernel is a pure function, but it is marked
# non-deterministic so Catalyst cannot push a filter on its output below
# the projection and DUPLICATE the evaluation (two ArrowEvalPython nodes
# for one UDF call — the round-6 q_urlfp_dedup/_identify plans paid the
# kernel twice per row; spark_optimization_guide §4.4).
canonical_urlfp = canonical_urlfp.asNondeterministic()


@pandas_udf(StringType())
def url_host(canonical: pd.Series) -> pd.Series:
    """Host component of a canonical URL (URLUtils.fastGetHostFromURL)."""
    return canonical.str.extract(urls._FAST_HOST_RE, expand=False)


@pandas_udf(StringType())
def root_domain(host: pd.Series) -> pd.Series:
    """Registrable root domain per the public-suffix list."""
    return host.map(lambda h: urls.extract_root_domain_name(h) if isinstance(h, str) else None)


@pandas_udf(LongType())
def fp64(s: pd.Series) -> pd.Series:
    """Rabin FP64 of a string column (FPGenerator.std64.fp)."""
    return pd.Series(hashing.fp64_utf16(s.tolist()), index=s.index)


@pandas_udf(LongType())
def simhash64(s: pd.Series) -> pd.Series:
    """64-bit simhash of a text column (SimHash.computeOptimizedSimHashForString)."""
    return pd.Series(hashing.simhash64_batch(s.tolist()), index=s.index)


@pandas_udf(LongType())
def simhash64_bytes(s: pd.Series) -> pd.Series:
    """64-bit simhash of a binary column via 8-byte-gram shingles
    (SimHash.computeOptimizedSimHashForBytes, golden-gated against the
    compiled reference incl. its sign-extension quirk)."""
    return pd.Series(hashing.simhash64_bytes_batch(s.tolist()), index=s.index)


# ---------------------------------------------------------------------------
# Column expressions (pure Catalyst — no Python)
# ---------------------------------------------------------------------------


def hamming_distance(a: Column, b: Column) -> Column:
    """popcount(a XOR b) via built-in bit ops — stays in codegen."""
    return F.bit_count(a.bitwiseXOR(b))


# ---------------------------------------------------------------------------
# DataFrame transformers
# ---------------------------------------------------------------------------


def with_canonical_urlfp(df: DataFrame, url_col: str = "url", with_host: bool = False) -> DataFrame:
    """Fused identity columns from a raw url column (single Arrow hop).

    ``with_host`` additionally exposes the kernel's canonical-host
    byproduct as ``host`` — identical to ``url_host(canonical_url)``
    but without a second JVM↔Python hop."""
    df = df.withColumn("_cfp", canonical_urlfp(F.col(url_col)))
    df = (
        df.withColumn("canonical_url", F.col("_cfp.canonical_url"))
        .withColumn("domain_hash", F.col("_cfp.domain_hash"))
        .withColumn("url_hash", F.col("_cfp.url_hash"))
        .withColumn("root_domain_hash", F.col("_cfp.root_domain_hash"))
        .withColumn("url_valid", F.col("_cfp.valid"))
    )
    if with_host:
        df = df.withColumn("host", F.col("_cfp.host"))
    return df.drop("_cfp")
